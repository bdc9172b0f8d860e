package cdcbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, over the triggers reported between
  * the measured start and the end of the drain, the stretch the counters
  * cover. A layer that does not run in a workload reads 0. */
object Layers {
  /** Nearest-rank percentile; 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  def metrics(d: Deployment, w: Window, gen: Gen, poll: Option[ServerPoll],
      topics: Option[TopicPoll]): Map[String, (Double, String)] = {
    val trig = d.ids.flatMap(d.progress.triggers).filter(t => t.recv >= w.startNs && t.recv <= w.tracedUntil)
    val n = math.max(1, trig.size).toDouble
    def phase(name: String) = trig.map(_.phases.getOrElse(name, 0L).toDouble)
    val state = trig.flatMap(_.state)
    val lastState = trig.filter(_.state.isDefined).sortBy(_.recv).lastOption.flatMap(_.state)
    val sh = d.shadows.values.toSeq
    val framesMs = sh.flatMap(_.framesMs.asScala)
    val decodeMs = sh.map(_.decodeNs.get).sum / 1e6
    val frames = sh.map(_.frames.get).sum
    val bTriggers = if (d.specs.exists(_.topic.isEmpty)) n else 0.0
    val c = Counters
    val stmtMs = c.stmtMs.asScala.toSeq
    val commitMs = c.commitMs.asScala.toSeq
    val late = w.txns.map(t => (t.sent - t.due) / 1e6)

    val sourceMs = (phase("latestOffset") ++ phase("queryPlanning")).sum
    val stateMs = state.map(_._3.toDouble).sum
    val sinkMs = stmtMs.sum + commitMs.sum
    val engineMs = math.max(0.0, phase("triggerExecution").sum - sourceMs - stateMs - sinkMs -
      framesMs.sum - decodeMs)

    Map(
      "gen.late_p99_ms" -> (pct(late, 99), "ms"),
      "gen.txn_ms_p50" -> (pct(w.txns.map(t => (t.done - t.sent) / 1e6), 50), "ms"),
      "pg.slot_lag_bytes_max" -> (poll.map(_.lagMax.get.toDouble).getOrElse(0.0), "bytes"),
      "pg.retained_wal_bytes_end" -> (poll.map(_.retainedLast.get.toDouble).getOrElse(0.0), "bytes"),
      "pg.wal_bytes" -> (poll.map(p => (p.walLast.get - p.walStart.get).toDouble).getOrElse(0.0), "bytes"),
      "transport.frames_ms_p50" -> (pct(framesMs, 50), "ms"),
      "transport.frames_ms_p99" -> (pct(framesMs, 99), "ms"),
      "transport.frames_per_call" -> (frames / math.max(1.0, sh.map(_.calls.get).sum.toDouble), "count"),
      "transport.head_lsn_ms_p50" -> (pct(sh.flatMap(_.headMs.asScala), 50), "ms"),
      "decode.ns_per_frame" -> (if (frames == 0) 0.0 else decodeMs * 1e6 / frames, "ns"),
      "decode.envelopes" -> (sh.map(_.envelopes.get).sum.toDouble, "count"),
      "stream.triggers" -> (trig.size.toDouble, "count"),
      "stream.useful_trigger_ratio" -> (trig.count(_.rows > 0) / n, "ratio"),
      "stream.trigger_ms_p50" -> (pct(phase("triggerExecution"), 50), "ms"),
      "stream.trigger_ms_p99" -> (pct(phase("triggerExecution"), 99), "ms"),
      "stream.latest_offset_ms_p50" -> (pct(phase("latestOffset"), 50), "ms"),
      "stream.query_planning_ms_p50" -> (pct(phase("queryPlanning"), 50), "ms"),
      "stream.add_batch_ms_p50" -> (pct(phase("addBatch"), 50), "ms"),
      "stream.wal_commit_ms_p50" -> (pct(phase("walCommit"), 50), "ms"),
      "stream.commit_offsets_ms_p50" -> (pct(phase("commitOffsets"), 50), "ms"),
      "stream.rows_per_trigger_p50" -> (pct(trig.map(_.rows.toDouble), 50), "count"),
      "state.rows_total_end" -> (lastState.map(_._1.toDouble).getOrElse(0.0), "count"),
      "state.updated_rows" -> (state.map(_._2.toDouble).sum, "count"),
      "state.commit_ms_p50" -> (pct(state.map(_._3.toDouble), 50), "ms"),
      "state.memory_bytes_end" -> (lastState.map(_._4.toDouble).getOrElse(0.0), "bytes"),
      "spark.jobs_per_trigger" -> (c.jobs.get / n, "count"),
      "spark.tasks_per_trigger" -> (c.tasks.get / n, "count"),
      "spark.executor_run_ms" -> (c.runMs.get.toDouble, "ms"),
      "spark.shuffle_write_bytes" -> (c.shuffleBytes.get.toDouble, "bytes"),
      "sink.connects_per_trigger" -> (if (bTriggers == 0) 0.0 else c.connects.get / bTriggers, "count"),
      "sink.statements" -> (c.statements.get.toDouble, "count"),
      "sink.stmt_ms_p50" -> (pct(stmtMs, 50), "ms"),
      "sink.commit_ms_p50" -> (pct(commitMs, 50), "ms"),
      "sink.ledger_skips" -> (c.ledgerSkips.get.toDouble, "count"),
      "topic.messages" -> (topics.map(_.messages.toDouble).getOrElse(0.0), "count"),
      "topic.commits" -> (topics.map(_.commits.get.toDouble).getOrElse(0.0), "count"),
      "self.source_driver_ms" -> (sourceMs, "ms"),
      "self.transport_ms" -> (framesMs.sum, "ms"),
      "self.decode_ms" -> (decodeMs, "ms"),
      "self.state_ms" -> (stateMs, "ms"),
      "self.sink_ms" -> (sinkMs, "ms"),
      "self.engine_ms" -> (engineMs, "ms"))
  }
}
