package cdcbench

import java.io.File
import java.util.UUID
import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.{CdcEnvelope, CdcPipeline}
import graft.sources.{PgWalTransport, PgWireConnectionFactory, TopicStore}

/** One streaming query of a workload: its own slot and publication over
  * `tables`, and either the Pipeline B count sink or a Pipeline A topic. */
final case class QuerySpec(name: String, tables: Seq[String], topic: Option[String])

/** A deployed cluster + Spark session + running queries. */
final class Deployment(val cluster: PgCluster, val spark: SparkSession, val progress: Progress,
    val specs: Vector[QuerySpec], val ids: Vector[UUID], var queries: Vector[StreamingQuery],
    val start: Int => StreamingQuery, val shadows: Map[UUID, ShadowTail]) {
  /** Results are read before this. The cluster goes first: a query
    * stopped while its trigger waits out the transport's quiet window
    * takes seconds, one whose server is gone fails at once. */
  def stop(): Unit = {
    shadows.values.foreach(s => scala.util.Try(s.finish()))
    cluster.stop()
    queries.foreach(q => scala.util.Try(q.stop()))
    scala.util.Try(spark.stop())
  }
}

/** The measured stretch of a run. `txns` is the whole schedule (drained
  * and gated); `measured` are the txns that give latency and events;
  * [startNs, endNs] runs from the measured start to the trigger report
  * that drained the last measured txn; `cpuNs` is process CPU over the
  * measured stretch; `due` gives each txn's due time. The traced run's
  * counters cover [startNs, tracedUntil]. */
final case class Window(txns: Seq[Txn], measured: Seq[Txn], startNs: Long, endNs: Long, cpuNs: Long,
    drained: Boolean, due: Txn => Long, tracedUntil: Long)

object Main {
  import Layers.pct

  val users = Seq("schema1.users", "schema2.users")
  val allTables = users ++ Seq("schema1.user_favorite_colors", "schema2.user_favorite_colors")

  /** b_steady: open-loop single-change txns per second, after a preload
    * of this many inserts. */
  val steadyRate = 400
  val preload = 2000
  /** a_bursty: one burst every period, its txns all due at its start and
    * sent back to back (~30 ms). A burst shorter than the stream's first
    * trigger leaves the same two-trigger pattern every time; spaced at
    * 1 kHz, the race between the burst's end and that trigger's end
    * split bursts into two or three triggers at random, and latency
    * percentiles jumped between those modes from run to run. */
  val burstPeriodMs = 2000
  val burstTxns = 100
  /** a_backlog/b_backlog: backlog changes per second of --seconds (200,000 at 20 s),
    * committed in set-based transactions of at most this many rows. */
  val backlogPerSecond = 10000
  val backlogChunk = 10000
  /** The backlog is committed and caught up in this many equal cycles; the
    * run reports the median cycle, which a stall in one cycle cannot move. */
  val backlogCycles = 3
  /** Unmeasured load before the measured stretch of b_steady/a_bursty. */
  val warmupSeconds = 4
  /** A run whose generator ran later than this (p99) is invalid. */
  val lateBoundMs = 500.0

  /** Set-ups per run; setup_s is their median. The first is timed from
    * process start, the second from the teardown of the first. */
  val setups = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
      work: File, pgdir: File, pgbin: String, wrongExpectation: Boolean)

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (argv.contains("--self-test")) { Gate.selfTest(); return }
    val a = Args(kv("workload"), kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toInt,
      kv.getOrElse("trace", "0") == "1",
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      new File(kv("work")), new File(kv("pgdir")), kv("pgbin"),
      kv.getOrElse("wrong-expectation", "0") == "1")
    require(Set("a_backlog", "b_backlog", "a_bursty", "b_steady")(a.workload),
      s"unknown workload ${a.workload}")
    PgCluster.unavailable(a.pgbin).foreach { why =>
      System.err.println(s"SKIP: $why"); System.exit(3)
    }
    System.exit(run(a))
  }

  /** Cumulative CPU steal of the machine, in clock ticks (/proc/stat). */
  private def stealTicks(): Long =
    scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+")(8).toLong

  private def loadavg(): String =
    scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(' ').take(3).mkString(" ")

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Progress marks on stderr, in seconds since process start. */
  def mark(what: String): Unit = System.err.println(f"[cdcbench] ${(System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.2f s $what")

  def specs(workload: String): Vector[QuerySpec] =
    if (workload.startsWith("a_")) Vector(
      QuerySpec("q_a_users", allTables, Some("users")),
      QuerySpec("q_a_colors", allTables, Some("user_favorite_colors")))
    // Pipeline B's publication covers the users tables only: Changelog
    // keys on schema|id and ignores the table, so colour rows would
    // collide with users keys in the count.
    else Vector(QuerySpec("q_b", users, None))

  private val schemaSql: String =
    Gen.schemas.map { s =>
      s"CREATE SCHEMA $s; CREATE TABLE $s.users (id bigint PRIMARY KEY, full_name varchar); " +
        s"ALTER TABLE $s.users REPLICA IDENTITY FULL; " +
        s"CREATE TABLE $s.user_favorite_colors (user_id bigint PRIMARY KEY, favorite_color varchar); " +
        s"ALTER TABLE $s.user_favorite_colors REPLICA IDENTITY FULL;"
    }.mkString(" ") +
      s" CREATE TABLE ${CdcPipeline.countTable} (pgschema text PRIMARY KEY, user_count bigint);" +
      s" CREATE TABLE ${CdcPipeline.countTable}__batches (batch_key text PRIMARY KEY)"

  /** Cluster, schema, one slot + publication per query (plus a shadow pair
    * per query when traced), Spark session, queries started; returns when
    * the first trigger of every query has completed. */
  def deploy(a: Args, rep: Int): Deployment = {
    val cluster = new PgCluster(new File(a.pgdir, s"r$rep"), PgCluster.freePort(), a.pgbin)
    cluster.start()
    mark(s"setup $rep: cluster up")
    val sp = specs(a.workload)
    val db = new PgClient(cluster.port)
    try {
      db.exec(schemaSql)
      val prefixes = if (a.trace) Seq("", "shadow_") else Seq("")
      for (q <- sp; p <- prefixes) {
        db.exec(s"CREATE PUBLICATION ${p}pub_${q.name} FOR TABLE ${q.tables.mkString(", ")}")
        db.exec(s"SELECT pg_create_logical_replication_slot('$p${q.name}', 'pgoutput')")
      }
    } finally db.close()
    val spark = SparkSession.builder().master(s"local[${a.cores}]").appName("cdcbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    mark(s"setup $rep: spark session")
    val progress = new Progress
    spark.streams.addListener(progress)
    if (a.trace) spark.sparkContext.addSparkListener(new ExecutorProbe)
    val url = (slot: String) =>
      s"pgwal://127.0.0.1:${cluster.port}/postgres?slot=$slot&publication=pub_$slot"
    val sink: graft.cdc.Sinks.ConnectionFactory = {
      val f = PgWireConnectionFactory("127.0.0.1", cluster.port, "postgres", "postgres")
      if (a.trace) TimedFactory(f) else f
    }
    val start = (i: Int) => {
      implicit val s: SparkSession = spark
      import spark.implicits._
      val q = sp(i)
      val ck = new File(a.work, s"ck/r$rep/${q.name}").getPath
      val events: Dataset[CdcEnvelope] = spark.readStream.format("graft-cdc")
        .option("path", url(q.name)).option("walFormat", "pgoutput").load().as[CdcEnvelope]
      q.topic match {
        case None => CdcPipeline.liveCountPerSchema(events, sink, ck)
        case Some(topic) =>
          val frame = if (topic == "users") CdcPipeline.usersTopicFrame(events)
            else CdcPipeline.colorsTopicFrame(events)
          frame.writeStream.format("graft-topic").option("topic", topic)
            .option("checkpointLocation", ck).start()
      }
    }
    sp.flatMap(_.topic).foreach(TopicStore.clear)
    val queries = sp.indices.map(start).toVector
    val ids = queries.map(_.id)
    val shadows =
      if (!a.trace) Map.empty[UUID, ShadowTail]
      else ids.zip(sp).map { case (id, q) =>
        id -> new ShadowTail(new PgWalTransport("127.0.0.1", cluster.port, "postgres", "postgres",
          s"shadow_${q.name}", s"shadow_pub_${q.name}"))
      }.toMap
    progress.onTrigger = (id, t) => shadows.get(id).foreach(_.offer(t.start, t.end))
    for (id <- ids) require(progress.awaitTrigger(id, 120000), "first trigger did not complete")
    mark(s"setup $rep: first triggers done")
    new Deployment(cluster, spark, progress, sp, ids, queries, start, shadows)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  private def sleepUntil(t: Long): Unit =
    while (System.nanoTime() < t) java.util.concurrent.locks.LockSupport.parkNanos(t - System.nanoTime())

  /** Resets the process's peak-RSS mark after a full GC, so
    * jvm.peak_rss_mb reads the measured stretch and not set-up. */
  private def resetPeakRss(): Unit = {
    System.gc()
    val w = new java.io.FileWriter("/proc/self/clear_refs")
    try w.write("5") finally w.close()
  }

  /** Sends the open-loop `steps` (due time, send) on the generator thread
    * and drains them. Txns due in [ws, we) are measured; CPU is read at
    * ws and we, and the traced counters start at ws. */
  private def openLoop(d: Deployment, gen: Gen, steps: Seq[(Long, Long => Txn)], ws: Long,
      we: Long): Window = {
    val from = gen.txns.size
    var cpu0, cpu1 = -1L
    for ((due, send) <- steps) {
      if (cpu0 < 0 && due >= ws) {
        sleepUntil(ws); cpu0 = cpuNs(); Counters.active.set(true); mark("window start")
      }
      if (cpu1 < 0 && due >= we) { sleepUntil(we); cpu1 = cpuNs() }
      send(due)
    }
    if (cpu1 < 0) { sleepUntil(we); cpu1 = cpuNs() }
    drain(d, gen.txns.drop(from).toVector, _.due, t => t.due >= ws && t.due < we, ws, cpu1 - cpu0)
  }

  /** Waits until every query's triggers cover its last txn in `txns`. */
  private def drain(d: Deployment, txns: Vector[Txn], due: Txn => Long, measured: Txn => Boolean,
      ws: Long, cpu: Long): Window = {
    val ok = txns.filter(_.ok)
    val drained = d.ids.indices.forall { q =>
      val s = ok.filter(_.query == q)
      s.isEmpty || d.progress.awaitCovered(d.ids(q), s.map(_.stamp).max, 120000)
    }
    // traced: the shadow tails finish the ranges the window reported
    val deadline = System.nanoTime() + 60000000000L
    while (!d.shadows.values.forall(_.idle) && System.nanoTime() < deadline) Thread.sleep(5)
    Counters.active.set(false)
    val tracedUntil = System.nanoTime()
    mark("window drained")
    val m = txns.filter(measured)
    val endNs = m.filter(_.ok).flatMap(t => d.progress.triggers(d.ids(t.query)).find(_.end >= t.stamp))
      .map(_.recv).maxOption.getOrElse(System.nanoTime())
    Window(txns, m, ws, endNs, cpu, drained, due, tracedUntil)
  }

  /** The workload's measured stretches: one, or one per backlog cycle. */
  def runWorkload(a: Args, d: Deployment, gen: Gen, db: PgClient): Seq[Window] = a.workload match {
    case "b_steady" =>
      gen.preload(0, preload / 2)
      require(d.progress.awaitCovered(d.ids(0), gen.txns.map(_.stamp).max, 120000), "preload not drained")
      resetPeakRss()
      // unmeasured load before (JIT warm-up: trigger time falls by a third
      // over the first seconds) and after (keeps the final quiet-window
      // drain out of the measured txns)
      val sec = 1000000000L
      val ws = System.nanoTime() + warmupSeconds * sec
      val we = ws + a.seconds * sec
      val step = sec / steadyRate
      val steps = (0 until steadyRate * (warmupSeconds + a.seconds + 1)).map(i =>
        (ws - warmupSeconds * sec + i * step, (due: Long) => gen.single(0, Gen.users, due)))
      Seq(openLoop(d, gen, steps, ws, we))
    case "a_bursty" =>
      resetPeakRss()
      // the bursts of the first warmupSeconds are not measured
      val period = burstPeriodMs * 1000000L
      val warm = warmupSeconds * 1000 / burstPeriodMs
      val ws = System.nanoTime() + warm * period
      val bursts = math.max(1, a.seconds * 1000 / burstPeriodMs)
      val steps = for (b <- 0 until warm + bursts; j <- 0 until burstTxns) yield
        (ws + (b - warm) * period, (due: Long) =>
          if (j % 2 == 0) gen.single(0, Gen.users, due) else gen.single(1, Gen.colors, due))
      Seq(openLoop(d, gen, steps, ws, ws + bursts * period))
    case "a_backlog" | "b_backlog" =>
      // per cycle the pipeline is down while its share of the backlog
      // commits, then restarts from its checkpoint; every backlog change
      // is due at the restart. Pipeline A's backlog is split between its
      // two tables.
      resetPeakRss()
      val n = backlogPerSecond * a.seconds / backlogCycles
      (0 until backlogCycles).map { _ =>
        d.queries.foreach(_.stop())
        val from = gen.txns.size
        if (d.specs.size == 1) gen.backlog(0, Gen.users, n, backlogChunk)
        else { gen.backlog(0, Gen.users, n / 2, backlogChunk); gen.backlog(1, Gen.colors, n / 2, backlogChunk) }
        // wait until the WAL writer has written the whole backlog, so the
        // restart sees all of it at once
        val last = gen.txns.map(_.stamp).max
        while (PgClient.parseLsn(db.one("SELECT pg_current_wal_lsn()")) < last) Thread.sleep(5)
        val t0 = System.nanoTime()
        val cpu0 = cpuNs()
        Counters.active.set(true)
        mark("window start")
        d.queries = d.specs.indices.map(d.start).toVector
        val w = drain(d, gen.txns.drop(from).toVector, _ => t0, _ => true, t0, 0L)
        w.copy(cpuNs = cpuNs() - cpu0)
      }
  }

  /** Commit-to-sink latency of each change: from its txn's due time to the
    * first completed trigger of its query whose endOffset covers the stamp. */
  def latencies(d: Deployment, w: Window): Vector[Double] = {
    val trig = d.ids.map(id => d.progress.triggers(id).sortBy(_.recv))
    w.measured.filter(_.ok).flatMap { t =>
      trig(t.query).find(_.end >= t.stamp).toSeq
        .flatMap(c => Seq.fill(t.changes)((c.recv - w.due(t)) / 1e6))
    }.toVector
  }

  def run(a: Args): Int = {
    val started = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadavg()
    val steal0 = stealTicks()
    val record = mutable.LinkedHashMap[String, Any]("workload" -> a.workload, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace, "cores" -> a.cores,
      "nproc" -> Runtime.getRuntime.availableProcessors, "loadavg_start" -> load0)
    var failed = 0L
    var attempted = 1L
    var metrics = Map.empty[String, (Double, String)]
    var gateOk = false
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var d: Deployment = null
    try {
      for (rep <- 0 until setups) {
        if (d != null) { d.stop(); d = null }
        val begin = System.nanoTime() -
          (if (rep == 0) (System.currentTimeMillis() - started) * 1000000L else 0L)
        d = deploy(a, rep)
        setupTimes += (System.nanoTime() - begin) / 1e9
      }
      Counters.reset()
      val db = new PgClient(d.cluster.port)
      record("pg_version") = db.one("SHOW server_version")
      record("pg_settings") = PgCluster.settings.filter(s => Set("fsync", "synchronous_commit")(s._1)).toMap
      val gen = new Gen(db, a.seed, keepMessages = d.specs.exists(_.topic.isDefined))
      val poll = if (a.trace) Some(new ServerPoll(d.cluster.port, "q_")) else None
      val topics = if (a.trace) d.specs.flatMap(_.topic) else Nil
      val topicPoll = if (topics.nonEmpty) Some(new TopicPoll(topics)) else None
      (poll ++ topicPoll ++ d.shadows.values).foreach(_.start())
      // set-up wrote tens of MB (two initdb runs, WAL, Spark files); flush
      // them now so their writeback does not land in the measured stretch
      scala.sys.process.Process("sync").!
      val ws = runWorkload(a, d, gen, db)
      poll.foreach(_.finish()); topicPoll.foreach(_.finish())
      val terminated = d.queries.count(_.exception.isDefined)
      // all stretches as one, for run-wide counts and the traced layers
      val w = ws.head.copy(txns = ws.flatMap(_.txns), measured = ws.flatMap(_.measured),
        endNs = ws.last.endNs, cpuNs = ws.map(_.cpuNs).sum, drained = ws.forall(_.drained),
        tracedUntil = ws.last.tracedUntil)
      val lat = ws.flatMap(latencies(d, _))
      val late = w.txns.map(t => (t.sent - t.due) / 1e6)
      attempted = math.max(1, w.txns.size)
      val genFailed = w.txns.count(!_.ok)
      val mismatches = if (w.drained) Gate.check(d, gen, db, a.wrongExpectation) else Seq("window not drained")
      db.close()
      gateOk = mismatches.isEmpty
      failed = genFailed + terminated + mismatches.size
      record("gate") = if (gateOk) "ok" else mismatches.take(5).mkString("; ")
      record("latency_samples") = lat.size
      record("latency_p95_ms") = pct(lat, 95)
      record("gen_late_p99_ms") = pct(late, 99)
      record("gen_late_max_ms") = if (late.isEmpty) 0.0 else late.max
      record("setups_s") = setupTimes.toVector
      record("error_ratio") = failed.toDouble / attempted
      // each metric is the median over the stretches (one unless backlog)
      val perStretch = ws.map { x =>
        val l = latencies(d, x)
        val events = x.measured.filter(_.ok).map(_.changes.toLong).sum
        Map("latency_p50_ms" -> pct(l, 50), "latency_p99_ms" -> pct(l, 99),
          "events_per_s" -> events / ((x.endNs - x.startNs) / 1e9),
          "cpu_ms_per_kevent" -> x.cpuNs / 1e6 / (events / 1000.0))
      }
      def med(k: String) = median(perStretch.map(_(k)))
      val base = Map("latency_p50_ms" -> (med("latency_p50_ms"), "ms"),
        "latency_p99_ms" -> (med("latency_p99_ms"), "ms"), "events_per_s" -> (med("events_per_s"), "1/s"))
      metrics =
        if (!a.trace) base ++ Map(
          "setup_s" -> (median(setupTimes.toSeq), "s"),
          "cpu_ms_per_kevent" -> (med("cpu_ms_per_kevent"), "ms"))
        else Layers.metrics(d, w, gen, poll, topicPoll) ++
          base.filter(_._1 != "latency_p99_ms").map { case (k, v) => s"traced.$k" -> v } +
          ("jvm.peak_rss_mb" -> (peakRssMb(), "MB"))
      if (pct(late, 99) > lateBoundMs) {
        record("invalid") = s"generator p99 lateness ${pct(late, 99)} ms > $lateBoundMs ms"
      }
    } catch {
      case e: Throwable =>
        failed += 1
        record("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      if (d != null) d.stop()
      mark("stopped")
    }
    record("loadavg_end") = loadavg()
    // share of the machine's CPU time taken by the host over the run
    record("cpu_steal_pct") = 100.0 * (stealTicks() - steal0) / (Runtime.getRuntime.availableProcessors *
      (System.currentTimeMillis() - started) / 10.0)
    println("record " + Json.render(record))
    if (record.contains("invalid")) return 4
    val correct = gateOk && failed == 0
    println(Json.render(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> (if (correct) metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
        else Map.empty))))
    if (correct) 0 else 1
  }
}

/** JSON for the result and record lines. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}
