package cdcbench

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, PreparedStatement}
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.cdc.Sinks
import graft.sources.{PgOutputSession, PgWalTransport}

/** One completed trigger as StreamingQueryListener reported it. `recv` is
  * System.nanoTime at the report; `start`/`end` are the CdcOffset LSNs. */
final case class Trigger(recv: Long, batchId: Long, start: Long, end: Long, rows: Long,
    phases: Map[String, Long], state: Option[(Long, Long, Long, Long)])

/** Collects every trigger of every query, keyed by query id (stable across
  * a restart from the same checkpoint), and the highest endOffset each
  * query has completed. */
final class Progress extends StreamingQueryListener {
  private val byQuery = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, ConcurrentLinkedQueue[Trigger]]()
  private val coveredBy = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, AtomicLong]()
  @volatile var onTrigger: (java.util.UUID, Trigger) => Unit = (_, _) => ()

  def triggers(id: java.util.UUID): Vector[Trigger] =
    Option(byQuery.get(id)).map(_.asScala.toVector).getOrElse(Vector.empty)
  def covered(id: java.util.UUID): Long = Option(coveredBy.get(id)).map(_.get).getOrElse(-1L)

  private def lsn(json: String): Long = if (json == null || json == "null") 0L else json.trim.toLong

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val p = e.progress
    if (p.sources.isEmpty) return
    val src = p.sources.head
    val st = p.stateOperators.headOption.map(s =>
      (s.numRowsTotal, s.numRowsUpdated, s.commitTimeMs, s.memoryUsedBytes))
    val t = Trigger(now, p.batchId, lsn(src.startOffset), lsn(src.endOffset), p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, st)
    byQuery.computeIfAbsent(p.id, _ => new ConcurrentLinkedQueue[Trigger]()).add(t)
    coveredBy.computeIfAbsent(p.id, _ => new AtomicLong(-1L)).accumulateAndGet(t.end, math.max)
    onTrigger(p.id, t)
  }

  private def await(timeoutMs: Long)(done: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!done && System.nanoTime() < deadline) Thread.sleep(2)
    done
  }
  def awaitCovered(id: java.util.UUID, lsn: Long, timeoutMs: Long): Boolean =
    await(timeoutMs)(covered(id) >= lsn)
  def awaitTrigger(id: java.util.UUID, timeoutMs: Long): Boolean =
    await(timeoutMs)(byQuery.containsKey(id))
}

/** Counters for the traced run. Everything is JVM-global because Spark's
  * local executors deserialize their own copy of the sink factory. */
object Counters {
  val active = new AtomicBoolean(false)
  val jobs, tasks, runMs, shuffleBytes = new AtomicLong()
  val connects, statements, ledgerSkips = new AtomicLong()
  val stmtMs, commitMs = new ConcurrentLinkedQueue[Double]()

  def reset(): Unit = {
    Seq(jobs, tasks, runMs, shuffleBytes, connects, statements, ledgerSkips).foreach(_.set(0))
    stmtMs.clear(); commitMs.clear()
  }

  def timed[A](into: ConcurrentLinkedQueue[Double])(f: => A): A = {
    val t = System.nanoTime()
    try f finally if (active.get) into.add((System.nanoTime() - t) / 1e6)
  }
}

/** Spark executors: jobs, tasks, executor run time, shuffle bytes written. */
final class ExecutorProbe extends SparkListener {
  import Counters._
  override def onJobStart(e: SparkListenerJobStart): Unit = if (active.get) jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active.get && e.taskMetrics != null) {
    tasks.incrementAndGet()
    runMs.addAndGet(e.taskMetrics.executorRunTime)
    shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }
}

/** Wraps the sink's connection factory and times connect, each statement
  * execution and commit, from the outside of `Sinks.UpsertWriter`. */
final case class TimedFactory(inner: Sinks.ConnectionFactory) extends Sinks.ConnectionFactory {
  import Counters._
  private def proxy[T](cls: Class[T])(f: (Method, Array[AnyRef]) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(cls), new InvocationHandler {
      override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = f(m, args)
    }).asInstanceOf[T]

  private def call(m: Method, target: AnyRef, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }

  override def connect(): Connection = {
    val c = inner.connect()
    if (active.get) connects.incrementAndGet()
    proxy(classOf[Connection]) { (m, args) =>
      m.getName match {
        case "commit" => timed(commitMs)(call(m, c, args))
        case "prepareStatement" =>
          val sql = args(0).asInstanceOf[String]
          val st = call(m, c, args).asInstanceOf[PreparedStatement]
          proxy(classOf[PreparedStatement]) { (sm, sargs) =>
            sm.getName match {
              case "executeUpdate" =>
                val n = timed(stmtMs)(call(sm, st, sargs)).asInstanceOf[Integer]
                if (active.get) {
                  statements.incrementAndGet()
                  if (sql.contains("__batches") && n == 0) ledgerSkips.incrementAndGet()
                }
                n
              case "executeBatch" =>
                val r = timed(stmtMs)(call(sm, st, sargs)).asInstanceOf[Array[Int]]
                if (active.get) statements.addAndGet(r.length)
                r
              case _ => call(sm, st, sargs)
            }
          }
        case _ => call(m, c, args)
      }
    }
  }
}

/** Tails a shadow slot + publication on the same tables as one query, over
  * exactly the LSN ranges that query's triggers report, timing the
  * transport calls (`headLsn`, `frames`) and pgoutput decoding. */
final class ShadowTail(transport: PgWalTransport) extends Thread("shadow-tail") {
  setDaemon(true)
  private val ranges = new LinkedBlockingQueue[(Long, Long)]()
  private val session = new PgOutputSession(db = "postgres")
  @volatile private var running = true
  val headMs, framesMs = new ConcurrentLinkedQueue[Double]()
  val calls, frames, envelopes, decodeNs = new AtomicLong()

  private val pending = new java.util.concurrent.atomic.AtomicInteger()
  def idle: Boolean = pending.get == 0

  def offer(start: Long, end: Long): Unit =
    if (end > start) { pending.incrementAndGet(); ranges.add((start, end)) }

  override def run(): Unit = while (running) {
    val r = ranges.poll(50, TimeUnit.MILLISECONDS)
    if (r != null) {
      Counters.timed(headMs)(transport.headLsn())
      val fs = Counters.timed(framesMs)(transport.frames(r._1, r._2).toVector)
      val t = System.nanoTime()
      val n = fs.map { case (lsn, f) => session.decode(f, lsn).count(_.lsn > r._1) }.sum
      if (Counters.active.get) {
        decodeNs.addAndGet(System.nanoTime() - t)
        calls.incrementAndGet(); frames.addAndGet(fs.size); envelopes.addAndGet(n)
      }
      transport.ack(r._2)
      pending.decrementAndGet()
    }
  }

  def finish(): Unit = { running = false; join(10000); transport.close() }
}

/** Polls Postgres about once a second on its own connection: slot lag and
  * retained WAL of the queries' slots, and WAL bytes written (by LSN). */
final class ServerPoll(port: Int, slotPrefix: String) extends Thread("pg-poll") {
  setDaemon(true)
  @volatile private var running = true
  val lagMax, retainedLast, walStart, walLast = new AtomicLong(-1)

  private def sample(db: PgClient): Unit = {
    val r = db.exec("SELECT pg_current_wal_lsn() - '0/0', " +
      "max(pg_current_wal_lsn() - confirmed_flush_lsn), max(pg_current_wal_lsn() - restart_lsn) " +
      s"FROM pg_replication_slots WHERE slot_name LIKE '$slotPrefix%'").rows.head
    val wal = BigDecimal(r(0)).toLong
    walStart.compareAndSet(-1, wal); walLast.set(wal)
    lagMax.accumulateAndGet(BigDecimal(r(1)).toLong, math.max)
    retainedLast.set(BigDecimal(r(2)).toLong)
  }

  override def run(): Unit = {
    val db = new PgClient(port)
    try while (running) {
      sample(db)
      try Thread.sleep(1000) catch { case _: InterruptedException => () }
    } finally { sample(db); db.close() }
  }

  def finish(): Unit = { running = false; interrupt(); join(10000) }
}

/** Polls graft-topic sizes every 10 ms: messages appended and the number
  * of distinct commits observed during the window. */
final class TopicPoll(topics: Seq[String]) extends Thread("topic-poll") {
  setDaemon(true)
  @volatile private var running = true
  val commits = new AtomicLong()
  private val first = topics.map(graft.sources.TopicStore.size)
  @volatile var last: Seq[Long] = first

  override def run(): Unit = while (running) {
    val now = topics.map(graft.sources.TopicStore.size)
    commits.addAndGet(now.zip(last).count { case (a, b) => a != b })
    last = now
    Thread.sleep(10)
  }

  def messages: Long = last.sum - first.sum
  def finish(): Unit = { running = false; join(10000) }
}
