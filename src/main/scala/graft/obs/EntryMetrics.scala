package graft.obs

import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Spark work of one measured body, attributed exactly by job tag.
  *
  * @param jobs              jobs started by the body
  * @param stages            stages completed by those jobs
  * @param tasks             tasks of the completed stages
  * @param executorRunMs     Σ executor run time over those stages
  * @param shuffleWriteBytes Σ shuffle write bytes over those stages
  * @param stateRows         per streaming query id started in the body, the
  *                          last progress's Σ `stateOperators.numRowsTotal`
  */
final case class EntryMetrics(jobs: Int, stages: Int, tasks: Long,
    executorRunMs: Long, shuffleWriteBytes: Long,
    stateRows: Map[String, Long])

object EntryMetrics {
  private val zero = EntryMetrics(0, 0, 0L, 0L, 0L, Map.empty)
  private val nextTag = new AtomicLong
  private val listeners = new java.util.WeakHashMap[SparkContext, TagListener]

  private def listenerFor(sc: SparkContext): TagListener =
    listeners.synchronized(listeners.computeIfAbsent(sc, { sc =>
      val l = new TagListener; sc.addSparkListener(l); l }))

  /** Runs `body` with a unique job tag on this thread and returns its
    * result with the work of every job carrying the tag. Threads the body
    * creates inherit the tag (Spark's local properties are inheritable),
    * so the jobs of a stream started inside the body are counted, and the
    * stream's progress is linked through the `sql.streaming.queryId`
    * property those jobs carry. The listener bus is drained before the
    * record is read: an action's events are all posted by the time it
    * returns, so the record is complete without any sleep. */
  def measure[T](spark: SparkSession)(body: => T): (T, EntryMetrics) = {
    val sc = spark.sparkContext
    val listener = listenerFor(sc)
    val tag = s"graft-obs-${nextTag.incrementAndGet()}"
    listener.open(tag)
    sc.addJobTag(tag)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, listener.record(tag))
    } finally {
      sc.removeJobTag(tag)
      listener.close(tag)
    }
  }

  /** One per context; every handler runs under the listener's lock, so
    * the bus thread and measuring threads see one consistent state. */
  private final class TagListener extends SparkListener {
    private val scopes = mutable.Map.empty[String, EntryMetrics]
    private val stageTags = mutable.Map.empty[Int, Seq[String]]
    private val queryTags = mutable.Map.empty[String, Seq[String]]

    def open(tag: String): Unit = synchronized { scopes(tag) = zero }
    def record(tag: String): EntryMetrics = synchronized { scopes(tag) }
    def close(tag: String): Unit = synchronized {
      scopes.remove(tag)
      stageTags.filterInPlace((_, ts) => ts.exists(scopes.contains))
      queryTags.filterInPlace((_, ts) => ts.exists(scopes.contains))
    }

    private def add(tags: Seq[String])(f: EntryMetrics => EntryMetrics): Unit =
      tags.filter(scopes.contains).foreach(t => scopes(t) = f(scopes(t)))

    // `spark.job.tags` is the comma-joined tag set SparkContext stamps on
    // every job submitted from a tagged thread
    private def openTags(props: Properties): Seq[String] =
      Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(',')).filter(scopes.contains)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tags = openTags(e.properties)
      add(tags)(m => m.copy(jobs = m.jobs + 1))
      if (tags.nonEmpty)
        Option(e.properties.getProperty("sql.streaming.queryId"))
          .foreach(queryTags(_) = tags)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val tags = openTags(e.properties)
        if (tags.nonEmpty) stageTags(e.stageInfo.stageId) = tags
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val info = e.stageInfo
        val tm = info.taskMetrics
        add(stageTags.remove(info.stageId).toSeq.flatten)(m => m.copy(
          stages = m.stages + 1, tasks = m.tasks + info.numTasks,
          executorRunMs = m.executorRunMs + tm.executorRunTime,
          shuffleWriteBytes = m.shuffleWriteBytes +
            tm.shuffleWriteMetrics.bytesWritten))
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => synchronized {
        val id = p.progress.id.toString
        val rows = p.progress.stateOperators.map(_.numRowsTotal).sum
        add(queryTags.getOrElse(id, Nil))(m =>
          m.copy(stateRows = m.stateRows.updated(id, rows)))
      }
      case _ => ()
    }
  }
}
