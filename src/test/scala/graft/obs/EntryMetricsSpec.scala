package graft.obs

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Job-tag attribution is exact: no sleeps, no leakage between bodies. */
class EntryMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def shuffle(): Unit =
    spark.range(0, 20000, 1, 4).groupBy(col("id") % 97).count()
      .write.format("noop").mode("overwrite").save()

  test("a tagged shuffle action gives the same record every time") {
    val records = Seq.fill(20)(EntryMetrics.measure(spark)(shuffle())._2)
    val counts = records.map(r => (r.jobs, r.stages, r.tasks, r.shuffleWriteBytes))
    assert(counts.distinct.size == 1, counts)
    val r = records.head
    assert(r.jobs > 0 && r.stages > 0 && r.tasks >= 4 && r.shuffleWriteBytes > 0)
    assert(r.stateRows.isEmpty)
    // an untagged action run right after is attributed to no later body
    shuffle()
    assert(EntryMetrics.measure(spark)(())._2 ==
      EntryMetrics(0, 0, 0L, 0L, 0L, Map.empty))
    assert(spark.sparkContext.getJobTags().isEmpty)
  }

  test("a stateful stream started inside the body reports jobs and final state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (id, r) = EntryMetrics.measure(spark) {
      val input = MemoryStream[Int]
      val q = input.toDS().groupBy($"value" % 5).count().writeStream
        .outputMode("update").format("noop")
        .option("checkpointLocation", tmpDir("obs-ckpt")).start()
      try {
        input.addData(1 to 50)
        q.processAllAvailable()
        input.addData(51 to 100)
        q.processAllAvailable()
      } finally q.stop()
      q.id.toString
    }
    assert(r.jobs >= 2 && r.stages > 0)
    assert(r.stateRows == Map(id -> 5L))
  }
}
