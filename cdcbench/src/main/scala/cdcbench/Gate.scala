package cdcbench

import scala.jdk.CollectionConverters._

import graft.cdc.CdcPipeline
import graft.sources.TopicStore

/** The correctness gate every run passes before it yields a number. */
object Gate {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Pipeline B: the sink's count per schema against count(*) of users. */
  def counts(sink: Map[String, Long], truth: Map[String, Long]): Seq[String] =
    (sink.keySet ++ truth.keySet).toSeq.sorted.flatMap { s =>
      val (x, y) = (sink.getOrElse(s, 0L), truth.getOrElse(s, 0L))
      if (x != y) Some(s"$s: sink count $x != source count $y") else None
    }

  private def canon(key: String, fields: Iterable[(String, Any)]): String =
    key + " " + fields.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(",")

  /** Pipeline A: the topic holds exactly one message per change to its
    * table, with key schema|id and a value matching the DML, in change
    * order per key. */
  def topic(name: String, actual: Seq[(String, String)], expected: Seq[Expected]): Seq[String] = {
    val got = actual.map { case (k, v) =>
      canon(k, mapper.readValue(v, classOf[java.util.Map[String, Object]]).asScala)
    }
    val want = expected.map(e => canon(e.key, e.fields))
    val missing = want.diff(got)
    val extra = got.diff(want)
    val byKey = (xs: Seq[String]) => xs.groupBy(_.takeWhile(_ != ' '))
    val wantByKey = byKey(want)
    val disordered = if (missing.nonEmpty || extra.nonEmpty) Nil
      else byKey(got).toSeq.filter { case (k, vs) => vs != wantByKey(k) }.map(_._1).sorted
    missing.map(m => s"$name: missing $m") ++ extra.map(m => s"$name: unexpected $m") ++
      disordered.map(k => s"$name: changes of $k out of order")
  }

  /** Runs the gate for the deployment's pipeline after the final drain.
    * `wrong` shifts the expectation by one change, to show the gate fails. */
  def check(d: Deployment, gen: Gen, db: PgClient, wrong: Boolean): Seq[String] =
    if (d.specs.exists(_.topic.isEmpty)) {
      val sink = db.exec(s"SELECT pgschema, user_count FROM ${CdcPipeline.countTable}").rows
        .map(r => r(0) -> r(1).toLong).toMap
      val truth = Gen.schemas.map(s => s -> db.one(s"SELECT count(*) FROM $s.users").toLong).toMap
      val model = Gen.schemas.map(s => s -> gen.liveCount(s)).toMap
      val expect = if (wrong) truth.updated("schema1", truth("schema1") + 1) else truth
      counts(sink, expect) ++ counts(model, truth).map("generator model vs source: " + _)
    } else d.specs.flatMap(_.topic).flatMap { t =>
      val table = if (t == "users") "users" else "user_favorite_colors"
      val exp = gen.expected.get(table).map(_.toVector).getOrElse(Vector.empty)
      topic(t, TopicStore.read(t).map(m => m.key -> m.value), if (wrong) exp.drop(1) else exp)
    }

  /** Shows the gate passing on a right expectation and failing on wrong
    * ones, without a cluster. */
  def selfTest(): Unit = {
    val truth = Map("schema1" -> 3L, "schema2" -> 5L)
    val exp = Seq(
      Expected("schema1|1", Map("key" -> "schema1|1", "op" -> "c", "schema" -> "schema1",
        "table" -> "users", "fullName" -> "ua", "id" -> 1L)),
      Expected("schema1|1", Map("key" -> "schema1|1", "op" -> "u", "schema" -> "schema1",
        "table" -> "users", "fullName" -> "ub", "id" -> 1L)))
    val msgs = Seq(
      "schema1|1" -> """{"key":"schema1|1","op":"c","schema":"schema1","table":"users","fullName":"ua","id":1}""",
      "schema1|1" -> """{"key":"schema1|1","op":"u","schema":"schema1","table":"users","fullName":"ub","id":1}""")
    val cases = Seq(
      "right count" -> (counts(truth, truth), true),
      "count off by one" -> (counts(truth, truth.updated("schema1", 4L)), false),
      "count of a missing schema" -> (counts(truth - "schema2", truth), false),
      "right topic" -> (topic("users", msgs, exp), true),
      "one change not expected" -> (topic("users", msgs, exp.take(1)), false),
      "one change missing" -> (topic("users", msgs.take(1), exp), false),
      "wrong value" -> (topic("users", msgs, exp.updated(1, exp(1).copy(
        fields = exp(1).fields.updated("fullName", "uc")))), false),
      "changes out of order" -> (topic("users", msgs.reverse, exp), false))
    val bad = cases.collect { case (name, (problems, pass)) if problems.isEmpty != pass => name }
    cases.foreach { case (name, (problems, _)) =>
      println(s"$name: ${if (problems.isEmpty) "passes" else "fails: " + problems.mkString("; ")}")
    }
    require(bad.isEmpty, s"gate self-test wrong on: ${bad.mkString(", ")}")
    println("gate self-test ok")
  }
}
