package cdcbench

import java.util.SplittableRandom
import scala.collection.mutable

/** One generated transaction. `query` is the index of the streaming query
  * that must carry it to a sink; times are System.nanoTime; `stamp` is
  * pg_current_wal_insert_lsn() read right after COMMIT in the same session. */
final case class Txn(query: Int, due: Long, sent: Long, done: Long, stamp: Long,
    changes: Int, ok: Boolean)

/** A change the topic of Pipeline A must hold exactly once: its key and the
  * fields of its JSON value. */
final case class Expected(key: String, fields: Map[String, Any])

/** Live rows of one source table, with O(1) uniform pick and removal. */
final class LiveRows {
  private val ids = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.HashMap.empty[Long, Int]
  val values = mutable.HashMap.empty[Long, String]
  def size: Int = ids.size
  def add(id: Long, v: String): Unit = { pos(id) = ids.size; ids += id; values(id) = v }
  def pick(r: SplittableRandom): Long = ids(r.nextInt(ids.size))
  def remove(id: Long): Unit = {
    val i = pos.remove(id).get
    val last = ids.remove(ids.size - 1)
    if (last != id) { ids(i) = last; pos(last) = i }
    values.remove(id)
  }
}

object Gen {
  /** (table, key column, value column, JSON id field, JSON value field) */
  type Table = (String, String, String, String, String)
  val schemas: Vector[String] = Vector("schema1", "schema2")
  val users: Table = ("users", "id", "full_name", "id", "fullName")
  val colors: Table = ("user_favorite_colors", "user_id", "favorite_color", "userId", "favoriteColor")
}

/** Seeded DML generator over the reference schema, driving ONE connection.
  * It keeps the truth model (live rows per schema and table) and, when
  * `keepMessages` (Pipeline A), the messages each topic must end up
  * holding. The program under test sees only the SQL. */
final class Gen(db: PgClient, seed: Long, keepMessages: Boolean) {
  import Gen._
  private val rng = new SplittableRandom(seed)
  private val live = mutable.HashMap.empty[(String, String), LiveRows]
  private val nextId = mutable.HashMap.empty[(String, String), Long].withDefaultValue(1L)
  val txns = mutable.ArrayBuffer.empty[Txn]
  val expected = mutable.HashMap.empty[String, mutable.ArrayBuffer[Expected]]

  def rows(schema: String, table: String): LiveRows = live.getOrElseUpdate((schema, table), new LiveRows)
  def liveCount(schema: String): Long = rows(schema, "users").size.toLong

  /** `sql` as its own transaction, stamped in the same session right after
    * COMMIT. pg_current_wal_insert_lsn, not pg_current_wal_lsn: under
    * asynchronous commit the write position can still be short of the
    * commit record. */
  private def stamped(sql: String): scala.util.Try[PgResult] = {
    val r = scala.util.Try(db.exec(s"BEGIN;$sql;COMMIT;SELECT pg_current_wal_insert_lsn()"))
    if (r.isFailure) scala.util.Try(db.exec("ROLLBACK"))
    r
  }

  /** Applies one committed change (op c/u/d, the new value for c/u) to the
    * truth model and to the messages `tbl`'s topic must hold. */
  private def applied(schema: String, tbl: Table, op: String, id: Long, v: String): Unit = {
    val (table, _, _, jid, jval) = tbl
    val lr = rows(schema, table)
    val image = op match {
      case "c" => lr.add(id, v); v
      case "u" => lr.values(id) = v; v
      case "d" => val old = lr.values(id); lr.remove(id); old
    }
    if (keepMessages)
      expected.getOrElseUpdate(table, mutable.ArrayBuffer.empty) += Expected(s"$schema|$id",
        Map("key" -> s"$schema|$id", "op" -> op, "schema" -> schema, "table" -> table,
          jval -> image, jid -> id))
  }

  private def word(prefix: String): String = prefix + java.lang.Long.toHexString(rng.nextLong() >>> 24)

  /** One single-change transaction on `tbl`: 40% insert, 45% update,
    * 15% delete (insert while the table is empty); schema uniform. */
  def single(query: Int, tbl: Table, due: Long): Txn = {
    val (table, kcol, vcol, _, _) = tbl
    val schema = schemas(rng.nextInt(schemas.size))
    val lr = rows(schema, table)
    val p = rng.nextInt(100)
    val v = word(if (table == "users") "u" else "c")
    val (op, id, sql) =
      if (lr.size == 0 || p < 40) {
        val id = nextId((schema, table)); nextId((schema, table)) = id + 1
        ("c", id, s"INSERT INTO $schema.$table ($kcol, $vcol) VALUES ($id, '$v')")
      } else if (p < 85) {
        val id = lr.pick(rng)
        ("u", id, s"UPDATE $schema.$table SET $vcol = '$v' WHERE $kcol = $id")
      } else {
        val id = lr.pick(rng)
        ("d", id, s"DELETE FROM $schema.$table WHERE $kcol = $id")
      }
    while (System.nanoTime() < due) java.util.concurrent.locks.LockSupport.parkNanos(due - System.nanoTime())
    val sent = System.nanoTime()
    val r = stamped(sql)
    val done = System.nanoTime()
    val ok = r.isSuccess && r.get.tags(1).endsWith(" 1")
    if (ok) applied(schema, tbl, op, id, v)
    val t = Txn(query, due, sent, done, if (ok) PgClient.parseLsn(r.get.rows.head.head) else 0L, 1, ok)
    txns += t
    t
  }

  /** One set-based transaction (backlog/preload). `sql` must change
    * exactly `changes` rows; the model is updated by `apply`. */
  def bulk(query: Int, sql: String, changes: Int)(apply: => Unit): Txn = {
    val sent = System.nanoTime()
    val r = stamped(sql)
    val done = System.nanoTime()
    val ok = r.isSuccess && r.get.tags(1).split(' ').last.toInt == changes
    if (ok) apply
    val t = Txn(query, sent, sent, done, if (ok) PgClient.parseLsn(r.get.rows.head.head) else 0L, changes, ok)
    txns += t
    t
  }

  /** `n` users inserted per schema in one transaction each. */
  def preload(query: Int, n: Int): Unit = for (s <- schemas) {
    val lo = nextId((s, "users")); val hi = lo + n - 1
    bulk(query, s"INSERT INTO $s.users SELECT g, 'p' || g FROM generate_series($lo, $hi) g", n) {
      (lo to hi).foreach(id => applied(s, users, "c", id, s"p$id"))
      nextId((s, "users")) = hi + 1
    }
  }

  /** Backlog transactions: `total` changes on `tbl`, half inserts, 35%
    * updates and 15% deletes, split evenly over both schemas and
    * committed in set-based transactions of at most `chunk` rows. */
  def backlog(query: Int, tbl: Table, total: Int, chunk: Int): Unit = {
    val (table, kcol, vcol, _, _) = tbl
    val per = total / 2
    val (ins, upd) = (per / 2, per * 35 / 100)
    val del = per - ins - upd
    def ranges(lo: Long, n: Int) = (lo until lo + n by chunk).map(a => (a, math.min(a + chunk, lo + n) - 1))
    for (s <- schemas; (a, b) <- ranges(nextId((s, table)), ins)) {
      bulk(query, s"INSERT INTO $s.$table ($kcol, $vcol) SELECT g, 'b' || g FROM generate_series($a, $b) g",
        (b - a + 1).toInt) {
        (a to b).foreach(id => applied(s, tbl, "c", id, s"b$id")); nextId((s, table)) = b + 1
      }
    }
    for (s <- schemas) {
      val base = nextId((s, table)) - ins
      for ((a, b) <- ranges(base, upd))
        bulk(query, s"UPDATE $s.$table SET $vcol = $vcol || 'x' WHERE $kcol BETWEEN $a AND $b",
          (b - a + 1).toInt) { (a to b).foreach(id => applied(s, tbl, "u", id, rows(s, table).values(id) + "x")) }
      for ((a, b) <- ranges(base + ins - del, del))
        bulk(query, s"DELETE FROM $s.$table WHERE $kcol BETWEEN $a AND $b", (b - a + 1).toInt) {
          (a to b).foreach(id => applied(s, tbl, "d", id, null))
        }
    }
  }
}
