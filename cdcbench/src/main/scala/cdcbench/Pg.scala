package cdcbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import scala.sys.process._

/** Result of one simple-query message: the rows of every statement in it
  * and each statement's command tag ("INSERT 0 1", "UPDATE 1", ...). */
final case class PgResult(rows: Vector[Vector[String]], tags: Vector[String])

/** The benchmark's own PostgreSQL client: v3 startup with trust auth and
  * the simple-query protocol, nothing else. The load generator, the
  * server poller and the correctness gate talk to Postgres through this,
  * so none of them shares code with the system under test. */
final class PgClient(port: Int, db: String = "postgres") extends AutoCloseable {
  private val sock = new java.net.Socket()
  sock.connect(new java.net.InetSocketAddress("127.0.0.1", port), 5000)
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(60000)
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))

  locally {
    val b = new java.io.ByteArrayOutputStream()
    for (s <- Seq("user", "postgres", "database", db)) { b.write(s.getBytes(UTF_8)); b.write(0) }
    b.write(0)
    out.writeInt(b.size() + 8); out.writeInt(196608); b.writeTo(out); out.flush()
    run()
  }

  /** Sends `sql` (one or more `;`-separated statements) as one Query
    * message and reads through ReadyForQuery. An error raises after the
    * server is ready again, so the connection stays usable. */
  def exec(sql: String): PgResult = {
    val bytes = sql.getBytes(UTF_8)
    out.writeByte('Q'); out.writeInt(bytes.length + 5); out.write(bytes); out.writeByte(0)
    out.flush()
    run()
  }

  def one(sql: String): String = exec(sql).rows.head.head

  private def run(): PgResult = {
    val rows = Vector.newBuilder[Vector[String]]
    val tags = Vector.newBuilder[String]
    var err: String = null
    var done = false
    while (!done) {
      val tag = in.readByte().toChar
      val p = new Array[Byte](in.readInt() - 4)
      in.readFully(p)
      tag match {
        case 'D' =>
          val b = ByteBuffer.wrap(p)
          rows += Vector.fill(b.getShort().toInt) {
            val n = b.getInt()
            if (n < 0) null else { val s = new String(p, b.position(), n, UTF_8); b.position(b.position() + n); s }
          }
        case 'C' => tags += new String(p, 0, p.length - 1, UTF_8)
        case 'E' => err = PgClient.errorText(p)
        case 'R' => require(ByteBuffer.wrap(p).getInt == 0, "trust auth expected")
        case 'Z' => done = true
        case _ => ()
      }
    }
    if (err != null) throw new java.io.IOException(err)
    PgResult(rows.result(), tags.result())
  }

  override def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() } catch { case _: java.io.IOException => () }
    sock.close()
  }
}

object PgClient {
  private def errorText(p: Array[Byte]): String =
    new String(p, UTF_8).split('\u0000').filter(f => f.startsWith("M") || f.startsWith("S"))
      .map(_.drop(1)).mkString(" ")

  def parseLsn(s: String): Long = {
    val i = s.indexOf('/')
    (java.lang.Long.parseLong(s.substring(0, i), 16) << 32) | java.lang.Long.parseLong(s.substring(i + 1), 16)
  }
}

/** A throwaway PostgreSQL cluster: initdb as the `postgres` OS user under
  * `dir` (which that user must be able to traverse, hence /tmp), started
  * with logical decoding on and the durability settings that are part of
  * every workload's definition. Always stopped with `-m immediate`. */
final class PgCluster(val dir: java.io.File, val port: Int, bin: String) {
  import PgCluster._

  private def su(cmd: String): Int =
    Seq("su", "postgres", "-c", s"cd /tmp && $cmd") ! ProcessLogger(_ => (), e => System.err.println(s"[pg] $e"))

  def start(): Unit = {
    dir.mkdirs()
    require(Seq("chown", "postgres", dir.getPath).! == 0, s"chown $dir failed")
    require(su(s"$bin/initdb -D '$dir/data' -U postgres --no-sync -A trust >/dev/null") == 0, "initdb failed")
    val conf = new java.io.FileWriter(s"$dir/data/postgresql.conf", true)
    try conf.write(settings.map { case (k, v) => s"$k = $v\n" }.mkString +
      s"port = $port\nunix_socket_directories = '$dir'\n")
    finally conf.close()
    require(su(s"$bin/pg_ctl -D '$dir/data' -l '$dir/pg.log' -w -s start") == 0, "pg_ctl start failed")
  }

  def stop(): Unit = {
    if (new java.io.File(dir, "data/postmaster.pid").exists())
      su(s"$bin/pg_ctl -D '$dir/data' -m immediate -s stop")
    Seq("rm", "-rf", dir.getPath).!
  }
}

object PgCluster {
  /** Fixed server settings. fsync and synchronous_commit are part of the
    * workload definition: with both off the commit path costs no disk
    * flush, so the pipelines, not this box's disk, set the numbers. */
  val settings: Seq[(String, String)] = Seq(
    "wal_level" -> "logical", "max_wal_senders" -> "16", "max_replication_slots" -> "16",
    "fsync" -> "off", "synchronous_commit" -> "on", "full_page_writes" -> "off",
    "listen_addresses" -> "'127.0.0.1'", "max_connections" -> "100")

  /** Why the benchmark cannot run here, or None. */
  def unavailable(bin: String): Option[String] =
    if (!new java.io.File(s"$bin/initdb").canExecute || !new java.io.File(s"$bin/pg_ctl").canExecute)
      Some(s"PostgreSQL binaries (initdb, pg_ctl) not found in '$bin'")
    else if (scala.util.Try(Seq("id", "-u", "postgres").!!).isFailure)
      Some("no 'postgres' OS user to run the cluster as")
    else None

  def freePort(): Int = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
}
