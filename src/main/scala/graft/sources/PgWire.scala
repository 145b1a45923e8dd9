package graft.sources

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** PostgreSQL wire protocol v3 CLIENT — the live half of the Postgres
  * destination (cdf: crates/cdf-dest-postgres/src/commit.rs:678-943
  * runs COPY BINARY + staged MERGE against a real server). Implements
  * the published protocol (postgresql.org/docs/current/protocol.html):
  * StartupMessage → AuthenticationOk → ReadyForQuery, the simple
  * Query cycle (RowDescription / DataRow / CommandComplete), and the
  * COPY-IN subprotocol (CopyInResponse → CopyData* → CopyDone) that
  * carries [[PgCopyBinary]] streams.
  *
  * Trust-auth only: this container has no live postgres, so the
  * client is exercised against an embedded pgwire fixture in
  * DestinationsSpec — protocol-faithful bytes either way; a real
  * deployment points host/port at an actual server. Scale shape: ONE
  * connection per COPY stream, so a partitioned load opens one client
  * per partition (PgCopyBinary.write already emits per-partition
  * streams); the merge/receipt statements are driver-side singletons.
  */
final class PgWireClient(host: String, port: Int, user: String, database: String)
    extends AutoCloseable {

  private val socket = new Socket(host, port)
  private val in = new DataInputStream(socket.getInputStream)
  private val out = new DataOutputStream(socket.getOutputStream)

  // ---- startup: length-prefixed (no type byte), proto 3.0, kv pairs
  {
    val params = Array("user", user, "database", database)
      .flatMap(v => v.getBytes(UTF_8) :+ 0.toByte) :+ 0.toByte
    out.writeInt(8 + params.length)
    out.writeInt(196608) // 3 << 16
    out.write(params)
    out.flush()
    awaitReady()
  }

  private def readMessage(): (Char, Array[Byte]) = {
    val t = in.readByte().toChar
    val len = in.readInt() - 4
    val body = new Array[Byte](len)
    in.readFully(body)
    (t, body)
  }

  private def cstr(b: Array[Byte], from: Int): (String, Int) = {
    val end = b.indexOf(0.toByte, from)
    (new String(b, from, end - from, UTF_8), end + 1)
  }

  private def errorText(body: Array[Byte]): String = {
    // ErrorResponse: (code byte, cstring)* terminated by 0
    val sb = new StringBuilder
    var i = 0
    while (i < body.length && body(i) != 0) {
      val code = body(i).toChar
      val (v, next) = cstr(body, i + 1)
      if (code == 'S' || code == 'M' || code == 'C') sb.append(s"$code=$v ")
      i = next
    }
    sb.toString.trim
  }

  /** drain messages until ReadyForQuery, surfacing server errors. */
  private def awaitReady(): Unit = {
    var ready = false
    while (!ready) readMessage() match {
      case ('Z', _) => ready = true
      case ('E', body) => drainToReady(); throw new java.sql.SQLException(s"pgwire: ${errorText(body)}")
      case ('R', body) =>
        val code = java.nio.ByteBuffer.wrap(body).getInt
        require(code == 0, s"pgwire: unsupported auth request $code (trust only)")
      case _ => () // ParameterStatus / BackendKeyData / Notice
    }
  }

  /** After a fatal error (startup/auth failure) the server closes the
    * connection WITHOUT ReadyForQuery — treat EOF/IO as drained so the
    * original server error text surfaces, not an EOFException. */
  private def drainToReady(): Unit = {
    try {
      var ready = false
      while (!ready) readMessage() match {
        case ('Z', _) => ready = true
        case _ => ()
      }
    } catch { case _: java.io.IOException => () }
  }

  private def sendQuery(sql: String): Unit = {
    val b = sql.getBytes(UTF_8) :+ 0.toByte
    out.writeByte('Q')
    out.writeInt(4 + b.length)
    out.write(b)
    out.flush()
  }

  /** simple Query returning text-format rows (column-name header
    * dropped; values as strings, null as null). */
  def query(sql: String): Vector[Vector[String]] = {
    sendQuery(sql)
    val rows = Vector.newBuilder[Vector[String]]
    var ready = false
    while (!ready) readMessage() match {
      case ('Z', _) => ready = true
      case ('E', body) => drainToReady(); throw new java.sql.SQLException(s"pgwire: ${errorText(body)}")
      case ('D', body) =>
        val bb = java.nio.ByteBuffer.wrap(body)
        val n = bb.getShort.toInt
        rows += Vector.tabulate(n) { _ =>
          val len = bb.getInt
          if (len == -1) null
          else { val d = new Array[Byte](len); bb.get(d); new String(d, UTF_8) }
        }
      case _ => () // RowDescription / CommandComplete
    }
    rows.result()
  }

  /** statement with no result rows; returns the command tag. */
  def exec(sql: String): String = {
    sendQuery(sql)
    var tag = ""
    var ready = false
    while (!ready) readMessage() match {
      case ('Z', _) => ready = true
      case ('E', body) => drainToReady(); throw new java.sql.SQLException(s"pgwire: ${errorText(body)}")
      case ('C', body) => tag = cstr(body, 0)._1
      case _ => ()
    }
    tag
  }

  /** COPY ... FROM STDIN WITH (FORMAT binary): expects CopyInResponse,
    * streams the [[PgCopyBinary]] payload as CopyData frames, CopyDone,
    * returns the command tag ("COPY n"). */
  def copyInBinary(sql: String, payload: Array[Byte]): String = {
    sendQuery(sql)
    // wait for CopyInResponse
    var inCopy = false
    while (!inCopy) readMessage() match {
      case ('G', _) => inCopy = true
      case ('E', body) => drainToReady(); throw new java.sql.SQLException(s"pgwire: ${errorText(body)}")
      case _ => ()
    }
    val Chunk = 64 * 1024
    var off = 0
    while (off < payload.length) {
      val n = math.min(Chunk, payload.length - off)
      out.writeByte('d')
      out.writeInt(4 + n)
      out.write(payload, off, n)
      off += n
    }
    out.writeByte('c') // CopyDone
    out.writeInt(4)
    out.flush()
    var tag = ""
    var ready = false
    while (!ready) readMessage() match {
      case ('Z', _) => ready = true
      case ('E', body) => drainToReady(); throw new java.sql.SQLException(s"pgwire: ${errorText(body)}")
      case ('C', body) => tag = cstr(body, 0)._1
      case _ => ()
    }
    tag
  }

  /** COPY ... TO STDOUT (FORMAT binary): expects CopyOutResponse and
    * returns an InputStream over the CopyData payload — one complete
    * [[PgCopyBinary]] stream (the reference's scan mechanism,
    * cdf-source-postgres/src/source.rs:636) — read FRAME BY FRAME as
    * the consumer pulls, so a scan task holds at most one CopyData
    * frame in memory, never the whole result. On CopyDone the stream
    * drains to ReadyForQuery and signals EOF; the connection stays
    * reusable. */
  def copyOutStream(sql: String): java.io.InputStream = {
    sendQuery(sql)
    var inCopy = false
    while (!inCopy) readMessage() match {
      case ('H', _) => inCopy = true
      case ('E', body) => drainToReady(); throw new java.sql.SQLException(s"pgwire: ${errorText(body)}")
      case _ => ()
    }
    new java.io.InputStream {
      private var frame: Array[Byte] = Array.emptyByteArray
      private var pos = 0
      private var done = false
      /** true when bytes are available; loads the next frame lazily. */
      private def ensure(): Boolean = {
        while (!done && pos >= frame.length) readMessage() match {
          case ('d', body) => frame = body; pos = 0
          case ('c', _) =>
            var ready = false
            while (!ready) readMessage() match {
              case ('Z', _) => ready = true
              case ('E', body) => drainToReady(); throw new java.sql.SQLException(s"pgwire: ${errorText(body)}")
              case _ => () // CommandComplete
            }
            done = true
          case ('E', body) => drainToReady(); throw new java.sql.SQLException(s"pgwire: ${errorText(body)}")
          case _ => ()
        }
        pos < frame.length
      }
      override def read(): Int =
        if (!ensure()) -1 else { val b = frame(pos) & 0xFF; pos += 1; b }
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        if (len == 0) 0
        else if (!ensure()) -1
        else { val n = math.min(len, frame.length - pos); System.arraycopy(frame, pos, b, off, n); pos += n; n }
    }
  }

  override def close(): Unit = {
    try {
      out.writeByte('X') // Terminate
      out.writeInt(4)
      out.flush()
    } catch { case _: Throwable => () }
    socket.close()
  }
}

object PgWire {

  /** Postgres column type for the DDL this path emits. */
  def pgType(dt: DataType): String = dt match {
    case LongType => "bigint"
    case IntegerType => "integer"
    case DoubleType => "double precision"
    case FloatType => "real"
    case BooleanType => "boolean"
    case StringType => "text"
    case BinaryType => "bytea"
    case DateType => "date"
    case TimestampType => "timestamp"
    case d: DecimalType => s"numeric(${d.precision},${d.scale})"
    case other => throw new IllegalArgumentException(s"pgwire ddl surface: $other")
  }

  def ddl(table: String, schema: StructType): String =
    s"CREATE TABLE IF NOT EXISTS $table (" +
      schema.fields.map(f => s"${f.name} ${pgType(f.dataType)}").mkString(", ") + ")"

  /** The staged-merge commit protocol OVER THE WIRE (same replay law
    * as Jdbc.mergeInto, DestinationsSpec chaos-proves both): stage
    * table recreated, one COPY BINARY per partition payload, ONE
    * set-based MERGE, stage dropped, EXACT-count receipt probe. A
    * crash at any point replays convergently — the stage is
    * overwritten and the MERGE is an upsert. `chaos` fires between
    * commit steps ("staged" → after the COPY, "merged" → after the
    * MERGE, before the drop). Returns the probe count. */
  def mergeViaWire(host: String, port: Int, user: String, database: String,
      table: String, key: String, schema: StructType,
      partitionPayloads: Seq[Array[Byte]],
      chaos: String => Unit = _ => ()): Long = {
    val stage = s"${table}__stage"
    val client = new PgWireClient(host, port, user, database)
    try {
      client.exec(ddl(table, schema))
      client.exec(s"DROP TABLE IF EXISTS $stage")
      client.exec(ddl(stage, schema))
      partitionPayloads.foreach { p =>
        client.copyInBinary(s"COPY $stage FROM STDIN WITH (FORMAT binary)", p)
      }
      chaos("staged")
      val cols = schema.fieldNames
      val nonKey = cols.filterNot(_ == key)
      val updates =
        if (nonKey.isEmpty) s"$key = s.$key" else nonKey.map(c => s"$c = s.$c").mkString(", ")
      client.exec(
        s"""MERGE INTO $table t USING $stage s ON t.$key = s.$key
           |WHEN MATCHED THEN UPDATE SET $updates
           |WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")})
           |VALUES (${cols.map(c => s"s.$c").mkString(", ")})""".stripMargin.replace("\n", " "))
      chaos("merged")
      client.exec(s"DROP TABLE IF EXISTS $stage")
      client.query(s"SELECT COUNT(*) FROM $table").head.head.toLong
    } finally client.close()
  }

  /** encode a partition's rows as one COPY BINARY payload. */
  def payloadOf(rows: Seq[Row], schema: StructType): Array[Byte] =
    PgCopyBinary.encodeStream(rows.iterator, schema)

  /** The SCAN wire half, the reference's exact mechanism
    * (cdf-source-postgres/src/source.rs:636): `COPY (SELECT ...) TO
    * STDOUT (FORMAT binary)` over the v3 protocol, decoded by the
    * spec-pinned [[PgCopyBinary]] codec. Runs as a DSv2 scan
    * ([[dsv2.PgWireScanSource]]): each `where` key range becomes one
    * InputPartition whose task opens its OWN connection and streams
    * its COPY frames incrementally — result bytes never transit the
    * driver, the shape that survives 100 TB. */
  def scanBinary(spark: org.apache.spark.sql.SparkSession,
      host: String, port: Int, user: String, database: String,
      table: String, schema: StructType,
      wheres: Seq[String] = Seq(""),
      pushable: Set[String] = Set.empty): org.apache.spark.sql.DataFrame = {
    val name = s"$host:$port/$database/$table#${wheres.hashCode.toHexString}"
    dsv2.PgWireRegistry.register(name,
      dsv2.PgWireRegistry.Entry(host, port, user, database, table, schema, wheres, pushable))
    spark.read.format("graft.sources.dsv2.PgWireScanSource").option("table", name).load()
  }
}
