package graft

import graft.pkg.Destinations
import graft.pkg.Destinations.Format

class DestinationsSpec extends SparkSpec {

  test("replace-by-swap: crash-safe overwrite, old table visible until rename") {
    val dir = tmpDir()
    val path = s"$dir/t"
    val v1 = graft.core.Tables(spark, sf(), "region")
    val r1 = Destinations.commitWithReceipt(v1, path, Format.Parquet)
    assert(spark.read.parquet(path).count() == v1.count() && r1.rows == v1.count())
    // second replace fully swaps content
    val v2 = v1.limit(2)
    val r2 = Destinations.commitWithReceipt(v2, path, Format.Parquet)
    assert(spark.read.parquet(path).count() == 2 && r2.rows == 2)
    assert(r2.contentHash == graft.pkg.PackageWriter.contentHash(spark.read.parquet(path)))
    // no leftover swap dir
    assert(!new java.io.File(s"$path.__swap").exists())
  }

  test("chaos: staged SQL MERGE survives a kill at every commit step; replay converges") {
    // The stage+MERGE commit path e2e against embedded Derby (the same
    // code drives Postgres by switching URL/driver; reference law:
    // cdf-dest-postgres/src/commit.rs:678-943 — one atomic destination
    // mutation, replay-idempotent from any crash point).
    import graft.sources.Jdbc
    import org.apache.spark.sql.functions.col
    val conn = Jdbc.Conn("jdbc:derby:memory:graftchaos;create=true")
    Jdbc.createTable(conn, "CREATE TABLE ACCTS (K BIGINT PRIMARY KEY, V VARCHAR(20))")
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("K", "V")
    Jdbc.append(base, conn, "ACCTS")
    val batch = Seq((2L, "B2"), (4L, "d")).toDF("K", "V") // update 2, insert 4

    final case class Kill(at: String) extends RuntimeException(at)
    def killAt(p: String): String => Unit = s => if (s == p) throw Kill(p)
    def state(): Seq[(Long, String)] =
      Jdbc.read(spark, conn, "ACCTS").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

    // kill after the stage write: the destination is UNTOUCHED
    intercept[Kill](Jdbc.mergeInto(batch, conn, "ACCTS", "K", killAt("staged")))
    assert(state() == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "a crash before the MERGE must leave the destination untouched")
    // replay from that crash converges
    Jdbc.mergeInto(batch, conn, "ACCTS", "K")
    val merged = Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d"))
    assert(state() == merged)

    // kill after the MERGE, before the stage drop: destination already
    // final; only the inert stage survives; replay is idempotent
    val batch2 = Seq((4L, "D2"), (5L, "e")).toDF("K", "V")
    intercept[Kill](Jdbc.mergeInto(batch2, conn, "ACCTS", "K", killAt("merged")))
    val afterMerge = Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "D2"), (5L, "e"))
    assert(state() == afterMerge, "the MERGE itself is the atomic commit point")
    assert(Jdbc.countProbe(conn, "ACCTS_STAGE") == 2, "stage survives the crash, inert")
    Jdbc.mergeInto(batch2, conn, "ACCTS", "K") // replay: overwrite stage, re-MERGE
    assert(state() == afterMerge, "replay after a post-commit crash must be a no-op upsert")
    // exact receipt: rows = priors + inserts, no duplicates ever
    assert(Jdbc.countProbe(conn, "ACCTS") == 5)
  }

  test("pgwire: COPY BINARY + staged MERGE + receipt over a REAL socket protocol, chaos at every kill point") {
    // The wire path (cdf-dest-postgres/src/commit.rs:678-943): the v3
    // protocol client drives an embedded pgwire fixture over TCP —
    // startup handshake, COPY-IN subprotocol carrying PgCopyBinary
    // frames, MERGE upsert, exact-count receipt. Same replay law as
    // the Derby JDBC path above, now with real protocol bytes.
    import graft.sources.PgWire
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._

    val server = new PgWireServerFixture
    try {
      val schema = StructType(Seq(
        StructField("k", LongType), StructField("v", StringType),
        StructField("amt", DecimalType(10, 2))))
      def dec(s: String) = new java.math.BigDecimal(s)
      def payload(rows: (Long, String, String)*): Array[Byte] =
        PgWire.payloadOf(rows.map { case (k, v, a) => Row(k, v, dec(a)) }, schema)

      // first commit: two partition payloads (two COPY streams)
      val n1 = PgWire.mergeViaWire("127.0.0.1", server.port, "graft", "graft",
        "accts", "k", schema,
        Seq(payload((1L, "a", "10.00"), (2L, "b", "20.50")), payload((3L, "c", "0.75"))))
      assert(n1 == 3L)

      final case class Kill(at: String) extends RuntimeException(at)
      def killAt(p: String): String => Unit = s => if (s == p) throw Kill(p)
      def state(): Seq[(Long, String, String)] =
        server.tables("accts").rows
          .map(r => (r.getLong(0), r.getString(1),
            r.getAs[java.math.BigDecimal](2).toPlainString)).sortBy(_._1).toSeq

      // kill after COPY into the stage: destination untouched; replay converges
      val batch = Seq(payload((2L, "B2", "99.99"), (4L, "d", "4.00")))
      intercept[Kill](PgWire.mergeViaWire("127.0.0.1", server.port, "graft", "graft",
        "accts", "k", schema, batch, killAt("staged")))
      assert(state() == Seq((1L, "a", "10.00"), (2L, "b", "20.50"), (3L, "c", "0.75")),
        "a crash before the MERGE must leave the destination untouched")
      val n2 = PgWire.mergeViaWire("127.0.0.1", server.port, "graft", "graft",
        "accts", "k", schema, batch)
      assert(n2 == 4L)
      assert(state() == Seq((1L, "a", "10.00"), (2L, "B2", "99.99"),
        (3L, "c", "0.75"), (4L, "d", "4.00")))

      // kill after the MERGE, before the stage drop: destination final;
      // stage survives inert; replay is a no-op upsert
      val batch2 = Seq(payload((4L, "D2", "44.00"), (5L, "e", "5.55")))
      intercept[Kill](PgWire.mergeViaWire("127.0.0.1", server.port, "graft", "graft",
        "accts", "k", schema, batch2, killAt("merged")))
      assert(state().map(_._1) == Seq(1L, 2L, 3L, 4L, 5L),
        "the MERGE is the atomic commit point")
      assert(server.tables.contains("accts__stage"), "stage survives the crash, inert")
      val n3 = PgWire.mergeViaWire("127.0.0.1", server.port, "graft", "graft",
        "accts", "k", schema, batch2)
      assert(n3 == 5L, "replay after a post-commit crash must be a no-op upsert")
      assert(!server.tables.contains("accts__stage"))
      // decimals travelled digit-exact through the binary COPY
      assert(state().find(_._1 == 5L).get._3 == "5.55")

      // protocol errors surface typed, and the connection recovers
      val c = new graft.sources.PgWireClient("127.0.0.1", server.port, "graft", "graft")
      try {
        val e = intercept[java.sql.SQLException](c.exec("SELECT nonsense"))
        assert(e.getMessage.contains("pgwire:"))
        assert(c.query("SELECT COUNT(*) FROM accts").head.head == "5")
      } finally c.close()

      // the SCAN wire half: COPY (...) TO STDOUT (FORMAT binary) — the
      // reference's read mechanism — sharded into two key ranges, each
      // task opening its OWN connection + COPY stream, frames decoded
      // incrementally: result bytes never transit the driver
      val scanned = PgWire.scanBinary(spark, "127.0.0.1", server.port, "graft", "graft",
        "accts", schema, wheres = Seq("k % 2 = 0", "k % 2 = 1"), pushable = Set("k"))
      val before = server.connects.get
      scanned.queryExecution.executedPlan // plan fully — still no socket
      assert(server.connects.get == before,
        "planning an executor-side wire scan must not open a connection")
      val got = scanned.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getAs[java.math.BigDecimal](2).toPlainString))
        .sortBy(_._1).toSeq
      assert(got == state(), "COPY TO STDOUT round-trip must equal the destination state")
      assert(got.find(_._1 == 5L).get._3 == "5.55", "decimals digit-exact both directions")
      assert(server.connects.get == before + 2,
        "one task-side connection per key-range partition")

      // pushed predicate + pruned projection reach the COPY statement;
      // the residual IsNotNull stays engine-side
      val filtered = PgWire.scanBinary(spark, "127.0.0.1", server.port, "graft", "graft",
        "accts", schema, wheres = Seq("k % 2 = 0", "k % 2 = 1"), pushable = Set("k"))
        .where("k <= 3").select("k")
      assert(filtered.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
      val copySqls = graft.sources.dsv2.PgWireRegistry.issuedSql.values.flatten.toVector
      assert(copySqls.exists(s => s.contains("SELECT k FROM accts") && s.contains("k <= 3")),
        s"pushdown must reach the COPY statement: $copySqls")

      // string RANGES never push (PG collation order ≠ Spark's binary
      // UTF-8 order, and Exact pushdown skips the residual re-check);
      // string EQUALITY pushes (byte equality is collation-safe under
      // PG's deterministic collations)
      val strScan = PgWire.scanBinary(spark, "127.0.0.1", server.port, "graft", "graft",
        "accts", schema, wheres = Seq("k % 2 = 0", "k % 2 = 1"), pushable = Set("k", "v"))
      // 'B2' and 'D2' sort BELOW 'b' in binary UTF-8 but above it
      // under en_US-style collations — exactly the divergence that
      // makes a pushed range wrong
      val gotRange = strScan.where("v > 'b'").collect().map(_.getString(1)).sorted.toSeq
      assert(gotRange == state().map(_._2).filter(_ > "b").sorted)
      val sqlsAfterRange = graft.sources.dsv2.PgWireRegistry.issuedSql.values.flatten.toVector
      assert(!sqlsAfterRange.exists(_.contains("v >")),
        s"string range must stay a Spark-side residual: $sqlsAfterRange")
      strScan.where("v = 'c'").collect()
      val sqlsAfterEq = graft.sources.dsv2.PgWireRegistry.issuedSql.values.flatten.toVector
      assert(sqlsAfterEq.exists(_.contains("v = 'c'")),
        s"string equality should push: $sqlsAfterEq")
    } finally server.stop()
  }

  test("csv and ndjson destinations round-trip with verified receipts") {
    val dir = tmpDir()
    val df = graft.core.Tables(spark, sf(), "nation")
    val rCsv = Destinations.commitWithReceipt(df, s"$dir/n_csv", Format.Csv)
    assert(rCsv.rows == df.count())
    val rJson = Destinations.commitWithReceipt(df, s"$dir/n_json", Format.Ndjson)
    assert(rJson.rows == df.count())
    val rOrc = Destinations.commitWithReceipt(df, s"$dir/n_orc", Format.Orc)
    assert(rOrc.rows == df.count())
    assert(spark.read.orc(s"$dir/n_orc").except(df).count() == 0)
    // the probe re-read hashes the destination's own content
    assert(rJson.contentHash ==
      graft.pkg.PackageWriter.contentHash(spark.read.json(s"$dir/n_json")))
  }
}
