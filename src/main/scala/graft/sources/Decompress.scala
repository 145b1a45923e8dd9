package graft.sources

import org.apache.commons.compress.compressors.CompressorStreamFactory
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Decompression transforms in the decode pipeline (cdf:
  * crates/cdf-transform-{gzip,zstd,bzip2,xz}/, SURVEY §2.1).
  *
  * Hadoop's line reader already handles .gz/.bz2 transparently in
  * `spark.read.csv/json`; this path exists for codecs Hadoop does NOT
  * wire in (xz, and zstd-on-text), and mirrors the reference's
  * transform-before-decode composition: binary file → decompressor
  * stream → line split → format decode. One task per compressed file
  * (these codecs are not splittable — same constraint the reference
  * has), so at scale many medium files beat one giant archive.
  */
object Decompress {

  /** codec ∈ {"gz","bzip2","xz","zstd"} (CompressorStreamFactory
    * names) or `"none"` for a pure charset-transcode pass (cdf:
    * crates/cdf-transform-character/ — decode bytes in the SOURCE
    * encoding, hand UTF-16 strings to the engine; `charset` names any
    * JVM charset, e.g. ISO-8859-1, UTF-16LE, windows-1252).
    *
    * One task per archive, explicitly: `binaryFiles` COMBINES small
    * files into few partitions by size+open-cost heuristics (all 32
    * archives landed in ONE task = serial decompression). These codecs
    * are not splittable, so the archive list IS the parallelism — glob
    * it, one partition per file, open through the Hadoop FS API (same
    * code path on HDFS/S3A). */
  def lines(spark: SparkSession, pathGlob: String, codec: String,
      charset: String = "UTF-8"): Dataset[String] = {
    import spark.implicits._
    val glob = new org.apache.hadoop.fs.Path(pathGlob)
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths = fs.globStatus(glob).filter(_.isFile).map(_.getPath.toString).toSeq
    require(paths.nonEmpty, s"no files match $pathGlob")
    spark.sparkContext.parallelize(paths, paths.length).flatMap { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      val raw = new java.io.BufferedInputStream(
        path.getFileSystem(new org.apache.hadoop.conf.Configuration()).open(path))
      val in =
        if (codec == "none") raw
        else new CompressorStreamFactory().createCompressorInputStream(codec, raw)
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.Charset.forName(charset)))
      new Iterator[String] {
        private var line = reader.readLine()
        def hasNext: Boolean = { val h = line != null; if (!h) reader.close(); h }
        def next(): String = { val l = line; line = reader.readLine(); l }
      }
    }.toDS()
  }

  /** Decompress + CSV decode. Prefer an explicit `schema`: inference
    * decompresses every (non-splittable) archive TWICE, and with
    * header=true over a multi-archive glob only the first header line
    * is dropped — the others would decode as data rows. Headerless
    * files + explicit schema avoid both. */
  def csv(spark: SparkSession, pathGlob: String, codec: String,
      header: Boolean = true,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      charset: String = "UTF-8"): DataFrame = {
    val r = spark.read.option("header", header.toString)
    schema.fold(r.option("inferSchema", "true"))(r.schema)
      .csv(lines(spark, pathGlob, codec, charset))
  }

  /** Decompress + NDJSON decode. */
  def ndjson(spark: SparkSession, pathGlob: String, codec: String): DataFrame =
    spark.read.json(lines(spark, pathGlob, codec))

  /** Format `df` as headerless CSV and write ONE compressed archive per
    * partition, format+compress fused in the same task — no plain-text
    * intermediate materialization, no driver-side loop. Repartition the
    * input first to pick archive count (= later read parallelism).
    * Fixture-grade CSV: values must not contain commas/newlines and
    * key columns must be non-null (concat_ws skips nulls). */
  def writeCsv(df: DataFrame, dir: String, codec: String): Unit = {
    import org.apache.spark.sql.functions.{col, concat_ws}
    val spark = df.sparkSession
    val line = concat_ws(",", df.columns.map(c => col(c).cast("string")): _*)
    import spark.implicits._
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    df.select(line.as("l")).as[String].rdd.mapPartitionsWithIndex { (i, it) =>
      val path = new org.apache.hadoop.fs.Path(f"$dir/part-$i%05d.$codec")
      val fs = path.getFileSystem(hconf.value)
      val sink = new java.io.BufferedOutputStream(fs.create(path, true))
      val out =
        if (codec == "xz")
          new org.apache.commons.compress.compressors.xz.XZCompressorOutputStream(sink, 1)
        else new CompressorStreamFactory().createCompressorOutputStream(codec, sink)
      val w = new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8)
      it.foreach { l => w.write(l); w.write('\n') }
      w.close()
      Iterator.single(i)
    }.count(): Unit
  }

  /** Compress a local file with `codec` (test/fixture helper — the
    * write path; executors use the same streams). */
  def compressFile(src: String, dst: String, codec: String): Unit = {
    val in = new java.io.FileInputStream(src)
    val sink = new java.io.BufferedOutputStream(new java.io.FileOutputStream(dst))
    // xz preset 6 (the factory default) runs ~1 MB/s/core; preset 1 is
    // ~6× faster and decodes identically — the write side is a fixture,
    // the codec-under-test is the DECODE path.
    val out =
      if (codec == "xz")
        new org.apache.commons.compress.compressors.xz.XZCompressorOutputStream(sink, 1)
      else new CompressorStreamFactory().createCompressorOutputStream(codec, sink)
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close(); out.close()
  }
}
