package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Java-serializable carrier for a Hadoop [[Configuration]] so executor
  * tasks can resolve the right `FileSystem` for the target path's scheme
  * (file://, hdfs://, s3a://). `Configuration` itself is `Writable` but
  * not `Serializable`; this bridges the two, exactly the shape Spark uses
  * internally for its own Hadoop-conf broadcasts.
  */
private[sources] class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

/** WARC-shaped corpus interchange (ISO 28500 / WARC 1.0 subset) — the
  * format web-crawl corpora actually arrive in (Common Crawl ships WARC /
  * WET shards), complementing [[Writers.writeJsonl]] on the ingest side.
  *
  * Record grammar (the WET-style conversion-record subset):
  * {{{
  * WARC/1.0<CRLF>
  * WARC-Type: conversion<CRLF>
  * WARC-Record-ID: <urn:graft:doc:123><CRLF>
  * WARC-Target-URI: http://src7.invalid/doc/123<CRLF>
  * WARC-Identified-Content-Language: en<CRLF>
  * Content-Type: text/plain<CRLF>
  * Content-Length: N<CRLF>
  * <CRLF>
  * ...exactly N payload bytes...<CRLF>
  * <CRLF>
  * }}}
  *
  * Framing is LENGTH-BASED (Content-Length counts payload bytes), never
  * delimiter-based: a payload containing `CRLF CRLF` or a literal
  * `WARC/1.0` line round-trips exactly (WarcSpec pins both). That is the
  * property that makes WARC safe for arbitrary crawl text and the reason
  * a `lineSep`-split text read can NOT express this reader.
  *
  * Scale shape: one shard file per hash partition of `doc_id`
  * (deterministic membership, no global sort — the [[Writers.writeJsonl]]
  * contract), and the reader parallelizes per shard via
  * `sparkContext.binaryFiles` PortableDataStreams, STREAM-parsing records
  * off each file (constant memory per task regardless of shard size —
  * never whole-file buffering). Shard count is the writer's parallelism
  * knob, exactly like Common Crawl's ~1 GiB segment convention. RDD API
  * is used here deliberately: record-boundary scanning over a byte stream
  * is genuine per-partition imperative logic; everything downstream of
  * the `createDataFrame` is ordinary Catalyst.
  *
  * All file I/O goes through `org.apache.hadoop.fs.FileSystem` (resolved
  * from the path's scheme + the session's Hadoop configuration, shipped
  * to executors as a broadcast [[SerializableHadoopConf]]) — the same
  * writer/reader runs against local disk, HDFS, or s3a:// unchanged,
  * which is what a 100 TB Common-Crawl-scale ingest requires. Gzip
  * shards (`.warc.wet.gz`, the format Common Crawl actually ships) are
  * supported on both sides: `compress = true` on write, and the reader
  * auto-detects by suffix, so a layout may even mix plain and gzip
  * shards. Gzip is framed per-shard (not per-record), so a shard is one
  * sequential decompress stream — matching the real WET convention where
  * a shard is the parallelism unit, not a split-point container.
  */
object Warc {

  private val Crlf = "\r\n".getBytes(UTF_8)

  /** Serialize ONE record in the shared grammar — the single definition
    * BOTH writers emit ([[writeWarc]] and the V2 `format("warc")` path),
    * so the two cannot drift (review r13: the V2 copy had already
    * diverged on null handling). Null text writes empty; null
    * lang/source normalize to "und"/"unknown" — the values a reader can
    * act on, where the interpolated literal "null" only looks like data.
    */
  def writeRecord(out: java.io.OutputStream, docId: Long, text: String,
                  lang: String, source: String): Unit = {
    val lng = Option(lang).getOrElse("und")
    val src = Option(source).getOrElse("unknown")
    val payload = Option(text).getOrElse("").getBytes(UTF_8)
    val headers =
      s"""WARC/1.0\r
         |WARC-Type: conversion\r
         |WARC-Record-ID: <urn:graft:doc:$docId>\r
         |WARC-Target-URI: http://$src.invalid/doc/$docId\r
         |WARC-Identified-Content-Language: $lng\r
         |Content-Type: text/plain\r
         |Content-Length: ${payload.length}\r
         |\r
         |""".stripMargin
    out.write(headers.getBytes(UTF_8))
    out.write(payload)
    out.write(Crlf); out.write(Crlf)
  }

  /** Write `docs` (doc_id, text, lang, source — extra columns ignored) as
    * `shards` WARC files under `path`; `compress = true` gzips each shard
    * and names it `part-NNNNN.warc.wet.gz`.
    */
  def writeWarc(docs: DataFrame, path: String, shards: Int = 8,
                compress: Boolean = false): Unit = {
    val sc = docs.sparkSession.sparkContext
    val dir = new Path(path)
    dir.getFileSystem(sc.hadoopConfiguration).mkdirs(dir)
    val confB = sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration))
    docs.select(col("doc_id"), col("text"), col("lang"), col("source"))
      .repartition(shards, col("doc_id"))
      .foreachPartition { (it: Iterator[Row]) =>
        if (it.hasNext) {
          val pid = TaskContext.getPartitionId()
          val suffix = if (compress) ".warc.wet.gz" else ".warc"
          val shard = new Path(path, f"part-$pid%05d$suffix")
          val raw = shard.getFileSystem(confB.value.value)
            .create(shard, /* overwrite = */ true)
          val out = new BufferedOutputStream(
            if (compress) new GZIPOutputStream(raw, 1 << 16) else raw, 1 << 16)
          try it.foreach { r =>
            writeRecord(out, r.getLong(0), r.getString(1),
              r.getString(2), r.getString(3))
          } finally out.close()
        }
      }
  }

  /** Read a WARC layout back to (doc_id, text, lang, source). Unknown
    * headers are skipped (a reader must tolerate fields it doesn't use —
    * real crawl WARCs carry many); records framed strictly by
    * Content-Length. Shards ending in `.gz` are decompressed with a
    * streaming [[GZIPInputStream]] over the PortableDataStream — still
    * constant memory per task; a truncated gzip shard fails loudly
    * (EOFException from the inflater or from [[readExactly]]) rather
    * than silently dropping tail records (WarcSpec pins this).
    */
  def readWarc(spark: SparkSession, path: String): DataFrame = {
    // an EMPTY corpus writes zero shard files (foreachPartition skips
    // empty partitions), and binaryFiles throws on a glob matching
    // nothing — an empty layout must read back as an empty relation,
    // not an error (DegenerateInputSpec)
    val glob = s"$path/*.warc*" // plain .warc and gzip .warc(.wet).gz
    val pattern = new Path(glob)
    val fs = pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasShards = Option(fs.globStatus(pattern)).exists(_.nonEmpty)
    if (!hasShards)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ReadSchema)
    else {
      val rdd = spark.sparkContext.binaryFiles(glob)
        .flatMap { case (file, pds) =>
          val in: InputStream =
            if (file.endsWith(".gz")) new GZIPInputStream(pds.open(), 1 << 16)
            else pds.open()
          recordIterator(file, in)
        }
      spark.createDataFrame(rdd, ReadSchema)
    }
  }

  val ReadSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType, nullable = true)))

  /** Read one header/version line: bytes to LF, trailing CR stripped.
    * Returns null at EOF.
    */
  private def readLine(in: InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream(96)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    val arr = buf.toByteArray
    val n = if (arr.nonEmpty && arr(arr.length - 1) == '\r') arr.length - 1
            else arr.length
    new String(arr, 0, n, UTF_8)
  }

  private def readExactly(in: InputStream, n: Int, file: String): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(buf, off, n - off)
      if (k < 0) throw new EOFException(
        s"$file: truncated WARC payload (wanted $n bytes, got $off)")
      off += k
    }
    buf
  }

  private val RecordIdRe = """<urn:graft:doc:(\d+)>""".r
  private val UriSourceRe = """https?://([^./]+)\.[^/]*/.*""".r

  /** Lazy record iterator over an open stream; closes the stream on
    * exhaustion. Structurally invalid framing fails loudly (EOFException /
    * IllegalArgumentException) — a corrupt shard must not silently
    * truncate a corpus.
    */
  private[sources] def recordIterator(file: String,
                                      in0: InputStream): Iterator[Row] = {
    val in = new BufferedInputStream(in0, 1 << 16)
    new Iterator[Row] {
      private var nextRec: Row = fetch()

      private def fetch(): Row = {
        // skip inter-record blank lines, find the next version line
        var line = readLine(in)
        while (line != null && line.isEmpty) line = readLine(in)
        if (line == null) { in.close(); return null }
        require(line.startsWith("WARC/"),
          s"$file: expected WARC version line, got '$line'")
        var recordId = ""; var uri = ""; var lang: String = null
        var contentLength = -1L
        var h = readLine(in)
        while (h != null && h.nonEmpty) {
          val i = h.indexOf(':')
          if (i > 0) {
            val name = h.substring(0, i).trim.toLowerCase
            val value = h.substring(i + 1).trim
            name match {
              case "warc-record-id" => recordId = value
              case "warc-target-uri" => uri = value
              case "warc-identified-content-language" => lang = value
              case "content-length" => contentLength = value.toLong
              case _ => () // tolerate headers this reader doesn't use
            }
          }
          h = readLine(in)
        }
        require(contentLength >= 0, s"$file: record without Content-Length")
        val payload = readExactly(in, contentLength.toInt, file)
        val docId = recordId match {
          case RecordIdRe(d) => d.toLong
          case other => throw new IllegalArgumentException(
            s"$file: unparseable WARC-Record-ID '$other'")
        }
        val source = uri match {
          case UriSourceRe(s) => s
          case _ => null
        }
        Row(docId, new String(payload, UTF_8), lang, source)
      }

      override def hasNext: Boolean = nextRec != null
      override def next(): Row = {
        val r = nextRec; nextRec = fetch(); r
      }
    }
  }
}
