package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The `format("warc")` DSv2 surface: batch write protocol (temp-file
  * commit, overwrite-truncate) + per-shard batch read, and interop with
  * the function-style [[graft.sources.Warc]] writer/reader in BOTH
  * directions.
  */
class WarcV2Spec extends SparkSpecBase {

  private def docs = graft.sources.Tables
    .documents(spark, "/root/testdata/sf0.001")
    .select("doc_id", "text", "lang", "source")

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "text", "lang", "source")
      .collect().map(_.toSeq).toSet

  test("V2 write → V2 read round-trips the corpus exactly (gzip)") {
    val path = Bridge.tempDir("warcv2_")
    docs.repartition(4)
      .write.format("warc").option("compress", "true")
      .mode("overwrite").save(path)
    // no temp debris, only published shards (dot-prefixed entries are
    // Hadoop LocalFileSystem .crc sidecars — hidden metadata, not data)
    val files = new java.io.File(path).listFiles().map(_.getName).toSeq
      .filterNot(_.startsWith("."))
    assert(files.nonEmpty && files.forall(f => f.endsWith(".warc.wet.gz")),
      s"$files")
    assert(asSet(spark.read.format("warc").load(path)) === asSet(docs))
  }

  test("V2-written shards are readable by Warc.readWarc and vice versa") {
    val p1 = Bridge.tempDir("warcv2_i1_")
    docs.write.format("warc").mode("overwrite").save(p1)
    assert(asSet(graft.sources.Warc.readWarc(spark, p1)) === asSet(docs))
    val p2 = Bridge.tempDir("warcv2_i2_")
    graft.sources.Warc.writeWarc(docs, p2, shards = 3, compress = true)
    assert(asSet(spark.read.format("warc").load(p2)) === asSet(docs))
  }

  test("overwrite truncates the prior layout; append accumulates") {
    val path = Bridge.tempDir("warcv2_ow_")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    half1.write.format("warc").mode("overwrite").save(path)
    assert(asSet(spark.read.format("warc").load(path)) === asSet(half1))
    // overwrite replaces — no rows from the first job survive
    half2.write.format("warc").mode("overwrite").save(path)
    assert(asSet(spark.read.format("warc").load(path)) === asSet(half2))
    // append adds alongside (distinct job ids keep shard names disjoint)
    half1.write.format("warc").mode("append").save(path)
    assert(asSet(spark.read.format("warc").load(path)) === asSet(docs))
  }

  test("an empty relation writes an empty layout that reads back empty") {
    val path = Bridge.tempDir("warcv2_e_")
    docs.filter(lit(false)).write.format("warc").mode("overwrite").save(path)
    assert(spark.read.format("warc").load(path).count() === 0)
  }
}
