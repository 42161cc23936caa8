package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.graftbridge.Bridge

import graft.sources.{Tables, Warc}

/** WARC interchange framing: the reader/writer pair must survive payloads
  * that a delimiter-based splitter cannot (CRLFCRLF inside text, literal
  * WARC version lines), parse records it did not write (foreign headers),
  * and fail LOUDLY on truncation rather than silently dropping a corpus
  * tail.
  */
class WarcSpec extends SparkSpecBase {
  import spark.implicits._

  test("adversarial payloads round-trip exactly (length framing)") {
    val docs = Seq(
      // payload containing the record separator AND a version line — the
      // two byte sequences a delimiter-split reader would trip on
      (1L, "before\r\n\r\nWARC/1.0\r\nafter", "en", "src1"),
      (2L, "", "de", "src2"),                        // empty payload
      (3L, "unicode é中文 text\nwith\nnewlines", "fr", "src3"),
      (4L, "plain", "en", "src1")
    ).toDF("doc_id", "text", "lang", "source")
    val dir = Bridge.tempDir("warc_rt_") + "/corpus"
    Warc.writeWarc(docs, dir, shards = 2)
    val back = Warc.readWarc(spark, dir)
      .as[(Long, String, String, String)].collect().toSet
    val expected = docs.as[(Long, String, String, String)].collect().toSet
    assert(back === expected)
  }

  test("reader parses a foreign WARC file (unknown headers, unseen order)") {
    // hand-written bytes, NOT produced by our writer: extra headers the
    // reader must skip, different header order, multi-record file
    val payload1 = "hello warc world".getBytes(UTF_8)
    val payload2 = "second\r\n\r\nrecord".getBytes(UTF_8)
    val rec1 =
      "WARC/1.0\r\n" +
        "WARC-Date: 2024-01-01T00:00:00Z\r\n" +             // skipped
        "Content-Length: " + payload1.length + "\r\n" +      // before the id
        "WARC-Record-ID: <urn:graft:doc:42>\r\n" +
        "WARC-Identified-Content-Language: en\r\n" +
        "X-Crawler-Junk: whatever\r\n" +                     // skipped
        "WARC-Target-URI: https://srcX.invalid/doc/42\r\n" +
        "\r\n"
    val rec2 =
      "WARC/1.0\r\n" +
        "WARC-Record-ID: <urn:graft:doc:43>\r\n" +
        "WARC-Target-URI: http://srcY.invalid/a/b\r\n" +
        "WARC-Identified-Content-Language: und\r\n" +
        "Content-Length: " + payload2.length + "\r\n" +
        "\r\n"
    val dir = Bridge.tempDir("warc_foreign_")
    val bytes = new java.io.ByteArrayOutputStream()
    bytes.write(rec1.getBytes(UTF_8)); bytes.write(payload1)
    bytes.write("\r\n\r\n".getBytes(UTF_8))
    bytes.write(rec2.getBytes(UTF_8)); bytes.write(payload2)
    bytes.write("\r\n\r\n".getBytes(UTF_8))
    Files.write(java.nio.file.Paths.get(dir, "part-00000.warc"), bytes.toByteArray)

    val rows = Warc.readWarc(spark, dir)
      .as[(Long, String, String, String)].collect().toSet
    assert(rows === Set(
      (42L, "hello warc world", "en", "srcX"),
      (43L, "second\r\n\r\nrecord", "und", "srcY")))
  }

  test("truncated payload fails loudly, never silently drops the tail") {
    val dir = Bridge.tempDir("warc_trunc_")
    val rec = "WARC/1.0\r\nWARC-Record-ID: <urn:graft:doc:7>\r\n" +
      "Content-Length: 100\r\n\r\nonly a few bytes"
    Files.write(java.nio.file.Paths.get(dir, "part-00000.warc"),
      rec.getBytes(UTF_8))
    val e = intercept[org.apache.spark.SparkException] {
      Warc.readWarc(spark, dir).collect()
    }
    assert(e.getMessage != null)
  }

  test("gzip (.warc.wet.gz) shards round-trip exactly") {
    val docs = Seq(
      (10L, "gzip payload with\r\n\r\nWARC/1.0\r\nseparator bytes", "en", "src1"),
      (11L, "", "und", "src2"),
      (12L, "répétition 中文 🚀 " * 50, "fr", "src3") // compressible + multibyte
    ).toDF("doc_id", "text", "lang", "source")
    val dir = Bridge.tempDir("warc_gz_") + "/corpus"
    Warc.writeWarc(docs, dir, shards = 2, compress = true)
    // ignore Hadoop LocalFileSystem's hidden .crc checksum sidecars
    val names = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(names.nonEmpty && names.forall(_.endsWith(".warc.wet.gz")))
    val back = Warc.readWarc(spark, dir)
      .as[(Long, String, String, String)].collect().toSet
    assert(back === docs.as[(Long, String, String, String)].collect().toSet)
  }

  test("a layout mixing plain and gzip shards reads as one corpus") {
    val plain = Seq((20L, "plain shard", "en", "srcA"))
      .toDF("doc_id", "text", "lang", "source")
    val gz = Seq((21L, "gzip shard", "de", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
    val dir = Bridge.tempDir("warc_mix_") + "/corpus"
    Warc.writeWarc(plain, dir, shards = 1)
    // write the gzip shard into a sibling temp dir, then move it in (the
    // writer would otherwise collide on part numbering)
    val dir2 = Bridge.tempDir("warc_mix2_") + "/c"
    Warc.writeWarc(gz, dir2, shards = 1, compress = true)
    val gzFile = new java.io.File(dir2).listFiles()
      .filterNot(_.getName.startsWith(".")).head // skip the .crc sidecar
    Files.move(gzFile.toPath,
      java.nio.file.Paths.get(dir, "part-00001.warc.wet.gz"))
    val back = Warc.readWarc(spark, dir)
      .as[(Long, String, String, String)].collect().toSet
    assert(back === Set((20L, "plain shard", "en", "srcA"),
      (21L, "gzip shard", "de", "srcB")))
  }

  test("truncated gzip shard fails loudly, never silently drops the tail") {
    val docs = Seq((30L, "x" * 5000, "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
    val dir = Bridge.tempDir("warc_gztrunc_") + "/corpus"
    Warc.writeWarc(docs, dir, shards = 1, compress = true)
    val shard = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".gz")).get
    val bytes = Files.readAllBytes(shard.toPath)
    // chop the gzip stream mid-deflate-block — the inflater (or the
    // length-framed payload read) must throw, not return a short corpus.
    // Drop the Hadoop .crc sidecar so the failure comes from the gzip
    // layer itself, not the (also-loud) checksum layer.
    Files.write(shard.toPath, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    new java.io.File(shard.getParentFile, "." + shard.getName + ".crc").delete()
    val e = intercept[org.apache.spark.SparkException] {
      Warc.readWarc(spark, dir).collect()
    }
    assert(e.getMessage != null)
  }

  test("sf0.001 corpus round-trips shard-parallel with exact contents") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "lang", "source")
    val dir = Bridge.tempDir("warc_sf_") + "/corpus"
    Warc.writeWarc(docs, dir, shards = 4)
    // shard count drives read parallelism (the gzip-JSONL contract)
    val parts = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".warc"))
    assert(parts === 4)
    val back = Warc.readWarc(spark, dir)
      .as[(Long, String, String, String)].collect().toSet
    assert(back === docs.as[(Long, String, String, String)].collect().toSet)
  }
}
