package graft.sources.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SerializableHadoopConf

/** The V2 write protocol's failure paths, exercised at the API level
  * (the engine only drives them on real task failures): a task abort
  * must delete its temp file, a job abort must delete every reported
  * temp, and until commit renames them no temp is visible to the shard
  * glob readers use.
  */
class WarcWriteProtocolSpec extends AnyFunSuite {

  private def conf = new SerializableHadoopConf(
    new org.apache.hadoop.conf.Configuration())

  private def row(id: Long) = InternalRow(id,
    UTF8String.fromString(s"text $id"), UTF8String.fromString("en"),
    UTF8String.fromString("src0"))

  private def listAll(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).toSeq.filterNot(_.startsWith("."))

  test("task abort deletes the temp file; nothing was ever glob-visible") {
    val path = Bridge.tempDir("warcproto_a_")
    val w = WarcWriterFactory(path, compress = false, Seq(0, 1, 2, 3), conf)
      .createWriter(0, 0L)
    w.write(row(1L)); w.write(row(2L))
    val tmps = listAll(path)
    assert(tmps.nonEmpty && tmps.forall(_.startsWith("_tmp-")))
    assert(tmps.forall(f => !f.contains(".warc"))) // invisible to readers
    w.abort()
    assert(listAll(path).isEmpty) // temp cleaned up
  }

  test("job commit renames temps to shard names; job abort deletes them") {
    val path = Bridge.tempDir("warcproto_c_")
    val bw = new WarcBatchWrite(path, compress = false, truncate = false,
      Seq(0, 1, 2, 3), conf)
    val factory = bw.createBatchWriterFactory(null)
    val m0 = { val w = factory.createWriter(0, 0L); w.write(row(1L)); w.commit() }
    val m1 = { val w = factory.createWriter(1, 1L); w.write(row(2L)); w.commit() }
    // empty partition: no file, null-temp message
    val m2 = factory.createWriter(2, 2L).commit()
    assert(m2.asInstanceOf[WarcCommitMessage].tmpFile === null)
    bw.commit(Array(m0, m1, m2))
    val files = listAll(path)
    assert(files.size === 2 && files.forall(f =>
      f.startsWith("part-") && f.endsWith(".warc")), s"$files")
    // a second job aborts: its temps vanish, the committed layout stays
    val bw2 = new WarcBatchWrite(path, compress = false, truncate = false,
      Seq(0, 1, 2, 3), conf)
    val f2 = bw2.createBatchWriterFactory(null)
    val mA = { val w = f2.createWriter(0, 9L); w.write(row(9L)); w.commit() }
    assert(listAll(path).exists(_.startsWith("_tmp-")))
    bw2.abort(Array(mA))
    assert(listAll(path).toSet === files.toSet)
  }
}
