package graft

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The lifecycle rules of [[SessionArtifacts]]: one build per key, builds
  * that read other keys, the N-2 publish rule, per-session keys, and
  * layouts that take their directory, tables and catalog entry with them.
  */
class SessionArtifactsSpec extends SparkSpecBase {
  // no query reads this dir, so these keys never meet a real artifact
  private val dir = "session-artifacts-spec"
  private val sf = "/root/testdata/sf0.001"

  test("concurrent first callers of get build once") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(() => {
        start.await()
        SessionArtifacts.get[AnyRef](spark, dir, "once") {
          builds.incrementAndGet()
          Thread.sleep(200) // the second caller arrives mid-build
          new Object
        }
      }))
      start.countDown()
      val got = calls.map(_.get())
      assert(builds.get === 1)
      assert(got(0) eq got(1))
    } finally {
      pool.shutdown()
      SessionArtifacts.release(spark, dir, "once")
    }
  }

  test("a build may get another key") {
    // bpeMergesShared does this through assertBpeOracleSafe. Nested 40
    // deep, some key lands in a hash bin an outer build holds: a build
    // running inside one shared ConcurrentHashMap.computeIfAbsent then
    // throws "Recursive update".
    def nest(i: Int): Int =
      if (i == 0) 0
      else SessionArtifacts.get[Int](spark, dir, s"nest-$i")(nest(i - 1) + 1)
    assert(nest(40) === 40)
    (1 to 40).foreach(i => SessionArtifacts.release(spark, dir, s"nest-$i"))
  }

  test("publish frees generation N-2; release frees every live generation") {
    val freed = ArrayBuffer.empty[String]
    def publish(g: String): String =
      SessionArtifacts.publish(spark, dir, "gens",
        (old: String) => freed.synchronized { freed += old; () })(g)
    publish("g1")
    publish("g2")
    assert(freed.isEmpty)
    publish("g3")
    assert(freed.toSeq === Seq("g1"))
    assert(SessionArtifacts.get[String](spark, dir, "gens")("unused") === "g3")
    SessionArtifacts.release(spark, dir, "gens")
    assert(freed.sorted.toSeq === Seq("g1", "g2", "g3"))
  }

  test("spark.newSession() builds its own entry") {
    val other = spark.newSession()
    val builds = new AtomicInteger()
    def get(s: SparkSession): Int =
      SessionArtifacts.get[Int](s, dir, "per-session")(builds.incrementAndGet())
    assert(get(spark) === 1)
    assert(get(other) === 2)
    assert(get(spark) === 1 && get(other) === 2)
    Seq(spark, other).foreach(SessionArtifacts.release(_, dir, "per-session"))
  }

  test("releasing a layout deletes its directory and its MvCatalog entry") {
    val root = SparkEntry.mvShared(spark, sf)
    // q188's rollup without the mvShared call that would re-register it
    def rollupPlan: String = graft.sources.Tables.documents(spark, sf)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
        max(col("doc_id")).as("max_doc"))
      .queryExecution.executedPlan.toString
    assert(new java.io.File(root).isDirectory)
    assert(rollupPlan.contains(root), "the rollup must read the view")
    SessionArtifacts.release(spark, sf, "mv")
    assert(!new java.io.File(root).exists)
    assert(!rollupPlan.contains(root), "a released view must not be read")
  }

  test("releasing the bucketed layout drops both tables") {
    val (li, or) = SparkEntry.bucketedTablesShared(spark, sf)
    assert(spark.catalog.tableExists(li) && spark.catalog.tableExists(or))
    SessionArtifacts.release(spark, sf, "bucketedTables")
    assert(!spark.catalog.tableExists(li) && !spark.catalog.tableExists(or))
  }
}
