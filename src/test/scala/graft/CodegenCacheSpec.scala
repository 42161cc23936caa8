package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

/** [[Engine.builder]] sizes Spark's code generator cache to the engine's
  * working set. At Spark's default of 100 classes, a workload of more
  * distinct whole-stage shapes than that evicts each class before its next
  * use and recompiles all of them on every pass. The stage id stays out of
  * the generated class name, so a stage's source does not depend on where
  * in a plan it lands.
  */
class CodegenCacheSpec extends SparkSpecBase {

  test("the session carries the engine's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Engine.CodegenCacheEntries.toString)
  }

  test("a second round of 150 whole-stage shapes compiles nothing") {
    // each literal is inlined into its stage's generated source, so every
    // k is a distinct class (compiled once on the driver, once more under
    // the executor's class loader)
    def round(): Unit = (1 to 150).foreach { k =>
      val r = spark.range(4).select((col("id") * lit(k.toLong) + lit(7L * k)).as("x"))
        .collect()
      assert(r.map(_.getLong(0)).toSeq === (0L until 4L).map(i => i * k + 7L * k))
    }
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiled
    round()
    val c1 = compiled
    assert(c1 - c0 >= 150, "every shape compiles a class the first time")
    round()
    assert(compiled - c1 === 0L, "the second round found every class cached")
  }

  test("a stage compiled under one codegen stage id is reused under another") {
    def compiles(f: => Unit): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      f
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    def stage(mul: Long, add: Long) =
      spark.range(5).select((col("id") * lit(mul) + lit(add)).as("x"))
    compiles(stage(1031L, 1L).collect())          // the shape, as stage 1
    val oneNewStage = compiles(stage(1033L, 1L).collect())
    assert(oneNewStage > 0L)
    // the same shape again, now as the union's second stage: only the
    // fresh first stage compiles
    val union = compiles(stage(1037L, 1L).union(stage(1031L, 1L)).collect())
    assert(union === oneNewStage)
  }
}
