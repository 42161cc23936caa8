package graft

import graft.operators.{Dedup, Stages}

/** Pins the r19 driver-side union-find path of [[Dedup.starClusters]]
  * against the distributed large-star/small-star loop: identical label
  * tables (node → component-min) on random graphs, chains, and
  * self-loop/duplicate-edge inputs, and the threshold conf actually
  * selects the path (rounds == 0 ⟺ driver side).
  */
class CcEquivalenceSpec extends SparkSpecBase {
  import spark.implicits._

  private def labelsOf(res: Dedup.CcResult): Map[Long, Long] = {
    val m = res.labels.as[(Long, Long)].collect().toMap
    Stages.releaseCheckpoint(res.labels)
    m
  }

  private def bothPaths(pairs: Seq[(Long, Long)]): (Map[Long, Long], Map[Long, Long]) = {
    val df = pairs.toDF("id_a", "id_b")
    val driver = labelsOf(Dedup.starClusters(df)) // default threshold: driver
    spark.conf.set("graft.cc.driverMaxEdges", "0")
    val star = try labelsOf(Dedup.starClusters(df))
      finally spark.conf.unset("graft.cc.driverMaxEdges")
    (driver, star)
  }

  test("driver union-find ≡ distributed star on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 50 + trial * 30
      val pairs = Seq.fill(n)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      val (driver, star) = bothPaths(pairs)
      assert(driver === star, s"trial $trial diverged")
      assert(driver.nonEmpty)
    }
  }

  test("driver union-find ≡ star on a deep chain and handles dups/self-loops") {
    val chain = (0L until 40L).map(i => (i, i + 1))
    val withNoise = chain ++ Seq((5L, 5L), (3L, 4L), (4L, 3L), (100L, 101L))
    val (driver, star) = bothPaths(withNoise)
    assert(driver === star)
    assert(driver(40L) === 0L)   // far end reaches the min label
    assert(driver(101L) === 100L)
    assert(!driver.contains(200L))
  }

  test("the threshold conf selects the path") {
    val df = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val d = Dedup.starClusters(df)
    assert(d.rounds === 0, "small graph must take the driver path")
    Stages.releaseCheckpoint(d.labels)
    spark.conf.set("graft.cc.driverMaxEdges", "0")
    try {
      val s = Dedup.starClusters(df)
      assert(s.rounds > 0, "conf 0 must force the distributed path")
      Stages.releaseCheckpoint(s.labels)
    } finally spark.conf.unset("graft.cc.driverMaxEdges")
  }
}
