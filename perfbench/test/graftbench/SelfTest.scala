package graftbench

/** Tests of the benchmark itself: seed handling, query-order independence
  * of the batch hashes, and the emit-latency rule. Prints one line per
  * check and `SELFTEST: ALL OK` last; exits non-zero on a failure.
  *
  * Run: `python3 perfbench/run.py --self-test`.
  */
object SelfTest {
  private var failures = 0

  /** Canonical bytes of a schedule: what the seed tests compare. */
  def bytes(events: Seq[StreamGen.Event]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(b)
    events.foreach { e =>
      d.writeLong(e.dueNs); d.writeLong(e.tsMicros)
      d.write(e.key); d.writeByte(0); d.write(e.value); d.writeByte('\n')
    }
    b.toByteArray
  }

  private def check(name: String)(ok: => Boolean): Unit = {
    val res = try ok catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (res) "ok  " else "FAIL"} $name")
    if (!res) failures += 1
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val shape = StreamGen.Shape(panels = 7, modules = 5, perWindow = 2, windows = 6)

    check("same seed gives byte-identical steady input") {
      bytes(StreamGen.steady(42, shape, 60)) sameElements
        bytes(StreamGen.steady(42, shape, 60))
    }
    check("different seeds give different stream input") {
      !(bytes(StreamGen.steady(42, shape, 60)) sameElements
        bytes(StreamGen.steady(43, shape, 60)))
    }
    check("same seed gives the same batch query order") {
      (0 until 3).forall(p => BatchHeadline.passOrder(7, p) == BatchHeadline.passOrder(7, p))
    }
    check("different seeds give different batch query orders") {
      BatchHeadline.passOrder(7, 0) != BatchHeadline.passOrder(8, 0) &&
        BatchHeadline.passOrder(7, 0).sorted == BatchHeadline.Queries.sorted
    }
    check("every event reaches the stream on time, never late") {
      // each event is published less than the watermark delay after its event time
      val evs = StreamGen.steady(42, shape, 60)
      var maxTs = evs.head.tsMicros
      evs.forall { e =>
        val ok = e.tsMicros > maxTs - StreamGen.DelayMicros
        maxTs = math.max(maxTs, e.tsMicros); ok
      }
    }
    check("emit-latency rule on a hand-built fixture") {
      val T = StreamGen.T0Micros
      val W = StreamGen.WindowMicros
      def ev(dueMs: Long, tsS: Long) =
        StreamGen.Event(dueMs * 1000000L, T + tsS * 1000000L, "p", "m", 1.0)
      // window [0,30) closes at event time >= 60 s, window [30,60) at >= 90 s
      val events = Seq(ev(0, 1), ev(10, 31), ev(20, 59), ev(30, 45),
        ev(40, 61), ev(50, 70), ev(60, 95), ev(70, 120))
      val close = StreamGen.closingDue(events)
      val expect = Map(T -> 40L * 1000000L, (T + W) -> 60L * 1000000L,
        (T + 2 * W) -> 70L * 1000000L)
      val lat = StreamGen.emitLatenciesMs(close,
        Seq((T, 1040L * 1000000L), (T + W, 1060L * 1000000L), (T + 3 * W, 5L)))
      close == expect && lat == Seq(1000.0, 1000.0)
    }
    check("every generated (window, panel) holds exactly one anomaly") {
      val spark = Main.session(args("cpus").toInt, args("work"))
      val evs = StreamGen.steady(42, shape, 60)
      val g = Streams.golden(spark, evs)
      g.keys.groupBy(k => (k._1, k._2)).values.forall(_.size == 1) &&
        g.size == shape.panels * shape.windows
    }
    check("permuted query orders leave every batch hash unchanged") {
      val spark = Main.session(args("cpus").toInt, args("work"))
      val expected = BatchHeadline.loadExpected(args("expected"))
      Seq(BatchHeadline.passOrder(1, 0), BatchHeadline.passOrder(2, 0).reverse).forall { order =>
        order.forall { q =>
          val (r, _) = BatchHeadline.runQuery(spark, args("data"), q, None)
          val same = r.error.isEmpty && r.hash == expected(q)
          if (!same) println(s"  $q: ${r.error.getOrElse(r.hash)} != ${expected(q)}")
          same
        }
      }
    }
    Main.session(1, args("work")).stop()
    if (failures > 0) { println(s"SELFTEST: $failures FAILED"); sys.exit(1) }
    println("SELFTEST: ALL OK")
  }
}
