package perfbench

/**
 * The benchmark's own tests: generator determinism, the expected-bucket
 * arithmetic, the statistics helpers, and that a forced defect (one internal
 * remanent row dropped) makes the unit fail its output check.
 *
 *   SelfTest --work DIR
 */
object SelfTest {
  private var failures = 0

  private def expect(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => System.err.println(e); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val work = java.nio.file.Paths.get(args(args.indexOf("--work") + 1)).toAbsolutePath.toString
    val mix = Main.Heavy

    expect("generator: same seed gives byte-identical inputs") {
      val a = Gen.batch(7, "t", 2000, mix, 0L, 1000000L, relaxed = true)
      val b = Gen.batch(7, "t", 2000, mix, 0L, 1000000L, relaxed = true)
      a.csv == b.csv && a.internal.map(_.line) == b.internal.map(_.line) &&
        Gen.digest(Seq(a)) == Gen.digest(Seq(b))
    }
    expect("generator: another seed gives other inputs") {
      Gen.digest(Seq(Gen.batch(7, "t", 500, mix, 0L, 1000L, relaxed = true))) !=
        Gen.digest(Seq(Gen.batch(8, "t", 500, mix, 0L, 1000L, relaxed = true)))
    }

    expect("expected buckets: an all-exact mix matches every row 1:1") {
      val none = Mix(0, 0, 0, 0, 0, 2, 0, 0)
      val b = Gen.batch(1, "x", 300, none, 0L, 1000L, relaxed = false)
      b.internalCounts == Map(Bucket.Exact -> 300) && b.externalCounts == Map(Bucket.Exact -> 300)
    }
    expect("expected buckets: SALE/VOID pairs cancel two internal rows and no external") {
      val pairs = Mix(0, 0, 0, 1.0, 0, 2, 0, 0)
      val b = Gen.batch(1, "z", 50, pairs, 0L, 1000L, relaxed = false)
      b.internalCounts == Map(Bucket.Cancelled -> 100) && b.external.isEmpty
    }
    expect("expected buckets: a group of m duplicates keeps 1, displaces 1, drops m-2") {
      val dups = Mix(0, 0, 0, 0, 1.0, 4, 0, 0)
      val b = Gen.batch(3, "d", 400, dups, 0L, 1000L, relaxed = false)
      b.external.groupBy(_.code).values.forall { g =>
        val c = g.groupBy(_.bucket).map { case (k, v) => k -> v.size }
        c.getOrElse(Bucket.Exact, 0) == 1 && c.getOrElse(Bucket.Displaced, 0) == 1 &&
          c.getOrElse(Bucket.DroppedMiddle, 0) == g.size - 2
      } && b.internalCounts == Map(Bucket.Exact -> 400)
    }
    expect("expected buckets: boundary pairs follow the double comparison, both ways") {
      // 123.45 vs 123.55 passes |a-b| <= 0.1 in doubles; 10000.10 vs 10000.00 does not
      Gen.doubleAccepts(12345, 12355) && !Gen.doubleAccepts(1000010, 1000000) && {
        val edge = Mix(0, 1.0, 0, 0, 0, 2, 0, 0)
        val single = Gen.batch(5, "e", 3000, edge, 0L, 1000L, relaxed = false).internalCounts
        val relaxed = Gen.batch(5, "e", 3000, edge, 0L, 1000L, relaxed = true).internalCounts
        single.keySet == Set(Bucket.Tolerance, Bucket.ARemanent) &&
          relaxed.keySet == Set(Bucket.Tolerance, Bucket.Relaxed) &&
          single(Bucket.ARemanent) == relaxed(Bucket.Relaxed)
      }
    }
    expect("expected buckets: control totals balance in exact cents") {
      val b = Gen.batch(11, "c", 5000, mix, 0L, 1000L, relaxed = true)
      b.internalCents.values.sum == b.internal.map(_.cents).sum &&
        b.internalCounts.values.sum == b.internal.size
    }

    expect("stats: median of odd and even samples") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }
    expect("stats: interpolated percentile") {
      val xs = (1 to 5).map(_.toDouble)
      math.abs(Stats.quantile(xs, 0.9) - 4.6) < 1e-12 && Stats.quantile(xs, 0.0) == 1.0 &&
        Stats.quantile(xs, 1.0) == 5.0
    }

    val spark = Main.session(2, work)
    try {
      val w = Main.Workloads("carryover_relaxed").copy(groups = 400,
        carry = Some(Carry(1.0 / 3, 2000)))
      val (in, _) = Pipeline.generate(spark, w, 42, s"$work/in")
      val e = in.head.expect
      expect("pipeline: an intact unit passes its output check") {
        val s = Pipeline.unit(spark, w, in.head, s"$work/ok", new Tracer(spark, 0, false))
        val c = Pipeline.check(spark, s"$work/ok", 0, e, s)
        if (!c.ok) println(c.problems.mkString("; "))
        c.ok && c.counters("ext_multi_consumed") == 0 && c.counters("matched_relaxed") > 0
      }
      expect("pipeline: one internal remanent row dropped fails the check") {
        val victim = e.batch.internal.find(_.bucket == Bucket.ARemanent).get.id
        val s = Pipeline.unit(spark, w, in.head, s"$work/bad", new Tracer(spark, 1, false),
          dropRemanent = Some(victim))
        !Pipeline.check(spark, s"$work/bad", 1, e, s).ok
      }
    } finally spark.stop()

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
