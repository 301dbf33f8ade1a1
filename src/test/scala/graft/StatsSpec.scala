package graft

import org.apache.spark.sql.functions._

/** `graft.core.Stats.isotonicCalibration`: the minimax lattice against an
  * in-memory pool-adjacent-violators fit, null handling, and the refusals
  * of an overflowing span and an all-null score column. */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("isotonicCalibration fuzz: minimax lattice == in-memory PAV over " +
      "random score/label draws, every bin count") {
    for (seed <- Seq(7, 31, 55); bins <- Seq(1, 5, 12)) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(300 + rnd.nextInt(300)) {
        val s = rnd.nextInt(61).toLong
        // label rate rises with score but noisily — adjacent-violator
        // pools are guaranteed, monotone-already stretches too
        (s, rnd.nextInt(100) < (20 + s))
      }
      val lo = rows.map(_._1).min
      val hi = rows.map(_._1).max
      val rollup = rows.groupBy(r => (r._1 - lo) * bins / (hi - lo + 1))
        .map { case (b, rs) => (b, rs.size.toLong, rs.count(_._2).toLong) }
        .toSeq.sortBy(_._1)
      // classic PAV: pool while the previous block's mean >= the
      // current's (equal-mean pooling leaves the fit unchanged)
      case class Blk(bs: Vector[Long], w: Long, p: Long)
      var st = Vector.empty[Blk]
      for ((b, n, p) <- rollup) {
        var cur = Blk(Vector(b), n, p)
        while (st.nonEmpty && st.last.p * cur.w >= cur.p * st.last.w) {
          val t = st.last; st = st.init
          cur = Blk(t.bs ++ cur.bs, t.w + cur.w, t.p + cur.p)
        }
        st :+= cur
      }
      val want = st.flatMap(blk =>
        blk.bs.map(b => b -> blk.p.toDouble / blk.w)).toMap
      val got = graft.core.Stats.isotonicCalibration(
          rows.toDF("s", "y"), col("s"), col("y"), bins)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(4)))
        .toMap
      assert(got.keySet === want.keySet, s"seed $seed bins $bins bin set")
      for ((b, n, p) <- rollup) {
        assert(got(b)._1 == n && got(b)._2 == p, s"seed $seed bins $bins " +
          s"bin $b counts ${got(b)} vs ($n, $p)")
        assert(math.abs(got(b)._3 - want(b)) <= 1e-12,
          s"seed $seed bins $bins bin $b fitted ${got(b)._3} vs ${want(b)}")
      }
      // the defining property, independent of the reference
      val fitted = got.toSeq.sortBy(_._1).map(_._2._3)
      assert(fitted.zip(fitted.tail).forall { case (a, c) => a <= c },
        s"seed $seed bins $bins not monotone: $fitted")
    }
  }

  test("isotonicCalibration excludes null scores; null label conditions " +
      "count as negative") {
    val df = Seq((Option(10L), Option("en")), (None, Option("en")),
        (Option(20L), None), (Option(30L), Option("fr")),
        (Option(40L), Option("en")))
      .toDF("s", "lang")
    val out = graft.core.Stats.isotonicCalibration(df, col("s"),
      col("lang") === "en", bins = 2).collect()
    // the null score never lands in a bin; the null lang row is a 0
    assert(out.map(_.getLong(1)).sum == 4L)
    assert(out.map(_.getLong(2)).sum == 2L)
  }

  test("isotonicCalibration refuses a span*bins that overflows, and an " +
      "all-null score column") {
    val wide = Seq(Long.MinValue / 2, Long.MaxValue / 2).toDF("s")
    intercept[IllegalArgumentException] {
      graft.core.Stats.isotonicCalibration(wide, col("s"), lit(true), 1000)
    }
    val empty = Seq(Option.empty[Long]).toDF("s")
    intercept[IllegalArgumentException] {
      graft.core.Stats.isotonicCalibration(empty, col("s"), lit(true))
    }
  }
}
