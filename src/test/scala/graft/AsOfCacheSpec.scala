package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.dsl.{AggOp, SybilQuery}
import graft.operators.AsOfJoin
import graft.sources.{GraftTable, QueryCache}

/** As-of join semantics + the timestamp-resistant per-block query cache. */
class AsOfCacheSpec extends SparkSpec {
  import spark.implicits._

  test("asof backward: greatest right time <= left time per key") {
    val left = Seq(("a", 5L, 100L), ("a", 10L, 101L), ("a", 3L, 102L), ("b", 3L, 103L))
      .toDF("k", "t", "lid")
    val right = Seq(("a", 4L, "x"), ("a", 10L, "y"), ("b", 99L, "z"))
      .toDF("k2", "t2", "v")
    val out = AsOfJoin.backward(left, right, "k", "k2", "t", "t2", Seq("v"))
      .select(col("lid"), col("v")).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out === Map(100L -> "x", 101L -> "y")) // equal time matches; (a,3) and (b,3) have no prior right row
  }

  test("asof backward: null payload values neither mix rows nor drop matches") {
    val left = Seq(("a", 10L, 1L), ("b", 10L, 2L)).toDF("k", "t", "lid")
    val right = Seq(
      ("a", 5L, Option(7L), "old"),
      ("a", 8L, Option.empty[Long], "new"), // newest match has null v1
      ("c", 1L, Option(9L), "other"))
      .toDF("k2", "t2", "v1", "v2")
    val out = AsOfJoin.backward(left, right, "k", "k2", "t", "t2", Seq("v1", "v2"))
      .collect().map(r => (r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getString(4)))
    // left "a": matched row is (t=8): v1 must be null (NOT 7 from t=5) and
    // v2 "new" — single-row stitch; left "b": no match at all → dropped
    assert(out.toSeq === Seq((1L, None, "new")))
  }

  test("asof backward: salted variant matches unsalted on a 90%-hot key") {
    // one user owns 90% of events — the skew case where a single window
    // partition would serialize; salting must parallelize WITHOUT changing
    // a single result row
    val left = (0 until 5000).map { i =>
      val k = if (i % 10 == 0) s"cold${i % 7}" else "hot"
      (k, (i * 3L) % 1000, i.toLong)
    }.toDF("k", "t", "lid")
    val right = (0 until 200).map { i =>
      val k = if (i % 10 == 0) s"cold${i % 7}" else "hot"
      (k, i * 5L, i.toLong * 100)
    }.toDF("k2", "t2", "pay")
      .groupBy("k2", "t2").agg(max("pay").as("pay")) // unique per (key,time)
    def runIt(salt: Int) =
      AsOfJoin.backward(left, right, "k", "k2", "t", "t2", Seq("pay"), saltBuckets = salt)
        .collect().map(r => (r.getLong(2), r.getLong(3))).sorted.toSeq
    val plain = runIt(1)
    val salted = runIt(8)
    assert(plain.nonEmpty && salted === plain)
  }

  test("query cache: hits on rolling time filters, exact results, zone-map skip") {
    val root = SparkSpec.tempDir("graft-qc").toString
    val t = new GraftTable(spark, root)
    // three blocks with disjoint time ranges: [0,999], [1000,1999], [2000,2999]
    // (compact=false keeps them separate, standing in for full 64Ki blocks)
    val made = (0 until 3).map { b =>
      val before = t.blockIds.toSet
      t.ingest((0 until 1000).map(i =>
        (s"k${i % 4}", (b * 1000 + i).toLong, (i % 50).toLong)).toDF("k", "time", "v"))
      t.digest(compact = false)
      (t.blockIds.toSet -- before).head
    }
    assert(t.blockIds.size === 3)
    val cache = new QueryCache(spark, t)

    def q(cutoff: Long) = SybilQuery().groupBy("k").aggregate("v")
      .withOp(AggOp.AvgOp).intFilterGt("time", cutoff).limitTo(100)

    // block2 is the newest sub-64Ki block: the next compacting digest
    // refolds it, so it is computed fresh, never cached (uncacheable)
    assert(t.topUpBlock(t.info()).map(_.id) === Some(made(2)))
    // cutoff 500: block0 partial, block1 fully covered → 1 miss
    val (r1, o1) = cache.run(q(500))
    assert(o1 === graft.sources.CacheOutcome(hits = 0, misses = 1, uncacheable = 2, skipped = 0))
    // rolling cutoff 700: block1 still fully covered → a HIT (resistance)
    // Classification must be pure sidecar arithmetic and every schema
    // comes from the sidecar: ZERO Spark jobs until the result is consumed
    // (the 100-TB requirement — no per-block driver job loops).
    val ((r2, o2), m) = graft.core.Meter.measure(spark)(cache.run(q(700)))
    // no miss to write, and the hit/uncacheable scans take their
    // schemas from the sidecar: no footer schema-inference job
    assert(m.total.jobs === 0,
      s"cache run launched ${m.total.jobs} jobs — must be O(1), not O(blocks)")
    assert(o2 === graft.sources.CacheOutcome(hits = 1, misses = 0, uncacheable = 2, skipped = 0))
    // cutoff 2500: blocks 0,1 always-false → skipped; block2 partial
    val (_, o3) = cache.run(q(2500))
    assert(o3.skipped === 2 && o3.uncacheable === 1 && o3.hits === 0)

    // exactness vs the uncached DSL on the same data
    val direct = q(700).run(t.read()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).sortBy(_._1)
    val cached = r2.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).sortBy(_._1)
    assert(direct === cached)
  }

  test("query cache: str-replace affects groups and cache key; sort honored") {
    val root = SparkSpec.tempDir("graft-qc3").toString
    val t = new GraftTable(spark, root)
    t.ingest((0 until 300).map(i =>
      (s"host-${i % 3}-prod", i.toLong, (i % 10).toLong)).toDF("k", "time", "v"))
    t.digest()
    val cache = new QueryCache(spark, t)
    val plain = SybilQuery().groupBy("k").limitTo(10)
    val repl = plain.replace("k", "host-(\\d+)-.*", "h$1")
    val (rPlain, _) = cache.run(plain)
    val (rRepl, oR) = cache.run(repl)
    assert(oR.hits === 0, "replace() must produce a different cache key")
    assert(rPlain.collect().map(_.getString(0)).toSet === Set("host-0-prod", "host-1-prod", "host-2-prod"))
    assert(rRepl.collect().map(_.getString(0)).toSet === Set("h0", "h1", "h2"))
    // and the cached result equals the DSL result exactly
    val direct = repl.run(t.read()).collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val viaCache = rRepl.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(direct === viaCache)
    // sort-asc by group column flows through the merge ordering
    val sorted = SybilQuery().groupBy("k").sort("k").ascending.limitTo(2)
    val (rs, _) = cache.run(sorted)
    assert(rs.collect().map(_.getString(0)).toSeq === Seq("host-0-prod", "host-1-prod"))
  }

  test("query cache: hist partials merge to the exact single-pass result") {
    val root = SparkSpec.tempDir("graft-qc4").toString
    val t = new GraftTable(spark, root)
    for (b <- 0 until 2) {
      t.ingest((0 until 800).map(i =>
        (s"k${i % 3}", (b * 800 + i).toLong, ((i * 7) % 500).toLong)).toDF("k", "time", "v"))
      t.digest(compact = false)
    }
    val cache = new QueryCache(spark, t)
    val q = SybilQuery().groupBy("k").aggregate("v").withOp(AggOp.HistOp).limitTo(10)
    val (r1, o1) = cache.run(q)
    val cached1 = r1.collect()
    // block1 is the top-up block the next digest refolds: computed fresh
    assert(o1 === graft.sources.CacheOutcome(hits = 0, misses = 1, uncacheable = 1, skipped = 0))
    // second run: block0 hits, identical result
    val (r2, o2) = cache.run(q)
    assert(o2 === graft.sources.CacheOutcome(hits = 1, misses = 0, uncacheable = 1, skipped = 0))
    // exact equality vs the uncached DSL run with the same sidecar extents
    val extents = t.info().columns.collect {
      case graft.sources.ColumnInfo(n, _, Some(mn), Some(mx)) => n -> (mn, mx)
    }.toMap
    val direct = q.withExtents(extents).run(t.read())
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      val h = r.getStruct(r.fieldIndex("v_hist"))
      (r.getString(0), r.getLong(1),
        h.getAs[Long]("count"), h.getAs[Double]("mean"), h.getAs[Double]("stddev"),
        h.getAs[collection.Seq[Long]]("percentiles").toSeq,
        h.getAs[collection.Seq[Long]]("bucketLows").toSeq,
        h.getAs[collection.Seq[Long]]("bucketCounts").toSeq)
    }.sortBy(_._1)
    assert(canon(r2.collect()) === canon(direct.collect()))
    assert(canon(cached1) === canon(r2.collect()))
    // -sort on the aggregated column orders by the hist mean, in both
    // directions, cached as uncached (the row order itself is compared)
    for (sorted <- Seq(q.sort("v"), q.sort("v").ascending)) {
      val (rs, os) = cache.run(sorted)
      assert(os === graft.sources.CacheOutcome(hits = 1, misses = 0, uncacheable = 1, skipped = 0))
      def inOrder(rows: Array[org.apache.spark.sql.Row]) = rows.toSeq.map(r =>
        (r.getString(0), r.getStruct(r.fieldIndex("v_hist")).getAs[Double]("mean")))
      val want = inOrder(sorted.withExtents(extents).run(t.read()).collect())
      assert(want.map(_._2) === (if (sorted.sortAsc) want.map(_._2).sorted
        else want.map(_._2).sorted.reverse))
      assert(inOrder(rs.collect()) === want)
    }
  }

  test("query cache: a group-by on a set column throws the uncached run's error") {
    val root = SparkSpec.tempDir("graft-qc-setgroup").toString
    val t = new GraftTable(spark, root)
    for (b <- 0 until 2) {
      t.ingest((0 until 40).map(i => (Seq(s"g${i % 3}"), (b * 40 + i).toLong))
        .toDF("tags", "time"))
      t.digest(compact = false)
    }
    val q = SybilQuery().groupBy("tags")
    val uncached = intercept[IllegalArgumentException](t.query(q))
    assert(uncached.getMessage.contains("cannot group by set column 'tags'"))
    val cached = intercept[IllegalArgumentException](new QueryCache(spark, t).run(q))
    assert(cached.getMessage === uncached.getMessage)
  }

  test("query cache: weighted avg partials merge exactly") {
    val root = SparkSpec.tempDir("graft-qc2").toString
    val t = new GraftTable(spark, root)
    for (b <- 0 until 2) {
      t.ingest((0 until 500).map(i =>
        (s"k${i % 3}", (b * 500 + i).toLong, (i % 20).toLong, (i % 5 + 1).toLong))
        .toDF("k", "time", "v", "w"))
      t.digest()
    }
    val cache = new QueryCache(spark, t)
    val q = SybilQuery().groupBy("k").aggregate("v").weighted("w")
      .withOp(AggOp.AvgOp).limitTo(10)
    val (res, _) = cache.run(q)
    val direct = q.run(t.read())
    val a = res.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).sortBy(_._1)
    val b = direct.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).sortBy(_._1)
    assert(a === b)
  }

  test("query cache: HLL distinct partials merge to the single-pass estimate") {
    val root = SparkSpec.tempDir("graft-qc-hll").toString
    val t = new GraftTable(spark, root)
    // values deliberately overlap across blocks: the union must dedup
    // across block sketches, not add their counts
    for (b <- 0 until 3) {
      t.ingest((0 until 800).map(i =>
        (s"k${i % 2}", (b * 1000 + i).toLong, ((i + b * 137) % 300).toLong))
        .toDF("k", "time", "v"))
      t.digest(compact = false)
    }
    val cache = new QueryCache(spark, t)
    val q = SybilQuery().groupBy("k").distinct("v").limitTo(10)

    // the newest block is the top-up block: computed fresh, never cached
    val (r1, o1) = cache.run(q)
    assert(o1 === graft.sources.CacheOutcome(hits = 0, misses = 2, uncacheable = 1, skipped = 0))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).sortBy(_._1)
    val first = canon(r1)
    // the cached merge must equal the UNCACHED single-pass DSL run exactly
    // (register-wise max union is deterministic, not just approximately right)
    assert(first === canon(q.run(t.read())))
    // second run: every cacheable sketch served from the cache, same answer
    val (r2, o2) = cache.run(q)
    assert(o2 === graft.sources.CacheOutcome(hits = 2, misses = 0, uncacheable = 1, skipped = 0))
    assert(canon(r2) === first)
    // exact distinct is NOT cacheable (partials would be the value sets)
    val ex = intercept[IllegalArgumentException] {
      cache.run(SybilQuery().groupBy("k").distinct("v")
        .withOp(AggOp.DistinctOp(exact = true)).limitTo(10))
    }
    assert(ex.getMessage.contains("not cacheable"))
  }

  test("query cache: tdigest partials merge bit-identically to the " +
      "single-pass run") {
    val root = SparkSpec.tempDir("graft-qc-td").toString
    val t = new GraftTable(spark, root)
    // per-block value ranges overlap and one block crosses sign; nulls
    // included so the per-column populated count is exercised
    for (b <- 0 until 3) {
      t.ingest((0 until 900).map { i =>
        val v: Option[Long] =
          if (i % 17 == 0) None
          else Some(((i * 31 + b * 113) % 400).toLong - 50L)
        (s"k${i % 2}", (b * 1000 + i).toLong, v)
      }.toDF("k", "time", "v"))
      t.digest(compact = false)
    }
    val cache = new QueryCache(spark, t)
    val q = SybilQuery().groupBy("k").aggregate("v")
      .tDigestHistogram.limitTo(10)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    // the newest block is the top-up block: computed fresh, never cached
    val (r1, o1) = cache.run(q)
    assert(o1 === graft.sources.CacheOutcome(hits = 0, misses = 2, uncacheable = 1, skipped = 0))
    val first = canon(r1)
    // the whole surface — count/samples/mean/min/max/percentiles — must
    // equal the UNCACHED single-pass DSL run exactly (the QuantileBins
    // multiset homomorphism, not just approximately right)
    assert(first === canon(q.run(t.read())))
    val (r2, o2) = cache.run(q)
    assert(o2 === graft.sources.CacheOutcome(hits = 2, misses = 0, uncacheable = 1, skipped = 0))
    assert(canon(r2) === first)
    // weighted + tdigest stays a loud error on the cached path too
    val ex = intercept[IllegalArgumentException] {
      cache.run(q.weighted("time"))
    }
    assert(ex.getMessage.contains("weight"))
  }

  test("query cache: tdigest partials cross the exact->collapsed boundary " +
      "in the MERGE path identically to single-pass") {
    // each block stays exact (~4100 distinct), but the merged group
    // crosses the 8192-distinct cap, so the cache-side merge performs
    // the collapse that the single-pass run performs mid-aggregation —
    // the homomorphism wiring end-to-end, not just in-memory
    val root = SparkSpec.tempDir("graft-qc-td2").toString
    val t = new GraftTable(spark, root)
    for (b <- 0 until 3) {
      t.ingest((0 until 4100).map { i =>
        // disjoint per-block value ranges -> merged distinct ~12300
        ("all", (b * 10000 + i).toLong, (b.toLong << 40) + i * 257L)
      }.toDF("k", "time", "v"))
      t.digest(compact = false)
    }
    val cache = new QueryCache(spark, t)
    val q = SybilQuery().groupBy("k").aggregate("v")
      .tDigestHistogram.limitTo(10)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    // the newest block is the top-up block: computed fresh, never cached
    val (r1, o1) = cache.run(q)
    assert(o1 === graft.sources.CacheOutcome(hits = 0, misses = 2, uncacheable = 1, skipped = 0))
    assert(canon(r1) === canon(q.run(t.read())))
    val (r2, o2) = cache.run(q)
    assert(o2 === graft.sources.CacheOutcome(hits = 2, misses = 0, uncacheable = 1, skipped = 0))
    assert(canon(r2) === canon(r1))
  }

  test("query cache: multi-column HLL distinct hashes the same item strings") {
    // two distinct columns: the cache partial and the single-pass sketch
    // must feed the SAME -joined item string into the HLL, or the
    // merged estimate diverges from the uncached one. ("ab","c") vs
    // ("a","bc") style prefix collisions are also covered: v1/v2 values
    // are digit strings whose concatenation is ambiguous without the
    // separator.
    val root = SparkSpec.tempDir("graft-qc-hll2").toString
    val t = new GraftTable(spark, root)
    for (b <- 0 until 3) {
      t.ingest((0 until 600).map { i =>
        val v1 = ((i + b * 97) % 40).toString
        val v2 = ((i * 7 + b) % 25).toString
        (s"k${i % 2}", (b * 1000 + i).toLong, v1, v2)
      }.toDF("k", "time", "v1", "v2"))
      t.digest(compact = false)
    }
    val cache = new QueryCache(spark, t)
    val q = SybilQuery().groupBy("k").distinct("v1", "v2").limitTo(10)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).sortBy(_._1)
    // the newest block is the top-up block: computed fresh, never cached
    val (r1, o1) = cache.run(q)
    assert(o1 === graft.sources.CacheOutcome(hits = 0, misses = 2, uncacheable = 1, skipped = 0))
    assert(canon(r1) === canon(q.run(t.read())))
    val (r2, o2) = cache.run(q)
    assert(o2 === graft.sources.CacheOutcome(hits = 2, misses = 0, uncacheable = 1, skipped = 0))
    assert(canon(r2) === canon(r1))
  }

  test("query cache: all-blocks-skipped result carries the merged output " +
      "schema") {
    val root = SparkSpec.tempDir("graft-qc-skip").toString
    val t = new GraftTable(spark, root)
    t.ingest((0 until 200).map(i =>
      (s"k${i % 3}", i.toLong, (i % 20).toLong)).toDF("k", "time", "v"))
    t.digest()
    val cache = new QueryCache(spark, t)
    val q = SybilQuery().groupBy("k").aggregate("v").withOp(AggOp.AvgOp)
      .intFilterGt("time", 1000000L).limitTo(10)
    val (res, o) = cache.run(q)
    assert(o.skipped === 1 && o.misses === 0)
    // zero rows, but the MERGED schema: a caller selecting v_avg from an
    // empty result must not throw
    assert(res.columns.contains("v_avg"), res.columns.mkString(","))
    assert(res.select("k", "v_avg").count() === 0)
  }

  test("query cache: a block with null times is never classified " +
      "AlwaysTrue (cached == uncached)") {
    val root = SparkSpec.tempDir("graft-qc-null").toString
    val t = new GraftTable(spark, root)
    // half the rows carry a NULL time: extents describe non-null values
    // only, so dropping the time filter for this block would admit rows
    // the batch filter excludes
    t.ingest((0 until 200).map(i =>
      (s"k${i % 3}", if (i % 2 == 0) Some(i.toLong + 100L) else None,
        (i % 20).toLong)).toDF("k", "time", "v"))
    t.digest()
    val cache = new QueryCache(spark, t)
    val q = SybilQuery().groupBy("k").aggregate("v").withOp(AggOp.CountOp)
      .intFilterGt("time", 0L).limitTo(10)
    val (res, o) = cache.run(q)
    assert(o.uncacheable === 1 && o.hits === 0 && o.misses === 0,
      s"null-time block must take the full-filter path, got $o")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    assert(canon(res) === canon(q.run(t.read())))
  }

  test("query cache: a column only the older blocks carry reads as null in " +
      "the others (cached == uncached)") {
    // blocks 0,1 carry `region`, blocks 2,3 do not; block 2 is a cache
    // miss and block 3 the top-up block, so both scans see the gap. The
    // cache reads every block under the sidecar's type registry, never a
    // schema inferred from whichever block's footer comes first (which
    // failed with UNRESOLVED_COLUMN depending on the random block ids).
    for (n <- 0 until 5) {
      val root = SparkSpec.tempDir(s"graft-qc-cols-$n").toString
      val t = new GraftTable(spark, root)
      for (b <- 0 until 4) {
        val rows = (0 until 60).map(i => (s"k${i % 2}", (b * 100 + i).toLong,
          (i % 9).toLong, s"r${(i + b) % 3}"))
        val df = rows.toDF("k", "time", "v", "region")
        t.ingest(if (b < 2) df else df.drop("region"))
        t.digest(compact = false)
      }
      val cache = new QueryCache(spark, t)
      val q = SybilQuery().groupBy("region").aggregate("v")
        .withOp(AggOp.AvgOp).intFilterGt("time", -1).limitTo(10)
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
      val uncached = canon(t.query(q))
      assert(uncached.map(_.head).toSet === Set("", "r0", "r1", "r2"))
      val (r1, o1) = cache.run(q)
      assert(o1 === graft.sources.CacheOutcome(hits = 0, misses = 3, uncacheable = 1, skipped = 0))
      assert(canon(r1) === uncached, s"table $n: cached miss run")
      val (r2, o2) = cache.run(q)
      assert(o2.hits === 3)
      assert(canon(r2) === uncached, s"table $n: cached hit run")
      // a batch adds a column, and the compacting digest folds it into
      // the top-up block, whose older rows read it as null
      val top = t.topUpBlock(t.info()).get.id
      t.ingest((0 until 40).map(i => (s"k${i % 2}", (400 + i).toLong,
        (i % 9).toLong, s"t${i % 2}")).toDF("k", "time", "v", "tier"))
      t.digest()
      assert(t.blockIds.size === 4 && !t.blockIds.contains(top), s"table $n: top-up refolded")
      val tq = SybilQuery().groupBy("tier").aggregate("v")
        .withOp(AggOp.AvgOp).intFilterGt("time", -1).limitTo(10)
      val tierUncached = canon(t.query(tq))
      assert(t.query(tq).collect().map(r => r.getString(0) -> r.getAs[Long]("Count")).toMap ===
        Map("" -> 240L, "t0" -> 20L, "t1" -> 20L))
      val (r3, o3) = cache.run(tq)
      assert(o3 === graft.sources.CacheOutcome(hits = 0, misses = 3, uncacheable = 1, skipped = 0))
      assert(canon(r3) === tierUncached, s"table $n: cached run over the new column")
      val folded = spark.read.parquet(
        java.nio.file.Paths.get(root, "blocks", t.topUpBlock(t.info()).get.id).toString)
      assert(folded.count() === 100 && folded.filter(col("tier").isNull).count() === 60)
    }
  }
}
