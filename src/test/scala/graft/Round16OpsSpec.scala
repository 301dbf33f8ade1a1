package graft

import org.apache.spark.sql.functions._

import graft.core.{Meter, Stats, Tables}
import graft.operators.Curation

/** Round-16 hardening: the descending distributed prefix-sum path under
  * the score-band / token-budget curation cuts.
  */
class Round16OpsSpec extends SparkSpec {
  import spark.implicits._

  private def canon(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq

  test("exactScoreBands: continuous scores, distributed == serial") {
    val rnd = new scala.util.Random(42)
    // ~5000 DISTINCT double scores — the regime where the old
    // partitionless Window.orderBy would serialize the rollup into one
    // task (rollup ≈ row count)
    val df = (1L to 5000L).map(i => (i, rnd.nextDouble() * 100.0))
      .toDF("id", "score")
    val serial = canon(Curation.exactScoreBands(df, "id", "score",
      buckets = 10, distributedCum = Some(false)))
    val dist = canon(Curation.exactScoreBands(df, "id", "score",
      buckets = 10, distributedCum = Some(true)))
    assert(dist === serial)
    // every bucket populated and sized ~n/buckets (unique scores -> no
    // tie mass shifting boundaries)
    val sizes = Curation.exactScoreBands(df, "id", "score", buckets = 10,
        distributedCum = Some(true))
      .groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.keySet === (0L to 9L).toSet)
    assert(sizes.values.forall(c => c === 500L))
  }

  test("exactScoreBands: auto-probe selects the distributed path on a " +
      "high-cardinality rollup") {
    val rnd = new scala.util.Random(7)
    val df = (1L to 4000L).map(i => (i, rnd.nextDouble()))
      .toDF("id", "score")
    val rollup = df.groupBy($"score").agg(count(lit(1)).as("__c"))
    spark.conf.set("spark.graft.cum.probeMinInputBytes", "0")
    try {
      // default threshold (4M) -> serial even when probed
      assert(!Stats.resolvedCumSumsDesc(rollup, "score", Seq("__c"), None)._2)
      spark.conf.set("spark.graft.cum.serialMaxDistinct", "100")
      try {
        assert(Stats.resolvedCumSumsDesc(rollup, "score", Seq("__c"), None)._2)
        // and the auto-selected distributed end-to-end run still matches
        // the pinned serial one
        val serial = canon(Curation.exactScoreBands(df, "id", "score",
          buckets = 7, distributedCum = Some(false)))
        assert(canon(Curation.exactScoreBands(df, "id", "score",
          buckets = 7)) === serial)
      } finally spark.conf.unset("spark.graft.cum.serialMaxDistinct")
    } finally spark.conf.unset("spark.graft.cum.probeMinInputBytes")
  }

  test("tokenBudgetThreshold: continuous scores, distributed == serial, " +
      "group-atomic greedy cut preserved") {
    val rnd = new scala.util.Random(99)
    val docs = (1L to 3000L)
      .map(i => (i, rnd.nextDouble() * 10.0, 10L + (i % 7)))
      .toDF("id", "score", "tk")
    for (budget <- Seq(0L, 5000L, 20000L, Long.MaxValue)) {
      val serial = canon(Curation.tokenBudgetThreshold(docs, col("score"),
        col("tk"), budget, distributedCum = Some(false)))
      val dist = canon(Curation.tokenBudgetThreshold(docs, col("score"),
        col("tk"), budget, distributedCum = Some(true)))
      assert(dist === serial, s"budget $budget")
    }
    // exact greedy semantics on a hand-checkable fixture (ties admitted
    // atomically, first overflowing group excluded)
    val tiny = Seq((1L, 3.0, 10L), (2L, 3.0, 10L), (3L, 2.0, 10L),
      (4L, 1.0, 10L)).toDF("id", "score", "tk")
    val r = Curation.tokenBudgetThreshold(tiny, col("score"), col("tk"), 25L,
      distributedCum = Some(true)).head()
    assert(r.getDouble(0) === 3.0 && r.getLong(1) === 2L &&
      r.getLong(2) === 20L)
  }

  // ---- batched BPE learning ----------------------------------------------

  /** In-memory reference of the classic one-merge-at-a-time BPE learner,
    * with the same symbol representation, pair extraction, argmax
    * tie-break, and left-to-right non-overlapping replace semantics as
    * [[graft.operators.Bpe]] — the ground truth the batched learner must
    * equal bit-for-bit. */
  private def refLearnMerges(texts: Seq[String],
      merges: Int): Seq[(Long, String, String, Long)] = {
    import graft.operators.Bpe.{EndMark, Sep}
    val freqs = texts.flatMap(_.split(" ", -1)).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    def sym(w: String): String =
      Sep + (w.map(_.toString) :+ EndMark).mkString(Sep) + Sep
    var dict: Seq[(String, Long)] =
      freqs.toSeq.map { case (w, f) => (sym(w), f) }
    val out = scala.collection.mutable.ListBuffer
      .empty[(Long, String, String, Long)]
    var rank = 1L
    var exhausted = false
    while (rank <= merges && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((s, f) <- dict;
           Array(a, b) <- s.split(Sep).filter(_.nonEmpty).sliding(2)
             .filter(_.length == 2))
        counts((a, b)) = counts.getOrElse((a, b), 0L) + f
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), c) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((rank, a, b, c))
        dict = dict.map { case (s, f) =>
          (s.replace(Sep + a + Sep + b + Sep, Sep + a + b + Sep), f) }
        rank += 1
      }
    }
    out.toList
  }

  /** Diverse-context corpus where batching provably triggers: each
    * region k embeds its pair (e.g. "ab") in a 10×10 grid of shared
    * context chars, so the top pairs' counts tower over every
    * neighbor-pair count and several merges are accepted per job. */
  private def batchableCorpus: Seq[String] = {
    val regions = Seq(("ab", 100), ("cd", 50), ("ef", 25), ("gh", 12))
    val lefts = "0123456789"
    for {
      (p, f) <- regions
      l <- lefts.map(_.toString)
      r <- ('q' to 'z').map(_.toString)
      _ <- 1 to f
    } yield l + p + r
  }

  test("learnMerges batched rounds equal the sequential reference " +
      "(crafted corpus and real documents)") {
    def got(texts: Seq[String], merges: Int) =
      graft.operators.Bpe.learnMerges(
          texts.toDF("text"), "text", merges)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
    assert(got(batchableCorpus, 6) === refLearnMerges(batchableCorpus, 6))
    val docs = Tables.load(spark, sfDir, "documents")
      .select("text").collect().map(_.getString(0)).toSeq
    assert(got(docs, 12) === refLearnMerges(docs, 12))
  }

  test("learnMerges: exhaustion under batching stops at the sequential " +
      "learner's merge list") {
    // tiny dictionary: the request outruns the available pairs and the
    // batched learner must stop exactly where the sequential one does
    val texts = Seq("a b", "a b", "a b", "c d", "e")
    val got = graft.operators.Bpe.learnMerges(
        texts.toDF("text"), "text", merges = 50)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    val want = refLearnMerges(texts, 50)
    assert(got === want)
    assert(got.size < 50, "must stop early when pairs run out")
  }

  test("learnMerges job count grows sub-linearly in merges") {
    val df = batchableCorpus.toDF("text")
    // warm once so codegen/scan setup doesn't skew the counts
    graft.operators.Bpe.learnMerges(df, "text", 1).collect()
    val jobs1 = Meter.measure(spark)(
      graft.operators.Bpe.learnMerges(df, "text", 1).collect())._2.total.jobs
    val jobs4 = Meter.measure(spark)(
      graft.operators.Bpe.learnMerges(df, "text", 4).collect())._2.total.jobs
    // crafted counts: round 1 accepts (a,b),(c,d),(e,f); round 2 takes
    // (g,h) — 2 rounds for 4 merges, where the per-merge loop needs 4
    assert(jobs4 <= 2 * jobs1,
      s"expected ≤2 rounds of jobs for 4 merges, got $jobs4 (1 merge = $jobs1)")
  }

  // ---- salted record linkage ---------------------------------------------

  test("fsLink: salted block join equals unsalted on a 90%-hot block") {
    import graft.operators.Linkage
    val rnd = new scala.util.Random(5)
    // 90% of the left registry lands in one block
    val a = (1L to 1000L).map { i =>
      val blk = if (i <= 900) "HOT" else s"c${i % 7}"
      (i, s"n${rnd.nextInt(40)}", rnd.nextInt(10).toLong, blk)
    }.toDF("id", "name", "v", "block")
    val b = (1L to 300L).map { i =>
      val blk = if (i <= 200) "HOT" else s"c${i % 7}"
      (1000L + i, s"n${rnd.nextInt(40)}", rnd.nextInt(10).toLong, blk)
    }.toDF("rid", "name", "v", "block")
    val rules = Seq(
      Linkage.FieldRule("name", col("name") === col("name_b"), 4, -2),
      Linkage.FieldRule("v", col("v") === col("v_b"), 2, -1))
    def canonOut(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    val unsalted = canonOut(
      Linkage.fsLink(a, "id", b, "rid", Seq("block"), rules, threshold = 5))
    val salted = canonOut(Linkage.fsLink(
      a, "id", b, "rid", Seq("block"), rules, threshold = 5, salts = 8))
    assert(salted === unsalted)
    assert(unsalted.size >= 900 * 200, "hot block must dominate the pairs")
  }

  // ---- exact low-threshold containment join ------------------------------

  test("containmentJoin equals brute force at thresholds below 0.5") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(3)
    def sentence(k: Int) =
      Seq.fill(k)(s"w${rnd.nextInt(120)}").mkString(" ")
    val tweet = sentence(12)
    val docs = (
      // the asymmetric case Jaccard misses: a short text quoted inside
      // long articles — containment(tweet → article) ≈ 1, Jaccard tiny
      Seq((1L, tweet), (2L, sentence(150) + " " + tweet + " " + sentence(150)),
        (3L, sentence(140) + " " + tweet)) ++
      (4L to 60L).map(i => (i, sentence(30 + rnd.nextInt(40))))
    ).toDF("doc_id", "text")
    // brute force via the verified distinct-gram sets
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        explode(call_function("graft_shingle_hash", col("tk"), lit(3)))
          .as("h"))
    val brute = grams.select(col("doc_id").as("id_a"), col("h"))
      .join(grams.select(col("doc_id").as("id_b"), col("h")), "h")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      .join(grams.groupBy(col("doc_id").as("id_a"))
        .agg(count(lit(1)).as("n_a")), "id_a")
      .withColumn("containment",
        col("n_common").cast("double") / col("n_a").cast("double"))
    for (t <- Seq(0.2, 0.35, 0.5, 0.9)) {
      val got = canon(Dedup.containmentJoin(docs, "doc_id", "text",
        n = 3, minContainment = t))
      val want = canon(brute.filter(col("containment") >= t)
        .select("id_a", "id_b", "n_common", "n_a", "containment"))
      assert(got === want, s"threshold $t")
    }
    // the quoted tweet is contained in both articles at ~1.0
    val hits = Dedup.containmentJoin(docs, "doc_id", "text",
        n = 3, minContainment = 0.9)
      .filter(col("id_a") === 1L).select("id_b")
      .collect().map(_.getLong(0)).toSet
    assert(hits === Set(2L, 3L), s"got $hits")
    intercept[IllegalArgumentException] {
      Dedup.containmentJoin(docs, "doc_id", "text", minContainment = 0.0)
    }
  }

  // ---- early-exit distinct sample (-distinct-limit) ----------------------

  test("distinctSample: n valid distinct tuples; complete when n covers " +
      "the key space; scan partitions stop early") {
    import graft.operators.Sampling
    val li = Tables.load(spark, sfDir, "lineitem")
    val cols = Seq("l_returnflag", "l_linestatus")
    val full = li.select(cols.map(col): _*).distinct()
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    // n >= #distinct: the sample IS the complete distinct set
    val all = Sampling.distinctSample(li, cols, 1000)
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(all === full)
    // small n: exactly n rows, all distinct, all genuinely present
    val five = Sampling.distinctSample(li, cols, 3)
      .collect().map(_.toSeq.map(String.valueOf))
    assert(five.length === 3 && five.toSet.size === 3)
    assert(five.toSet.subsetOf(full))
    // early exit: a satisfied partition stops consuming its iterator, so
    // the vectorized reader never decodes the remaining batches —
    // records read must shrink vs the full distinct
    def recordsRead(body: => Unit): Long =
      Meter.measure(spark)(body)._2.total.inRecords
    val fullRead = recordsRead(
      li.select(cols.map(col): _*).distinct().count())
    val earlyRead = recordsRead(
      Sampling.distinctSample(li, cols, 1).collect())
    assert(earlyRead < fullRead,
      s"early exit must read fewer records ($earlyRead vs $fullRead)")
    // DSL surface: n past the key space returns the complete set
    val viaDsl = graft.dsl.SybilQuery().distinct("l_returnflag")
      .distinctLimitTo(100).run(li)
      .collect().map(_.getString(0)).toSet
    assert(viaDsl === li.select("l_returnflag").distinct()
      .collect().map(_.getString(0)).toSet)
  }

  // ---- ASOF / graph / classifier null discipline -------------------------

  test("asof backward: null keys and null times never match") {
    import graft.operators.AsOfJoin
    val left = Seq((Some("a"), Some(10L), 1L), (None, Some(10L), 2L),
      (Some("a"), None, 3L)).toDF("k", "t", "lid")
    val right = Seq((Some("a"), Some(5L), "x"),
      (None: Option[String], Some(1L), "nullkey"),
      (Some("a"), None: Option[Long], "nulltime"))
      .toDF("k2", "t2", "v")
    val out = AsOfJoin.backward(left, right, "k", "k2", "t", "t2", Seq("v"))
      .collect().map(r => (r.getLong(2), r.getString(3)))
    // only the fully-non-null pair matches; the null-time right row must
    // not become a universal earliest match, and null keys must not
    // match each other
    assert(out.toSeq === Seq((1L, "x")))
    intercept[IllegalArgumentException] {
      AsOfJoin.backward(left, right, "k", "k2", "t", "t2", Seq("lid"))
    }
  }

  test("pageRank drops null-endpoint edges instead of leaking mass") {
    import graft.operators.Graph
    val edges = Seq((Some(1L), Some(2L)), (Some(2L), Some(1L)),
      (Some(1L), None), (None, Some(2L))).toDF("s", "d")
    val r = Graph.pageRank(edges, "s", "d", iterations = 2)
      .collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(r.map(_._1).toSet === Set(1L, 2L), "no phantom null node")
    // the 2-cycle conserves mass: ranks sum to ~1
    assert(math.abs(r.map(_._2).sum - 1.0) < 1e-9)
  }

  test("naiveBayesScore rejects null weak labels loudly") {
    import graft.operators.Classifier
    val docs = Seq((1L, "good great fine", Some(true)),
      (2L, "bad awful poor", Some(false)),
      (3L, "mystery tokens here", None))
      .toDF("doc_id", "text", "lbl")
    val ex = intercept[Exception] {
      Classifier.naiveBayesScore(docs, "doc_id", "text", col("lbl"))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("non-null")))
  }

  // ---- storage / sampling hardening (deep-review) ------------------------

  test("trim refuses to run while a digest holds the lock") {
    import graft.sources.GraftTable
    val root = SparkSpec.tempDir("graft-trimlock")
    val t = new GraftTable(spark, root.toString)
    t.ingest(Seq((1L, 10L)).toDF("id", "v"))
    val lock = root.resolve("digest.lock")
    java.nio.file.Files.writeString(lock, "999999",
      java.nio.file.StandardOpenOption.CREATE_NEW)
    try {
      val ex = intercept[IllegalStateException] {
        t.trim(olderThan = Some(Long.MaxValue))
      }
      assert(ex.getMessage.contains("digest.lock"))
    } finally java.nio.file.Files.deleteIfExists(lock)
    // with the lock released, trim works again
    t.trim(olderThan = Some(0L))
  }

  test("weightedHashSample: HT weight floors at 1.0 above maxWeight") {
    import graft.operators.Sampling
    val docs = (1L to 50L).map(i => (i, if (i <= 5) 5000L else 100L))
      .toDF("doc_id", "w")
    val out = Sampling.weightedHashSample(docs, "doc_id", col("w"),
      maxWeight = 1000L, salt = "t").collect()
    val heavy = out.filter(_.getLong(1) === 5000L)
    assert(heavy.length === 5, "w > maxWeight rows are kept always (P=1)")
    assert(heavy.forall(_.getAs[Double]("sample_weight") === 1.0),
      "P=1 rows must carry HT weight 1.0, not maxWeight/w")
  }

  test("prioritySample rejects weights at or above 2^31 loudly") {
    import graft.operators.Sampling
    val df = Seq((1L, 3000000000L), (2L, 5L)).toDF("id", "w")
    val ex = intercept[Exception] {
      Sampling.prioritySample(df, "id", col("w"), n = 1, salt = "t")
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("2^31")))
  }

  test("packSequences partitions string (UUID) ids instead of collapsing " +
      "to one window partition") {
    import graft.operators.Sampling
    val docs = (1 to 200).map(i =>
      (java.util.UUID.nameUUIDFromBytes(Array(i.toByte)).toString, 10L))
      .toDF("doc_id", "tk")
    val out = Sampling.packSequences(docs, "doc_id", col("tk"),
      budget = 50L, parts = 8)
    val partsUsed = out.select("pack_part").distinct().count()
    assert(partsUsed > 1, s"string ids must spread over parts, got $partsUsed")
    assert(out.filter(col("pack_part").isNull).count() === 0)
    // numeric ids keep the plain modulo (oracle arithmetic unchanged)
    val num = Sampling.packSequences(
      (1L to 16L).toDF("doc_id").withColumn("tk", lit(10L)),
      "doc_id", col("tk"), budget = 50L, parts = 8)
    assert(num.filter(col("doc_id") === 9L).head().getAs[Long]("pack_part")
      === 1L)
  }

  test("cusumChangepoint sees rate drops through silent gaps") {
    import graft.operators.Events
    // 10 dense buckets of 100 events, a 10-bucket silent gap, 10 more:
    // the gap IS the down-change and must fire the down alarm
    val rows = (for {
      b <- (0L until 10L) ++ (20L until 30L)
      i <- 1 to 100
    } yield ("svc", b * 60L + (i % 60))).toDF("label", "ts")
    val r = Events.cusumChangepoint(rows, "label", col("ts"),
      bucketSec = 60L, h = 2L).head()
    assert(r.getAs[Long]("n_buckets") === 30L,
      "the span includes the empty buckets")
    assert(r.get(r.fieldIndex("down_changepoint")) != null,
      "a silent gap must fire the down-side CUSUM")
  }

  // ---- null / degenerate-input discipline (deep-review hardening) --------

  test("moment operators are complete-case: null pairs drop from n AND " +
      "the sums") {
    val df = Seq(("g", Some(1.0), Some(1.0)), ("g", Some(2.0), Some(2.0)),
      ("g", None: Option[Double], Some(3.0)), ("g", Some(4.0), None))
      .toDF("grp", "x", "y")
    val clean = Seq(("g", 1.0, 1.0), ("g", 2.0, 2.0)).toDF("grp", "x", "y")
    assert(canon(Stats.pearson(df, "grp", "x", "y")) ===
      canon(Stats.pearson(clean, "grp", "x", "y")))
    val iccDf = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("a", None),
      ("b", Some(5.0)), ("b", Some(6.0))).toDF("grp", "v")
    val icc = Stats.icc(iccDf, "grp", "v").head()
    assert(icc.getAs[Long]("n") === 4L, "null values excluded from n")
    val m = Stats.pearsonMatrix(df.select(col("x"), col("y")),
      Seq("x", "y")).head()
    assert(m.getAs[Double]("corr_xy") === 1.0,
      "listwise deletion leaves the two perfect pairs")
  }

  test("quantile family: nulls are excluded, never counted as smallest") {
    val df = Seq(("g", Some(1L)), ("g", Some(2L)), ("g", Some(3L)),
      ("g", None: Option[Long]), ("g", None: Option[Long]))
      .toDF("grp", "v")
    val med = Stats.groupedMedian(df, "grp", "v").head()
    assert(med.getAs[Long]("n") === 3L && med.getAs[Long]("median") === 2L,
      "nulls sorted first would have shifted the median to 1")
    val q = Stats.lowerQuantiles(df, "grp", "v", Seq(("p50", 1, 2))).head()
    assert(q.getAs[Long]("p50") === 2L)
    val w = Stats.winsorize(df, "grp", "v").head()
    assert(w.getAs[Long]("n") === 3L)
  }

  test("groupedWeightedMedian rejects fractional weight VALUES loudly, " +
      "accepts integral doubles") {
    // fractional weights would all truncate to 0 and the "median" would
    // silently degenerate to the group min
    val bad = Seq(("g", 1L, 0.4), ("g", 2L, 0.6)).toDF("grp", "v", "w")
    val ex = intercept[Exception] {
      Stats.groupedWeightedMedian(bad, "grp", "v", "w").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("integer-valued")))
    // integral values in a double-typed column are legitimate (TPC-H
    // quantities) and must keep working
    val ok = Seq(("g", 1L, 1.0), ("g", 2L, 3.0)).toDF("grp", "v", "w")
    val r = Stats.groupedWeightedMedian(ok, "grp", "v", "w").head()
    assert(r.getAs[Long]("total_weight") === 4L &&
      r.getAs[Long]("median") === 2L)
    // non-numeric weight types still fail at plan time
    val str = Seq(("g", 1L, "x")).toDF("grp", "v", "w")
    intercept[IllegalArgumentException] {
      Stats.groupedWeightedMedian(str, "grp", "v", "w")
    }
  }

  test("langIdGuess: zero marker hits report unknown, not the tiebreak " +
      "winner") {
    import graft.operators.TextAnalysis
    val r = Seq("the cat and dog", "http://x.test/abc?q=1", "")
      .toDF("text")
      .select(TextAnalysis.langIdGuess(col("text")).as("g"))
      .collect().map(_.getString(0))
    assert(r(0) === "en" && r(1) === "unknown" && r(2) === "unknown")
  }

  test("selfSimilarity survives sub-n-token documents") {
    import graft.operators.TextAnalysis
    val docs = (Seq((1L, "x"), (2L, "")) ++
      (3L to 12L).map(i => (i, s"w$i common tail words here")))
      .toDF("doc_id", "text")
    val r = TextAnalysis.selfSimilarity(docs, "doc_id", "text", k = 10).head()
    // 10 multi-token docs sampled; the 1-token and empty docs are out
    assert(r.getAs[Long]("n_pairs") === 45L)
  }

  test("containmentJoin fuzz: brute-force equality over random corpora " +
      "and thresholds") {
    import graft.operators.Dedup
    // varied vocab densities (dense = heavy chance-sharing, sparse =
    // mostly planted structure) × spliced substrings of other docs, so
    // boundary pairs land on every threshold
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      val vocab = 20 + rnd.nextInt(300)
      val base = (1L to 40L).map { i =>
        (i, Seq.fill(8 + rnd.nextInt(40))(s"v${rnd.nextInt(vocab)}")
          .mkString(" "))
      }
      val spliced = (41L to 55L).map { i =>
        val src = base(rnd.nextInt(base.size))._2.split(" ")
        val take = src.slice(rnd.nextInt(math.max(1, src.length - 4)),
          src.length)
        val pad = Seq.fill(rnd.nextInt(25))(s"v${rnd.nextInt(vocab)}")
        (i, (take ++ pad).mkString(" "))
      }
      val docs = (base ++ spliced).toDF("doc_id", "text")
      val grams = docs
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"),
          explode(call_function("graft_shingle_hash", col("tk"), lit(3)))
            .as("h"))
      val brute = grams.select(col("doc_id").as("id_a"), col("h"))
        .join(grams.select(col("doc_id").as("id_b"), col("h")), "h")
        .filter(col("id_a") =!= col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
        .join(grams.groupBy(col("doc_id").as("id_a"))
          .agg(count(lit(1)).as("n_a")), "id_a")
        .withColumn("containment",
          col("n_common").cast("double") / col("n_a").cast("double"))
      for (t <- Seq(0.25, 0.45, 0.7)) {
        val got = canon(Dedup.containmentJoin(docs, "doc_id", "text",
          n = 3, minContainment = t))
        val want = canon(brute.filter(col("containment") >= t)
          .select("id_a", "id_b", "n_common", "n_a", "containment"))
        assert(got === want, s"seed $seed threshold $t")
      }
    }
  }
}
