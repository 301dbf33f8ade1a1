package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Candidate-volume instrument for every pair-generating family — the
  * r14 q195 pair-count lesson (SCALE.md) made general: when a pair-heavy
  * query's wall drifts between rounds, the FIRST question is whether the
  * input distribution moved (gram/fingerprint/bucket fan-out) or the
  * plan did. This tool prints ONE machine-diffable JSON line per family,
  * measuring the exact candidate-generation stage each operator builds —
  * same parameters as the bench catalog queries — so a future drift is
  * settled by diffing counts, not prose.
  *
  * Families (catalog anchors in parentheses):
  *  - `winnow`      — [[graft.operators.Dedup.winnowPairs]] (q152)
  *  - `containment` — [[graft.operators.Dedup.containmentPairs]] (q180)
  *  - `lsh_minhash` — [[graft.operators.Dedup.lshCandidates]] (q35/q74)
  *  - `lsh_planes`  — [[graft.operators.Similarity.lshBuckets]] (q194)
  *  - `setsim`      — q195; its r13/r14 counts are in SCALE.md
  *
  * `runMain graft.tools.PairVolumes [sfDir] [family…]` (no family = all).
  */
object PairVolumes {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val fams = if (args.length > 1) args.drop(1).toSet
      else Set("winnow", "containment", "lsh_minhash", "lsh_planes")
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder().master("local[16]")
        .config("spark.sql.shuffle.partitions", 16)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.core.Tables.load(spark, dir, "documents")

    def pct(df: DataFrame, c: String): (Long, Long, Long, Long) = {
      val r = df.agg(expr(s"percentile($c, 0.5)").cast("long"),
        expr(s"percentile($c, 0.99)").cast("long"),
        max(col(c)).cast("long"), count(lit(1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }

    if (fams("winnow")) {
      // q152 parameters: k=3, w=4, maxDf=20, minShared=2
      val fps = graft.operators.Dedup
        .winnowFingerprints(docs, "doc_id", "text", k = 3, w = 4)
      fps.cache()
      val dfreq = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      val (dfP50, dfP99, dfMax, distinctFp) = pct(dfreq, "df")
      val kept = fps.join(dfreq.filter(col("df") <= 20L), "fp")
      val candRows = kept.select(col("fp"), col("doc_id").as("id_a"))
        .join(kept.select(col("fp"), col("doc_id").as("id_b")), "fp")
        .filter(col("id_a") < col("id_b"))
      val pairs = candRows.groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_shared"))
      pairs.cache()
      println(s"""{"family":"winnow","fp_rows":${fps.count()},""" +
        s""""distinct_fp":$distinctFp,"df_p50":$dfP50,"df_p99":$dfP99,""" +
        s""""df_max":$dfMax,"kept_rows":${kept.count()},""" +
        s""""cand_rows":${candRows.count()},"pairs":${pairs.count()},""" +
        s""""pairs_min_shared":${pairs.filter(col("n_shared") >= 2).count()}}""")
      fps.unpersist(); pairs.unpersist()
    }

    if (fams("containment")) {
      // q180 parameters: n=3, maxDf=50, minContainment=0.2
      val grams = docs
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"), explode(call_function("graft_shingle_hash",
          col("tk"), lit(3))).as("h"))
      grams.cache()
      val dfreq = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val (dfP50, dfP99, dfMax, distinctG) = pct(dfreq, "df")
      val kept = grams.join(dfreq.filter(col("df") <= 50L), "h")
      val candRows = kept.select(col("h"), col("doc_id").as("id_a"))
        .join(kept.select(col("h"), col("doc_id").as("id_b")), "h")
        .filter(col("id_a") =!= col("id_b"))
      val scored = graft.operators.Dedup.containmentPairsAll(docs,
        "doc_id", "text", n = 3, maxDf = 50L, minContainment = 0.2)
      println(s"""{"family":"containment","gram_rows":${grams.count()},""" +
        s""""distinct_grams":$distinctG,"df_p50":$dfP50,""" +
        s""""df_p99":$dfP99,"df_max":$dfMax,""" +
        s""""kept_rows":${kept.count()},"cand_rows":${candRows.count()},""" +
        s""""scored_pairs":${scored.count()}}""")
      grams.unpersist()
    }

    if (fams("lsh_minhash")) {
      // q35/q74 defaults: bands=2, rows=2
      val bands = graft.operators.Dedup
        .minhashBands(docs, "doc_id", "text")
      bands.cache()
      val buckets = bands.groupBy(col("band"), col("mh"))
        .agg(count(lit(1)).as("sz"))
      buckets.cache()
      val (szP50, szP99, szMax, nBuckets) = pct(buckets, "sz")
      val candUpper = buckets
        .agg(sum(col("sz") * (col("sz") - 1) / 2).cast("long")).head()
        .getLong(0)
      val pairs = graft.operators.Dedup.lshCandidates(bands, "doc_id")
      println(s"""{"family":"lsh_minhash","band_rows":${bands.count()},""" +
        s""""buckets":$nBuckets,"bucket_p50":$szP50,""" +
        s""""bucket_p99":$szP99,"bucket_max":$szMax,""" +
        s""""cand_rows":$candUpper,"pairs":${pairs.count()}}""")
      bands.unpersist(); buckets.unpersist()
    }

    if (fams("lsh_planes")) {
      // q194 parameters: planes=8, seed=42, dims=64 over embeddings
      val emb = graft.core.Tables.load(spark, dir, "embeddings")
      val buckets = graft.operators.Similarity
        .lshBuckets(emb, "vec_id", "embedding", planes = 8, seed = 42,
          dims = 64)
        .groupBy(col("bucket")).agg(count(lit(1)).as("sz"))
      buckets.cache()
      val (szP50, szP99, szMax, nBuckets) = pct(buckets, "sz")
      val candUpper = buckets
        .agg(sum(col("sz") * (col("sz") - 1) / 2).cast("long")).head()
        .getLong(0)
      println(s"""{"family":"lsh_planes","buckets":$nBuckets,""" +
        s""""bucket_p50":$szP50,"bucket_p99":$szP99,""" +
        s""""bucket_max":$szMax,"intra_bucket_pairs":$candUpper}""")
      buckets.unpersist()
    }

    spark.stop()
  }
}
