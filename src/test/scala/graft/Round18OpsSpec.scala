package graft

import org.apache.spark.sql.functions._

import graft.core.Meter
import graft.operators.Similarity

/** r18 optimization-round specs: the ANN searchers' fused model collect
  * (construction-time driver jobs are a budget, not an accident). */
class Round18OpsSpec extends SparkSpec {
  import spark.implicits._

  private def synthEmb(n: Int, dims: Int = 16) = {
    val rnd = new scala.util.Random(7)
    (0L until n.toLong).map { id =>
      (id, (1 to dims).map(_ => rnd.nextFloat()))
    }.toDF("vec_id", "embedding")
  }

  test("ivfPqTopK/pqTopK construction runs ONE model-collect job (r18: " +
      "was one scan per model piece)") {
    val emb = synthEmb(300)
    // warm: first construction pays codegen/scan setup
    Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      queryIds = Seq(100L, 101L), kNN = 3, nClusters = 8, nProbe = 2,
      m = 4, k = 8, rerank = 10)
    val jobsIvfPq = Meter.measure(spark) {
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        queryIds = Seq(100L, 101L), kNN = 3, nClusters = 8, nProbe = 2,
        m = 4, k = 8, rerank = 10)
    }._2.total.jobs
    assert(jobsIvfPq <= 1,
      s"ivfPqTopK construction must fuse centroids+codebooks+queries " +
        s"into one collect, ran $jobsIvfPq jobs")
    Similarity.pqTopK(emb, "vec_id", "embedding",
      queryIds = Seq(100L, 101L), kNN = 3, m = 4, k = 8, rerank = 10)
    val jobsPq = Meter.measure(spark) {
      Similarity.pqTopK(emb, "vec_id", "embedding",
        queryIds = Seq(100L, 101L), kNN = 3, m = 4, k = 8, rerank = 10)
    }._2.total.jobs
    assert(jobsPq <= 1,
      s"pqTopK construction must fuse codebooks+queries into one " +
        s"collect, ran $jobsPq jobs")
  }

  test("fused model collect: a query id inside the seed range lands in " +
      "both centroid and query models") {
    // queryIds overlapping [0, seedBound) must not be dropped from either
    // side of the fused collect — the searcher's output is the proof
    val emb = synthEmb(60)
    val out = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      queryIds = Seq(3L, 50L), kNN = 2, nClusters = 8, nProbe = 8,
      m = 4, k = 8, rerank = 20)
    val qids = out.select("qid").distinct().collect().map(_.getLong(0)).toSet
    assert(qids === Set(3L, 50L),
      s"both query ids (one inside the seed range) must produce results, got $qids")
  }
}
