package graft.tools

import org.apache.spark.sql.SparkSession

/** Multi-rep per-query bench: Bench's exact methodology (noop-sink full
  * materialization, untimed warm-up, GC between timed runs) but with N
  * timed reps per query, reporting median/min/max — the
  * machine-checkable form of "is this drift real or machine load"
  * (medians with spreads; a single timed run can't distinguish). Used
  * both for the sf0.1 variance anchor and the sf-scaling curve.
  *
  * `runMain graft.tools.ScaleBench <sfDir> <reps> <q1,q2,...|topN>`
  * `topN` (e.g. `top30`) picks the N slowest from BENCH_FULL.json.
  * Output: one JSON line `{"sf":dir,"reps":n,"queries":{name:
  * {"median":s,"min":s,"max":s}}}` (also written to the path in
  * SPARK_GRAFT_SCALEBENCH_OUT if set).
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sel = args.lift(2).getOrElse("top30")
    val names: Seq[String] =
      if (sel.startsWith("top")) {
        // decade-file hygiene (r12 verdict ask #7): dispositioned
        // quadratics (ScaleGate.allowlist — q197's fixture hit 1162
        // CPU-s at sf3 and would DOMINATE an sf10 sweep) are excluded
        // from topN by default; `topN+allow` opts them back in
        val withAllow = sel.endsWith("+allow")
        val n = sel.drop(3).takeWhile(_.isDigit).toInt
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_FULL.json")))
        // minimal parse of the flat {"qname":sec,...} map
        val re = """"(q[0-9]+_[a-z0-9_]+)":([0-9.]+)""".r
        val ranked = re.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .toSeq.sortBy(-_._2)
        val (skip, keep) =
          ranked.partition(q => !withAllow && ScaleGate.allowlist.contains(q._1))
        if (skip.nonEmpty) System.err.println(
          "[scalebench] excluded dispositioned-quadratic fixtures (use " +
            s"top$n+allow to include): ${skip.map(_._1).mkString(", ")}")
        keep.take(n).map(_._1)
      } else sel.split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (t <- graft.core.Tables.all)
      try graft.core.Tables.load(spark, dir, t).count()
      catch { case _: Throwable => }

    def mat(name: String): Unit =
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()

    val out = names.flatMap { name =>
      try {
        // per-query isolation: drop every cached/pinned frame the
        // PREVIOUS query left behind (the bounded PlanCache persists
        // across queries by design — fine for a pipeline reusing one
        // frame, but here it lets a heavy predecessor's resident blocks
        // tax an innocent query's reps; measured 10x inflation on
        // q158@sf1 right after q181's quadratic audit query). The
        // query's OWN warm-up re-registers its pins, so reps still
        // measure the steady state.
        spark.catalog.clearCache()
        mat(name) // untimed warm-up (Bench's steady-state convention)
        val (ts, m) = graft.core.Meter.measure(spark) {
          (1 to reps).map { _ =>
            System.gc()
            val t0 = System.nanoTime()
            mat(name)
            (System.nanoTime() - t0) / 1e9
          }.sorted
        }
        // PER-RUN averages: the meter accumulated across all timed reps,
        // and emitting the raw sum beside a per-run median silently
        // overstates spill by the rep count (r11 review find)
        val c = m.total
        val (sm, sd, pk, cpu) =
          (c.memSpill / reps, c.diskSpill / reps, c.peakExec, c.cpuMs / reps)
        val med = ts(ts.size / 2)
        System.err.println(f"[scalebench] $name med=$med%.3f " +
          f"min=${ts.head}%.3f max=${ts.last}%.3f " +
          f"spillMB=${(sm + sd) / 1e6}%.0f cpuS=${cpu / 1e3}%.1f")
        Some(name -> ((med, ts.head, ts.last, sm, sd, pk, cpu)))
      } catch { case e: Throwable =>
        System.err.println(s"[scalebench] $name FAILED: ${e.getMessage}")
        None
      }
    }
    def s(v: Double) = f"$v%.3f"
    val qs = out.map { case (k, (m, lo, hi, sm, sd, pk, cpu)) =>
      "\"" + k + s"""":{"median":${s(m)},"min":${s(lo)},"max":${s(hi)},""" +
        s""""spill_mem":$sm,"spill_disk":$sd,"peak_exec":$pk,"cpu_ms":$cpu}"""
    }.mkString("{", ",", "}")
    val json = s"""{"sf":"$dir","reps":$reps,"queries":$qs}"""
    sys.env.get("SPARK_GRAFT_SCALEBENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    println(json)
    spark.stop()
  }
}
