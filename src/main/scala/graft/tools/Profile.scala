package graft.tools

import java.io.PrintStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.{Bench, SparkEntry}
import graft.core.{GraftSession, Meter}

/** Dev tool: where one catalog query's time goes, layer by layer. The
  * session is set up once and warmed up the way [[graft.Bench]] does;
  * then, for each query, after its converged warm-up, it prints:
  *
  *  - each rep's construct / plan / exec split: construction is the
  *    catalog function call (eager collects and pins included), planning
  *    forces the executed plan, execution is the noop-sink write, each
  *    with the Spark jobs it ran;
  *  - the last rep's per-stage table: tasks, run and CPU time, records in
  *    and shuffled, and the catalog call site the stage maps back to;
  *  - the last rep's planning phases, its slowest Catalyst rules, and the
  *    executed plan tree with every non-zero SQL metric.
  *
  * `runMain graft.tools.Profile <q1,q2,...|all> [sfDir] [reps]`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sel = args.headOption.getOrElse(
      sys.error("usage: Profile <q1,q2,...|all> [sfDir] [reps]"))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val names =
      if (sel == "all") SparkEntry.queries.keys.toSeq.sorted
      else sel.split(',').toSeq
    val spark = GraftSession.local()
    try run(spark, dir, names, reps, System.out) finally spark.stop()
  }

  def run(spark: SparkSession, dir: String, names: Seq[String], reps: Int,
      out: PrintStream): Unit = {
    Bench.warmSession(spark, dir)
    for (name <- names)
      try profile(spark, dir, name, reps, out)
      catch { case e: Throwable => out.println(s"== $name FAILED: $e") }
  }

  private def profile(spark: SparkSession, dir: String, name: String,
      reps: Int, out: PrintStream): Unit = {
    val fn = SparkEntry.queries(name)
    spark.catalog.clearCache()
    graft.core.Stats.PlanCache.reset()
    Bench.warmUp(Bench.materialize(fn(spark, dir)))
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    out.println(s"== $name: construct / plan / exec per rep (s, jobs) ==")
    val (cm, em) = (1 to reps).map { r =>
      System.gc()
      val ((df, construct), cm) = Meter.measure(spark) {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        (df, secs(t0))
      }
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val plan = secs(t1)
      val (exec, em) = Meter.measure(spark) {
        val t2 = System.nanoTime()
        Bench.materialize(df)
        secs(t2)
      }
      val e = em.total
      out.println(f"rep=$r construct=$construct%.3f (${cm.total.jobs}) " +
        f"plan=$plan%.3f exec=$exec%.3f (${e.jobs}, tasks=${e.tasks}, " +
        f"cpu=${e.cpuMs / 1e3}%.2f) total=${construct + plan + exec}%.3f")
      (cm, em)
    }.last
    out.println(s"== $name: stages of rep $reps ==")
    out.println("stage tasks   run_ms   cpu_ms    in_rec  shuf_r_rec  " +
      "shuf_w_rec  shuf_w_MB  site")
    for (si <- cm.stages ++ em.stages) {
      val m = si.taskMetrics
      val site = si.details.linesIterator.find(l => l.contains("graft") &&
          !Seq("Profile", "Meter", "Bench").exists(l.contains))
        .getOrElse(si.name).trim.take(90)
      out.println(f"${si.stageId}%5d ${si.numTasks}%5d ${m.executorRunTime}%8d " +
        f"${m.executorCpuTime / 1000000}%8d ${m.inputMetrics.recordsRead}%9d " +
        f"${m.shuffleReadMetrics.recordsRead}%11d " +
        f"${m.shuffleWriteMetrics.recordsWritten}%11d " +
        f"${m.shuffleWriteMetrics.bytesWritten / 1e6}%10.2f  $site")
    }
    val all = cm.total + em.total
    out.println(f"== totals: run=${all.runMs / 1e3}%.2f s " +
      f"cpu=${all.cpuMs / 1e3}%.2f s spill=${(all.memSpill + all.diskSpill) / 1e6}%.1f MB ==")
    out.println(s"== $name: plan of rep $reps ==")
    em.lastExecution.foreach { qe =>
      out.println("planning phases (ms): " + qe.tracker.phases.map {
        case (k, v) => s"$k=${v.durationMs}" }.mkString(" "))
      out.println("top rules (ms): " + qe.tracker.topRulesByTime(8).map {
        case (r, s) => f"${r.split('.').last}=${s.totalTimeNs / 1e6}%.0f" }
        .mkString(" "))
      def walk(p: SparkPlan, depth: Int): Unit = {
        val metrics = p.metrics.toSeq.filter(_._2.value > 0).sortBy(_._1)
          .map { case (k, m) => s"$k=${m.value}" }.mkString(" ")
        out.println(("  " * depth) + p.nodeName + "  " + metrics.take(220))
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
          case q: QueryStageExec => walk(q.plan, depth + 1)
          case _ => p.children.foreach(walk(_, depth + 1))
        }
        p.subqueries.foreach { sq =>
          out.println(("  " * depth) + "SUBQUERY:")
          walk(sq, depth + 1)
        }
      }
      walk(qe.executedPlan, 0)
    }
  }
}
