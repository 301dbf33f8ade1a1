package graft

/** `graft.tools.Profile` end to end on one catalog query. */
class ProfileSpec extends SparkSpec {
  test("Profile prints the per-rep split, the stage table and the plan") {
    val buf = new java.io.ByteArrayOutputStream
    val out = new java.io.PrintStream(buf, true, "UTF-8")
    graft.tools.Profile.run(spark, sfDir, Seq("q01_pricing_summary"), 2, out)
    val text = buf.toString("UTF-8")
    assert(!text.contains("FAILED"), text)
    val lines = text.linesIterator.toSeq
    def after(header: String): Seq[String] = {
      assert(lines.contains(header), text)
      lines.dropWhile(_ != header).drop(1).takeWhile(!_.startsWith("=="))
    }
    val reps = after("== q01_pricing_summary: construct / plan / exec per rep (s, jobs) ==")
    assert(reps.size === 2 && reps.forall(_.startsWith("rep=")), text)
    val stages = after("== q01_pricing_summary: stages of rep 2 ==")
    assert(stages.size >= 2, text) // the column header and at least one stage
    val plan = after("== q01_pricing_summary: plan of rep 2 ==")
    assert(plan.exists(_.startsWith("planning phases (ms): ")), text)
    assert(plan.exists(_.contains("numOutputRows=")), text)
  }
}
