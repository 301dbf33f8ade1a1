package sybilbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.core.{GraftSession, Printer}
import graft.dsl.{AggOp, SybilQuery}
import graft.sources.{GraftTable, Ingest, QueryCache}

/** One workload: history rows loaded in set-up, rows per timed batch, the
  * time span each batch covers, and uncached shapes per round. Every round
  * is: ingest one batch, digest it, run one dashboard panel over the last
  * day through the query cache and then uncached (the panels take turns),
  * then the next `uncachedPerRound` shapes of the workload's uncached
  * rotation: the ten-shape query panel when `panel` is set, else the
  * newest-samples panel. */
final case class Workload(name: String, historyRows: Int, batchRows: Int,
    batchSpan: Long, panel: Boolean, uncachedPerRound: Int)

object Workload {
  val Day = 24L * 3600

  def apply(name: String, smoke: Boolean): Workload = {
    val w = name match {
      // small batches beside a large history: each adds 2% to the table,
      // so the panel scans nearly the same table every round; ingest and
      // digest run in their per-call-overhead regime, and the dashboard's
      // cache cannot hit (one coarse history block straddles the window)
      case "scan_queries" => Workload(name, 100000, 2000, 60, panel = true, 2)
      // one full block's worth of rows per batch, one day of data each:
      // parsing, coercion, the log write and compaction at size
      case "bulk_load" => Workload(name, 65536, 65536, Day, panel = false, 1)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (scan_queries, bulk_load)")
    }
    if (smoke) w.copy(historyRows = 8000, batchRows = math.min(w.batchRows, 4000))
    else w
  }
}

/** A query shape: name, query, and the check of its `-json` envelope. */
final case class Shape(name: String, query: SybilQuery, check: (Rows, String) => Option[String])

object Shapes {
  import Expect._

  private val q = SybilQuery()
  private val HostRe = "^(alpha|charlie)\\."
  private val hostRe = java.util.regex.Pattern.compile(HostRe)
  private val hostMatches = Gen.Hosts.map(h => hostRe.matcher(h).find())
  /** A fixed hour a week before the newest history row. */
  private val NarrowFrom = Gen.T0 - 7 * Workload.Day

  /** The canonical sybil query shapes, run uncached over the whole table. */
  val panel: Seq[Shape] = Seq(
    Shape("count_status_host", q.groupBy("status", "host"),
      count(Seq(StatusKey, HostKey), all, weighted = false)),
    Shape("avg_by_host", q.groupBy("host").aggregate("ping", "net_bytes").withOp(AggOp.AvgOp),
      avg(Seq(HostKey), all)),
    Shape("hist_by_status", q.groupBy("status").aggregate("ping").withOp(AggOp.HistOp),
      hist(Seq(StatusKey), all, Flat)),
    Shape("loghist_by_status", q.groupBy("status").aggregate("ping").logHistogram,
      hist(Seq(StatusKey), all, Log)),
    Shape("tdigest_by_status", q.groupBy("status").aggregate("ping").tDigestHistogram,
      hist(Seq(StatusKey), all, TDigest)),
    Shape("weighted_filtered_count",
      q.groupBy("status").weighted("weight").intFilterGt("ping", 50).strFilterRe("host", HostRe),
      count(Seq(StatusKey), (r, i) => r.ping(i) > 50 && hostMatches(r.host(i)), weighted = true)),
    Shape("time_buckets", q.timeSeries("time", Workload.Day), buckets(Workload.Day, all)),
    Shape("hll_distinct", q.distinct("host", "ping"), distinct(all)),
    Shape("set_filter_samples", q.setFilterIn("groups", "mod3").takeSamples().limitTo(5),
      samples((_, i) => i % 3 == 0, 5)),
    Shape("narrow_window",
      q.groupBy("status").intFilterGt("time", NarrowFrom).intFilterLt("time", NarrowFrom + 3600),
      count(Seq(StatusKey), (r, i) => r.time(i) > NarrowFrom && r.time(i) < NarrowFrom + 3600,
        weighted = false)))

  /** Dashboard over rows newer than `since`: three panels served through
    * the query cache, and one uncached newest-samples panel. */
  def dashboard(since: Long): (Seq[Shape], Shape) = {
    val recent: Pred = (r, i) => r.time(i) > since
    (Seq(
      Shape("dash_count", q.groupBy("status").intFilterGt("time", since),
        count(Seq(StatusKey), recent, weighted = false)),
      Shape("dash_avg", q.groupBy("host").aggregate("ping", "net_bytes")
        .withOp(AggOp.AvgOp).intFilterGt("time", since), avg(Seq(HostKey), recent)),
      Shape("dash_hist", q.groupBy("status").aggregate("ping").withOp(AggOp.HistOp)
        .intFilterGt("time", since), hist(Seq(StatusKey), recent, Flat))),
      Shape("dash_samples", q.intFilterGt("time", since).takeSamples().limitTo(5),
        samples(recent, 5)))
  }
}

/** What one phase measured. */
final class Stats {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  var opSecs = 0.0
  var inputBytes = 0L
  val freshness = mutable.ArrayBuffer.empty[Double]
  val roundSecs = mutable.ArrayBuffer.empty[Double]
  /** Rows per second of each batch's ingest, and of each digest. */
  val ingestRates = mutable.ArrayBuffer.empty[Double]
  val digestRates = mutable.ArrayBuffer.empty[Double]
  var infoChecks = 0
  var wrongTimeExtents = 0
  val uncached = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val cached = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
}

final case class Args(workload: String, seed: Long, seconds: Double, work: Path,
    trace: Option[Path], smoke: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      Paths.get(need("work")), m.get("trace").filter(_.nonEmpty).map(Paths.get(_)),
      m.get("smoke").contains("1"))
  }
}

/** One run of one workload: set-up, then closed-loop rounds with one
  * client thread until the given seconds have passed. */
final class Bench(a: Args) {
  private val w = Workload(a.workload, a.smoke)
  // one core stays free for the client thread's planning, the JIT and GC:
  // with all four taken, timings swung twice as far from run to run
  private val cores = math.min(3, Runtime.getRuntime.availableProcessors())
  private val tracer = new Tracer(a.trace.isDefined)
  private val listener = new JobListener
  private val rows = new Rows
  private val tableDir = a.work.resolve("table")
  private var spark: SparkSession = _
  private var table: GraftTable = _
  private var broken = false

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Count an operation. An exception fails it and ends the run, since
    * the table may no longer match the generator's rows. */
  private def op[A](s: Stats, what: String)(f: => (A, Double)): Option[(A, Double)] =
    if (broken) None
    else {
      s.attempted += 1
      try {
        val out = f
        s.opSecs += out._2
        Some(out)
      } catch {
        case NonFatal(e) =>
          s.failed += 1
          s.errors += s"$what: $e"
          broken = true
          None
      }
    }

  /** A mismatch fails the operation it checks. */
  private def verify(s: Stats, what: String, r: => Option[String]): Unit =
    tracer.span("check")(r)._1.foreach { e =>
      s.failed += 1
      s.errors += s"$what: $e"
    }

  private def ingest(s: Stats, b: Batch): Unit = op(s, "ingest") {
    tracer.span("op.ingest") {
      val (df, readSecs) = tracer.span("Ingest.readJson",
        (_: org.apache.spark.sql.DataFrame) => Map[String, Any]("rows" -> b.rows, "bytes" -> b.bytes)) {
        Ingest.readJson(spark, b.path.toString)
      }
      val (_, appendSecs) = tracer.span("GraftTable.ingest", (_: Unit) => Map[String, Any](
        "rows" -> b.rows, "bytes" -> b.bytes, "log_bytes" -> dirBytes(tableDir.resolve("ingest")))) {
        table.ingest(df)
      }
      ((), readSecs + appendSecs)
    }._1
  }.foreach { case (_, secs) =>
    s.ingestRates += b.rows / secs; s.inputBytes += b.bytes
  }

  private def digest(s: Stats, newRows: Int): Unit = op(s, "digest") {
    tracer.span("op.digest") {
      tracer.span("GraftTable.digest", (_: Unit) => Map[String, Any]("new_rows" -> newRows)) {
        table.digest()
      }
    }._1
  }.foreach { case (_, secs) => s.digestRates += newRows / secs }

  /** Sidecar read after a digest; its row count and extents must match. */
  private def infoCheck(s: Stats): Unit = op(s, "info") {
    tracer.span("op.info") {
      val (i, infoSecs) = tracer.span("GraftTable.info", (_: graft.sources.TableInfo) =>
        Map[String, Any]("sidecar_bytes" -> Files.size(tableDir.resolve("info.json")))) {
        table.info()
      }
      val (_, segSecs) = tracer.span("GraftTable.blockSegments",
        (v: Seq[graft.sources.SegmentInfo]) => Map[String, Any]("blocks" -> v.size)) {
        table.blockSegments
      }
      (i, infoSecs + segSecs)
    }._1
  }.foreach { case (i, _) =>
    val got = i.columns.collect { case c if c.min.isDefined && c.max.isDefined =>
      c.name -> (c.min.get, c.max.get) }.toMap
    verify(s, "info", Expect.tableInfo(rows, Set("index_int", "ping", "weight", "net_bytes"),
      i.rowCount, got))
    // `time` extents come out wrong after some digests and right after
    // others (README, known fault 5). A check that fails now and then
    // cannot count as a failed operation in a steady share, so its
    // mismatches are counted apart and reported by every run.
    s.infoChecks += 1
    tracer.span("check")(Expect.tableInfo(rows, Set("time"), i.rowCount, got))._1.foreach { e =>
      if (s.wrongTimeExtents == 0) System.err.println(s"[sybilbench] known fault 5, first seen: $e")
      s.wrongTimeExtents += 1
    }
  }

  /** Uncached: `GraftTable.query` through `Printer.toJsonEnvelope`. */
  private def uncached(s: Stats, sh: Shape): Option[String] = op(s, sh.name) {
    tracer.span("op.query", (_: (String, Double)) =>
      Map[String, Any]("shape" -> sh.name, "table_rows" -> rows.n)) {
      val t0 = System.nanoTime()
      val (df, _) = tracer.span("GraftTable.query")(table.query(sh.query))
      val (json, _) = tracer.span("Printer.toJsonEnvelope")(Printer.toJsonEnvelope(df))
      (json, (System.nanoTime() - t0) / 1e9)
    }._1
  }.map { case (json, secs) =>
    s.uncached.getOrElseUpdate(sh.name, mutable.ArrayBuffer.empty) += secs
    verify(s, sh.name, sh.check(rows, json))
    json
  }

  /** Cached: `QueryCache.run` through `Printer.toJsonEnvelope`. Returns
    * the envelope and the time it was ready. */
  private def cachedRun(s: Stats, sh: Shape): Option[(String, Long)] = op(s, sh.name + ".cached") {
    tracer.span("op.cached", (_: ((String, Long), Double)) =>
      Map[String, Any]("shape" -> sh.name, "table_rows" -> rows.n,
        "cache_bytes" -> dirBytes(tableDir.resolve("cache")))) {
      val t0 = System.nanoTime()
      val ((df, _), _) = tracer.span("QueryCache.run", (v: (org.apache.spark.sql.DataFrame,
          graft.sources.CacheOutcome)) => Map[String, Any]("hits" -> v._2.hits,
          "misses" -> v._2.misses, "uncacheable" -> v._2.uncacheable, "skipped" -> v._2.skipped)) {
        new QueryCache(spark, table).run(sh.query)
      }
      val (json, _) = tracer.span("Printer.toJsonEnvelope")(Printer.toJsonEnvelope(df))
      val done = System.nanoTime()
      ((json, done), (done - t0) / 1e9)
    }._1
  }.map { case ((json, done), secs) =>
    s.cached.getOrElseUpdate(sh.name, mutable.ArrayBuffer.empty) += secs
    verify(s, sh.name + ".cached", sh.check(rows, json))
    (json, done)
  }

  /** The uncached shapes other than the dashboard's: the query panel, or
    * the newest-samples panel over rows newer than `since`. */
  private def rotation(since: Long): Seq[Shape] =
    if (w.panel) Shapes.panel else Seq(Shapes.dashboard(since)._2)

  /** One round: batch `r` in and digested; then each of the dashboard
    * panels `cached` through the query cache (the first one's return
    * closes the batch's freshness clock), the sidecar read and checked,
    * and the same panel uncached on the same table state (timed as an
    * uncached shape; the two envelopes must be equal); then the uncached
    * shapes `rest` of the rotation. A timed round runs panel `r` (of
    * three) and the next `uncachedPerRound` shapes of the rotation. The
    * warm-up round, in set-up, runs every panel and the whole rotation
    * twice: a shape's first run is several times slower than its later
    * ones, and its second one still up to twice as slow as its third. */
  private def round(s: Stats, r: Int, warmup: Boolean): Unit = tracer.span("round",
      (_: Unit) => Map[String, Any]("round" -> r)) {
    val b = Gen.batch(rows, a.work.resolve(s"batch-$r.jsonl"), w.batchRows, a.seed, r, w.batchSpan)
    try {
      val t0 = System.nanoTime()
      ingest(s, b)
      digest(s, b.rows)
      val since = Gen.T0 + r * w.batchSpan - Workload.Day - 1
      val (dash, _) = Shapes.dashboard(since)
      val rot = rotation(since)
      val (cached, rest) =
        if (warmup) (dash, rot ++ rot)
        else (Seq(dash(r % dash.size)),
          (0 until w.uncachedPerRound).map(i => rot((r * w.uncachedPerRound + i) % rot.size)))
      for ((sh, k) <- cached.zipWithIndex) {
        val c = cachedRun(s, sh)
        if (k == 0) c.foreach { case (_, done) => s.freshness += (done - t0) / 1e9 }
        infoCheck(s)
        val u = uncached(s, sh)
        for ((cj, _) <- c; uj <- u) verify(s, sh.name + ".cached", Expect.sameResult(cj, uj))
      }
      rest.foreach(uncached(s, _))
      s.roundSecs += (System.nanoTime() - t0) / 1e9
    } finally Files.deleteIfExists(b.path)
  }._1

  /** Feed the checker one perturbed expectation: it must reject it. */
  private def selfCheck(): Unit = {
    val sh = Shapes.panel.head
    val json = Printer.toJsonEnvelope(table.query(sh.query))
    // one row left out of the expectation: its group's count is one short
    val perturbed = Expect.count(Seq(Expect.StatusKey, Expect.HostKey),
      (_, i) => i != 0, weighted = false)(rows, json)
    require(sh.check(rows, json).isEmpty, "self-check: the unperturbed check failed")
    require(perturbed.isDefined, "self-check: the checker accepted a perturbed expectation")
    System.err.println(s"[sybilbench] self-check: perturbed expectation rejected (${perturbed.get})")
  }

  /** Session start, history load (one ingest, one digest) and the untimed
    * warm-up rounds over every operation shape. Returns its seconds,
    * excluding input generation and checks. */
  private def setup(s: Stats, history: Batch): Double = tracer.span("setup") {
    val (session, sessionSecs) = tracer.span("GraftSession.local")(GraftSession.local(cores))
    spark = session
    tracer.attach(spark.sparkContext)
    if (tracer.enabled) spark.sparkContext.addSparkListener(listener)
    table = new GraftTable(spark, tableDir.toString)
    ingest(s, history)
    digest(s, history.rows)
    tracer.span("warmup")(round(s, 1, warmup = true))
    if (s.failed > 0) throw new IllegalStateException("set-up failed: " + s.errors.mkString("; "))
    sessionSecs + s.opSecs
  }._1

  def run(): Int = {
    Files.createDirectories(a.work)
    val history = Gen.history(rows, a.work.resolve("history.jsonl"), w.historyRows, a.seed)
    val warm = new Stats
    val setupSecs = setup(warm, history)
    Files.delete(history.path)
    selfCheck()

    val s = new Stats
    val gcBefore = gcSecs()
    // whole cycles of the dashboard's panels, so that every run times
    // each panel equally often, and at least MinCycles of them
    val cycle = Shapes.dashboard(0)._1.size
    val first = 2
    var r = first
    val t0 = System.nanoTime()
    tracer.span("timed") {
      while (!broken && (r - first < Bench.MinCycles * cycle || (r - first) % cycle != 0 ||
          (System.nanoTime() - t0) / 1e9 < a.seconds)) {
        round(s, r, warmup = false)
        r += 1
      }
    }
    val gc = gcSecs() - gcBefore
    val rounds = r - first
    val stored = dirBytes(tableDir)
    val input = warm.inputBytes + s.inputBytes // the history and warm-up batches are in the table too
    def medians(m: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]) =
      m.values.map(v => Bench.median(v.toSeq)).toSeq
    val metrics = Seq(
      ("setup_s", setupSecs, "s", "lower"),
      ("query_s", Bench.geomean(medians(s.uncached)), "s", "lower"),
      ("cached_query_s", Bench.geomean(medians(s.cached)), "s", "lower"),
      ("ingest_rows_per_s", Bench.median(s.ingestRates.toSeq), "1/s", "higher"),
      ("digest_rows_per_s", Bench.median(s.digestRates.toSeq), "1/s", "higher"),
      ("freshness_p50_s", Bench.median(s.freshness.toSeq), "s", "lower"),
      ("stored_bytes_per_input_byte", stored.toDouble / input, "ratio", "lower"))
    val correct = s.failed == 0

    System.err.println(f"[sybilbench] ${w.name} seed ${a.seed}: $rounds rounds in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s after a $setupSecs%.2f s set-up")
    for ((k, v) <- s.uncached ++ s.cached.map { case (k, v) => (k + ".cached", v) })
      System.err.println(f"[sybilbench]   $k%-24s n=${v.size}%3d median ${Bench.median(v.toSeq) * 1000}%8.1f ms: " +
        v.map(x => f"${x * 1000}%.0f").mkString(" "))
    for ((k, v) <- Seq("warm-up round" -> warm.roundSecs, "timed round" -> s.roundSecs,
        "freshness" -> s.freshness))
      System.err.println(s"[sybilbench] $k seconds: " + v.map(x => f"$x%.2f").mkString(" "))
    for ((k, v) <- Seq("ingest" -> s.ingestRates, "digest" -> s.digestRates))
      System.err.println(s"[sybilbench] $k rows/s: " + v.map(x => f"$x%.0f").mkString(" "))
    System.err.println(s"[sybilbench] known fault 5 (table-level time extents wrong after a digest): " +
      s"${warm.wrongTimeExtents + s.wrongTimeExtents} of ${warm.infoChecks + s.infoChecks} sidecar checks")
    s.errors.take(20).foreach(e => System.err.println(s"[sybilbench] FAILED $e"))
    for ((k, v, u, better) <- metrics) System.err.println(s"[sybilbench] metric $k $v $u $better")

    // stopping the context first drains its listener bus, so the trace
    // holds every job's task counts
    spark.stop()
    a.trace.foreach { p =>
      tracer.write(p, listener.snapshot, Map(
        "workload" -> w.name, "seed" -> a.seed, "rounds" -> rounds,
        "attempted" -> s.attempted, "failed" -> s.failed, "correct" -> correct,
        "gc_s" -> gc, "table_rows" -> rows.n.toLong))
    }

    val m = new ObjectMapper()
    val o = m.createObjectNode()
    o.put("correct", correct); o.put("attempted", s.attempted); o.put("failed", s.failed)
    val mo = o.putObject("metrics")
    metrics.foreach { case (k, v, u, _) => val e = mo.putObject(k); e.put("value", v); e.put("unit", u) }
    println(m.writeValueAsString(o))
    if (correct) 0 else 1
  }

  private def gcSecs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
}

object Bench {
  /** Cycles of dashboard panels a run times even when the clock has run
    * out: three samples of each panel, so that each panel's median leaves
    * out the slower first timed round. */
  val MinCycles = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

object Main {
  def main(argv: Array[String]): Unit = sys.exit(new Bench(Args.parse(argv)).run())
}
