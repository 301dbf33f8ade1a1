package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dsl.{AggOp, IntFilter, QFilter, SybilQuery}

/** Outcome counters for one cached run. */
case class CacheOutcome(hits: Int, misses: Int, uncacheable: Int, skipped: Int)

/** The reference's "timestamp resistant" per-block query cache
  * (/root/reference/src/lib/query_cache.go:30-144, README.md:24):
  * per-block partial aggregates keyed by the query WITH block-trivial time
  * filters removed, so a rolling time window still hits cache on interior
  * blocks — only the edge blocks recompute.
  *
  * Per block, each time filter is classified against the block's time
  * extent FROM THE SIDECAR (recorded once at digest time — zero Spark jobs
  * here, pure driver arithmetic over segment stats):
  *   - always-true on the block  → dropped from that block's cache key;
  *   - always-false              → the whole block is skipped (zone map);
  *   - partially overlapping     → block computed fresh, not cached.
  *
  * The top-up block — the newest sub-64Ki block, which the next
  * compacting digest folds into a new block and deletes
  * ([[GraftTable.topUpBlock]]) — is always computed fresh with the full
  * filter set and counted as uncacheable: a partial written for it would
  * be dead after one digest, so a rolling dashboard over freshly digested
  * data would pay a partial write every round and never hit it.
  *
  * Partials are parquet under `table/cache/<queryKey>/<blockId>` —
  * block dirs are immutable after digest, so a cache entry never goes
  * stale; trim/digest producing new block ids naturally miss.
  *
  * Job structure is O(1) in the block count, and a run with no miss
  * launches no job until its result is consumed:
  *   - all cache misses are ONE job (multi-path scan, block id cut from
  *     the input file path, partitioned write into the cache layout);
  *   - hits and the just-written misses are one multi-path read, the
  *     partially-covered blocks and the top-up block one more scan, and
  *     both feed one merge aggregate.
  * Every schema comes from one sidecar snapshot per run, never from a
  * parquet footer job: block dirs read through [[GraftTable.scan]] under
  * the column registry (`TableInfo.columns`, sybil's info.db role), so a
  * column some blocks lack reads as null there; partials read under the
  * analyzed schema of the partial aggregate over an empty frame of that
  * registry schema.
  * The driver never loops jobs over blocks — the pattern that melts down
  * at 100 TB.
  *
  * The cache holds no aggregation rule of its own; it owns the block
  * classification, the cache key, the miss write/publish and the
  * multi-path reads. Every rule is [[graft.dsl.SybilQuery]]'s, as in
  * sybil, where the cache only stores each block's result of the one
  * QuerySpec path: each partial is [[graft.dsl.SybilQuery.prepare]]
  * (set-column check, str-replace, filters) grouped by
  * [[graft.dsl.SybilQuery.keyCols]] over
  * [[graft.dsl.SybilQuery.partialAggs]]; the partials fold through
  * [[graft.dsl.SybilQuery.mergeAggs]] and end in
  * [[graft.dsl.SybilQuery.finish]] (tdigest reshape, sort, limit), the
  * same stage that ends an uncached run. Hist extents enter through
  * [[graft.dsl.SybilQuery.withExtents]] from the sidecar
  * ([[TableInfo.extents]]), as for `GraftTable.query`.
  *
  * Supported ops ([[QueryCache.refusal]] is the gate): Count / Sum / Avg
  * (decimal sum partials, so the merge is exact), approx Distinct
  * (per-block HLL sketches; union is register-wise max) and Hist — flat,
  * log-scaled, nested and the tdigest quantile flavor. The exact hist
  * flavors persist their raw mergeable buffer ([[graft.functions.HistBuf]])
  * with the flavor and bucket layout (sidecar extents) folded into the
  * cache key, so the merged result is bit-identical to a single-pass hist
  * and layout drift invalidates naturally; tdigest persists the
  * extent-free [[graft.functions.QBinsBuf]]. str-replace pre-transforms
  * are folded into the cache key too.
  */
class QueryCache(spark: SparkSession, table: GraftTable) {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Canonical cache key for the query minus the given filters. Hist
    * entries also key on the bucket layout (extents + bucket count): a
    * table whose sidecar extents moved must not merge old-layout partials.
    */
  private def queryKey(q: SybilQuery, dropped: Seq[QFilter]): String = {
    val kept = q.filters.filterNot(dropped.contains)
    md5hex(Seq(
      "v=5", // partial-format version: bump on schema/convention changes
             // (v4: hist null-row sentinel Long.MinValue; zero and
             // negative weights are real records. v5: a data weight of
             // Long.MinValue rejects loudly instead of forging the
             // sentinel; all-zero-weight groups keep samples/extents)
      "g=" + q.groups.mkString(","),
      "a=" + q.aggCols.mkString(","),
      "d=" + q.distinctCols.mkString(","),
      "op=" + q.op.toString,
      "w=" + q.weightCol.getOrElse(""),
      "r=" + q.strReplace.toSeq.sortBy(_._1)
        .map { case (c, (p, r)) => s"$c:$p:$r" }.mkString("&"),
      "h=" + (if (q.op == AggOp.HistOp && q.useTDigest)
        // layout constants (exact cap / ticks) are the whole bucket
        // geometry — fold the versioned key so a constant change can
        // never merge old-layout partials. No extents: the summary is
        // extent-free by design (the flavor's reason to exist).
        graft.functions.QuantileBins.LayoutKey
      else if (q.op == AggOp.HistOp) {
        // the log flavor ignores histBuckets (fixed ticksPerOctave) — keying
        // it would force spurious misses when -int-bucket changes. The tick
        // count comes from the SAME constant the bucket function uses: a
        // hardcoded "t16" here would keep matching old-layout partials if
        // the default ever changed, merging incompatible buckets.
        val layout = if (q.useLogHist && !q.useNestedHist)
          "t" + graft.functions.LogHist.DefaultTicksPerOctave
          else q.histBuckets.toString
        (if (q.useNestedHist) "nested" else if (q.useLogHist) "log" else "flat") +
          ";" + layout + ";" + q.histExtents.filter { case (c, _) =>
            q.aggCols.contains(c) }.toSeq.sorted.mkString(",")
      } else ""),
      "f=" + kept.map(_.toString).sorted.mkString("&")).mkString("|"))
  }

  private sealed trait TimeFilterClass
  private case object AlwaysTrue extends TimeFilterClass
  private case object AlwaysFalse extends TimeFilterClass
  private case object Partial extends TimeFilterClass

  private def classify(f: IntFilter, lo: Long, hi: Long): TimeFilterClass = f.op match {
    case "gt" => if (lo > f.v) AlwaysTrue else if (hi <= f.v) AlwaysFalse else Partial
    case "lt" => if (hi < f.v) AlwaysTrue else if (lo >= f.v) AlwaysFalse else Partial
    case "eq" => if (lo == f.v && hi == f.v) AlwaysTrue
                 else if (f.v < lo || f.v > hi) AlwaysFalse else Partial
    case "neq" => if (f.v < lo || f.v > hi) AlwaysTrue
                  else if (lo == f.v && hi == f.v) AlwaysFalse else Partial
    case _ => Partial
  }

  /** One block set's partial: the query's own [[SybilQuery.prepare]] over
    * `filters`, then [[SybilQuery.partialAggs]] grouped by any extra
    * (non-output) key such as the block id and the query's
    * [[SybilQuery.keyCols]]. */
  private def partial(df: DataFrame, q: SybilQuery, filters: Seq[QFilter],
      extraKeys: Seq[String] = Nil): DataFrame = {
    val aggs = q.partialAggs
    q.prepare(df, filters).groupBy(extraKeys.map(col) ++ q.keyCols: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Run `q` against the table with per-block partial caching. Supports
    * the shapes [[QueryCache.refusal]] admits (others: `table.query(q)`).
    */
  def run(query: SybilQuery): (DataFrame, CacheOutcome) = {
    // ONE sidecar snapshot per run: block stats, the top-up block and
    // every schema below come from it, never from a parquet footer job
    val snap = table.reconciled()
    QueryCache.refusal(query, snap.columns).foreach(why =>
      throw new IllegalArgumentException(why))
    // hist partials need a SHARED bucket layout across blocks and runs:
    // extents come from the sidecar (the stored-IntInfo path) and key the
    // cache, so layout drift invalidates naturally
    val q = query.withExtents(snap.extents)

    val (timeFilters, rest) = q.filters.partition {
      case IntFilter(n, _, _) => n == q.timeCol
      case _ => false
    }
    // a cacheable block drops ALL time filters, so every cacheable block
    // shares one key
    val key = queryKey(q, timeFilters)

    // zero-job classification: block time extents come from segment stats
    // recorded at digest. The top-up block is never cached: the next
    // compacting digest folds it into a new block and deletes it.
    val topUp = table.topUpBlock(snap).map(_.id)
    var hitPaths = List.empty[Path]
    var misses = List.empty[SegmentInfo]
    var uncacheable = List.empty[SegmentInfo]
    var skipped = 0
    for (s <- snap.segments if s.kind == "block") {
      val extent = s.stat(q.timeCol).flatMap(c => c.min.zip(c.max))
      val classes = timeFilters.map(f =>
        extent.map { case (lo, hi) => classify(f.asInstanceOf[IntFilter], lo, hi) }
          .getOrElse(Partial))
      // AlwaysTrue additionally demands a null-free time column in the
      // block (cnt == rows): the extents describe non-null values only,
      // and dropping the time filter would admit null-time rows the
      // batch filter excludes (null-fails-every-filter semantics)
      val noNullTimes = timeFilters.isEmpty ||
        s.stat(q.timeCol).exists(_.cnt == s.rows)
      if (classes.contains(AlwaysFalse)) skipped += 1
      else if (classes.forall(_ == AlwaysTrue) && noNullTimes &&
          !topUp.contains(s.id)) {
        val dest = table.cacheRoot.resolve(key).resolve(s.id)
        if (Files.exists(dest)) hitPaths ::= dest else misses ::= s
      } else uncacheable ::= s
    }

    val noRows = table.scan(snap, Nil)

    // ONE job computes every miss block's partial: multi-path scan, block
    // id cut from the file path, partitioned write straight into the
    // cache layout (cache/<key>/<blockId>).
    if (misses.nonEmpty) {
      val withBlock = table.scan(snap, misses).withColumn("__block", GraftTable.segmentOf)
      val p = partial(withBlock, q, rest, extraKeys = Seq("__block"))
      val tmp = table.cacheRoot.resolve(key).resolve(s".tmp-${java.util.UUID.randomUUID()}")
      p.write.partitionBy("__block").mode(SaveMode.Overwrite).parquet(tmp.toString)
      table.listChildren(tmp).filter(_.getFileName.toString.startsWith("__block=")).foreach { d =>
        val id = d.getFileName.toString.stripPrefix("__block=")
        val dest = table.cacheRoot.resolve(key).resolve(id)
        // a concurrent run may have published the same partial between
        // our existence check and the move — the loser just discards
        // (block partials for the same key are identical by construction).
        // POSIX surfaces the lost race as any FileSystemException
        // (FileAlreadyExists, DirectoryNotEmpty, ...) — benign iff dest
        // now exists; anything else is a real I/O failure and propagates.
        if (!Files.exists(dest))
          try Files.move(d, dest, StandardCopyOption.ATOMIC_MOVE)
          catch {
            case e: java.nio.file.FileSystemException =>
              if (!Files.exists(dest)) throw e
          }
      }
      table.deleteRecursively(tmp)
    }

    // hits and just-written misses: one multi-path read under the
    // partial's analyzed schema. A block whose partial has zero groups
    // writes no dir — read only what exists (it recomputes next run;
    // empty is cheap anyway).
    val cached = hitPaths ++ misses.map(s => table.cacheRoot.resolve(key).resolve(s.id))
      .filter(Files.exists(_))
    val cachedPartials: Option[DataFrame] =
      if (cached.isEmpty) None
      else Some(spark.read.schema(partial(noRows, q, rest).schema)
        .parquet(cached.map(_.toString): _*))

    // partially-covered blocks and the top-up block: one scan with the
    // FULL filter set
    val uncachedPartials: Option[DataFrame] =
      if (uncacheable.isEmpty) None
      else Some(partial(table.scan(snap, uncacheable), q, q.filters))

    // all-blocks-skipped still takes the normal merge path over an EMPTY
    // partial frame, so the zero-row result carries the MERGED output
    // schema (x_avg/x_hist/Distinct), not the partial-stage one — a
    // caller selecting output columns from an empty result must not
    // throw
    val parts0 = Seq(cachedPartials, uncachedPartials).flatten
    val parts =
      if (parts0.nonEmpty) parts0
      else Seq(partial(noRows, q, q.filters))
    val aggs = q.mergeAggs
    val out = q.finish(parts.reduce(_.unionByName(_, allowMissingColumns = false))
      .groupBy(q.groups.map(col): _*).agg(aggs.head, aggs.tail: _*))
    (out, CacheOutcome(hitPaths.size, misses.size, uncacheable.size, skipped))
  }
}

object QueryCache {
  /** THE cacheability gate: why `q` cannot run through the cache on a
    * table with column registry `columns`, or None when it can. `readLog`
    * asks for the undigested ingest log too, which the cache, reading
    * digested blocks only, would silently drop. [[QueryCache.run]] throws
    * it; Cli falls back to the uncached run on it. Reads only the registry
    * (no Spark job). */
  def refusal(q: SybilQuery, columns: Seq[ColumnInfo],
      readLog: Boolean = false): Option[String] = {
    val weightType = q.weightCol.map(wc =>
      columns.find(_.name == wc).map(c => DataType.fromDDL(c.dtype)))
    // an absent column passes: the run fails on its own terms
    val integerWeight = weightType.forall(_.forall {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    val noExtents = if (q.op != AggOp.HistOp || q.useTDigest) None
      else q.aggCols.find(c => !columns.exists(ci =>
        ci.name == c && ci.min.nonEmpty && ci.max.nonEmpty))
    if (readLog)
      Some("the cache reads digested blocks only; -read-log runs uncached")
    else if (q.samples || q.timeBucket.nonEmpty)
      Some("cache supports plain aggregations")
    // distinct-limit returns scan-order-dependent key tuples, not a
    // mergeable partial — caching per-block HLL partials for it would
    // silently answer the wrong query shape
    else if (q.distinctLimit.nonEmpty)
      Some("-distinct-limit is not cacheable (early-exit key sample, not an " +
        "aggregate); run uncached")
    else if (!(q.op == AggOp.CountOp || q.op == AggOp.AvgOp || q.op == AggOp.SumOp ||
        q.op == AggOp.HistOp || q.op == AggOp.DistinctOp(false)))
      Some(s"op ${q.op} not cacheable (exact distinct partials are the full value" +
        " sets — cache the approx flavor, or run uncached)")
    // the tdigest flavor caches its own deterministic partial
    // (QuantileBins); weight stays forbidden, the same rule the uncached
    // run enforces
    else if (q.useTDigest && q.weightCol.nonEmpty)
      Some("-tdigest does not support -weight-col (the quantile summary " +
        "takes no weight); use the exact hist flavors for weighted " +
        "histograms")
    // weighted parity holds only for integer weights: per-block Counts
    // are long sums, and a fractional weight would truncate per block
    // where the uncached run truncates once globally
    else if (!integerWeight)
      Some(s"cache requires an integer weight column; ${q.weightCol.get} is " +
        s"${weightType.flatten.get} (per-block long truncation would " +
        "diverge from the uncached run); run uncached")
    else noExtents.map(c =>
      s"hist cache needs sidecar extents for '$c' (run rebuild)")
  }
}
