package graft.dsl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.functions.{BasicHist, LogHist, NestedHist, QuantileBins}

/** Aggregation operators of the reference engine (`-op`,
  * /root/reference/src/cmd/cmd_query.go:242-328). */
sealed trait AggOp
object AggOp {
  case object CountOp extends AggOp
  case object AvgOp extends AggOp
  case object SumOp extends AggOp
  case object HistOp extends AggOp
  /** count-distinct; exact=false → HLL (sybil's LogLogBeta path). */
  final case class DistinctOp(exact: Boolean = false) extends AggOp
}

/** One conjunct of the filter list. Missing column values (nulls) fail every
  * filter, including negated ones — sybil semantics
  * (/root/reference/src/lib/filter.go:172-174,200-202): SQL three-valued
  * logic already drops null comparisons, and we intentionally do NOT add
  * null-rescue for `neq`/`nre`/`nin`.
  */
sealed trait QFilter { def toColumn: Column }
final case class IntFilter(name: String, op: String, v: Long) extends QFilter {
  def toColumn: Column = op match {
    case "gt"  => col(name) > v
    case "lt"  => col(name) < v
    case "eq"  => col(name) === v
    case "neq" => col(name) =!= v
    case other => throw new IllegalArgumentException(s"int filter op $other")
  }
}
final case class StrFilter(name: String, op: String, v: String) extends QFilter {
  def toColumn: Column = op match {
    case "eq"  => col(name) === v
    case "neq" => col(name) =!= v
    case "re"  => col(name).rlike(v)
    case "nre" => !col(name).rlike(v)
    case other => throw new IllegalArgumentException(s"str filter op $other")
  }
}
final case class SetFilter(name: String, op: String, v: String) extends QFilter {
  def toColumn: Column = op match {
    case "in"  => array_contains(col(name), v)
    case "nin" => !array_contains(col(name), v)
    case other => throw new IllegalArgumentException(s"set filter op $other")
  }
}

/** Declarative query mirroring the reference's public query surface (the Go
  * client builder, /root/reference/src/api/cmd_query.go:37-152:
  * `Query().GroupBy(...).Aggregate(...).IntFilterGt(...).TimeSeries(...)`),
  * compiled to a single DataFrame expression tree so Catalyst gets the
  * whole plan (pushdown, pruning, partial aggregation — SURVEY.md §4).
  *
  * This is the one owner of the aggregation rules, cached or not (sybil
  * runs both through one QuerySpec path, query_cache.go). [[run]] is
  * [[prepare]] → one aggregate over the single-pass list → [[finish]].
  * The query cache ([[graft.sources.QueryCache]]) calls the same stages:
  * [[prepare]] per block set, [[keyCols]] and [[partialAggs]] for each
  * block's partial, [[mergeAggs]] over the partials, then [[finish]]. All
  * three aggregate lists read one definition of each per-op input rule
  * (group keys, hist value and weight, tdigest flag, distinct tuple, avg
  * denominator), so the cached and uncached answers cannot drift apart.
  *
  * Intentionally NOT replicated from the reference: the lossy top-k prune
  * (aggregate.go:469-495) and the 100k group cap (aggregate.go:15) — Spark
  * computes exact results with bounded memory via spillable hash
  * aggregation, so the approximations would only lose correctness.
  */
final case class SybilQuery(
    groups: Seq[String] = Nil,
    aggCols: Seq[String] = Nil,
    op: AggOp = AggOp.CountOp,
    filters: Seq[QFilter] = Nil,
    distinctCols: Seq[String] = Nil,
    timeCol: String = "time",
    timeBucket: Option[Long] = None,
    weightCol: Option[String] = None,
    strReplace: Map[String, (String, String)] = Map.empty,
    sortBy: Option[String] = None, // None → $COUNT (sybil default)
    sortAsc: Boolean = false,
    limit: Option[Int] = Some(100),
    samples: Boolean = false,
    sampleCols: Seq[String] = Nil,
    histBuckets: Int = 1000,
    histExtents: Map[String, (Long, Long)] = Map.empty,
    useLogHist: Boolean = false,
    useNestedHist: Boolean = false,
    useTDigest: Boolean = false,
    distinctLimit: Option[Int] = None) {

  def groupBy(cols: String*): SybilQuery = copy(groups = groups ++ cols)
  def aggregate(cols: String*): SybilQuery = copy(aggCols = aggCols ++ cols)
  def withOp(o: AggOp): SybilQuery = copy(op = o)
  def intFilterGt(c: String, v: Long): SybilQuery = copy(filters = filters :+ IntFilter(c, "gt", v))
  def intFilterLt(c: String, v: Long): SybilQuery = copy(filters = filters :+ IntFilter(c, "lt", v))
  def intFilterEq(c: String, v: Long): SybilQuery = copy(filters = filters :+ IntFilter(c, "eq", v))
  def intFilterNeq(c: String, v: Long): SybilQuery = copy(filters = filters :+ IntFilter(c, "neq", v))
  def strFilterEq(c: String, v: String): SybilQuery = copy(filters = filters :+ StrFilter(c, "eq", v))
  def strFilterNeq(c: String, v: String): SybilQuery = copy(filters = filters :+ StrFilter(c, "neq", v))
  def strFilterRe(c: String, v: String): SybilQuery = copy(filters = filters :+ StrFilter(c, "re", v))
  def strFilterNre(c: String, v: String): SybilQuery = copy(filters = filters :+ StrFilter(c, "nre", v))
  def setFilterIn(c: String, v: String): SybilQuery = copy(filters = filters :+ SetFilter(c, "in", v))
  def setFilterNin(c: String, v: String): SybilQuery = copy(filters = filters :+ SetFilter(c, "nin", v))
  def distinct(cols: String*): SybilQuery = copy(distinctCols = cols, op = AggOp.DistinctOp())
  /** `-distinct-limit` (aggregate.go:19; table_query.go:259-280): short
    * the distinct query at `n` elements — returns the distinct KEY
    * tuples themselves (up to n, early-exit per scan partition via
    * [[graft.operators.Sampling.distinctSample]]), not counts. Which
    * tuples come back is scan-order dependent, as in the reference;
    * `n >= `#distinct is deterministic. */
  def distinctLimitTo(n: Int): SybilQuery =
    copy(op = AggOp.DistinctOp(), distinctLimit = Some(n))
  def timeSeries(col: String, bucketSecs: Long): SybilQuery =
    copy(timeCol = col, timeBucket = Some(bucketSecs))
  /** Designate the time column without turning on time-series bucketing
    * (sybil `-time-col`, cmd_query.go:39). */
  def timeColumn(col: String): SybilQuery = copy(timeCol = col)
  def weighted(col: String): SybilQuery = copy(weightCol = Some(col))
  def replace(col: String, pattern: String, replacement: String): SybilQuery =
    copy(strReplace = strReplace + (col -> (pattern, replacement)))
  def sort(col: String): SybilQuery = copy(sortBy = Some(col))
  def ascending: SybilQuery = copy(sortAsc = true)
  def limitTo(n: Int): SybilQuery = copy(limit = Some(n))
  def takeSamples(cols: String*): SybilQuery = copy(samples = true, sampleCols = cols)
  /** Supply known column extents for hist bucketing (the stored-IntInfo
    * path, table_column_info.go) — avoids the extent pre-scan entirely.
    * GraftTable.query injects its sidecar extents through this. */
  def withExtents(m: Map[String, (Long, Long)]): SybilQuery =
    copy(histExtents = histExtents ++ m)
  /** `-loghist` (cmd_query.go:45): hist op uses log-scaled buckets. */
  def logHistogram: SybilQuery = copy(op = AggOp.HistOp, useLogHist = true)
  /** The reference's TRUE `-loghist` structure — nested MultiHist with
    * halving subranges (hist_multi.go:223-257) — as a hist-op variant:
    * fine absolute resolution at the bottom of the range, cheap wide tail.
    */
  def nestedHistogram: SybilQuery = copy(op = AggOp.HistOp, useNestedHist = true)
  /** `-int-bucket` (cmd_query.go:52): hist bucket count override. */
  def bucketCount(n: Int): SybilQuery = copy(histBuckets = n)
  /** `-tdigest` (hist_tdigest.go): the hist op's quantile-sketch flavor,
    * mapped onto the engine's deterministic mergeable quantile summary
    * ([[graft.functions.QuantileBins]]: exact value map up to 8192
    * distinct, then fixed log-tick bins — no extent pre-scan, the same
    * role the reference's t-digest plays; the summary bytes differ by
    * design, and determinism is chosen over the randomized
    * t-digest/KLL/GK family so per-block cache partials merge to the
    * bit-identical single-pass answer). The output surface mirrors
    * hist_tdigest.go
    * faithfully, quirks included: `percentiles` = approx q(0.00..0.99)
    * (GetPercentiles, hist_tdigest.go:97-106), `mean` = the approx
    * MEDIAN (Mean() returns Quantile(0.5), hist_tdigest.go:62-64),
    * `min`/`max` = q(0)/q(1) (hist_tdigest.go:49-56), `stddev` = 0
    * (unimplemented there, hist_tdigest.go:93-95); `count`/`samples`
    * exact. Weighted queries must use the exact hist flavors —
    * Spark's sketch takes no weight, and a silently unweighted
    * quantile would be wrong, so the combination throws. */
  def tDigestHistogram: SybilQuery = copy(op = AggOp.HistOp, useTDigest = true)

  /** Compile and run against a table DataFrame: [[prepare]], then
    * `-samples` or `-distinct-limit`, or else one aggregate over the
    * single-pass list, then [[finish]]. */
  def run(df: DataFrame): DataFrame = {
    // time-filter bucket alignment (filter.go:86-95): int filters on the
    // time column are floored to the bucket boundary.
    val aligned = timeBucket match {
      case Some(b) => filters.map {
        case IntFilter(c, o, v) if c == timeCol => IntFilter(c, o, v / b * b)
        case f => f
      }
      case None => filters
    }
    val d = prepare(df, aligned)

    if (samples) {
      // `-samples` (table_query.go:96-103; printer.go:388-455): newest
      // first by default, or by an arbitrary column when `-sort` is set
      // (printer.go:388-414 SortBlocksByCol). Remaining columns break ties
      // so the result is fully deterministic (the reference's block order is
      // not; exactness wins for the oracle gate).
      val names = if (sampleCols.nonEmpty) sampleCols else d.columns.toSeq
      val primary = sortBy.filterNot(_ == "$COUNT").getOrElse(timeCol)
      val head = if (sortAsc) col(primary).asc else col(primary).desc
      return d.select(names.map(col): _*)
        .orderBy(head +: names.filterNot(_ == primary).map(col(_).asc): _*)
        .limit(limit.getOrElse(100))
    }

    // `-distinct-limit`: early-exit distinct key sample — bypasses the
    // aggregate machinery entirely (the reference shorts its group-by
    // block loop; we short each scan partition's iterator)
    for (n <- distinctLimit) {
      val cols = if (distinctCols.nonEmpty) distinctCols else aggCols
      require(cols.nonEmpty,
        "-distinct-limit needs -distinct (or agg) columns")
      return graft.operators.Sampling.distinctSample(d, cols, n)
    }

    val bucketCol = timeBucket.map { b =>
      ((col(timeCol).cast(LongType) / b).cast(LongType) * b).as("time_bucket")
    }
    val aggs = withScannedExtents(d).singlePassAggs
    finish(d.groupBy(bucketCol.toSeq ++ keyCols: _*).agg(aggs.head, aggs.tail: _*))
  }

  // ---- stages shared by `run` and the query cache ----------------------

  /** Prepare stage: reject set-column group keys, apply the str-replace
    * pre-transform, then filter on the conjunction of `fs`. [[run]] passes
    * the query's own filters; the query cache passes the filters a block
    * set still needs. */
  private[graft] def prepare(df: DataFrame, fs: Seq[QFilter]): DataFrame = {
    // set (array) columns cannot be group-by keys — explicit rejection like
    // the reference (aggregate.go group-by only binds int/str columns; a
    // set key would need an explode the user must opt into)
    for (g <- groups; f <- df.schema.fields.find(_.name == g))
      if (f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        throw new IllegalArgumentException(
          s"cannot group by set column '$g' (explode it first)")
    // str-replace pre-transform (table_query.go:34-51): rewrite the column
    // before any filter/group sees it.
    val d = strReplace.foldLeft(df) { case (acc, (c, (pat, rep))) =>
      acc.withColumn(c, regexp_replace(col(c), pat, rep))
    }
    if (fs.nonEmpty) d.filter(fs.map(_.toColumn).reduce(_ && _)) else d
  }

  /** This query with hist extents for every agg column of an exact hist:
    * the supplied ones (the sidecar's, through [[withExtents]]), else ONE
    * batched min/max job over the prepared frame, never one per column. */
  private def withScannedExtents(d: DataFrame): SybilQuery = {
    val missing =
      if (op == AggOp.HistOp && !useTDigest) aggCols.filterNot(histExtents.contains)
      else Nil
    if (missing.isEmpty) this
    else {
      val aggsMM = missing.flatMap(c => Seq(
        min(col(c).cast(LongType)).as(s"__mn_$c"),
        max(col(c).cast(LongType)).as(s"__mx_$c")))
      val r = d.agg(aggsMM.head, aggsMM.tail: _*).collect()(0)
      withExtents(missing.map { c =>
        val mn = Option(r.getAs[Any](s"__mn_$c")).map(_.asInstanceOf[Long]).getOrElse(0L)
        val mx = Option(r.getAs[Any](s"__mx_$c")).map(_.asInstanceOf[Long]).getOrElse(0L)
        c -> (mn, mx)
      }.toMap)
    }
  }

  // per-op input rules: one definition each, read by the aggregate lists

  private def weight: Column = weightCol.map(col).getOrElse(lit(1L))

  /** Group keys; a missing group value renders as "" (aggregate.go:305-313). */
  private[graft] def keyCols: Seq[Column] =
    groups.map(g => coalesce(col(g).cast("string"), lit("")).as(g))

  /** Exact hist value and weight of column `c`. Null-populated rows reach
    * the typed (Long, Long) aggregator as the Long.MinValue SENTINEL
    * (which it skips entirely) — a raw null would crash the tuple
    * deserializer, where sybil silently skips unpopulated records per
    * column (aggregate.go:246-259). Long.MinValue, not 0 or -1: zero and
    * negative weights are REAL records in a weighted query (they count
    * toward samples/min/max), so the sentinel must sit outside the
    * plausible weight range. "Populated" is judged on the CAST result, not
    * the raw column — a non-numeric string casts to null and must take the
    * sentinel path rather than silently binning at value 0 with full
    * weight. */
  private def histInput(c: String): (Column, Column) = {
    val cv = col(c).cast(LongType)
    // a DATA weight of Long.MinValue would forge the sentinel and vanish
    // silently (while Count still summed it); remap it to -1 so the
    // aggregator's negative-weight rejection fires loudly like every
    // other negative
    val rawW = coalesce(weight.cast(LongType), lit(0L))
    (coalesce(cv, lit(0L)),
      when(cv.isNotNull,
        when(rawW === lit(Long.MinValue), lit(-1L)).otherwise(rawW))
        .otherwise(lit(Long.MinValue)))
  }

  /** `-tdigest` value, populated flag and populated count of column `c`.
    * Per-column POPULATED count: the reference's hist_tdigest increments
    * count/samples once per added sample, so a column with nulls must not
    * inherit the whole-group Count/Samples. Populated = the cast succeeds
    * (same rule as the exact hist flavors), signalled by an explicit flag
    * rather than an in-band sentinel (every long is legal quantile data);
    * with -tdigest weight is forbidden, so count == samples == count(cast).
    * Quantiles come from the deterministic mergeable summary
    * (QuantileBins) rather than percentile_approx/KLL: the randomized
    * sketches are insertion-order dependent, so the query cache's
    * per-block partials could never merge to the bit-identical
    * single-pass answer. Exact for ≤8192 distinct values per group,
    * ≤1/64 relative bin error past that. */
  private def tdigestInput(c: String): (Column, Column, Column) = {
    require(weightCol.isEmpty,
      "-tdigest does not support -weight-col (the quantile sketch " +
        "takes no weight); use the exact hist flavors for weighted " +
        "histograms")
    // one flavor at a time — silently preferring the sketch over a
    // requested bucket structure would be wrong twice over
    require(!useLogHist && !useNestedHist,
      "-tdigest cannot combine with -loghist/-nested-hist: pick one " +
        "hist flavor")
    val cv = col(c).cast(LongType)
    (coalesce(cv, lit(0L)), when(cv.isNotNull, lit(1L)).otherwise(lit(0L)), count(cv))
  }

  /** The distinct op's key columns. */
  private def distinctKey: Seq[Column] = {
    require(distinctCols.nonEmpty || aggCols.nonEmpty,
      "distinct op needs -distinct (or agg) columns")
    (if (distinctCols.nonEmpty) distinctCols else aggCols).map(col)
  }

  /** Approx-distinct sketch input. Any-null tuples are EXCLUDED, matching
    * the exact op (SQL COUNT DISTINCT skips them) — a bare concat_ws would
    * silently drop the null component and conflate ('x', null) with
    * (null, 'x'). */
  private def distinctInput: Column = {
    val dcols = distinctKey
    when(dcols.map(_.isNotNull).reduce(_ && _), concat_ws("\u0001", dcols: _*))
  }

  /** Avg denominator of column `c`: sybil averages each column over the
    * records where it is POPULATED (aggregate.go:246-259) — a whole-group
    * sum(w) denominator would count null rows as zeros (the numerator's
    * decimal sum skips them). */
  private def populatedWeight(c: String): Column =
    sum(when(col(c).isNotNull, weight).otherwise(lit(0L)))

  // the three aggregate lists built from those rules

  private def countAggs: Seq[Column] =
    Seq(sum(weight).cast(LongType).as("Count"), count(lit(1)).as("Samples"))

  /** Single-pass list: the uncached run's aggregates. Sums go through the
    * native int128 sum (expressions/DecimalSum.scala) — bit-identical to
    * sum(cast(c as decimal(38,6)) [* w]) cast double, ~3.5x faster than
    * the decimal sums the partial list needs for exact merges. */
  private def singlePassAggs: Seq[Column] = {
    def wsum(c: String): Column = weightCol match {
      case Some(wc) => call_function("graft_dsum", col(c), lit(6), col(wc))
      case None     => call_function("graft_dsum", col(c), lit(6))
    }
    countAggs ++ (op match {
      case AggOp.CountOp => Nil
      case AggOp.AvgOp => aggCols.map(c =>
        (wsum(c).cast(DoubleType) / populatedWeight(c)).as(s"${c}_avg"))
      case AggOp.SumOp => aggCols.map(c => wsum(c).cast(DoubleType).as(s"${c}_sum"))
      case AggOp.HistOp if useTDigest => aggCols.flatMap { c =>
        // one summary per column feeds every output field (see [[finish]])
        val (v, populated, n) = tdigestInput(c)
        Seq(QuantileBins.qpcts(v, populated).as(s"__pcts_$c"), n.as(s"__n_$c"))
      }
      case AggOp.HistOp => aggCols.map { c =>
        val (mn, mx) = histExtents(c)
        val (v, wv) = histInput(c)
        (if (useNestedHist) NestedHist.nestedHist(v, wv, mn, mx, histBuckets)
        else if (useLogHist) LogHist.logHist(v, wv, mn, mx)
        else BasicHist.hist(v, wv, mn, mx, histBuckets)).as(s"${c}_hist")
      }
      case AggOp.DistinctOp(exact) =>
        // approx path: DataSketches HLL (hll_sketch_agg) rather than
        // approx_count_distinct — the binary sketch is a first-class
        // value, so the query cache persists per-block sketches and the
        // merged estimate (union = register-wise max, deterministic) is
        // IDENTICAL to the single-pass estimate
        val d = if (exact) countDistinct(distinctKey.head, distinctKey.tail: _*)
          else hll_sketch_estimate(hll_sketch_agg(distinctInput))
        Seq(d.as("Distinct"))
    })
  }

  /** Partial list: one block set's mergeable state, persisted by the query
    * cache. Sums are decimal(38,6) so their merge is exact; the exact hist
    * flavors keep their raw mergeable buffer under the (sidecar) extents,
    * tdigest its extent-free QuantileBins summary, approx distinct its HLL
    * sketch. */
  private[graft] def partialAggs: Seq[Column] = {
    def wsum(c: String): Column = weightCol match {
      case Some(wc) => sum(col(c).cast(DecimalType(38, 6)) * col(wc))
      case None     => sum(col(c).cast(DecimalType(38, 6)))
    }
    countAggs ++ (op match {
      case AggOp.CountOp => Nil
      case AggOp.AvgOp => aggCols.flatMap(c =>
        Seq(wsum(c).as(s"__sum_$c"), populatedWeight(c).as(s"__wn_$c")))
      case AggOp.SumOp => aggCols.map(c => wsum(c).as(s"__sum_$c"))
      case AggOp.HistOp if useTDigest => aggCols.flatMap { c =>
        val (v, populated, n) = tdigestInput(c)
        Seq(QuantileBins.qpctsPartial(v, populated).as(s"__qb_$c"), n.as(s"__tdn_$c"))
      }
      case AggOp.HistOp => aggCols.map { c =>
        val (mn, mx) = histExtents(c)
        val (v, wv) = histInput(c)
        (if (useNestedHist) NestedHist.nestedHistPartial(v, wv, mn, mx, histBuckets)
        else if (useLogHist) LogHist.logHistPartial(v, wv, mn, mx)
        else BasicHist.histPartial(v, wv, mn, mx, histBuckets)).as(s"__hist_$c")
      }
      case AggOp.DistinctOp(_) => Seq(hll_sketch_agg(distinctInput).as("__hll"))
    })
  }

  /** Merge list: folds [[partialAggs]] rows into the single-pass output
    * columns (tdigest into the same pre-[[finish]] columns). */
  private[graft] def mergeAggs: Seq[Column] =
    Seq(sum(col("Count")).cast(LongType).as("Count"),
      sum(col("Samples")).cast(LongType).as("Samples")) ++ (op match {
      case AggOp.CountOp => Nil
      case AggOp.AvgOp => aggCols.map(c =>
        (sum(col(s"__sum_$c")).cast(DoubleType) / sum(col(s"__wn_$c"))).as(s"${c}_avg"))
      case AggOp.SumOp => aggCols.map(c =>
        sum(col(s"__sum_$c")).cast(DoubleType).as(s"${c}_sum"))
      case AggOp.HistOp if useTDigest => aggCols.flatMap(c => Seq(
        QuantileBins.qpctsMerge(col(s"__qb_$c")).as(s"__pcts_$c"),
        sum(col(s"__tdn_$c")).cast(LongType).as(s"__n_$c")))
      case AggOp.HistOp => aggCols.map { c =>
        val (mn, mx) = histExtents(c)
        val buf = col(s"__hist_$c")
        (if (useNestedHist) NestedHist.nestedHistMerge(buf, mn, mx, histBuckets)
        else if (useLogHist) LogHist.logHistMerge(buf, mn, mx)
        else BasicHist.histMerge(buf, mn, mx, histBuckets)).as(s"${c}_hist")
      }
      // union = register-wise max: the merged estimate equals the
      // single-pass one over the same rows
      case AggOp.DistinctOp(_) =>
        Seq(hll_sketch_estimate(hll_union_agg(col("__hll"))).as("Distinct"))
    })

  /** Finish stage, applied to the single-pass aggregate and to the merged
    * partials alike: the tdigest reshape, then the order and limit. */
  private[graft] def finish(aggregated: DataFrame): DataFrame = {
    // tdigest flavor: reshape each column's 101-quantile array into the
    // hist output surface (one summary per column feeds every field —
    // aggregating mean/min/max separately would triple the summary work)
    val grouped =
      if (op == AggOp.HistOp && useTDigest)
        aggCols.foldLeft(aggregated)((g, c) => g
          .withColumn(s"${c}_hist", SybilQuery.tdigestHistStruct(
            col(s"__pcts_$c"), col(s"__n_$c")))
          .drop(s"__pcts_$c", s"__n_$c"))
      else aggregated

    // order: by $COUNT desc by default (aggregate.go:33-54), -sort-asc flips
    val sortCol = sortBy match {
      case None | Some("$COUNT") => col("Count")
      case Some(c) =>
        if (grouped.columns.contains(s"${c}_avg")) col(s"${c}_avg")
        else if (grouped.columns.contains(s"${c}_sum")) col(s"${c}_sum")
        // hist queries sort by the hist's mean (the reference's
        // SortResults compares Hists[col].Mean(), aggregate.go:51-52)
        else if (grouped.columns.contains(s"${c}_hist"))
          col(s"${c}_hist").getField("mean")
        else col(c)
    }
    val keyNames = timeBucket.map(_ => "time_bucket").toSeq ++ groups
    val ordered = grouped.orderBy(
      (if (sortAsc) sortCol.asc else sortCol.desc) +:
        keyNames.map(col(_).asc): _*)
    limit.map(ordered.limit).getOrElse(ordered)
  }
}

object SybilQuery {
  /** `Query()` — entry point matching the reference client. */
  def apply(): SybilQuery = new SybilQuery()

  /** The `-tdigest` hist output struct from a 101-quantile array + the
    * per-column populated count — the ONE copy of the hist_tdigest.go
    * surface mapping (count/samples exact, mean = q(0.5), min/max =
    * q(0)/q(1), stddev = 0, percentiles = q(0.00..0.99)), applied by
    * [[SybilQuery.finish]]. */
  private def tdigestHistStruct(pcts: Column, n: Column): Column =
    struct(
      n.as("count"),
      n.as("samples"),
      element_at(pcts, 51).cast(DoubleType).as("mean"),
      element_at(pcts, 1).as("min"),
      element_at(pcts, 101).as("max"),
      lit(0.0).as("stddev"),
      slice(pcts, 1, 100).as("percentiles"))
}
