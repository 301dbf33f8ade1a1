package sybilbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Expected answers computed from the generator's rows with plain loops,
  * and the comparison of a `-json` envelope against them. Nothing here
  * touches Spark: the checks are independent of the program under test.
  *
  * A check returns `None` on a match or `Some(reason)` on a mismatch.
  */
object Expect {
  private val mapper = new ObjectMapper()

  def results(json: String): Seq[JsonNode] =
    mapper.readTree(json).get("results").elements().asScala.toSeq

  /** Group keys a shape can use, as the engine renders them. */
  sealed trait Key { def name: String; def of(r: Rows, i: Int): String }
  case object HostKey extends Key {
    val name = "host"; def of(r: Rows, i: Int): String = Gen.Hosts(r.host(i))
  }
  case object StatusKey extends Key {
    val name = "status"; def of(r: Rows, i: Int): String = Gen.Statuses(r.status(i))
  }

  type Pred = (Rows, Int) => Boolean
  val all: Pred = (_, _) => true

  private def matching(r: Rows, p: Pred): Iterator[Int] =
    Iterator.range(0, r.n).filter(p(r, _))

  private def grouped(r: Rows, keys: Seq[Key], p: Pred): Map[Seq[String], Array[Int]] =
    matching(r, p).toArray.groupBy(i => keys.map(_.of(r, i)))

  private def keyOrder(a: Seq[String], b: Seq[String]): Boolean =
    a.zip(b).find { case (x, y) => x != y }.exists { case (x, y) => x < y }

  /** Rows ordered as the engine orders them: Count desc, then keys asc. */
  private def ordered[A](groups: Seq[(Seq[String], Long, A)], limit: Int) =
    groups.sortWith { case ((ka, ca, _), (kb, cb, _)) =>
      if (ca != cb) ca > cb else keyOrder(ka, kb)
    }.take(limit)

  private def fail(what: String, got: Any, want: Any): Option[String] =
    Some(s"$what: got $got, want $want")

  private def keysOf(node: JsonNode, keys: Seq[Key]): Seq[String] =
    keys.map(k => node.get(k.name).asText)

  /** Row count check shared by every grouped shape. */
  private def sameLength(got: Seq[JsonNode], want: Int): Option[String] =
    if (got.size != want) fail("result rows", got.size, want) else None

  /** Count (or weighted count) by keys; `Samples` is the row count. */
  def count(keys: Seq[Key], p: Pred, weighted: Boolean, limit: Int = 100)(
      r: Rows, json: String): Option[String] = {
    val want = ordered(grouped(r, keys, p).toSeq.map { case (k, is) =>
      (k, if (weighted) is.map(r.weight(_).toLong).sum else is.length.toLong,
        is.length.toLong)
    }, limit)
    val got = results(json)
    sameLength(got, want.size).orElse(got.zip(want).iterator.map {
      case (g, (k, c, s)) =>
        if (keysOf(g, keys) != k) fail("group", keysOf(g, keys), k)
        else if (g.get("Count").asLong != c) fail(s"Count of $k", g.get("Count").asLong, c)
        else if (g.get("Samples").asLong != s) fail(s"Samples of $k", g.get("Samples").asLong, s)
        else None
    }.collectFirst { case Some(e) => e })
  }

  /** Average of ping and net_bytes by keys: exact, since both sums are
    * integers below 2^53 and both sides divide the same two doubles. */
  def avg(keys: Seq[Key], p: Pred)(r: Rows, json: String): Option[String] = {
    val want = ordered(grouped(r, keys, p).toSeq.map { case (k, is) =>
      val n = is.length.toDouble
      (k, is.length.toLong,
        (is.map(r.ping(_).toLong).sum / n, is.map(r.bytes(_)).sum / n))
    }, 100)
    val got = results(json)
    sameLength(got, want.size).orElse(got.zip(want).iterator.map {
      case (g, (k, c, (pa, ba))) =>
        if (keysOf(g, keys) != k) fail("group", keysOf(g, keys), k)
        else if (g.get("Count").asLong != c) fail(s"Count of $k", g.get("Count").asLong, c)
        else if (g.get("ping_avg").asDouble != pa) fail(s"ping_avg of $k", g.get("ping_avg").asDouble, pa)
        else if (g.get("net_bytes_avg").asDouble != ba)
          fail(s"net_bytes_avg of $k", g.get("net_bytes_avg").asDouble, ba)
        else None
    }.collectFirst { case Some(e) => e })
  }

  /** Histogram flavors and the bucket width each one is allowed to be off
    * by, at exact value `v` with table extents `lo..hi`. */
  sealed trait Flavor { def tolerance(v: Long, lo: Long, hi: Long): Long }
  case object Flat extends Flavor {
    def tolerance(v: Long, lo: Long, hi: Long): Long = math.max(1L, (hi - lo + 999) / 1000)
  }
  case object Log extends Flavor { // 16 buckets per doubling of v - lo + 1
    def tolerance(v: Long, lo: Long, hi: Long): Long =
      math.ceil((v - lo + 1) * (math.pow(2.0, 1.0 / 16) - 1)).toLong + 1
  }
  case object TDigest extends Flavor { // exact to 8192 distinct, then 1/64
    def tolerance(v: Long, lo: Long, hi: Long): Long = math.max(1L, math.abs(v) / 64 + 1)
  }

  /** Nearest-rank percentile p (rank ceil(p·n/100), at least 1) of sorted `vs`. */
  def percentile(vs: Array[Int], p: Int): Long = {
    val rank = math.max(1L, (p.toLong * vs.length + 99) / 100)
    vs((rank - 1).toInt).toLong
  }

  /** Histogram of ping by keys. Count, samples, min and max are exact; the
    * mean is exact except for tdigest, whose mean is its median; every
    * percentile is within one bucket width of the exact percentile. */
  def hist(keys: Seq[Key], p: Pred, flavor: Flavor)(r: Rows, json: String): Option[String] = {
    val lo = (0 until r.n).iterator.map(r.ping(_)).min.toLong
    val hi = (0 until r.n).iterator.map(r.ping(_)).max.toLong
    val want = ordered(grouped(r, keys, p).toSeq.map { case (k, is) =>
      (k, is.length.toLong, is.map(r.ping(_)).sorted)
    }, 100)
    val got = results(json)
    def near(what: String, g: Long, v: Long): Option[String] =
      if (math.abs(g - v) > flavor.tolerance(v, lo, hi)) fail(what, g, s"$v ± ${flavor.tolerance(v, lo, hi)}")
      else None
    sameLength(got, want.size).orElse(got.zip(want).iterator.map {
      case (g, (k, c, vs)) =>
        val h = g.get("ping_hist")
        val pcts = h.get("percentiles").elements().asScala.map(_.asLong).toIndexedSeq
        val exactMean = vs.map(_.toLong).sum.toDouble / vs.length
        if (keysOf(g, keys) != k) fail("group", keysOf(g, keys), k)
        else if (g.get("Count").asLong != c) fail(s"Count of $k", g.get("Count").asLong, c)
        else if (h.get("count").asLong != c) fail(s"hist count of $k", h.get("count").asLong, c)
        else if (h.get("samples").asLong != c) fail(s"hist samples of $k", h.get("samples").asLong, c)
        else if (pcts.size != 100) fail(s"percentile count of $k", pcts.size, 100)
        else flavor match {
          case TDigest =>
            near(s"min of $k", h.get("min").asLong, vs.head)
              .orElse(near(s"max of $k", h.get("max").asLong, vs.last))
              .orElse(near(s"mean (median) of $k", math.round(h.get("mean").asDouble), percentile(vs, 50)))
              .orElse((1 to 99).iterator.map(q =>
                near(s"p$q of $k", pcts(q), percentile(vs, q))).collectFirst { case Some(e) => e })
          case _ =>
            if (h.get("min").asLong != vs.head) fail(s"min of $k", h.get("min").asLong, vs.head)
            else if (h.get("max").asLong != vs.last) fail(s"max of $k", h.get("max").asLong, vs.last)
            else if (math.abs(h.get("mean").asDouble - exactMean) > 1e-9 * math.abs(exactMean))
              fail(s"mean of $k", h.get("mean").asDouble, exactMean)
            else (1 to 99).iterator.map(q =>
              near(s"p$q of $k", pcts(q), percentile(vs, q))).collectFirst { case Some(e) => e }
        }
    }.collectFirst { case Some(e) => e })
  }

  /** Row count per time bucket of `secs` seconds. */
  def buckets(secs: Long, p: Pred, limit: Int = 100)(r: Rows, json: String): Option[String] = {
    val want = ordered(matching(r, p).toArray.groupBy(i => r.time(i) / secs * secs)
      .toSeq.map { case (b, is) => (Seq(f"$b%020d"), is.length.toLong, b) }, limit)
    val got = results(json)
    sameLength(got, want.size).orElse(got.zip(want).iterator.map {
      case (g, (_, c, b)) =>
        if (g.get("time_bucket").asLong != b) fail("time_bucket", g.get("time_bucket").asLong, b)
        else if (g.get("Count").asLong != c) fail(s"Count of bucket $b", g.get("Count").asLong, c)
        else None
    }.collectFirst { case Some(e) => e })
  }

  /** HLL distinct (host, ping) pairs: within three standard errors of the
    * sketch's stated relative error, 1.04/sqrt(2^12) at the default lgK 12. */
  val HllError: Double = 3 * 1.04 / math.sqrt(4096)

  def distinct(p: Pred)(r: Rows, json: String): Option[String] = {
    val is = matching(r, p).toArray
    val exact = is.map(i => (r.host(i), r.ping(i))).distinct.length
    val got = results(json)
    if (got.size != 1) fail("result rows", got.size, 1)
    else {
      val d = got.head.get("Distinct").asDouble
      if (got.head.get("Count").asLong != is.length) fail("Count", got.head.get("Count").asLong, is.length)
      else if (math.abs(d - exact) > HllError * exact) fail("Distinct", d, s"$exact ± ${HllError * 100}%")
      else None
    }
  }

  /** Newest `limit` rows matching `p`: the returned times are exactly the
    * newest matching times, and every returned row is the generated row
    * with its index_int, column for column. */
  def samples(p: Pred, limit: Int)(r: Rows, json: String): Option[String] = {
    val want = matching(r, p).map(r.time(_)).toArray.sorted(Ordering[Long].reverse).take(limit).toSeq
    val got = results(json)
    val times = got.map(_.get("time").asLong)
    if (times != want) fail("sample times", times, want)
    else got.iterator.map { g =>
      val i = g.get("index_int").asInt
      val row = Seq(
        "host" -> Gen.Hosts(r.host(i)), "status" -> Gen.Statuses(r.status(i)),
        "ping" -> r.ping(i).toString, "weight" -> r.weight(i).toString,
        "time" -> r.time(i).toString, "index_str" -> i.toString,
        "net_region" -> Gen.Regions(r.region(i)), "net_bytes" -> r.bytes(i).toString)
      val groups = g.get("groups").elements().asScala.map(_.asText).toSeq
      if (i < 0 || i >= r.n || !p(r, i)) Some(s"sample row $i should not match")
      else if (groups != Gen.groupsOf(i)) fail(s"groups of row $i", groups, Gen.groupsOf(i))
      else row.collectFirst {
        case (c, v) if g.get(c) == null || g.get(c).asText != v => s"$c of row $i: got ${g.get(c)}, want $v"
      }
    }.collectFirst { case Some(e) => e }
  }

  /** A cached envelope must equal the uncached one on the same table. */
  def sameResult(cached: String, plain: String): Option[String] =
    if (mapper.readTree(cached) == mapper.readTree(plain)) None
    else Some(s"cached result $cached differs from uncached $plain")

  /** Exact extents of every int column of the generated rows. */
  def extents(r: Rows): Map[String, (Long, Long)] = {
    def ext(f: Int => Long): (Long, Long) = {
      var lo = Long.MaxValue; var hi = Long.MinValue; var i = 0
      while (i < r.n) { val v = f(i); if (v < lo) lo = v; if (v > hi) hi = v; i += 1 }
      (lo, hi)
    }
    Map("index_int" -> ((0L, r.n - 1L)),
      "ping" -> ext(r.ping(_).toLong), "weight" -> ext(r.weight(_).toLong),
      "time" -> ext(r.time(_)), "net_bytes" -> ext(r.bytes(_)))
  }

  /** Sidecar after a digest: row count, and the extents of `cols`. */
  def tableInfo(r: Rows, cols: Set[String], rowCount: Long,
      got: Map[String, (Long, Long)]): Option[String] =
    (if (rowCount != r.n) fail("sidecar rowCount", rowCount, r.n) else None).orElse(
      extents(r).filter(e => cols(e._1)).collectFirst {
        case (c, e) if !got.get(c).contains(e) => s"sidecar extents of $c: got ${got.get(c)}, want $e"
      })
}
