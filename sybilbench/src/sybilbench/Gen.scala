package sybilbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Path

/** The benchmark's input generator and its own record of every row it
  * wrote. Records follow the `uptime` host-events shape (host, status,
  * ping, weight, time, index_int, index_str, groups) plus one nested
  * object, `net: {region, bytes}`, so ingest's struct flattening runs.
  * Every record carries every column: a column that only some blocks hold
  * trips the query cache's schema handling (see README, known faults).
  *
  * Rows are kept column-wise, exactly as ingest coerces them (ping
  * truncated to an integer, net flattened), so [[Expect]] can compute every
  * expected answer with plain loops, without Spark. Row `i` has
  * `index_int == i`.
  */
final class Rows {
  private var cap = 1 << 16
  var n = 0
  var host = new Array[Byte](cap)
  var status = new Array[Byte](cap)
  var ping = new Array[Int](cap)
  var weight = new Array[Int](cap)
  var time = new Array[Long](cap)
  var region = new Array[Byte](cap)
  var bytes = new Array[Long](cap)

  private def grow(): Unit = {
    cap *= 2
    host = java.util.Arrays.copyOf(host, cap)
    status = java.util.Arrays.copyOf(status, cap)
    ping = java.util.Arrays.copyOf(ping, cap)
    weight = java.util.Arrays.copyOf(weight, cap)
    time = java.util.Arrays.copyOf(time, cap)
    region = java.util.Arrays.copyOf(region, cap)
    bytes = java.util.Arrays.copyOf(bytes, cap)
  }

  def add(h: Int, s: Int, p: Int, w: Int, t: Long, r: Int, b: Long): Unit = {
    if (n == cap) grow()
    host(n) = h.toByte; status(n) = s.toByte; ping(n) = p; weight(n) = w
    time(n) = t; region(n) = r.toByte; bytes(n) = b
    n += 1
  }
}

/** One generated JSONL file: its path, row count and size in bytes. */
final case class Batch(path: Path, rows: Int, bytes: Long)

object Gen {
  val Hosts = Vector("alpha.example.com", "bravo.example.net",
    "charlie.example.org", "delta.example.io", "echo.example.dev")
  val Statuses = Vector("200", "403", "404", "500", "503")
  val Regions = Vector("us-east", "us-west", "eu-central", "ap-south")
  val Weights = Vector(1, 10, 100)

  /** Fixed epoch of the newest history row; batches continue after it. */
  val T0 = 1700000000L
  val HistorySpan = 28L * 24 * 3600

  /** Set-column members of row `i`, derived from its index. */
  def groupsOf(i: Int): Seq[String] = {
    val g = Seq(2 -> "mod2", 3 -> "mod3", 5 -> "mod5").collect {
      case (m, name) if i % m == 0 => name
    }
    if (g.isEmpty) Seq("none") else g
  }

  private def statusIdx(r: java.util.Random): Int = r.nextInt(10) match {
    case k if k < 6 => 0
    case 6 => 1
    case 7 => 2
    case 8 => 3
    case _ => 4
  }

  /** Append `count` rows to `rows` and write them as JSONL to `path`.
    * Times are `timeAt(k, rnd)` for the batch's k-th row. The per-batch
    * random stream is seeded from (seed, batch id), so a batch's content
    * does not depend on how many batches came before it. */
  def write(rows: Rows, path: Path, count: Int, seed: Long, batchId: Int)(
      timeAt: (Int, java.util.Random) => Long): Batch = {
    val rnd = new java.util.Random(seed * 1000003L + batchId)
    val first = rows.n
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path.toFile), StandardCharsets.UTF_8), 1 << 16)
    var written = 0L
    val sb = new java.lang.StringBuilder(256)
    try {
      var k = 0
      while (k < count) {
        val i = first + k
        val h = rnd.nextInt(Hosts.size)
        val s = statusIdx(rnd)
        // abs(gauss(60, 20)) written with two decimals; ingest truncates
        val centi = math.round(math.abs(rnd.nextGaussian() * 20 + 60) * 100)
        val w = Weights(rnd.nextInt(Weights.size))
        val t = timeAt(k, rnd)
        val reg = rnd.nextInt(Regions.size)
        val b = rnd.nextInt(1 << 20).toLong
        rows.add(h, s, (centi / 100).toInt, w, t, reg, b)
        sb.setLength(0)
        sb.append("{\"host\":\"").append(Hosts(h))
          .append("\",\"status\":\"").append(Statuses(s))
          .append("\",\"ping\":").append(centi / 100).append('.')
        val frac = centi % 100
        if (frac < 10) sb.append('0')
        sb.append(frac)
          .append(",\"weight\":").append(w)
          .append(",\"time\":").append(t)
          .append(",\"index_int\":").append(i)
          .append(",\"index_str\":\"").append(i)
          .append("\",\"groups\":[")
        val gs = groupsOf(i)
        var g = 0
        while (g < gs.size) {
          if (g > 0) sb.append(',')
          sb.append('"').append(gs(g)).append('"'); g += 1
        }
        sb.append("],\"net\":{\"region\":\"").append(Regions(reg))
          .append("\",\"bytes\":").append(b).append("}}\n")
        out.append(sb)
        written += sb.length // ASCII only: chars == bytes
        k += 1
      }
    } finally out.close()
    Batch(path, count, written)
  }

  /** History: `count` rows at uniform random times in the four weeks
    * before [[T0]], in no particular order (as the fixture generator
    * writes them), so no block or row group is narrower than the history. */
  def history(rows: Rows, path: Path, count: Int, seed: Long): Batch =
    write(rows, path, count, seed, batchId = 0) { (_, rnd) =>
      T0 - HistorySpan + (rnd.nextDouble() * HistorySpan).toLong
    }

  /** Batch `r` (r >= 1): `count` rows inside [T0 + (r-1)·span, T0 + r·span). */
  def batch(rows: Rows, path: Path, count: Int, seed: Long, r: Int,
      span: Long): Batch =
    write(rows, path, count, seed, batchId = r) { (_, rnd) =>
      T0 + (r - 1) * span + (rnd.nextDouble() * span).toLong
    }
}
