package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** E2E through the CLI — the reference's api_test.go:1-303 scheme: ingest
  * JSON records, digest, query, assert on the parsed `-json` output. */
class CliSpec extends SparkSpec {

  private def captureOut(body: => Unit): String = {
    val bos = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(bos, true, "UTF-8")) { body }
    bos.toString("UTF-8")
  }

  private val mapper = new ObjectMapper()

  test("E2E: ingest → digest → grouped avg query with filters via -json") {
    val db = SparkSpec.tempDir("graft-cli").toString
    val data = SparkSpec.tempDir("graft-cli-data")
    val lines = (0 until 120).map { i =>
      val state = if (i % 3 == 0) "CA" else "NY"
      s"""{"age": ${20 + i % 10}, "state": "$state", "time": ${1700000000 + i}}"""
    }
    Files.writeString(data.resolve("rows.jsonl"), lines.mkString("\n"))

    Cli.main(Array("ingest", "-dir", db, "-table", "people",
      "-infile", data.resolve("rows.jsonl").toString))
    Cli.main(Array("digest", "-dir", db, "-table", "people"))

    val out = captureOut {
      Cli.main(Array("query", "-dir", db, "-table", "people",
        "-group", "state", "-int", "age", "-op", "avg", "-json"))
    }
    val res = mapper.readTree(out).get("results")
    val byState = res.elements().asScala.map(n =>
      n.get("state").asText -> (n.get("Count").asLong, n.get("age_avg").asDouble)).toMap
    assert(byState("CA")._1 === 40L && byState("NY")._1 === 80L)
    // CA ages: i%10 for i=0,3,6.. mod-30 cycle is uniform 0..9 → avg 24.5
    assert(math.abs(byState("CA")._2 - 24.5) < 1e-9)

    // int filter through the CLI flag syntax col:op:val
    val filtered = captureOut {
      Cli.main(Array("query", "-dir", db, "-table", "people",
        "-group", "state", "-int-filter", "age:gt:25", "-op", "count", "-json"))
    }
    val fRes = mapper.readTree(filtered).get("results")
    val fCnt = fRes.elements().asScala.map(n =>
      n.get("state").asText -> n.get("Count").asLong).toMap
    // ages 26..29 → 4 of 10 per cycle
    assert(fCnt("CA") === 16L && fCnt("NY") === 32L)

    // samples mode, newest first
    val samples = captureOut {
      Cli.main(Array("query", "-dir", db, "-table", "people",
        "-samples", "-sample-cols", "age,time", "-limit", "3", "-json"))
    }
    val sRes = mapper.readTree(samples).get("results").elements().asScala.toSeq
    assert(sRes.size === 3)
    assert(sRes.head.get("time").asLong === 1700000119L)

    // hist op console output: sybil's percentile line shape
    // (printer.go:210-229: "col | p0 p99 | avg | p0 p25 p50 p75 p99 | std")
    val hist = captureOut {
      Cli.main(Array("query", "-dir", db, "-table", "people",
        "-group", "state", "-int", "age", "-op", "hist"))
    }
    assert(hist.contains("CA (40)") && hist.contains("NY (80)"))
    assert("age \\| \\d+ \\d+ \\| \\d+\\.\\d{2} \\| \\d+ \\d+ \\d+ \\d+ \\d+ \\| \\d+\\.\\d{2}"
      .r.findFirstIn(hist).nonEmpty, s"hist line malformed:\n$hist")

    // -tables listing and -info
    val tl = captureOut { Cli.main(Array("query", "-dir", db, "-tables")) }
    assert(tl.trim === "people")
    val info = captureOut {
      Cli.main(Array("query", "-dir", db, "-table", "people", "-info"))
    }
    assert(info.contains("state (string)") && info.contains("age (bigint)") &&
      info.contains("count 120"))
  }

  test("CLI: csv ingest, loghist query, cached query, export") {
    val db = SparkSpec.tempDir("graft-cli3").toString
    val data = SparkSpec.tempDir("graft-cli3-data")
    Files.writeString(data.resolve("r.csv"),
      "region,amount,time\n" +
        (0 until 90).map(i => s"r${i % 3},${i * 10 + 1},${1700000000 + i}").mkString("\n"))
    Cli.main(Array("ingest", "-dir", db, "-table", "sales", "-csv",
      "-infile", data.resolve("r.csv").toString))
    Cli.main(Array("digest", "-dir", db, "-table", "sales"))

    // loghist through the CLI prints the sybil percentile line
    val lh = captureOut {
      Cli.main(Array("query", "-dir", db, "-table", "sales",
        "-group", "region", "-int", "amount", "-op", "hist", "-loghist"))
    }
    assert(lh.contains("r0 (30)") && lh.contains("amount"))

    // nested MultiHist variant drives the same console surface
    val nh = captureOut {
      Cli.main(Array("query", "-dir", db, "-table", "sales",
        "-group", "region", "-int", "amount", "-op", "hist", "-nested-hist"))
    }
    assert(nh.contains("r0 (30)") && nh.contains("amount"))

    // tdigest (quantile-sketch) flavor shares the console surface; the
    // flavor-combination guard throws loudly
    val td = captureOut {
      Cli.main(Array("query", "-dir", db, "-table", "sales",
        "-group", "region", "-int", "amount", "-op", "hist", "-tdigest"))
    }
    assert(td.contains("r0 (30)") && td.contains("amount"))
    intercept[IllegalArgumentException] {
      Cli.main(Array("query", "-dir", db, "-table", "sales",
        "-group", "region", "-int", "amount", "-op", "hist", "-tdigest",
        "-loghist"))
    }

    // -cache-queries: second run must produce identical JSON
    def cached() = captureOut {
      Cli.main(Array("query", "-dir", db, "-table", "sales",
        "-group", "region", "-int", "amount", "-op", "avg",
        "-cache-queries", "-json"))
    }
    val first = cached()
    assert(cached() === first)
    assert(mapper.readTree(first).get("results").size() === 3)

    // -cache-queries now admits -tdigest (deterministic QuantileBins
    // partials): second run identical, and equal to the UNCACHED run's
    // JSON byte-for-byte — the end-to-end form of cached == uncached
    def cachedTd(extra: String*) = captureOut {
      Cli.main(Array("query", "-dir", db, "-table", "sales",
        "-group", "region", "-int", "amount", "-op", "hist", "-tdigest",
        "-json") ++ extra)
    }
    val tdUncached = cachedTd()
    val td1 = cachedTd("-cache-queries")
    assert(td1 === tdUncached, "cached tdigest JSON must equal uncached")
    assert(cachedTd("-cache-queries") === td1)

    // export writes gzip TSV
    val out = SparkSpec.tempDir("graft-cli3-out").toString + "/tsv"
    Cli.main(Array("export", "-dir", db, "-table", "sales", "-outfile", out))
    assert(Files.list(java.nio.file.Paths.get(out)).iterator().asScala
      .exists(_.toString.endsWith(".csv.gz")))
  }

  test("CLI -distinct runs through the cache and prints the uncached JSON") {
    import spark.implicits._
    val db = SparkSpec.tempDir("graft-cli-distinct").toString
    // two blocks: the older one is cacheable, the newer one is the top-up
    // block the next digest refolds
    val t = new graft.sources.GraftTable(spark, s"$db/events")
    for (b <- 0 until 2) {
      t.ingest((0 until 80).map(i => (s"h${i % 3}", (1700000000 + b * 100 + i).toLong,
        s"u${(i * 7 + b) % 23}")).toDF("host", "time", "user"))
      t.digest(compact = false)
    }
    def run(extra: String*) = captureOut {
      Cli.main(Array("query", "-dir", db, "-table", "events",
        "-group", "host", "-distinct", "user", "-json") ++ extra)
    }
    val uncached = run()
    assert(mapper.readTree(uncached).get("results").size() === 3)
    val cacheRoot = java.nio.file.Paths.get(db, "events", "cache")
    assert(!Files.exists(cacheRoot))
    assert(run("-cache-queries") === uncached, "cached miss run")
    assert(Files.exists(cacheRoot), "-distinct must run through the cache")
    assert(run("-cache-queries") === uncached, "cached hit run")
  }

  test("CLI -read-log -cache-queries counts the undigested log like the uncached run") {
    import spark.implicits._
    val db = SparkSpec.tempDir("graft-cli-readlog").toString
    val t = new graft.sources.GraftTable(spark, s"$db/events")
    def rows(from: Int, n: Int) = (from until from + n).map(i =>
      (s"h${i % 2}", (1700000000 + i).toLong)).toDF("host", "time")
    t.ingest(rows(0, 50)); t.digest()
    t.ingest(rows(50, 30)) // stays in the ingest log
    def run(extra: String*) = captureOut {
      Cli.main(Array("query", "-dir", db, "-table", "events",
        "-group", "host", "-read-log", "-json") ++ extra)
    }
    val uncached = run()
    val counts = mapper.readTree(uncached).get("results").elements().asScala
      .map(_.get("Count").asLong).toSeq
    assert(counts.sum === 80)
    assert(run("-cache-queries") === uncached)
  }

  test("CLI inspect dumps sidecar stats for a table and schema for raw parquet") {
    val db = SparkSpec.tempDir("graft-cli-inspect").toString
    val data = SparkSpec.tempDir("graft-cli-inspect-data")
    Files.writeString(data.resolve("rows.jsonl"),
      (0 until 30).map(i => s"""{"v": $i, "time": ${1700000000 + i}}""").mkString("\n"))
    Cli.main(Array("ingest", "-dir", db, "-table", "t",
      "-infile", data.resolve("rows.jsonl").toString))
    Cli.main(Array("digest", "-dir", db, "-table", "t"))
    val out = captureOut { Cli.main(Array("inspect", "-dir", db, "-table", "t")) }
    assert(out.contains("rows=30"))
    assert(out.contains("col v bigint min=0 max=29"))
    assert(out.contains("segment block/"))
    // raw parquet path: footer schema + count
    val raw = captureOut { Cli.main(Array("inspect", "-file",
      "/root/testdata/sf0.001/region.parquet")) }
    assert(raw.contains("parquet ") && raw.contains("r_regionkey"))
  }

  test("CLI optimize z-orders the table and queries still answer") {
    val db = SparkSpec.tempDir("graft-cli-opt").toString
    val data = SparkSpec.tempDir("graft-cli-opt-data")
    val rnd = new scala.util.Random(3)
    val lines = (0 until 500).map { i =>
      s"""{"x": ${rnd.nextInt(100)}, "y": ${rnd.nextInt(100)}, "time": ${1700000000 + i}}"""
    }
    Files.writeString(data.resolve("rows.jsonl"), lines.mkString("\n"))
    Cli.main(Array("ingest", "-dir", db, "-table", "pts",
      "-infile", data.resolve("rows.jsonl").toString))
    Cli.main(Array("digest", "-dir", db, "-table", "pts"))
    Cli.main(Array("optimize", "-dir", db, "-table", "pts",
      "-zorder", "x,y", "-zorder-bits", "8"))
    val out = captureOut {
      Cli.main(Array("query", "-dir", db, "-table", "pts",
        "-int", "x", "-op", "count", "-json"))
    }
    val res = mapper.readTree(out).get("results")
    assert(res.elements().asScala.next().get("Count").asLong === 500)
  }

  test("CLI trim dry-run prints nothing to remove for fresh data") {
    val db = SparkSpec.tempDir("graft-cli2").toString
    val data = SparkSpec.tempDir("graft-cli2-data")
    Files.writeString(data.resolve("r.jsonl"),
      (0 until 10).map(i => s"""{"v": $i, "time": ${1700000000 + i}}""").mkString("\n"))
    Cli.main(Array("ingest", "-dir", db, "-table", "t", "-infile",
      data.resolve("r.jsonl").toString))
    Cli.main(Array("digest", "-dir", db, "-table", "t"))
    val out = captureOut {
      Cli.main(Array("trim", "-dir", db, "-table", "t", "-before", "1600000000"))
    }
    assert(out.trim.isEmpty)
    // -list semantics by default: a future cutoff PRINTS the victim block
    // but deletes nothing (cmd_trim.go:34 requires -delete)
    val out2 = captureOut {
      Cli.main(Array("trim", "-dir", db, "-table", "t", "-before", "1800000000"))
    }
    assert(out2.trim.nonEmpty)
    assert(Files.list(java.nio.file.Paths.get(db, "t", "blocks")).count() === 1)
    // -delete actually removes it
    captureOut {
      Cli.main(Array("trim", "-dir", db, "-table", "t", "-before", "1800000000", "-delete"))
    }
    assert(Files.list(java.nio.file.Paths.get(db, "t", "blocks")).count() === 0)
  }

  test("CLI version prints engine + runtime versions (cmd_version.go parity)") {
    val out = captureOut { Cli.main(Array("version")) }
    assert(out.contains("graft 0.2"))
    assert(out.contains("spark " + org.apache.spark.SPARK_VERSION))
    assert(out.contains("scala "))
  }

  test("CLI -cache-queries with a double weight column falls back to uncached") {
    import spark.implicits._
    val db = SparkSpec.tempDir("graft-cli-dw").toString
    // CLI ingest truncates floats (sybilCompat), so build the table via
    // the API — the CLI must still query whatever parquet types it finds
    val df = (0 until 50).map(i => (i % 5L, (i % 3) + 0.5, 1700000000L + i))
      .toDF("v", "w", "time")
    val t = new graft.sources.GraftTable(spark, s"$db/dw")
    t.ingest(df); t.digest()
    // QueryCache.run would throw IllegalArgumentException on the
    // fractional weight; the CLI gate must route around the cache
    val out = captureOut {
      Cli.main(Array("query", "-dir", db, "-table", "dw", "-int", "v",
        "-op", "count", "-weight-col", "w", "-cache-queries", "-json"))
    }
    val res = mapper.readTree(out).get("results")
    assert(res.elements().asScala.hasNext)
  }
}
