package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Printer
import graft.dsl.{AggOp, SybilQuery}
import graft.sources.{GraftTable, Ingest, QueryCache}

/** Command-line front end replicating the reference's UX
  * (/root/reference/main.go:14-96; src/cmd/cmd_query.go:19-74;
  * cmd_ingest.go:229-242; cmd_trim.go:31-38):
  *
  * {{{
  *   graft ingest  -dir DB -table T -infile records.jsonl [-csv]
  *                 [-ints a,b] [-timestamps t] [-timestamp-format F]
  *                 [-exclude c] [-path $.foo.bar]
  *   graft digest  -dir DB -table T
  *   graft query   -dir DB -table T [-group a,b] [-int x,y] [-op avg|sum|hist|count]
  *                 [-int-filter c:gt:5] [-str-filter c:re:pat] [-set-filter c:in:v]
  *                 [-time] [-time-col c] [-time-bucket secs] [-weight-col w]
  *                 [-distinct cols] [-distinct-limit n] [-loghist]
  *                 [-nested-hist] [-tdigest] [-samples]
  *                 [-sample-cols a,b] [-str-replace col:find:replace]
  *                 [-sort col] [-sort-asc] [-limit n] [-read-log] [-json]
  *                 [-cache-queries]
  *   graft query   -dir DB -tables            # list tables
  *   graft query   -dir DB -table T -info     # table info
  *   graft trim    -dir DB -table T [-mb N] [-before TS] [-time-col c] [-delete]
  *   graft rebuild -dir DB -table T      (alias: index — re-derives block stats)
  *   graft export  -dir DB -table T -outfile DIR [-read-log]
  *   graft inspect -dir DB -table T | -file parquet_path
  *   graft version
  * }}}
  *
  * Filter syntax is the reference's `col:op:val` with `,` between filters
  * (filter.go:29-56); ops: int gt/lt/eq/neq, str eq/neq/re/nre, set in/nin.
  */
object Cli {

  private val boolFlags = Set("csv", "json", "samples", "read-log", "sort-asc",
    "time", "delete", "really", "info", "tables", "cache-queries", "loghist",
    "nested-hist", "tdigest", "export", "print", "update-info", "skip-compact")

  /** `-flag value` / `-flag=value` / boolean `-flag`. */
  private[graft] def parseFlags(args: Seq[String]): Map[String, String] = {
    var m = Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("-"), s"expected a -flag, got '$a'")
      val name = a.dropWhile(_ == '-')
      if (name.contains("=")) {
        val Array(k, v) = name.split("=", 2)
        m += (k -> v)
      } else if (boolFlags(name)) m += (name -> "true")
      else {
        require(i + 1 < args.length, s"flag -$name needs a value")
        m += (name -> args(i + 1)); i += 1
      }
      i += 1
    }
    m
  }

  private def splitList(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** col:op:val triples, comma-separated (val may itself contain ':'). */
  private def filterTriples(s: String): Seq[(String, String, String)] =
    splitList(s).map { f =>
      val t = f.split(":", 3)
      require(t.length == 3, s"filter '$f' is not col:op:val")
      (t(0), t(1), t(2))
    }

  private def buildQuery(f: Map[String, String]): SybilQuery = {
    var q = SybilQuery()
    f.get("group").foreach(g => q = q.groupBy(splitList(g): _*))
    f.get("int").foreach(c => q = q.aggregate(splitList(c): _*))
    q = f.getOrElse("op", "avg") match {
      case "avg"   => q.withOp(AggOp.AvgOp)
      case "sum"   => q.withOp(AggOp.SumOp)
      case "count" => q.withOp(AggOp.CountOp)
      case "hist"  => q.withOp(AggOp.HistOp)
      case other   => throw new IllegalArgumentException(s"-op $other")
    }
    if (f.contains("loghist")) q = q.logHistogram
    if (f.contains("nested-hist")) q = q.nestedHistogram // true MultiHist structure
    if (f.contains("tdigest")) q = q.tDigestHistogram // quantile-sketch flavor
    f.get("int-bucket").foreach(n => q = q.bucketCount(n.toInt))
    f.get("distinct").foreach(c => q = q.distinct(splitList(c): _*))
    f.get("distinct-limit").foreach(n => q = q.distinctLimitTo(n.toInt))
    f.get("int-filter").foreach(filterTriples(_).foreach { case (c, op, v) =>
      q = q.copy(filters = q.filters :+ graft.dsl.IntFilter(c, op, v.toLong))
    })
    f.get("str-filter").foreach(filterTriples(_).foreach { case (c, op, v) =>
      q = q.copy(filters = q.filters :+ graft.dsl.StrFilter(c, op, v))
    })
    f.get("set-filter").foreach(filterTriples(_).foreach { case (c, op, v) =>
      q = q.copy(filters = q.filters :+ graft.dsl.SetFilter(c, op, v))
    })
    val timeCol = f.getOrElse("time-col", "time")
    q = q.timeColumn(timeCol)
    if (f.contains("time"))
      q = q.timeSeries(timeCol, f.getOrElse("time-bucket", "3600").toLong)
    f.get("weight-col").filter(_.nonEmpty).foreach(w => q = q.weighted(w))
    f.get("str-replace").foreach(filterTriples(_).foreach { case (c, find, rep) =>
      q = q.replace(c, find, rep)
    })
    f.get("sort").filter(_.nonEmpty).foreach(s => q = q.sort(s))
    if (f.contains("sort-asc")) q = q.ascending
    q = q.limitTo(f.getOrElse("limit", "100").toInt)
    if (f.contains("samples"))
      q = q.takeSamples(f.get("sample-cols").map(splitList).getOrElse(Nil): _*)
    q
  }

  /** Tables under a db dir (printer.go:488-503 ListTables). */
  def listTables(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Nil
    else Files.list(p).iterator().asScala
      .filter(Files.isDirectory(_))
      .filter(d => Files.exists(d.resolve("info.json")) ||
        Files.isDirectory(d.resolve("blocks")))
      .map(_.getFileName.toString).toSeq.sorted
  }

  /** Table info (printer.go:600-647 PrintTableInfo): per-type columns +
    * count/storageSize/avgObjSize, straight from the sidecar + dir sizes. */
  def tableInfoText(spark: SparkSession, dir: String, table: String): String = {
    val t = new GraftTable(spark, s"$dir/$table")
    val i = t.info()
    def colsOf(pred: String => Boolean) =
      i.columns.filter(c => pred(c.dtype)).map(c => s"  ${c.name} (${c.dtype})")
    val size = {
      val root = Paths.get(dir, table)
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
    }
    val suffixes = Seq("B", "KB", "MB", "GB", "TB", "PB")
    var (small, idx) = (size, 0)
    while (small > 1024 && idx < suffixes.length - 1) { small /= 1024; idx += 1 }
    (Seq("String Columns") ++ colsOf(_ == "string") ++
      Seq("", "Integer Columns") ++ colsOf(d => d == "bigint" || d == "int") ++
      Seq("", "Set Columns") ++ colsOf(_.startsWith("array")) ++
      Seq("", "Stats",
        s"  count ${i.rowCount}",
        s"  storageSize $small ${suffixes(idx)}",
        f"  avgObjSize ${if (i.rowCount == 0) 0.0 else size.toDouble / i.rowCount}%.02f bytes"))
      .mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: graft <ingest|digest|optimize|trim|query|rebuild|export|inspect|version> [flags]")
    val cmd = args.head
    val f = parseFlags(args.tail.toSeq)
    if (cmd == "version") {
      // cmd_version.go parity: engine version plus the runtime it rides
      println(s"graft 0.2 (spark ${org.apache.spark.SPARK_VERSION}, " +
        s"scala ${scala.util.Properties.versionNumberString})")
      return
    }
    val dir = f.getOrElse("dir", "./db")
    lazy val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString).toInt)
    lazy val table = {
      val t = f.getOrElse("table", sys.error("-table is required"))
      new GraftTable(spark, s"$dir/$t")
    }

    cmd match {
      case "ingest" =>
        val in = f.getOrElse("infile", f.getOrElse("file",
          sys.error("-infile <path> is required (stdin ingest: pass a file)")))
        val df =
          if (f.contains("csv"))
            Ingest.readCsv(spark, in, exclude = f.get("exclude").map(splitList(_).toSet).getOrElse(Set.empty))
          else Ingest.readJson(spark, in,
            ints = f.get("ints").map(splitList(_).toSet).getOrElse(Set.empty),
            timestamps = f.get("timestamps").map(splitList(_).toSet).getOrElse(Set.empty),
            timestampFormat = f.getOrElse("timestamp-format", "yyyy-MM-dd HH:mm:ss"),
            exclude = f.get("exclude").map(splitList(_).toSet).getOrElse(Set.empty),
            jsonPath = f.get("path").filter(_ != "$"))
        // the reference auto-compacts when the log grows (table_ingest.go:63-124);
        // here digest is explicit, like `sybil digest`, so -skip-compact is a no-op
        table.ingest(df)

      case "digest" => table.digest()

      // layout optimization (no reference equivalent): rewrite blocks
      // clustered on the z-order curve of two int columns for two-column
      // data skipping — `graft optimize -table T -zorder x,y`
      case "optimize" =>
        val cols = splitList(f.getOrElse("zorder",
          sys.error("-zorder <xcol>,<ycol> is required")))
        require(cols.length == 2, "-zorder takes exactly two columns")
        if (table.blockIds.isEmpty)
          System.err.println("[graft] optimize: no digested blocks — run " +
            "`graft digest` first (undigested ingest logs are not optimized)")
        table.optimize(cols(0), cols(1),
          bits = f.get("zorder-bits").map(_.toInt).getOrElse(16))

      // `sybil index` re-derives per-block column info (cmd_index.go:19-34
      // sets WRITE_BLOCK_INFO and saves); here block-level stats live in
      // the same sidecar rebuild re-derives
      case "rebuild" | "index" => table.rebuild()

      case "trim" =>
        // reference semantics (cmd_trim.go:34): -list is the default dry
        // run; only -delete actually removes data
        val mb = f.get("mb").map(_.toLong * 1024 * 1024)
        val before = f.get("before").map(_.toLong)
        val tc = f.getOrElse("time-col", "time")
        val affected =
          if (f.contains("delete")) table.trim(mb, before, tc)
          else table.trimPlan(mb, before, tc)
        println(affected.mkString("\n"))

      case "export" =>
        table.exportTsv(f.getOrElse("outfile", sys.error("-outfile is required")),
          readLog = f.contains("read-log"))

      // `sybil inspect` decodes and dumps any .db file
      // (cmd_inspect.go:1-129); the parquet-era analog dumps any parquet
      // path's footer schema + row count, plus per-segment sidecar stats
      // when the path is a graft table root
      case "inspect" =>
        val path = f.getOrElse("file", f.getOrElse("table",
          sys.error("inspect needs -file <parquet path> or -table <name>")))
        val target = if (f.contains("file")) path else s"$dir/$path"
        val infoP = Paths.get(target, "info.json")
        if (Files.exists(infoP)) {
          val t = new GraftTable(spark, target)
          val i = t.info()
          println(s"table $target  rows=${i.rowCount}")
          i.columns.foreach(c => println(
            s"  col ${c.name} ${c.dtype} min=${c.min.getOrElse("-")} max=${c.max.getOrElse("-")}"))
          i.segments.foreach(s => println(
            s"  segment ${s.kind}/${s.id} rows=${s.rows}"))
        } else {
          // footers read on the driver, like the reference: no Spark job
          val ft = GraftTable.footers(spark, Seq(Paths.get(target)))
          println(s"parquet $target  rows=${ft.rows}")
          println(ft.schema.treeString)
        }

      case "query" if f.contains("tables") =>
        if (f.contains("json"))
          println(listTables(dir).map("\"" + _ + "\"").mkString("[", ",", "]"))
        else listTables(dir).foreach(println)

      case "query" if f.contains("info") =>
        println(tableInfoText(spark, dir, f.getOrElse("table", sys.error("-table is required"))))

      case "query" =>
        // `-update-info` (cmd_query.go:48): recompute the sidecar first
        if (f.contains("update-info")) table.rebuild()
        val q = buildQuery(f)
        // THE cache gate (QueryCache.refusal, read from the sidecar): a
        // shape the cache refuses falls back to the uncached run instead
        // of aborting the CLI with the cache's IllegalArgumentException
        val readLog = f.contains("read-log")
        val cacheable = f.contains("cache-queries") &&
          QueryCache.refusal(q, table.info().columns, readLog).isEmpty
        // retry on a stale plan-time listing when a concurrent digest
        // consumed segments mid-query — the reference CLI's "BLOCK SIZE
        // CHANGED" re-run (table_query.go); each attempt re-plans on a
        // fresh, journal-consistent listing
        graft.sources.GraftTable.retryStaleListing() {
          val result =
            if (cacheable) new QueryCache(spark, table).run(q)._1
            else table.query(q, readLog)
          if (f.contains("json")) println(Printer.toJsonEnvelope(result))
          else if (q.op == AggOp.HistOp)
            Printer.printHistConsole(result, q.limit.getOrElse(100))
          else Printer.printConsole(result, q.limit.getOrElse(100))
        }

      case other =>
        sys.error(s"subcommand '$other' is invalid " +
          "(ingest digest trim query rebuild export inspect version)")
    }
  }
}
