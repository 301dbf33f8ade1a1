package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Meter
import graft.dsl.SybilQuery
import graft.sources.{GraftTable, Ingest}

/** Ingest coercions + table lifecycle (ingest → digest → query → trim),
  * mirroring the reference's ingest/digest tests (row_store_test.go,
  * table_ingest.go) and the API E2E scheme (api_test.go:86-100). */
class IngestSpec extends SparkSpec {

  private def tmpDir(prefix: String) =
    SparkSpec.tempDir(prefix).toString

  private def writeJsonl(lines: Seq[String]): String = {
    val d = SparkSpec.tempDir("graft-jsonl")
    Files.writeString(d.resolve("data.jsonl"), lines.mkString("\n"))
    d.resolve("data.jsonl").toString
  }

  test("json ingest: flatten, truncate floats, bool→0/1, arrays→set of strings") {
    val path = writeJsonl(Seq(
      """{"name":"a","ping":60.9,"ok":true,"nested":{"x":{"y":5}},"tags":["t1","t2"],"nums":[1.4,2.6]}""",
      """{"name":"b","ping":-3.7,"ok":false,"nested":{"x":{"y":6}},"tags":[],"nums":[7.0]}"""))
    val df = Ingest.readJson(spark, path)
    val r = df.orderBy("name").collect()
    assert(df.schema("ping").dataType === LongType)
    assert(r(0).getAs[Long]("ping") === 60) // 60.9 truncated (cmd_ingest.go:59-60)
    assert(r(1).getAs[Long]("ping") === -3) // toward zero, like Go int64()
    assert(r(0).getAs[Long]("ok") === 1 && r(1).getAs[Long]("ok") === 0)
    assert(df.columns.contains("nested_x_y")) // '_'-joined flattening
    assert(r(0).getAs[Long]("nested_x_y") === 5)
    assert(r(0).getAs[collection.Seq[String]]("tags") === Seq("t1", "t2"))
    assert(r(0).getAs[collection.Seq[String]]("nums") === Seq("1", "3")) // %.0f rounds
  }

  test("json ingest: ints/timestamps/exclude flags") {
    val path = writeJsonl(Seq(
      """{"sid":"123","when":"2024-03-01 10:00:00","secret":"x","v":1}""",
      """{"sid":"notanint","when":"garbage","secret":"y","v":2}"""))
    val df = Ingest.readJson(spark, path,
      ints = Set("sid"), timestamps = Set("when"), exclude = Set("secret"))
    assert(!df.columns.contains("secret"))
    assert(df.schema("sid").dataType === LongType)
    val r = df.orderBy("v").collect()
    assert(r(0).getAs[Long]("sid") === 123L)
    assert(r(0).getAs[Long]("when") === 1709287200L) // UTC unix secs
    assert(r(1).isNullAt(r(1).fieldIndex("sid")))    // parse failure → missing
    assert(r(1).isNullAt(r(1).fieldIndex("when")))
  }

  test("jsonPath re-roots records before flattening (reference -path flag)") {
    val path = writeJsonl(Seq(
      """{"meta":{"v":1},"payload":{"rec":{"a":1,"b":{"c":"x"}}}}""",
      """{"meta":{"v":2},"payload":{"rec":{"a":2,"b":{"c":"y"}}}}"""))
    val df = Ingest.readJson(spark, path, jsonPath = Some("$.payload.rec"))
    assert(df.columns.sorted.toSeq === Seq("a", "b_c"))
    assert(df.orderBy("a").collect()(1).getAs[String]("b_c") === "y")
  }

  test("json envelope printer emits parseable results array") {
    val path = writeJsonl(Seq("""{"k":"a","v":1}""", """{"k":"b","v":2}"""))
    val out = graft.core.Printer.toJsonEnvelope(Ingest.readJson(spark, path).orderBy("k"))
    assert(out.startsWith("{\"results\":[") && out.contains("\"k\":\"a\"") &&
      out.endsWith("]}"))
  }

  test("sybilCompat=false keeps doubles") {
    val path = writeJsonl(Seq("""{"x":1.5}"""))
    val df = Ingest.readJson(spark, path, sybilCompat = false)
    assert(df.schema("x").dataType === DoubleType)
  }

  test("table lifecycle: ingest → read-log → digest → query → info → trim") {
    import spark.implicits._
    val root = tmpDir("graft-table")
    val t = new GraftTable(spark, root)

    val batch1 = (0 until 500).map(i => (i.toLong, s"u${i % 7}", 1700000000L + i)).toDF("id", "user", "time")
    val batch2 = (500 until 900).map(i => (i.toLong, s"u${i % 7}", 1700000000L + i)).toDF("id", "user", "time")
    t.ingest(batch1)
    t.ingest(batch2)

    // pre-digest: data only visible with readLog (the -read-log flag)
    assert(t.read(readLog = true).count() === 900)
    intercept[IllegalArgumentException](t.read(readLog = false))

    t.digest()
    assert(t.read(readLog = false).count() === 900)
    val i = t.info()
    assert(i.rowCount === 900)
    val idInfo = i.columns.find(_.name == "id").get
    assert(idInfo.min.contains(0L) && idInfo.max.contains(899L))

    // DSL over the digested table
    val q = SybilQuery().groupBy("user").limitTo(10).run(t.read())
    assert(q.collect().map(_.getAs[Long]("Count")).sum === 900)

    // type conflict: same column name, different type → dropped with warning
    val bad = Seq(("x", "stringy-id")).toDF("user", "id")
    t.ingest(bad)
    assert(t.read(readLog = true).filter(col("id").isNull).count() === 1)

    // trim by age: everything older than cutoff goes
    val removed = t.trim(olderThan = Some(1800000000L))
    assert(removed.nonEmpty)
    assert(!Files.list(java.nio.file.Paths.get(root, "blocks")).iterator().hasNext)
  }

  test("digest enforces the 64Ki-row cap per block file WITHOUT a " +
      "shuffle (r13: maxRecordsPerFile replaced repartition — the " +
      "all-data exchange was the measured superlinear phase)") {
    import spark.implicits._
    val root = tmpDir("graft-chunks")
    val t = new GraftTable(spark, root)
    // 2 log files of 75k rows each: a digest task must roll a file at
    // the cap (32 tiny log files would give 32 tiny tasks instead —
    // openCostInBytes packs roughly one small file per split)
    t.ingest((0 until 150000).map(i => (i.toLong, i % 3)).toDF("id", "k")
      .coalesce(2))
    t.digest()
    val dir = java.nio.file.Paths.get(root, "blocks")
    val files = Files.walk(dir).iterator()
    val parts = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter(p => p.toString.endsWith(".parquet")).toSeq
    // the invariant is the CAP (no file exceeds ChunkSize rows), not an
    // exact file count — without the shuffle, file count = input splits
    // + per-task tails, which is layout-dependent by design
    assert(parts.nonEmpty)
    for (p <- parts) {
      val n = spark.read.parquet(p.toString).count()
      assert(n <= t.ChunkSize, s"$p has $n rows > ChunkSize")
    }
    assert(t.read().count() === 150000)
    // and at least one file actually hit the cap (the cap is real, not
    // vacuously satisfied by tiny inputs)
    assert(parts.exists(p => spark.read.parquet(p.toString).count() == t.ChunkSize))
  }

  test("digest compaction: repeated small ingest+digest keeps ONE block") {
    import spark.implicits._
    val root = tmpDir("graft-compact")
    val t = new GraftTable(spark, root)
    for (c <- 0 until 10) {
      t.ingest((0 until 50).map(i => ((c * 50 + i).toLong, s"u${i % 3}")).toDF("id", "user"))
      t.digest() // partial-block top-up (FillPartialBlock, table_block_io.go:48-107)
    }
    assert(t.blockIds.size === 1, "sub-64Ki blocks must merge, not accumulate")
    assert(t.read().count() === 500)
    val i = t.info()
    assert(i.rowCount === 500)
    val id = i.columns.find(_.name == "id").get
    assert(id.min.contains(0L) && id.max.contains(499L))
  }

  test("digest journal makes a crash between rename and cleanup duplicate-free") {
    import spark.implicits._
    val root = tmpDir("graft-journal")
    val t = new GraftTable(spark, root)
    t.ingest((0 until 20).map(i => (i.toLong, s"u${i % 3}")).toDF("id", "user"))
    t.digest()
    val merged = t.blockIds.head
    // Reconstruct the flagged crash state: the merged block has landed and
    // the journal names the consumed partial block, but the partial was
    // never deleted (crash in the cleanup window). The "partial" here is a
    // byte-copy of the merged block, so without journal superseding, every
    // row would be read twice and reconciled() would legitimize both.
    val blocks = java.nio.file.Paths.get(root, "blocks")
    val fake = blocks.resolve("00000000-dead-beef-0000-000000000000")
    Files.walk(blocks.resolve(merged)).forEach { p =>
      val dst = fake.resolve(blocks.resolve(merged).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }
    Files.writeString(java.nio.file.Paths.get(root, "digest.journal"),
      s"""{"newBlock":"$merged","consumedBlocks":["${fake.getFileName}"],"consumedLogs":[]}""")
    assert(t.read().count() === 20, "superseded block must not be read twice")
    assert(t.blockIds === Seq(merged))
    // reconciled() (via blockSegments) finishes the cleanup: dir + journal go
    assert(t.blockSegments.map(_.id) === Seq(merged))
    assert(!Files.exists(fake), "superseded partial must be deleted")
    assert(!Files.exists(java.nio.file.Paths.get(root, "digest.journal")))
    assert(t.info().rowCount === 20)
  }

  test("compaction and trim garbage-collect cache partials of dead blocks") {
    import spark.implicits._
    val root = tmpDir("graft-cachegc")
    val t = new GraftTable(spark, root)
    t.ingest((0 until 100).map(i => (s"k${i % 4}", i.toLong, (i % 7).toLong))
      .toDF("k", "time", "v"))
    t.digest()
    val b0 = t.blockIds.head
    val cache = new graft.sources.QueryCache(spark, t)
    cache.run(graft.dsl.SybilQuery().groupBy("k")
      .intFilterGt("time", -1).limitTo(100))
    val cacheRoot = java.nio.file.Paths.get(root, "cache")
    def partialDirs(id: String): Seq[java.nio.file.Path] =
      if (!Files.exists(cacheRoot)) Nil
      else Files.list(cacheRoot).iterator().asScala.toSeq
        .map(_.resolve(id)).filter(Files.exists(_))
    // b0 is the top-up block the next compacting digest refolds: the
    // cache computes it fresh and writes no partial for it
    assert(t.topUpBlock(t.info()).map(_.id) === Some(b0))
    assert(partialDirs(b0).isEmpty, "the top-up block must not be cached")
    // plant a partial under b0's id as a cache that did cache it would
    // have (cache/<key>/<blockId>/part-*.parquet), plus sweep-test
    // entries under the same key: an in-flight .tmp- publish (must
    // SURVIVE the sweep) and a dead-block orphan (the late-publish case
    // the targeted GC misses — must be swept)
    val someKey = cacheRoot.resolve("planted-key")
    def plant(id: String): Unit =
      spark.range(3).toDF("Count").write.parquet(someKey.resolve(id).toString)
    plant(b0)
    assert(partialDirs(b0).nonEmpty)
    val inflight = someKey.resolve(".tmp-inflight")
    Files.createDirectories(inflight)
    Files.writeString(inflight.resolve("part-0"), "in-flight publish")
    val orphan = someKey.resolve("00000000-dead-0000-0000-000000000000")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-0"), "late publish for a dead block")
    // compaction consumes the partial block b0 → its cache partials must go
    t.ingest((100 until 200).map(i => (s"k${i % 4}", i.toLong, (i % 7).toLong))
      .toDF("k", "time", "v"))
    t.digest()
    assert(!t.blockIds.contains(b0))
    assert(partialDirs(b0).isEmpty, "dead block's cache partials must be GC'd")
    assert(Files.exists(inflight), "sweep must never touch in-flight .tmp- publishes")
    assert(!Files.exists(orphan), "sweep must remove orphans of dead blocks")
    // and trim GCs the partials of the blocks it deletes
    val b1 = t.blockIds.head
    plant(b1)
    assert(partialDirs(b1).nonEmpty)
    t.trim(olderThan = Some(10000L))
    assert(t.blockIds.isEmpty && partialDirs(b1).isEmpty)
  }

  test("trim deletes exactly the blocks its dry run lists") {
    import spark.implicits._
    val root = tmpDir("graft-trim-plan")
    val t = new GraftTable(spark, root)
    // three blocks; the last written (newest by mtime) is the oldest by time
    val ids = Seq(1000L, 2000L, 100L).map { t0 =>
      val before = t.blockIds.toSet
      t.ingest((0 until 100).map(i => (s"k${i % 4}", t0 + i)).toDF("k", "time"))
      t.digest(compact = false)
      (t.blockIds.toSet -- before).head
    }
    val dirs = ids.map(id => java.nio.file.Paths.get(root, "blocks", id))
    dirs.zipWithIndex.foreach { case (d, k) =>
      Files.setLastModifiedTime(d, java.nio.file.attribute.FileTime.fromMillis(
        1700000000000L + k * 60000L))
    }
    def bytes(d: java.nio.file.Path): Long = {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
    // the aged block goes; the two left fit the budget
    val budget = Some(bytes(dirs(0)) + bytes(dirs(1)))
    val plan = t.trimPlan(maxBytes = budget, olderThan = Some(500L))
    val removed = t.trim(maxBytes = budget, olderThan = Some(500L))
    assert(plan === removed)
    assert(removed === Seq(dirs(2).toString))
    assert(t.blockIds.toSet === ids.take(2).toSet)
  }

  test("query cache serves loghist exactly, with a key distinct from flat hist") {
    import spark.implicits._
    val root = tmpDir("graft-loghist-cache")
    val t = new GraftTable(spark, root)
    t.ingest((1 until 2000).map(i => (s"k${i % 2}", i.toLong, (i % 500 + 1).toLong))
      .toDF("k", "time", "v"))
    t.digest()
    // one more small block: it is the top-up block the next digest
    // refolds (computed fresh every run), so the first block is the one
    // whose partials the flavors below hit and miss on
    t.ingest((2000 until 2100).map(i => (s"k${i % 2}", i.toLong, (i % 500 + 1).toLong))
      .toDF("k", "time", "v"))
    t.digest(compact = false)
    val cache = new graft.sources.QueryCache(spark, t)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("k", "Count", "v_hist.count", "v_hist.mean",
        "v_hist.percentiles[50]", "v_hist.stddev").collect().map(_.toString).sorted
    val logQ = graft.dsl.SybilQuery().groupBy("k").aggregate("v")
      .logHistogram.intFilterGt("time", 0)
    val flatQ = logQ.copy(useLogHist = false)
    val single = canon(t.query(logQ))
    val (miss, o1) = cache.run(logQ)
    assert(o1.misses === 1 && canon(miss) === single, "cached-miss == single-pass")
    val (hit, o2) = cache.run(logQ)
    assert(o2.hits === 1 && canon(hit) === single, "cache-hit == single-pass")
    // flat hist with identical filters must NOT share the log partials
    val (flat, o3) = cache.run(flatQ)
    assert(o3.misses === 1, "flavor must be part of the cache key")
    assert(canon(flat) !== single, "flat and log layouts differ on this data")
    // nested MultiHist: third flavor, own key, cached == single-pass
    val nestedQ = logQ.copy(useLogHist = false, useNestedHist = true)
    val singleNested = canon(t.query(nestedQ))
    val (nm, o4) = cache.run(nestedQ)
    assert(o4.misses === 1 && canon(nm) === singleNested)
    val (nh, o5) = cache.run(nestedQ)
    assert(o5.hits === 1 && canon(nh) === singleNested)
  }

  test("concurrent ingest + digest stress: every row exactly once") {
    // the reference's stress_ingest_digest.sh scheme: writers append while a
    // digester compacts; dir-level atomicity + the digest lock + journal +
    // sidecar self-heal must deliver exactly-once rows
    import spark.implicits._
    val root = tmpDir("graft-stress")
    val t = new GraftTable(spark, root)
    val threads = 4; val batches = 5; val rowsPer = 40
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads + 1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (0 until threads).map { th =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          for (b <- 0 until batches) {
            val base = (th * batches + b) * rowsPer
            t.ingest((0 until rowsPer).map(i => ((base + i).toLong, s"u$th"))
              .toDF("id", "user"))
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    val digester = pool.submit(new Runnable {
      def run(): Unit = try {
        for (_ <- 0 until 8) {
          try t.digest()
          catch { case _: IllegalStateException => () } // lock contention is expected
          Thread.sleep(30)
        }
      } catch { case e: Throwable => errs.add(e) }
    })
    writers.foreach(_.get)
    digester.get()
    pool.shutdown()
    assert(errs.isEmpty, s"stress errors: ${errs.asScala.map(_.toString).mkString("; ")}")
    t.digest() // final drain
    val total = threads * batches * rowsPer
    val ids = t.read().select("id").collect().map(_.getLong(0))
    assert(ids.length === total, "no row lost, none duplicated")
    assert(ids.toSet.size === total)
    assert(t.rebuild().rowCount === total)
  }

  test("query-DURING-digest consistency: every concurrent snapshot is an " +
      "exactly-once batch prefix (withSnapshot retry = the reference's " +
      "BLOCK SIZE CHANGED re-run)") {
    import spark.implicits._
    val root = tmpDir("graft-qstress")
    val t = new GraftTable(spark, root)
    val batches = 24; val rowsPer = 150
    def batchDf(b: Int) = {
      val base = b * rowsPer
      (0 until rowsPer).map(i => (base + i).toLong).toDF("id")
    }
    t.ingest(batchDf(0)) // the table is never empty once readers start
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var writerDone = false
    val digestActive = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var overlappedReads = 0
    val writer = pool.submit(new Runnable {
      def run(): Unit = try {
        for (b <- 1 until batches) { t.ingest(batchDf(b)); Thread.sleep(5) }
      } catch { case e: Throwable => errs.add(e) }
      finally writerDone = true
    })
    val digester = pool.submit(new Runnable {
      def run(): Unit = try {
        while (!writerDone) {
          digestActive.set(true)
          try t.digest()
          catch { case _: IllegalStateException => () }
          finally digestActive.set(false)
          Thread.sleep(10)
        }
      } catch { case e: Throwable => errs.add(e) }
    })
    // the CLI's read: an uncached query, retried on a stale listing
    val countQ = SybilQuery().aggregate("id").withOp(graft.dsl.AggOp.SumOp)
    val reader = pool.submit(new Runnable {
      def run(): Unit = try {
        var lastCnt = 0L
        var reads = 0
        while (!writerDone || reads < 10) {
          val during = digestActive.get()
          val (cnt, s) =
            if (reads % 2 == 0) {
              val row = t.withSnapshot(readLog = true) { df =>
                df.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)))
                  .collect()(0)
              }
              (row.getLong(0), row.getLong(1))
            } else {
              val row = GraftTable.retryStaleListing() {
                t.query(countQ, readLog = true).collect()
              }.head
              (row.getAs[Long]("Count"), row.getAs[Double]("id_sum").toLong)
            }
          // exactly-once PREFIX: batch-aligned count, and the id sum
          // identifies the prefix uniquely (batches are disjoint ranges)
          assert(cnt % rowsPer === 0L,
            s"snapshot count $cnt is not batch-aligned (torn segment)")
          assert(s === cnt * (cnt - 1) / 2,
            s"snapshot of $cnt rows has sum $s != ${cnt * (cnt - 1) / 2} " +
              "(double-count or missing middle batch)")
          assert(cnt >= lastCnt, s"snapshot went backwards: $lastCnt -> $cnt")
          lastCnt = cnt
          if (during) overlappedReads += 1
          reads += 1
        }
      } catch { case e: Throwable => errs.add(e) }
    })
    writer.get(); digester.get(); reader.get()
    pool.shutdown()
    assert(errs.isEmpty,
      s"stress errors: ${errs.asScala.map(_.toString).mkString("; ")}")
    assert(overlappedReads > 0,
      "no read overlapped a digest — the test exercised nothing")
    t.digest()
    val total = batches.toLong * rowsPer
    val fin = t.read().agg(count(lit(1)), sum(col("id"))).collect()(0)
    assert(fin.getLong(0) === total)
    assert(fin.getLong(1) === total * (total - 1) / 2)
  }

  test("concurrent ingest + digest + optimize stress: exactly-once rows, clustered layout") {
    import spark.implicits._
    val root = tmpDir("graft-zstress")
    val t = new GraftTable(spark, root)
    val threads = 3; val batches = 4; val rowsPer = 50
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads + 1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (0 until threads).map { th =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          for (b <- 0 until batches) {
            val base = (th * batches + b) * rowsPer
            t.ingest((0 until rowsPer).map(i =>
              ((base + i).toLong, (base + i).toLong % 100,
                ((base + i) * 7).toLong % 100)).toDF("id", "x", "y"))
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    val maintainer = pool.submit(new Runnable {
      def run(): Unit = try {
        for (r <- 0 until 6) {
          try { if (r % 2 == 0) t.digest() else t.optimize("x", "y", bits = 6) }
          catch { case _: IllegalStateException => () } // lock contention ok
          Thread.sleep(40)
        }
      } catch { case e: Throwable => errs.add(e) }
    })
    writers.foreach(_.get)
    maintainer.get()
    pool.shutdown()
    assert(errs.isEmpty, s"stress errors: ${errs.asScala.map(_.toString).mkString("; ")}")
    t.digest()
    t.optimize("x", "y", bits = 6)
    val total = threads * batches * rowsPer
    val ids = t.read().select("id").collect().map(_.getLong(0))
    assert(ids.length === total && ids.toSet.size === total,
      "no row lost, none duplicated through digest+optimize interleaving")
    assert(t.rebuild().rowCount === total)
  }

  test("ingest is O(batch): appending to a large table reads only the batch") {
    import spark.implicits._
    val root = tmpDir("graft-obatch")
    val t = new GraftTable(spark, root)
    t.ingest((0 until 200000).map(i => (i.toLong, (i % 97).toLong)).toDF("id", "v"))
    t.digest()
    val bytesRead = Meter.measure(spark)(
      t.ingest((0 until 100).map(i => ((200000 + i).toLong, 7L)).toDF("id", "v"))
    )._2.total.inBytes
    // the 200k-row table is ~1.5 MB of parquet; an O(batch) ingest touches
    // only the tiny new segment (footer + 100 rows)
    assert(bytesRead < 300000,
      s"ingest read $bytesRead bytes — smells like a full-table rescan")
    val id = t.info().columns.find(_.name == "id").get
    assert(id.max.contains(200099L), "batch extents must merge into the sidecar")
    assert(t.info().rowCount === 200100)
  }

  test("extents are outlier-resistant: a corrupt extremum does not poison them") {
    import spark.implicits._
    val root = tmpDir("graft-outlier")
    val t = new GraftTable(spark, root)
    t.ingest((0 until 200).map(i => (i.toLong, i.toLong)).toDF("id", "v"))
    t.digest()
    // one corrupt record 5 orders of magnitude out (>1000 sigma of the rest)
    t.ingest(Seq((200L, 10000000L)).toDF("id", "v"))
    val v = t.info().columns.find(_.name == "v").get
    assert(v.max.contains(199L),
      s"corrupt extremum must not widen extents (got max=${v.max})")
    // but a plausible new extreme IS admitted
    t.ingest(Seq((201L, 250L)).toDF("id", "v"))
    assert(t.info().columns.find(_.name == "v").get.max.contains(250L))
  }

  test("corrupt segment leaves hist bucket layout pinned (end-to-end)") {
    // the CONSEQUENCE of the 1000-sigma extent rejection
    // (table_column_info.go:72-131): hist bucket widths derive from the
    // sidecar extents, so one corrupt segment must neither stretch the
    // bucket layout nor enter the histogram (values > max*10 drop,
    // hist_basic.go:101-109)
    import spark.implicits._
    import graft.dsl.{AggOp, SybilQuery}
    val root = tmpDir("graft-outlier-hist")
    val t = new GraftTable(spark, root)
    t.ingest((0 until 200).map(i => ("a", i.toLong, i.toLong))
      .toDF("k", "time", "v"))
    t.digest()
    val q = SybilQuery().groupBy("k").aggregate("v").withOp(AggOp.HistOp)
    def hist(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect().head
      val h = r.getStruct(r.fieldIndex("v_hist"))
      (h.getAs[Long]("count"), h.getAs[Long]("min"), h.getAs[Long]("max"),
        h.getAs[collection.Seq[Long]]("bucketLows").toSeq)
    }
    val (cleanCount, _, cleanMax, cleanLows) = hist(t.query(q))
    assert(cleanCount == 200 && cleanMax == 199)
    // corrupt segment 5 orders of magnitude out
    t.ingest(Seq(("a", 200L, 10000000L)).toDF("k", "time", "v"))
    t.digest()
    val (count2, _, max2, lows2) = hist(t.query(q))
    assert(lows2 == cleanLows,
      s"bucket layout must stay pinned by the rejected extents (got $lows2)")
    assert(count2 == 200 && max2 == 199,
      "the corrupt value must drop from the histogram, not clamp into it")
  }

  test("reconcile self-heals a sidecar that missed a segment (racy ingest)") {
    import spark.implicits._
    val root = tmpDir("graft-heal")
    val t = new GraftTable(spark, root)
    t.ingest((0 until 100).map(i => (i.toLong, i % 5)).toDF("id", "k"))
    // simulate a concurrent ingest whose sidecar update lost the race:
    // a log dir exists on disk that info.json has never seen, carrying a
    // column the registry has never seen either
    (100 until 150).map(i => (i.toLong, i % 5, s"x$i")).toDF("id", "k", "extra")
      .write.parquet(s"$root/ingest/${java.util.UUID.randomUUID()}")
    // and a block dir, as a digest that crashed before its sidecar write
    // leaves it
    val orphanBlock = java.util.UUID.randomUUID().toString
    (150 until 180).map(i => (i.toLong, i % 5)).toDF("id", "k").coalesce(1)
      .write.parquet(s"$root/blocks/$orphanBlock")
    assert(t.info().rowCount === 100) // sidecar stale
    // digest reconciles first: ONE stats scan over both orphans, whose
    // group-by shuffle makes it two jobs under AQE (the map stage is a
    // job of its own), then its write (a compact=false digest leaves the
    // orphan block a segment)
    val digestJobs = Meter.measure(spark)(t.digest(compact = false))._2
    assert(digestJobs.phases.toMap.get("graft.digest.reconcile").map(_.jobs) === Some(2L) &&
      digestJobs.total.jobs === 3, digestJobs.phases.mkString("; "))
    assert(t.info().rowCount === 180, "orphan segments must be recovered")
    assert(t.read().count() === 180)
    val id = t.info().columns.find(_.name == "id").get
    assert(id.max.contains(179L))
    val segs = t.info().segments
    assert(segs.map(s => (s.kind, s.rows)).sorted === Seq(("block", 30L), ("block", 150L)))
    val scanned = segs.find(_.id == orphanBlock).get.stat("id").get
    assert(scanned === graft.sources.ColStat("id", Some(150L), Some(179L), 30L,
      (150 until 180).sum.toDouble, (150 until 180).map(i => i.toDouble * i).sum))
    // the drained logs' scanned row count cross-checked the digest's
    // observed one (a mismatch would have cost a third, rescan, job)
    val digested = segs.find(_.id != orphanBlock).get
    assert(digested.stat("id").map(s => (s.min, s.max, s.cnt)) ===
      Some((Some(0L), Some(149L), 150L)))
    // the orphan's column reaches the registry and the digested block,
    // where the older rows read it as null
    assert(t.info().columns.find(_.name == "extra").map(_.dtype) === Some("string"))
    val block = spark.read.parquet(
      java.nio.file.Paths.get(root, "blocks", digested.id).toString)
    assert(block.filter(col("extra").isNull).select("id").as[Long].collect().sorted.toSeq ===
      (0L until 100L))
    assert(block.filter(col("extra") === concat(lit("x"), col("id").cast("string"))).count() === 50)
  }

  test("job budget: an ingest is its write, a JSON batch adds its " +
      "inference, a compacting digest is its write") {
    import spark.implicits._
    val root = tmpDir("graft-jobs")
    val t = new GraftTable(spark, root)
    def jobsOf(f: => Unit): Long = Meter.measure(spark)(f)._2.total.jobs
    // a three-file log dir, beside _SUCCESS and .crc files: the row count
    // the footers verify must be the batch's, not a file count. Three
    // partitions without a shuffle: under AQE a repartition's map stage
    // is a job of its own, the batch's cost rather than the ingest's
    val batch = spark.sparkContext.parallelize(
      (0 until 300).map(i => (1700000000L + i, s"u${i % 7}")), 3).toDF("time", "user")
    assert(jobsOf(t.ingest(batch)) === 1)
    assert(t.info().segments.map(_.rows) === Seq(300L))
    val logFiles = Files.list(java.nio.file.Paths.get(root, "ingest"))
      .iterator().asScala.toSeq.flatMap(d => Files.list(d).iterator().asScala.toSeq)
      .map(_.getFileName.toString)
    assert(logFiles.count(_.endsWith(".parquet")) === 3 && logFiles.contains("_SUCCESS") &&
      logFiles.exists(_.endsWith(".crc")), logFiles.mkString(", "))
    t.digest()
    val path = writeJsonl((0 until 50).map(i =>
      s"""{"time": ${1700000300 + i}, "user": "u${i % 7}"}"""))
    assert(jobsOf(t.ingest(Ingest.readJson(spark, path))) === 2)
    // folds the log into the 300-row top-up block
    assert(jobsOf(t.digest()) === 1)
    assert(t.blockIds.size === 1 && t.info().rowCount === 350)
    assert(t.read().count() === 350)
    // building a read or a query is driver-side: the schema is the
    // sidecar registry's, so no job runs until the result is consumed
    assert(jobsOf { t.query(SybilQuery().groupBy("user")); () } === 0)
    assert(jobsOf { t.read(); () } === 0)
  }

  test("digest puts a column the sidecar registry lost back, from its " +
      "inputs' footers: cached reads see it") {
    import spark.implicits._
    val root = tmpDir("graft-regheal")
    val t = new GraftTable(spark, root)
    t.ingest((0 until 100).map(i => (1700000000L + i, s"u${i % 3}")).toDF("time", "user"))
    t.digest()
    t.ingest((100 until 200).map(i => (1700000000L + i, s"u${i % 3}", s"r${i % 2}"))
      .toDF("time", "user", "region"))
    // the registry a stale digest snapshot used to write: the batch's new
    // column gone, while the log it digests carries it
    val infoP = java.nio.file.Paths.get(root, "info.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = mapper.readTree(Files.readString(infoP))
    val cols = o.get("columns").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    cols.remove((0 until cols.size).find(cols.get(_).get("name").asText == "region").get)
    Files.writeString(infoP, mapper.writeValueAsString(o))
    assert(!t.info().columns.exists(_.name == "region"))
    t.digest(compact = false)
    assert(t.info().columns.find(_.name == "region").map(_.dtype) === Some("string"))
    val q = SybilQuery().groupBy("region").intFilterGt("time", 0).limitTo(10)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val uncached = canon(t.query(q))
    assert(uncached.exists(_.contains("r1")), uncached)
    val cache = new graft.sources.QueryCache(spark, t)
    val (miss, o1) = cache.run(q)
    assert(o1.misses === 1 && canon(miss) === uncached)
    val (hit, o2) = cache.run(q)
    assert(o2.hits === 1 && canon(hit) === uncached)
  }

  test("a column whose registry type does not parse back reads under its " +
      "footer type, cached and uncached") {
    import spark.implicits._
    val root = tmpDir("graft-structcol")
    val t = new GraftTable(spark, root)
    def batch(r: Range) = t.ingest(r.map(i => (1700000000L + i, s"u${i % 3}", i.toLong))
      .toDF("time", "user", "v")
      .select(col("time"), col("user"), struct(col("v").as("a b")).as("s")))
    // two blocks: the older one cacheable, the newer the top-up block
    batch(0 until 100)
    t.digest()
    batch(100 until 150)
    t.digest(compact = false)
    // the registry keeps Spark's simpleString, which does not quote "a b"
    val dtype = t.info().columns.find(_.name == "s").map(_.dtype)
    assert(dtype === Some("struct<a b:bigint>"))
    assert(Try(DataType.fromDDL(dtype.get)).isFailure)
    val back = t.read().select(col("time"), col("s.`a b`"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(back === (0 until 150).map(i => (1700000000L + i, i.toLong)))
    val q = SybilQuery().groupBy("user").intFilterGt("time", 0).limitTo(10)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val uncached = canon(t.query(q))
    assert(uncached.size === 3, uncached)
    val cache = new graft.sources.QueryCache(spark, t)
    val (miss, o1) = cache.run(q)
    assert(o1 === graft.sources.CacheOutcome(0, 1, 1, 0) && canon(miss) === uncached)
    val (hit, o2) = cache.run(q)
    assert(o2 === graft.sources.CacheOutcome(1, 0, 1, 0) && canon(hit) === uncached)
  }

  test("ingest of a batch whose every column conflicts is a warned no-op") {
    import spark.implicits._
    val root = tmpDir("graft-allconflict")
    val t = new GraftTable(spark, root)
    t.ingest(Seq((1L, 2L)).toDF("a", "b"))
    t.ingest(Seq(("x", "y")).toDF("a", "b")) // both columns conflict → dropped
    assert(t.info().rowCount === 1)
    assert(t.read(readLog = true).count() === 1)
  }

  test("digest lock: concurrent digest refused, stale lock broken") {
    import spark.implicits._
    val root = tmpDir("graft-lock")
    val t = new GraftTable(spark, root)
    t.ingest(Seq((1L, 2L)).toDF("a", "b"))
    val lock = java.nio.file.Paths.get(root, "digest.lock")
    Files.writeString(lock, "99999999") // someone else holds it (fresh)
    intercept[IllegalStateException](t.digest())
    // stale lock (old mtime) is broken and digest proceeds
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000))
    t.digest()
    assert(t.blockIds.nonEmpty && !Files.exists(lock))
  }

  test("set (array) group-by is rejected with a clear error") {
    import spark.implicits._
    val df = Seq((1L, Seq("a", "b"))).toDF("v", "tags")
    val ex = intercept[IllegalArgumentException] {
      SybilQuery().groupBy("tags").run(df)
    }
    assert(ex.getMessage.contains("set column"))
  }

  test("TSV export round-trips records (gzip, header)") {
    import spark.implicits._
    val root = tmpDir("graft-tsv")
    val t = new GraftTable(spark, root)
    t.ingest(Seq((1L, "a\tx"), (2L, "b")).toDF("id", "s"))
    t.digest()
    val out = tmpDir("graft-tsv-out")
    t.exportTsv(out)
    val files = Files.list(java.nio.file.Paths.get(out)).iterator()
    val gz = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter(_.toString.endsWith(".csv.gz")).toSeq
    assert(gz.nonEmpty, "export must produce gzip parts")
    val back = spark.read.option("sep", "\t").option("header", "true")
      .csv(out).orderBy("id").collect()
    assert(back.length === 2 && back(0).getString(0) === "1")
  }

  test("csv ingest with header and numeric inference") {
    val d = SparkSpec.tempDir("graft-csv")
    Files.writeString(d.resolve("data.csv"), "name,age,score\nalice,30,9.7\nbob,41,3.2\n")
    val df = Ingest.readCsv(spark, d.resolve("data.csv").toString)
    assert(df.schema("age").dataType === LongType)
    assert(df.schema("score").dataType === LongType) // truncated like sybil
    val r = df.orderBy("name").collect()
    assert(r(0).getAs[Long]("score") === 9)
  }

  test("optimize rewrites blocks z-order-clustered: rows intact, both dims tiled, cache dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tmpDir("graft-zopt")
    val t = new GraftTable(spark, root)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 20000).map(i =>
      (i.toLong, rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
    t.ingest(rows.toDF("id", "x", "y"))
    t.digest()
    val before = t.blockIds
    // plant a cache partial under the old block id — optimize must GC it
    val cacheDir = root + "/cache/somekey/" + before.head
    Files.createDirectories(java.nio.file.Paths.get(cacheDir))
    Files.writeString(java.nio.file.Paths.get(cacheDir, "part.txt"), "x")

    t.optimize("x", "y", bits = 8, rowsPerPartition = 1250) // 16 tiles

    assert(t.read().count() === 20000)
    assert(t.info().rowCount === 20000)
    assert(t.blockIds.size === 1 && !before.contains(t.blockIds.head))
    assert(!Files.exists(java.nio.file.Paths.get(cacheDir)),
      "cache partials of consumed blocks must be GC'd")
    // layout: per-FILE extents of BOTH dims much narrower than the global
    // 0..999 range (the two-dim data-skipping property)
    val widths = t.read()
      .select(input_file_name().as("f"), col("x"), col("y"))
      .groupBy("f")
      .agg((max("x") - min("x")).as("xr"), (max("y") - min("y")).as("yr"))
      .agg(avg("xr"), avg("yr")).collect()(0)
    assert(widths.getDouble(0) < 500.0, s"x tile ${widths.getDouble(0)}")
    assert(widths.getDouble(1) < 500.0, s"y tile ${widths.getDouble(1)}")
    // sidecar extents survived the rewrite
    val xi = t.info().columns.find(_.name == "x").get
    assert(xi.min.contains(rows.map(_._2).min) && xi.max.contains(rows.map(_._2).max))
  }

  test("retryStaleListing classifies the ANALYSIS-time race (PATH_NOT_FOUND " +
      "from a dir a digest consumed between listing and resolution) as " +
      "stale, and rethrows anything else immediately") {
    var calls = 0
    val out = GraftTable.retryStaleListing(maxRetries = 5) {
      calls += 1
      if (calls < 3) throw new org.apache.spark.sql.AnalysisException(
        errorClass = "PATH_NOT_FOUND",
        messageParameters = Map("path" -> "file:/tmp/gone"))
      42
    }
    assert(out === 42 && calls === 3)
    // a non-stale failure propagates on the FIRST call — retrying a real
    // error 5 times would just quintuple the damage
    var calls2 = 0
    val e = intercept[IllegalStateException] {
      GraftTable.retryStaleListing(maxRetries = 5) {
        calls2 += 1
        throw new IllegalStateException("genuinely broken")
      }
    }
    assert(e.getMessage === "genuinely broken" && calls2 === 1)
    // retries exhausted: the stale error itself surfaces (loud, never a hang)
    intercept[org.apache.spark.sql.AnalysisException] {
      GraftTable.retryStaleListing(maxRetries = 2) {
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "PATH_NOT_FOUND",
          messageParameters = Map("path" -> "file:/tmp/gone"))
      }
    }
  }

  test("ingestIdempotent: replaying a token is a no-op; ledger completes after a crash") {
    import spark.implicits._
    val root = tmpDir("graft-idem")
    val t = new GraftTable(spark, root)
    val batch = (0 until 50).map(i => (i.toLong, s"u$i")).toDF("id", "user")

    assert(t.ingestIdempotent(batch, "ckpt#0"))
    assert(!t.ingestIdempotent(batch, "ckpt#0")) // replay: no-op
    assert(t.read(readLog = true).count() === 50)
    assert(t.info().rowCount === 50)

    assert(t.ingestIdempotent(batch, "ckpt#1")) // new batch appends
    assert(t.read(readLog = true).count() === 100)

    // crash window: segment published but ledger append lost — the replay
    // (a NEW process, so a fresh instance with a fresh ledger mirror)
    // must complete the ledger WITHOUT re-ingesting
    val ledger = java.nio.file.Paths.get(root, "stream_tokens.log")
    val lines = Files.readAllLines(ledger)
    Files.writeString(ledger, lines.get(0) + "\n") // drop ckpt#1's line
    val t2 = new GraftTable(spark, root)           // post-crash instance
    assert(t2.ingestIdempotent(batch, "ckpt#1"))   // "ingested" (completes ledger)
    assert(t2.read(readLog = true).count() === 100) // but no duplicate rows
    assert(!t2.ingestIdempotent(batch, "ckpt#1"))  // now recorded
    assert(Files.readAllLines(ledger).size === 2)
  }

  test("compacting digest tops up the NEWEST sub-64Ki block, not the " +
      "greatest id") {
    import spark.implicits._
    // block ids are random UUIDs, so over 10 fresh tables an id-ordered
    // choice would pick the older block about half the time
    for (n <- 0 until 10) {
      val t = new GraftTable(spark, tmpDir(s"graft-topup-$n"))
      def block(from: Int, compact: Boolean): String = {
        val before = t.blockIds.toSet
        t.ingest((from until from + 20).map(i => (i.toLong, s"u${i % 3}"))
          .toDF("time", "user"))
        t.digest(compact = compact)
        (t.blockIds.toSet -- before).head
      }
      val older = block(0, compact = false)
      val newer = block(20, compact = false)
      assert(t.topUpBlock(t.info()).map(_.id) === Some(newer))
      block(40, compact = true)
      assert(!t.blockIds.contains(newer), s"table $n: the newer block must be refolded")
      assert(t.blockIds.contains(older), s"table $n: the older block must be kept")
      assert(t.read().count() === 60)
    }
  }

  test("a four-week history block keeps the table's time minimum through " +
      "minute-wide digests") {
    import spark.implicits._
    // the dashboard shape: 100k history rows over four weeks, then ten
    // 2k-row ingest+digest rounds one minute each. The history's extreme
    // must not be judged against the much smaller newest block (leave-one-
    // out sigma of seconds, and an E[x^2]-mean^2 that cancels in doubles).
    val t = new GraftTable(spark, tmpDir("graft-extent-history"))
    val now = 1700000000L
    val span = 28L * 24 * 3600
    val history = (0 until 100000).map(i => now - span + 2 + i * (span - 2) / 100000)
    t.ingest(history.map(ts => (ts, ts % 97)).toDF("time", "v"))
    t.digest()
    val trueMin = history.min
    for (r <- 0 until 10) {
      t.ingest((0 until 2000).map { i =>
        val ts = now + r * 60L + i * 60L / 2000
        (ts, ts % 97)
      }.toDF("time", "v"))
      t.digest()
      val tc = t.info().columns.find(_.name == "time").get
      assert(tc.min.contains(trueMin), s"round $r: sidecar time min ${tc.min}, true $trueMin")
      assert(tc.max.contains(now + r * 60L + 59L))
    }
  }
}
