package graft

import org.apache.spark.sql.functions._

import graft.core.Meter
import graft.sources.GraftTable

/** The measurement layer against hand-computed fixtures. Every reading is
  * taken right after [[Meter.measure]] returns, with no sleep: the drain
  * is exact or these counts come up short. */
class MeterSpec extends SparkSpec {
  import spark.implicits._

  private lazy val scanned = {
    val p = SparkSpec.tempDir("graft-meter-scan").resolve("t").toString
    spark.range(0, 5000, 1, 3).write.parquet(p)
    // explicit schema: no footer job, so the scan is all the reads
    spark.read.schema("id long").parquet(p)
  }

  test("a digest is ONE graft.digest.write job whose output records are " +
      "the rows digested") {
    val t = new GraftTable(spark, SparkSpec.tempDir("graft-meter").toString)
    t.ingest((0 until 300).map(i => (1700000000L + i, s"u${i % 7}")).toDF("time", "user"))
    t.ingest((300 until 1000).map(i => (1700000000L + i, s"u${i % 7}")).toDF("time", "user"))
    val (_, m) = Meter.measure(spark)(t.digest())
    val w = m.phases.toMap.apply("graft.digest.write")
    assert(w.jobs === 1)
    assert(w.outRecords === 1000L)
    assert(w.tasks > 0 && w.inRecords === 1000L)
    assert(m.total.jobs === 1, m.phases.mkString("; "))
  }

  test("a parquet scan's input records are its row count") {
    val df = scanned // written outside the measured window
    val (s, m) = Meter.measure(spark)(df.agg(sum("id")).collect()(0).getLong(0))
    assert(s === 4999L * 5000 / 2)
    assert(m.total.inRecords === 5000L)
    assert(m.stages.nonEmpty)
    assert(m.lastExecution.exists(_.executedPlan.toString.contains("Scan parquet")))
  }

  test("20 back-to-back measured actions, each read with no sleep, count " +
      "the same") {
    val df = scanned
    val readings = (1 to 20).map { _ =>
      val (_, m) = Meter.measure(spark)(
        df.groupBy(col("id") % 10).count().collect())
      val c = m.total
      (c.jobs, c.tasks, c.inRecords, m.stages.size)
    }
    assert(readings.head._1 > 0 && readings.head._3 === 5000L)
    assert(readings.forall(_ == readings.head), readings.mkString(" "))
  }
}
