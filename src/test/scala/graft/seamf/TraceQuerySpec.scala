package graft.seamf

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TraceQuerySpec extends SparkSpec {
  private lazy val dir: String = {
    val d = tempDir("graft_tq")
    SeamfFixtures.writeArchive(d, nFiles = 4, nChannels = 2)
    d
  }
  private lazy val tables = SeamfReader.tables(spark, dir)

  test("trace() selects levels, drops them, and projects (reference util)") {
    val sel = TraceQuery.trace(tables, "pvt",
      Map("detector" -> "rms", "frequency" -> 3.555e9),
      Seq("datetime", "elapsed_s", "power_dbm"))
    assert(sel.columns.toSeq === Seq("datetime", "elapsed_s", "power_dbm"))
    // 3 good files (1 corrupt of 4) x 1 channel x 80 samples
    assert(sel.count() === 3L * 80)
    intercept[IllegalArgumentException] {
      TraceQuery.trace(tables, "nope", Map.empty)
    }
  }

  test("timeSlice handles datetime ranges and day-prefix strings") {
    val psd = tables("psd")
    val all = psd.count()
    assert(TraceQuery.timeSlice(psd, "datetime",
      "2023-09-21", "2023-09-21").count() === all) // whole fixture day
    assert(TraceQuery.timeSlice(psd, "datetime",
      "2023-09-22", "2023-09-23").count() === 0)
    val firstSweepOnly = TraceQuery.timeSlice(psd, "datetime",
      "2023-09-21 00:00:00", "2023-09-21 00:00:30")
    assert(firstSweepOnly.count() > 0 && firstSweepOnly.count() < all)
  }

  test("readTimeRange prunes lake partitions by day") {
    val out = tempDir("graft_tq_lake")
    SeamfLake.exportAll(spark, dir, out)
    val pruned = TraceQuery.readTimeRange(spark, out, "psd",
      "2023-09-21", "2023-09-21")
    assert(pruned.count() === tables("psd").count())
    assert(TraceQuery.readTimeRange(spark, out, "psd",
      "2023-09-25", "2023-09-26").count() === 0)
  }
}
