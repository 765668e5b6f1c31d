package graft.seamf

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SeamfLakeSpec extends SparkSpec {

  test("exportAll writes date-partitioned zstd parquet for every product") {
    val landing = tempDir("graft_lake_in")
    SeamfFixtures.writeArchive(landing, nFiles = 6, nChannels = 2)
    val out = tempDir("graft_lake_out")
    val counts = SeamfLake.exportAll(spark, landing, out)

    // 5 good files (1 corrupt sha): psd rows = 5 files x 2 ch x 2 stats x len
    val shape = SeamfFixtures.Shape()
    assert(counts("psd") === 5L * 2 * 2 * shape.psdLen)
    assert(counts("apd") === 5L * 2 * shape.apdLen)
    assert(counts("channel_metadata") === 5L * 2)
    assert(counts("sweep_metadata") === 5L)
    assert(counts("capture_summary") === 5L * 2) // one row per capture
    val cs = spark.read.parquet(s"$out/capture_summary")
    assert(cs.columns.toSet.contains("peak") && cs.columns.toSet.contains("rms"))

    // physical layout: hive-style date partition dirs
    val psdDirs = new java.io.File(s"$out/psd").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(psdDirs.exists(_.startsWith("date=2023-09-21")))

    // partition pruning: a date filter must read only the matching partition
    val pruned = spark.read.parquet(s"$out/psd")
      .filter(col("date") === "2023-09-21")
    assert(pruned.count() === counts("psd")) // fixture spans one day
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("partitionFilters"))
  }
}
