package graft

/** Dev utility: time individual inventory queries by name.
  *
  * {{{ sbt "runMain graft.DevRun q47_winnow_fingerprints q25_jaccard_pairs" }}}
  * Scale-factor dir via SPARK_GRAFT_SF_DIR (default sf0.01). Not part of the
  * driver contract — Bench.scala is the reported benchmark.
  */
object DevRun {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // pseudo-queries for the archive metrics (same input as Bench.scala)
    def archiveDir: String = graft.seamf.SeamfFixtures.sharedBenchArchive()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val lakeOut = java.nio.file.Files.createTempDirectory("graft_dev_lake")
    names.foreach { n =>
      val t0 = System.nanoTime()
      n match {
        case "lake_export" =>
          graft.seamf.SeamfLake.exportAll(spark, archiveDir, lakeOut.toString,
            validate = false)
        case "ingest" =>
          graft.seamf.SeamfReader.traces(spark, archiveDir)
            .write.format("noop").mode("overwrite").save()
        case "ingest_dsv2" =>
          spark.read.format("seamf").load(archiveDir)
            .write.format("noop").mode("overwrite").save()
        case "stream_meta" | "stream_full" | "stream_meta_noprune" =>
          if (n == "stream_meta_noprune")
            spark.experimental.extraOptimizations =
              spark.experimental.extraOptimizations
                .filterNot(_ == graft.sources.SeamfStreamingPrune)
          else graft.plans.GraftExtensions.installRule(spark,
            graft.sources.SeamfStreamingPrune)
          import org.apache.spark.sql.functions._
          val src = spark.readStream.format("seamf").load(archiveDir)
          val agg =
            if (n == "stream_full") src.groupBy("table")
              .agg(count(lit(1)).as("n"), max(array_max(col("trace"))).as("mx"))
            else src.groupBy("table")
              .agg(count(lit(1)).as("n"), max(col("datetime_us")).as("mx"))
          val q = agg.writeStream.format("noop").outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q.recentProgress.foreach { p =>
            println(f"  batch ${p.batchId} rows=${p.numInputRows} " +
              s"durations=${p.durationMs}")
          }
        case _ =>
          SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
      }
      println(f"$n%-30s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      graft.seamf.SeamfFixtures.deleteTree(lakeOut)
      graft.operators.PersistRegistry.releaseAll()
    }
    spark.stop()
  }
}
