package graft.seamf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DataSource V2 seamf source ([[graft.sources.SeamfSource]]): scan parity
  * with the library ingest, optimizer-driven decode pruning (column prune =
  * payload skip, filter pushdown = metadata-time file prune), split packing,
  * error modes, and the DSv2 custom metrics that make the pruning visible.
  */
class SeamfSourceSpec extends SparkSpec {
  import spark.implicits._

  private def fixture: String = SeamfFixtures.sharedArchive()

  private def dsv2: DataFrame = spark.read.format("seamf").load(fixture)

  /** Run the frame and return its (executed) BatchScanExec node, whose SQL
    * metrics include the source's custom decode counters. Descends into
    * AQE query stages (QueryStageExec keeps its plan out of `children`).
    */
  private def runAndScan(df: DataFrame): BatchScanExec = {
    df.collect()
    def find(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
      p match {
        case b: BatchScanExec => Seq(b)
        case a: AdaptiveSparkPlanExec => find(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          find(q.plan)
        case other => other.children.flatMap(find)
      }
    val scans = find(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, s"no BatchScanExec in:\n" +
      df.queryExecution.executedPlan)
    scans.head
  }

  private def metric(scan: BatchScanExec, name: String): Long =
    scan.metrics(name).value

  // stable comparison shape: trace arrays reduced to (size, sum) so set
  // equality is exact without float-array orderings in the hash
  private def canon(df: DataFrame): DataFrame =
    df.withColumn("trace_n", size(col("trace")))
      .withColumn("trace_sum", round(aggregate(col("trace"),
        lit(0.0), (a, x) => a + x.cast("double")), 3))
      .drop("trace")

  test("full DSv2 scan row-for-row equals SeamfReader.traces") {
    val v2 = canon(dsv2)
    val lib = canon(SeamfReader.traces(spark, fixture).toDF())
    assert(v2.count() === lib.count())
    assert(v2.exceptAll(lib).isEmpty && lib.exceptAll(v2).isEmpty)
  }

  test("dropping the trace column skips XZ payload decode entirely") {
    val scan = runAndScan(
      dsv2.select("file", "datetime_us", "frequency", "table"))
    assert(metric(scan, "seamfMetaOnlyFiles") > 0)
    assert(metric(scan, "seamfDecodedFiles") === 0)
  }

  test("selecting trace decodes payloads (and only then)") {
    val scan = runAndScan(dsv2.select("table", "trace"))
    assert(metric(scan, "seamfDecodedFiles") > 0)
    assert(metric(scan, "seamfMetaOnlyFiles") === 0)
  }

  test("time/frequency/table filters push into the scan and prune files " +
      "before payload decode") {
    val cut = SeamfMetadata.isoToMicros("2023-09-21T00:05:00Z")
    val filtered = dsv2
      .filter(col("datetime_us") <= cut && col("frequency") <= 3.566e9 &&
        col("table") === "psd")
    // the pushdown is visible in the scan description
    val planStr = filtered.queryExecution.executedPlan.toString
    assert(planStr.contains("DecodePrune"), s"no decode prune in:\n$planStr")
    assert(planStr.contains(s"datetime_us <= $cut"), planStr)
    assert(planStr.contains("table IN {psd}"), planStr)
    // ... and in the metrics: later files are rejected from metadata alone
    // (exact counts and trace values: SeamfReaderSpec's pruned-decode test)
    val scan = runAndScan(filtered)
    assert(metric(scan, "seamfPrunedFiles") > 0)
    // exactness: identical to the unpushed filter over the full scan
    val expected = canon(SeamfReader.traces(spark, fixture).toDF()
      .filter(col("datetime_us") <= cut && col("frequency") <= 3.566e9 &&
        col("table") === "psd"))
    val got = canon(filtered)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("strict datetime bounds push exactly; strict double bounds push " +
      "their non-strict superset with a residual") {
    val cut = SeamfMetadata.isoToMicros("2023-09-21T00:03:00Z")
    val df = dsv2.filter(col("datetime_us") > cut && col("frequency") < 3.6e9)
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains(s"datetime_us >= ${cut + 1}"), planStr)
    assert(planStr.contains("frequency <= 3.6E9"), planStr)
    val expected = canon(SeamfReader.traces(spark, fixture).toDF()
      .filter(col("datetime_us") > cut && col("frequency") < 3.6e9))
    val got = canon(df)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("errors=log (default) skips the corrupt-sha member and counts it; " +
      "checkHash=false keeps it") {
    val strictScan = runAndScan(dsv2.select("file"))
    assert(metric(strictScan, "seamfSkippedFiles") === 1)

    val tolerant = spark.read.format("seamf")
      .option("checkHash", "false").load(fixture)
    val tolerantScan = runAndScan(tolerant.select("file"))
    assert(metric(tolerantScan, "seamfSkippedFiles") === 0)
    assert(tolerant.select("file").distinct().count() ===
      dsv2.select("file").distinct().count() + 1)
  }

  test("errors=raise fails the job on the corrupt member") {
    val df = spark.read.format("seamf").option("errors", "raise").load(fixture)
    intercept[org.apache.spark.SparkException] { df.count() }
  }

  test("split packing: a small maxPartitionBytes fans files out, the " +
      "default packs them") {
    val spread = spark.read.format("seamf")
      .option("maxPartitionBytes", "1").load(fixture)
    // 8 members: one partition each when the target is tiny
    assert(spread.rdd.getNumPartitions >= 7)
    // default 128 MB target packs the whole kB-scale fixture into one bin
    // (modulo the defaultParallelism floor)
    assert(dsv2.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
  }

  test("partial limit pushdown stops a partition's decode after the " +
      "limit-th row") {
    val limited = dsv2.select("file", "datetime_us", "table").limit(3)
    val planStr = limited.queryExecution.executedPlan.toString
    assert(planStr.contains("PushedLimit: 3"), planStr)
    // all 8 members pack into one bin at this scale; the reader stops
    // after 3 rows, so exactly one file is ever opened (metadata-only:
    // trace column pruned away)
    val scan = runAndScan(limited)
    assert(limited.count() === 3)
    assert(metric(scan, "seamfMetaOnlyFiles") === 1)
    assert(metric(scan, "seamfDecodedFiles") === 0)
  }

  test("reported statistics: full scan sized at on-disk bytes, " +
      "metadata-only projection scaled down") {
    def sizeOf(df: DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val full = sizeOf(dsv2)
    val metaOnly = sizeOf(dsv2.select("file", "datetime_us"))
    assert(full > 0 && metaOnly > 0)
    assert(metaOnly < full, s"meta-only $metaOnly !< full $full")
  }

  test("runtime filtering: a broadcast join's key set prunes decode at " +
      "runtime (DPP on the connector)") {
    // dimension keyed on capture time; the selective slice keeps only the
    // two earliest captures, so at runtime the scan should decode the
    // first file and prune the rest from metadata alone
    val dts = dsv2.select("datetime_us").distinct()
      .orderBy("datetime_us").collect().map(_.getLong(0))
    val keep = dts.take(2).toSet
    // the build side must be a real filtered SCAN (a LocalRelation's
    // filter constant-folds away and DPP sees no selective predicate)
    val dimPath = tempDir("graft_dpp_dim")
    dts.toSeq.toDF("dt")
      .withColumn("tag", when(col("dt").isInCollection(keep), "keep")
        .otherwise("drop"))
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = dsv2.select("datetime_us", "table")
      .join(broadcast(dim.filter(col("tag") === "keep")),
        col("datetime_us") === col("dt"))
    val scan = runAndScan(joined)
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.toLowerCase.contains("dynamicpruning"),
      s"no runtime filter reached the scan:\n$planStr")
    // the runtime envelope rejects every later file before payload decode
    assert(metric(scan, "seamfPrunedFiles") > 0)
    // correctness: same rows as the unfiltered join
    val expected = SeamfReader.traces(spark, fixture).toDF()
      .select("datetime_us", "table")
      .filter(col("datetime_us").isInCollection(keep)).count()
    assert(joined.count() === expected)
  }

  test("aggregate pushdown: COUNT/MIN/MAX grouped by table answer from " +
      "metadata alone") {
    val agg = dsv2.groupBy("table")
      .agg(count(lit(1)).as("n"), min("datetime_us").as("min_dt"),
        max("frequency").as("max_f"))
    val planStr = agg.queryExecution.executedPlan.toString
    assert(planStr.contains("PushedAggregation"), planStr)
    val scan = runAndScan(agg)
    assert(metric(scan, "seamfDecodedFiles") === 0)
    assert(metric(scan, "seamfMetaOnlyFiles") > 0)
    val lib = SeamfReader.traces(spark, fixture).toDF().groupBy("table")
      .agg(count(lit(1)).as("n"), min("datetime_us").as("min_dt"),
        max("frequency").as("max_f"))
    assert(agg.exceptAll(lib).isEmpty && lib.exceptAll(agg).isEmpty)
  }

  test("aggregate pushdown composes with fully-pushed (exact) filters") {
    val cut = SeamfMetadata.isoToMicros("2023-09-21T00:05:00Z")
    val agg = dsv2.filter(col("table") === "psd" && col("datetime_us") <= cut)
      .groupBy("frequency").agg(count(lit(1)).as("n"))
    val planStr = agg.queryExecution.executedPlan.toString
    assert(planStr.contains("PushedAggregation"), planStr)
    assert(planStr.contains("table IN {psd}"), planStr)
    val scan = runAndScan(agg)
    assert(metric(scan, "seamfDecodedFiles") === 0)
    assert(metric(scan, "seamfPrunedFiles") > 0) // post-cut files rejected
    val lib = SeamfReader.traces(spark, fixture).toDF()
      .filter(col("table") === "psd" && col("datetime_us") <= cut)
      .groupBy("frequency").agg(count(lit(1)).as("n"))
    assert(agg.exceptAll(lib).isEmpty && lib.exceptAll(agg).isEmpty)
  }

  test("a pushed aggregation joined to a filtered dimension plans and " +
      "runs (ADVICE r8: filterAttributes vs agg readSchema)") {
    // the scan's output under a pushed agg is (table, agg_0) — runtime-
    // filter planning inspects filterAttributes against THAT schema, and
    // naming datetime_us/frequency here used to throw AnalysisException
    // in V2ExpressionUtils.resolveRefs at planning time
    val agg = dsv2.groupBy("table").agg(count(lit(1)).as("n"))
    val dim = Seq(("psd", "spectrum")).toDF("table", "kind")
      .filter(col("kind") === "spectrum")
    val joined = agg.join(broadcast(dim), Seq("table"))
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("PushedAggregation"), planStr)
    val rows = joined.collect()
    assert(rows.length === 1 && rows.head.getString(0) === "psd")
    val expected = SeamfReader.traces(spark, fixture).toDF()
      .filter(col("table") === "psd").count()
    assert(rows.head.getLong(1) === expected)
  }

  test("aggregate pushdown declines the unsupported shapes (distinct " +
      "counts, trace aggregates, superset-bound filters present)") {
    // count distinct: not pushable -> plain scan, still correct
    val cd = dsv2.groupBy("table")
      .agg(countDistinct(col("datetime_us")).as("nd"))
    assert(!cd.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    // a strict double bound keeps a residual filter, which blocks the
    // aggregate push — correctness comes first
    val withResidual = dsv2.filter(col("frequency") > 3.5e9)
      .groupBy("table").agg(count(lit(1)).as("n"))
    assert(!withResidual.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    val lib = SeamfReader.traces(spark, fixture).toDF()
      .filter(col("frequency") > 3.5e9)
      .groupBy("table").agg(count(lit(1)).as("n"))
    assert(withResidual.exceptAll(lib).isEmpty &&
      lib.exceptAll(withResidual).isEmpty)
  }

  test("zip archives scan through the connector with member-level " +
      "entries, matching tracesFromZips") {
    val zdir = SeamfFixtures.sharedZipArchive()
    val v2 = canon(spark.read.format("seamf").load(zdir)).drop("file")
    val lib = canon(SeamfReader.tracesFromZips(spark, zdir).toDF())
      .drop("file")
    assert(v2.count() === lib.count() && lib.count() > 0)
    assert(v2.exceptAll(lib).isEmpty && lib.exceptAll(v2).isEmpty)
    // member-granularity splits: a tiny packing target fans members out
    val spread = spark.read.format("seamf")
      .option("maxPartitionBytes", "1").load(zdir)
    assert(spread.rdd.getNumPartitions >= 2)
  }

  test("aggregate pushdown partials merge correctly across many " +
      "partitions (and over zip members)") {
    val zdir = SeamfFixtures.sharedZipArchive()
    val spread = spark.read.format("seamf")
      .option("maxPartitionBytes", "1").load(zdir)
    val agg = spread.groupBy("table")
      .agg(count(lit(1)).as("n"), min("datetime_us").as("mn"),
        max("datetime_us").as("mx"))
    assert(agg.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    val lib = SeamfReader.tracesFromZips(spark, zdir).toDF().groupBy("table")
      .agg(count(lit(1)).as("n"), min("datetime_us").as("mn"),
        max("datetime_us").as("mx"))
    assert(agg.exceptAll(lib).isEmpty && lib.exceptAll(agg).isEmpty)
  }

  test("an empty landing directory scans as an empty frame (a fresh lake " +
      "is not an error)") {
    val empty = tempDir("graft_seamf_empty")
    val df = spark.read.format("seamf").load(empty)
    assert(df.count() === 0)
    assert(df.schema === graft.sources.SeamfSource.TraceSchema)
  }

  test("multi-path load unions plain-file and zip-archive sources") {
    val both = spark.read.format("seamf")
      .load(fixture, SeamfFixtures.sharedZipArchive())
    val plain = SeamfReader.traces(spark, fixture).count()
    val zipped = SeamfReader.tracesFromZips(spark,
      SeamfFixtures.sharedZipArchive()).count()
    assert(both.count() === plain + zipped)
  }

  test("readStream.format(\"seamf\"): file-arrival micro-batches decode " +
      "incrementally, and the final table equals the batch scan " +
      "(VERDICT r8 #4)") {
    val dir = tempDir("graft_dsv2_stream_landing")
    val t0 = SeamfMetadata.isoToMicros("2023-09-21T00:00:00Z")
    (0 until 3).foreach(i => SeamfFixtures.writeSweep(
      java.nio.file.Paths.get(dir), i, t0 + i * 90L * 1000000L,
      nChannels = 2))

    val q = spark.readStream.format("seamf").load(dir)
      .writeStream.format("memory").queryName("dsv2_stream").start()
    q.processAllAvailable()
    val n3 = spark.table("dsv2_stream").count()
    assert(n3 > 0)

    // the 90 s cadence: one more sweep lands -> ONLY the increment decodes
    SeamfFixtures.writeSweep(java.nio.file.Paths.get(dir), 3,
      t0 + 3 * 90L * 1000000L, nChannels = 2)
    q.processAllAvailable()
    q.stop()
    val n4 = spark.table("dsv2_stream").count()
    assert(n4 === n3 / 3 * 4) // identical per-sweep shape
    // end-of-stream content == batch connector scan of the same dir
    val streamed = canon(spark.table("dsv2_stream"))
    val batch = canon(spark.read.format("seamf").load(dir))
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("maxFilesPerTrigger bounds each micro-batch (admission control): " +
      "a 4-file backlog drains in 4 one-file batches") {
    val dir = tempDir("graft_dsv2_stream_throttle")
    val t0 = SeamfMetadata.isoToMicros("2023-09-21T00:00:00Z")
    (0 until 4).foreach(i => SeamfFixtures.writeSweep(
      java.nio.file.Paths.get(dir), i, t0 + i * 90L * 1000000L,
      nChannels = 2))
    val q = spark.readStream.format("seamf")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName("dsv2_throttled").start()
    q.processAllAvailable()
    q.stop()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length === 4,
      s"expected 4 bounded batches, got ${batches.length}: " +
        batches.map(_.numInputRows).mkString(","))
    // nothing lost to the throttling: same rows as the batch scan
    assert(spark.table("dsv2_throttled").count() ===
      spark.read.format("seamf").load(dir).count())
  }

  test("Trigger.AvailableNow drains the backlog in throttled batches and " +
      "terminates — the catch-up-then-stop production shape") {
    val dir = tempDir("graft_dsv2_stream_availnow")
    val t0 = SeamfMetadata.isoToMicros("2023-09-21T00:00:00Z")
    (0 until 3).foreach(i => SeamfFixtures.writeSweep(
      java.nio.file.Paths.get(dir), i, t0 + i * 90L * 1000000L,
      nChannels = 2))
    val q = spark.readStream.format("seamf")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName("dsv2_availnow")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query did not stop")
    assert(q.recentProgress.count(_.numInputRows > 0) === 3)
    assert(spark.table("dsv2_availnow").count() ===
      spark.read.format("seamf").load(dir).count())
  }

  test("streaming decode pruning (SeamfStreamingPrune): a metadata-only " +
      "streaming aggregation never decodes payloads, and prunable " +
      "predicates fold into the scan's decode prune") {
    val dir = tempDir("graft_dsv2_stream_prune")
    val t0 = SeamfMetadata.isoToMicros("2023-09-21T00:00:00Z")
    (0 until 3).foreach(i => SeamfFixtures.writeSweep(
      java.nio.file.Paths.get(dir), i, t0 + i * 90L * 1000000L,
      nChannels = 2))
    graft.plans.GraftExtensions.installRule(spark,
      graft.sources.SeamfStreamingPrune)

    val q = spark.readStream.format("seamf").load(dir)
      .filter(col("table") === "psd")
      .groupBy("table")
      .agg(count(lit(1)).as("n_slots"),
        min(col("datetime_us")).as("min_dt"),
        max(col("datetime_us")).as("max_dt"))
      .writeStream.format("memory").queryName("dsv2_stream_pruned")
      .outputMode("complete").start()
    q.processAllAvailable()

    // the rule swapped scan AND stream for a pruned clone: required schema
    // lost `trace` (payload never decompressed) and the table predicate
    // folded into the decode prune
    val exec = q.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution
    val scans = exec.executedPlan.collect {
      case m: org.apache.spark.sql.execution.datasources.v2
          .MicroBatchScanExec => m
    }
    assert(scans.nonEmpty, s"no MicroBatchScanExec in:\n${exec.executedPlan}")
    val scan = scans.head.scan.asInstanceOf[graft.sources.SeamfScan]
    assert(!scan.requiredSchema.fieldNames.contains("trace"),
      s"streaming scan still decodes payload: ${scan.requiredSchema}")
    assert(scan.staticPrune.tables === Some(Set("psd")),
      s"table predicate did not fold into the decode prune: " +
        scan.staticPrune)
    assert(scans.head.stream eq scan,
      "stream must be the pruned clone — partitions/readers plan from it")
    q.stop()

    // pruning changed the WORK, not the answer: cell-for-cell parity with
    // the batch connector path over the same landing dir
    val streamed = spark.table("dsv2_stream_pruned")
      .orderBy("table").collect().toSeq
    val batch = spark.read.format("seamf").load(dir)
      .filter(col("table") === "psd")
      .groupBy("table")
      .agg(count(lit(1)).as("n_slots"),
        min(col("datetime_us")).as("min_dt"),
        max(col("datetime_us")).as("max_dt"))
      .orderBy("table").collect().toSeq
    assert(streamed === batch)
  }

  test("columnar read path: the scan is vectorized, row-for-row equal to " +
      "SeamfReader.traces, and aggregate pushdown stays row-based") {
    // the executed plan reads through ColumnarToRow — the scan itself is
    // vectorized (no per-slot unsafe projection)
    val df = dsv2.filter(col("table") === "psd")
    df.collect()
    val scan = runAndScan(df)
    assert(scan.supportsColumnar, "seamf scan should read columnar")
    // identical rows to the library ingest
    val libDf = SeamfReader.traces(spark, fixture).toDF()
      .filter(col("table") === "psd")
    val a = canon(df).orderBy("file", "datetime_us", "table",
      "capture_statistic", "detector").collect().toSeq
    val b = canon(libDf).orderBy("file", "datetime_us", "table",
      "capture_statistic", "detector").collect().toSeq
    assert(a === b)
    // pushed aggregations emit a handful of partial rows — row reader
    val agg = dsv2.groupBy("table").agg(count(lit(1)).as("n"))
    agg.collect()
    assert(!runAndScan(agg).supportsColumnar)
  }

  test("checkpoint recovery: a restarted stream resumes from the " +
      "committed watermark offset and decodes only the new arrivals") {
    val dir = tempDir("graft_dsv2_stream_ckpt")
    val ckpt = tempDir("graft_dsv2_stream_ckpt_loc")
    val t0 = SeamfMetadata.isoToMicros("2023-09-21T00:00:00Z")
    (0 until 2).foreach(i => SeamfFixtures.writeSweep(
      java.nio.file.Paths.get(dir), i, t0 + i * 90L * 1000000L,
      nChannels = 2))

    val out = tempDir("graft_dsv2_stream_ckpt_out")

    def drain(): Long = {
      val q = spark.readStream.format("seamf")
        .option("maxFilesPerTrigger", "1").load(dir)
        .select("file", "table", "datetime_us")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow query did not stop")
      q.stop()
      spark.read.parquet(out).count()
    }

    val run1 = drain()
    val perSweep = run1 / 2
    assert(run1 > 0)

    // two more sweeps land while the query is DOWN; the restart must pick
    // up from the committed one-long offset — the first two files never
    // decode again (the parquet sink appends, so any re-decode would
    // double-count)
    (2 until 4).foreach(i => SeamfFixtures.writeSweep(
      java.nio.file.Paths.get(dir), i, t0 + i * 90L * 1000000L,
      nChannels = 2))
    val total = drain()
    assert(total === 2 * run1,
      s"restart produced ${total - run1} new rows — expected exactly the " +
        s"2 new sweeps ($run1); offset recovery must skip committed files")
    // and the recovered batch really is the two NEW files, not a replay
    val files = spark.read.parquet(out).select("file").distinct().count()
    assert(files === 4, s"expected 4 distinct source files, got $files")
    assert(perSweep > 0)
  }

  test("watermark offsets: an equal-mtime burst sorting after the " +
      "watermark streams correctly; a late file below it fails LOUDLY " +
      "(a count-based offset would silently re-decode and drop)") {
    val dirP = java.nio.file.Paths.get(tempDir("graft_dsv2_stream_tie"))
    val ckpt = tempDir("graft_dsv2_stream_tie_ckpt")
    val out = tempDir("graft_dsv2_stream_tie_out")
    val t0 = SeamfMetadata.isoToMicros("2023-09-21T00:00:00Z")
    val tie = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)

    def drain(): Long = {
      val q = spark.readStream.format("seamf").load(dirP.toString)
        .select("file", "table", "datetime_us")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow query did not stop")
      q.stop()
      spark.read.parquet(out).count()
    }

    val f1 = SeamfFixtures.writeSweep(dirP, 1, t0, nChannels = 1)
    java.nio.file.Files.setLastModifiedTime(f1, tie)
    val run1 = drain()
    assert(run1 > 0)

    // 1-second mtime granularity burst: same mtime as the committed
    // watermark but a LATER path — must stream exactly once
    val f2 = SeamfFixtures.writeSweep(dirP, 2, t0 + 90000000L, nChannels = 1)
    java.nio.file.Files.setLastModifiedTime(f2, tie)
    assert(drain() === 2 * run1,
      "equal-mtime later-path arrival must decode exactly once")

    // a file surfacing BELOW the watermark (same mtime, smaller path)
    // would have shifted every count-based index: committed files
    // re-decode, the new file never processes. The watermark design
    // refuses the listing loudly instead.
    val f0 = SeamfFixtures.writeSweep(dirP, 0, t0 + 180000000L, nChannels = 1)
    java.nio.file.Files.setLastModifiedTime(f0, tie)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("append-only")),
      s"expected the append-only contract in: ${messages(ex)}")
  }

  test("streaming decode pruning with a strict double bound: the superset " +
      "fold skips files while the residual filter keeps semantics exact") {
    val dir = tempDir("graft_dsv2_stream_prune_strict")
    val t0 = SeamfMetadata.isoToMicros("2023-09-21T00:00:00Z")
    (0 until 2).foreach(i => SeamfFixtures.writeSweep(
      java.nio.file.Paths.get(dir), i, t0 + i * 90L * 1000000L,
      nChannels = 3))
    graft.plans.GraftExtensions.installRule(spark,
      graft.sources.SeamfStreamingPrune)
    // strict `>` on frequency folds as a non-strict SUPERSET prune; the
    // filter stays above the scan, so boundary rows (frequency == cut)
    // must still be dropped even though the prune admits their files.
    // `trace` is selected, so this also pins that a full-decode streaming
    // query keeps decoding payloads under the rule.
    val cut = spark.read.format("seamf").load(dir)
      .agg(min(col("frequency"))).head().getDouble(0)
    val q = spark.readStream.format("seamf").load(dir)
      .filter(col("frequency") > cut)
      .select(col("frequency"), col("table"), size(col("trace")).as("n"))
      .writeStream.format("memory").queryName("dsv2_stream_strict").start()
    q.processAllAvailable()
    val exec = q.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution
    val scan = exec.executedPlan.collect {
      case m: org.apache.spark.sql.execution.datasources.v2
          .MicroBatchScanExec => m.scan.asInstanceOf[graft.sources.SeamfScan]
    }.head
    assert(scan.requiredSchema.fieldNames.contains("trace"))
    assert(scan.staticPrune.minFrequency === Some(cut),
      s"strict bound should fold as a >= superset: ${scan.staticPrune}")
    q.stop()
    val streamed = spark.table("dsv2_stream_strict")
      .orderBy("frequency", "table").collect().toSeq
    val batch = spark.read.format("seamf").load(dir)
      .filter(col("frequency") > cut)
      .select(col("frequency"), col("table"), size(col("trace")).as("n"))
      .orderBy("frequency", "table").collect().toSeq
    assert(streamed === batch)
    assert(streamed.forall(_.getDouble(0) > cut))
  }

  test("CREATE TABLE USING seamf: the connector on the SQL DDL surface, " +
      "with aggregate pushdown intact through the catalog table") {
    spark.sql("DROP TABLE IF EXISTS seamf_ddl_t")
    spark.sql(s"CREATE TABLE seamf_ddl_t USING seamf OPTIONS (path '$fixture')")
    val sqlDf = spark.sql(
      "SELECT `table`, COUNT(*) AS n FROM seamf_ddl_t GROUP BY 1 ORDER BY 1")
    val expected = SeamfReader.traces(spark, fixture).toDF()
      .groupBy("table").agg(count(lit(1)).as("n")).orderBy("table")
    assert(sqlDf.collect().toSeq === expected.collect().toSeq)
    // the catalog hop must not cost the pushdown: the scan description
    // carries the pushed aggregation, so no per-slot rows materialize
    val scan = runAndScan(
      spark.sql("SELECT `table`, COUNT(*) AS n FROM seamf_ddl_t GROUP BY 1"))
    assert(scan.scan.description().contains("PushedAggregation"),
      scan.scan.description())
    spark.sql("DROP TABLE seamf_ddl_t")
  }

  test("short name registration: format(\"seamf\") resolves via " +
      "DataSourceRegister") {
    // would have thrown ClassNotFoundException in every test above if the
    // META-INF/services registration were broken; pin the mapping anyway
    val p = java.util.ServiceLoader
      .load(classOf[org.apache.spark.sql.sources.DataSourceRegister])
    import scala.jdk.CollectionConverters._
    assert(p.iterator().asScala.exists(_.shortName() == "seamf"))
  }
}
