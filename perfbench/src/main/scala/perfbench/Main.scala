package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one run of one seeded workload on a `local[4]`
  * session, a closed loop with one client. Prints one JSON result as the
  * last stdout line: the end-to-end metrics when untraced, the per-layer
  * metrics when traced.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --bench <perfbench dir> [--spans <file>]
  */
object Main {
  val Cores = 4
  /** Files the traced run times layer by layer, on one thread. */
  val DecodeLayerFiles = 24
  /** Warm-up ends after a pass whose JIT compile time is at most this share
    * of its wall time, after MaxWarmupPasses passes, or before a pass that
    * would end after MaxWarmupS. A pass count rather than a time bounds it,
    * so a fast host does not get a warmer JIT than a slow one.
    */
  val JitSettled = 0.5
  val MaxWarmupPasses = 6
  val MaxWarmupS = 16.0

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, bench: Path, spans: Option[Path])

  /** One pass of a workload. `held` RDDs were still persisted when it
    * started and `leaked` of them survived the drain; `jitMs` is JIT
    * compile time spent during the pass.
    */
  final case class Pass(k: Int, seconds: Double, ops: Seq[Op], held: Int, leaked: Int,
      jitMs: Long) {
    def isolated: Boolean = leaked == 0
    def failed: Int = if (isolated) ops.count(!_.ok) else ops.size
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, trace,
      Paths.get(need("work")), Paths.get(need("bench")), m.get("spans").map(Paths.get(_)))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val o = parse(args)
        Workload.byName(o.workload) match {
          case Some(w) => run(o, w)
          case None =>
            System.err.println(s"perfbench: unknown workload ${o.workload}; " +
              s"known: ${Workload.all.map(_.name).mkString(", ")}")
            2
        }
      } catch {
        case e: IllegalArgumentException =>
          System.err.println(s"perfbench: ${e.getMessage}")
          2
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"perfbench: run failed: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every operator-level cache registry and the catalog cache, so no
    * pass reads a warm cache; returns the persisted RDD counts before and
    * after. Local checkpoints are persisted RDDs that Spark's context
    * cleaner releases once they are garbage, so while any RDD stays
    * persisted a collection runs and the cleaner gets two seconds to catch
    * up, up to five times.
    */
  def isolate(spark: SparkSession): (Int, Int) = {
    import graft.operators._
    val sc = spark.sparkContext
    val held = sc.getPersistentRDDs.size
    KMeans.unpersistAll(); Windowed.unpersistAll(); LogReg.unpersistAll()
    Dedup.unpersistAll(); Bpe.unpersistAll(); CurationFunnel.unpersistAll()
    SemDedup.unpersistAll(); Multimodal.unpersistAll()
    spark.catalog.clearCache()
    var rounds = 0
    while (sc.getPersistentRDDs.nonEmpty && rounds < 5) {
      System.gc()
      val t0 = System.nanoTime()
      while (sc.getPersistentRDDs.nonEmpty && System.nanoTime() - t0 < 2000000000L) Thread.sleep(20)
      rounds += 1
    }
    val leaked = sc.getPersistentRDDs.values
    leaked.foreach(r => System.err.println(
      s"perfbench: still persisted after the drain: $r"))
    (held, leaked.size)
  }

  def run(o: Opts, wl: Workload): Int = {
    val t0 = System.nanoTime()
    val gen = java.util.concurrent.CompletableFuture.supplyAsync { () =>
      val a = wl.generate(o.seed, o.work, o.bench)
      System.err.println(f"perfbench: inputs ready at ${(System.nanoTime() - t0) / 1e9}%.2f s")
      a
    }
    val spark = session(o.work)
    System.err.println(f"perfbench: session up at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    try new Run(o, wl, spark, gen.get(), t0).result()
    finally spark.stop()
  }

  final case class Layers(passes: Seq[Pass], metrics: Seq[(String, Double, String)])

  /** One run: checked warm-up passes until the JIT settles (the end of
    * set-up), then passes in a closed loop for the run's seconds; traced
    * runs split the seconds between untraced and traced passes.
    */
  final class Run(o: Opts, wl: Workload, spark: SparkSession,
      archive: ArchiveGen.Archive, t0: Long) {
    private val tracer = new Tracer(o.trace, s"${wl.name}-${o.seed}-${ProcessHandle.current.pid}")
    private val ctx = new Ctx(spark, o.seed, o.work, o.bench, tracer)
    private var k = 0

    /** One pass; its operations run one at a time, or all at once when
      * `concurrent`.
      */
    private def pass(concurrent: Boolean = false): Pass = {
      k += 1
      val (held, leaked) = isolate(spark)
      val p0 = System.nanoTime()
      val jit0 = Host.jitMs
      val ops = tracer.span("pass") {
        val todo = wl.pass(ctx, archive, k)
        if (!concurrent) todo.map(_())
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(todo.size)
          try todo.map(op => pool.submit(() => op())).map(_.get())
          finally pool.shutdown()
        }
      }
      Pass(k, (System.nanoTime() - p0) / 1e9, ops, held, leaked, Host.jitMs - jit0)
    }

    /** Checked warm-up passes: the first runs its operations all at once,
      * so the driver compiles and loads classes for all of them in
      * parallel; the rest run like measured passes, until one spends at
      * most `JitSettled` of its wall time compiling, `MaxWarmupPasses` have
      * run, or the next would end after `MaxWarmupS`.
      */
    private def warmup(): Seq[Pass] = {
      val out = ArrayBuffer.empty[Pass]
      val w0 = System.nanoTime()
      do {
        out += pass(concurrent = out.isEmpty)
        cleanLake(out.last.k)
      } while (out.last.jitMs > JitSettled * out.last.seconds * 1000 &&
        out.size < MaxWarmupPasses &&
        (System.nanoTime() - w0) / 1e9 + out.last.seconds <= MaxWarmupS)
      out.toSeq
    }

    /** Passes back to back while `seconds` have not run out: a pass starts
      * whenever the window still has time, so the pass count does not hinge
      * on whether the last pass would just fit.
      */
    private def window(seconds: Double)(each: Pass => Unit): Seq[Pass] = {
      val out = ArrayBuffer.empty[Pass]
      val w0 = System.nanoTime()
      while (out.isEmpty || (System.nanoTime() - w0) / 1e9 < seconds) {
        val p = pass()
        each(p)
        cleanLake(p.k)
        out += p
      }
      out.toSeq
    }

    private def cleanLake(k: Int): Unit = {
      val d = Lake.outDir(ctx, k)
      if (Files.exists(d)) Files.walk(d).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }

    def result(): Int = {
      wl.prepare(ctx, archive)
      val warm = warmup()
      val setupS = (System.nanoTime() - t0) / 1e9

      val hostStart = Host.probe()
      val heap = new HeapPeak
      val untraced = heap.during(window(if (o.trace) o.seconds / 2 else o.seconds)(_ => ()))
      val layers = if (o.trace) Some(traced()) else None
      val hostEnd = Host.probe()

      val all = warm ++ untraced ++ layers.map(_.passes).getOrElse(Nil)
      val attempted = all.map(_.ops.size).sum
      val failed = all.map(_.failed).sum
      val passS = untraced.map(_.seconds)
      val opS = untraced.flatMap(_.ops).map(_.seconds)
      System.err.println(f"perfbench: ${wl.name} seed ${o.seed}: setup $setupS%.2f s, " +
        f"${untraced.size} passes, median ${Stats.median(passS)}%.3f s, $failed/$attempted failed; " +
        f"host busy ${hostStart.busy}%.3f->${hostEnd.busy}%.3f, " +
        f"steal ${hostStart.steal}%.3f->${hostEnd.steal}%.3f, " +
        f"canary ${hostStart.canaryMs}%.1f->${hostEnd.canaryMs}%.1f ms; per op: " +
        untraced.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1)
          .map { case (n, ops) => f"$n ${Stats.median(ops.map(_.seconds))}%.3f" }.mkString(", ") +
        "; passes (s/jit ms): " + untraced.map(p => f"${p.seconds}%.3f/${p.jitMs}").mkString(" ") +
        "; warm-up passes (s/jit ms): " + warm.map(p => f"${p.seconds}%.2f/${p.jitMs}").mkString(" "))

      val metrics: Seq[(String, Double, String)] = layers match {
        case None =>
          Seq(("setup_s", setupS, "s"), ("run_s", Stats.median(passS), "s"))
        case Some(l) =>
          val queryS = untraced.flatMap(_.ops).groupBy(_.name).map { case (n, ops) =>
            n -> Stats.median(ops.map(_.seconds))
          }
          val (tailPct, tailS) = Stats.tail(opS)
          l.metrics ++
            ArchiveQueries.queryNames.map(n => (s"query.${n}_s", queryS.getOrElse(n, 0.0), "s")) ++
            OperatorChain.queryNames.map(n => (s"ops.${n}_s", queryS.getOrElse(n, 0.0), "s")) ++
            Seq(
              ("files_per_s_per_core", untraced.size * wl.nFiles / passS.sum / Cores, "1/s"),
              ("ops.persisted_rdds_before_drain", Stats.median(all.map(_.held.toDouble)), "count"),
              ("ops.persisted_rdds_after_drain", all.map(_.leaked).max.toDouble, "count"),
              ("query.p50_s", Stats.median(opS), "s"),
              ("query.tail_s", tailS, "s"),
              ("query.tail_pct", tailPct, "%"),
              ("query.samples", opS.size.toDouble, "count"),
              ("jvm.peak_heap_mb", heap.peakBytes / 1e6, "MB"),
              ("trace.overhead_s", Stats.median(l.passes.map(_.seconds)) - Stats.median(passS), "s"),
              ("trace.spans", tracer.count.toDouble, "count"),
              ("error_rate", failed.toDouble / attempted, "ratio"),
              ("host.busy_start", hostStart.busy, "ratio"),
              ("host.busy_end", hostEnd.busy, "ratio"),
              ("host.steal_start", hostStart.steal, "ratio"),
              ("host.steal_end", hostEnd.steal, "ratio"),
              ("host.canary_start_ms", hostStart.canaryMs, "ms"),
              ("host.canary_end_ms", hostEnd.canaryMs, "ms"),
              ("run.isolation_flags", all.count(!_.isolated).toDouble, "count"))
      }
      o.spans.foreach(tracer.write)
      // host noise and warm-up beside the result, so a run made in a slow
      // window can be recognised and repeated
      val last = warm.last
      println(f"""{"host": {"busy_start": ${hostStart.busy}%.4f, "busy_end": ${hostEnd.busy}%.4f, """ +
        f""""steal_start": ${hostStart.steal}%.4f, "steal_end": ${hostEnd.steal}%.4f, """ +
        f""""canary_start_ms": ${hostStart.canaryMs}%.2f, "canary_end_ms": ${hostEnd.canaryMs}%.2f, """ +
        f""""warmup_passes": ${warm.size}, "warmup_last_jit_share": ${last.jitMs / (last.seconds * 1000)}%.4f}}""")
      println(resultJson(failed == 0, attempted, failed, metrics))
      0
    }

    /** Traced passes: per-pass exec, scan, lake and stream counts, then the
      * single-thread decode-layer split over the workload's own files.
      */
    private def traced(): Layers = {
      val sc = spark.sparkContext
      val exec = new ExecListener
      val scan = new ScanListener
      val stream = new StreamListener
      sc.addSparkListener(exec)
      spark.listenerManager.register(scan)
      spark.streams.addListener(stream)
      // the query actions and the number of Spark jobs of each operation,
      // taken when it returns, before its result is checked
      val opActions = scala.collection.mutable.Map.empty[String, Seq[ScanListener.Action]]
      val opJobs = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
      var passActions, passJobs = 0
      ctx.callEnd = op => {
        ListenerDrain(sc)
        val actions = scan.actionsSnapshot()
        opActions(op) = actions.drop(passActions)
        passActions = actions.size
        val jobs = exec.snapshot().jobs
        opJobs.getOrElseUpdate(op, ArrayBuffer.empty) += (jobs - passJobs).toDouble
        passJobs = jobs
      }
      val perPass = ArrayBuffer.empty[Map[String, Double]]
      ctx.traced = true
      val passes = try {
        window(o.seconds / 2) { p =>
          ListenerDrain(sc)
          val e = exec.snapshot()
          val decoded = scan.count("seamfDecodedFiles")
          val listed = Seq("seamfDecodedFiles", "seamfMetaOnlyFiles", "seamfPrunedFiles",
            "seamfSkippedFiles").map(scan.count).sum
          val lakeDir = Lake.outDir(ctx, p.k)
          val isLake = Files.exists(lakeDir)
          val (lakeDecode, lakeWrite) =
            opActions.getOrElse("export_window", Nil).partition(_.funcName == "count")
          val lakeParts = if (isLake) Lake.parquetFiles(lakeDir) else Nil
          val lakeFiles = lakeParts.size
          val lakeBytes = lakeParts.map(Files.size).sum
          val wallCores = p.seconds * Cores
          perPass += Map(
            "sources.plan_ms" -> ctx.planMs,
            "sources.files_listed" -> listed.toDouble,
            "sources.files_decoded" -> decoded.toDouble,
            "sources.files_meta_only" -> scan.count("seamfMetaOnlyFiles").toDouble,
            "sources.files_pruned" -> scan.count("seamfPrunedFiles").toDouble,
            "sources.files_skipped" -> scan.count("seamfSkippedFiles").toDouble,
            "sources.decode_ratio" -> (if (listed == 0) 0.0 else decoded.toDouble / listed),
            "sources.scan_tasks" -> e.scanTasks.toDouble,
            "scan_run_ms_per_decoded" -> (if (decoded == 0) 0.0 else e.scanRunMs.toDouble / decoded),
            "exec.jobs" -> e.jobs.toDouble,
            "exec.stages" -> e.stages.toDouble,
            "exec.tasks" -> e.tasks.toDouble,
            "exec.executor_run_s" -> e.runMs / 1e3,
            "exec.executor_cpu_s" -> e.cpuNs / 1e9,
            "exec.cpu_util" -> e.cpuNs / 1e9 / wallCores,
            "exec.driver_share" -> (1 - e.runMs / 1e3 / wallCores),
            "exec.shuffle_read_mb" -> e.shuffleRead / 1e6,
            "exec.shuffle_write_mb" -> e.shuffleWrite / 1e6,
            "exec.spill_mb" -> e.spill / 1e6,
            "exec.gc_ms" -> e.gcMs.toDouble,
            "exec.task_skew" -> e.skew,
            "exec.post_shuffle_run_s" -> e.postShuffleMs / 1e3,
            "exec.scan_share" -> e.scanRunMs / 1e3 / wallCores,
            "jvm.jit_ms" -> p.jitMs.toDouble,
            "lake.decode_s" -> (if (isLake) lakeDecode.map(_.durationNs).sum / 1e9 else 0.0),
            "lake.write_s" -> (if (isLake) lakeWrite.map(_.durationNs).sum / 1e9 else 0.0),
            "lake.files_written" -> lakeFiles.toDouble,
            "lake.bytes_written_mb" -> lakeBytes / 1e6,
            "lake.bytes_per_payload_byte" -> lakeBytes.toDouble / ArchiveQueries.exportPayloadBytes,
            "stream.batches" -> stream.batches.toDouble,
            "stream.latest_offset_ms" -> stream.totalMs("latestOffset").toDouble,
            "stream.get_batch_ms" -> stream.totalMs("getBatch").toDouble,
            "stream.query_planning_ms" -> stream.totalMs("queryPlanning").toDouble,
            "stream.add_batch_ms" -> stream.totalMs("addBatch").toDouble,
            "stream.wal_commit_ms" -> stream.totalMs("walCommit").toDouble)
          exec.reset(); scan.reset(); stream.reset(); ctx.planMs = 0
          opActions.clear(); passActions = 0; passJobs = 0
        }
      } finally {
        ctx.traced = false
        ctx.callEnd = _ => ()
        sc.removeSparkListener(exec)
        spark.listenerManager.unregister(scan)
        spark.streams.removeListener(stream)
      }
      val d = tracer.span("seamf.layers")(DecodeLayers.measure(archive, DecodeLayerFiles, tracer))
      if (archive.files.nonEmpty) {
        println(s"decode layers, ${wl.name} seed ${o.seed} " +
          s"(${math.min(DecodeLayerFiles, archive.files.size)} files, one thread):")
        println(DecodeLayers.table(d))
      }
      val med = perPass.head.keys.map(key => key -> Stats.median(perPass.map(_(key)).toSeq)).toMap
      val emitMs =
        if (med("sources.files_decoded") == 0) 0.0 else med("scan_run_ms_per_decoded") - d.decodeMs
      val metrics =
        Seq(
          ("seamf.tar_ms", d.tarMs, "ms"), ("seamf.meta_ms", d.metaMs, "ms"),
          ("seamf.sha512_ms", d.shaMs, "ms"), ("seamf.xz_ms", d.xzMs, "ms"),
          ("seamf.f16_ms", d.f16Ms, "ms"), ("seamf.decode_ms", d.decodeMs, "ms"),
          ("seamf.compression_ratio", archive.payloadBytes.toDouble / archive.compressedBytes, "ratio"),
          ("seamf.payload_mb", archive.payloadBytes / 1e6, "MB"),
          ("sources.emit_ms", emitMs, "ms")) ++
          LayerUnits.map { case (key, unit) => (key, med(key), unit) } ++
          OperatorChain.queryNames.map { n =>
            (s"ops.${n}_jobs", opJobs.get(n).map(j => Stats.median(j.toSeq)).getOrElse(0.0), "count")
          }
      Layers(passes, metrics)
    }
  }

  private val LayerUnits: Seq[(String, String)] = Seq(
    "sources.plan_ms" -> "ms", "sources.files_listed" -> "count",
    "sources.files_decoded" -> "count", "sources.files_meta_only" -> "count",
    "sources.files_pruned" -> "count", "sources.files_skipped" -> "count",
    "sources.decode_ratio" -> "ratio", "sources.scan_tasks" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.executor_run_s" -> "s", "exec.executor_cpu_s" -> "s",
    "exec.cpu_util" -> "ratio", "exec.driver_share" -> "ratio",
    "exec.shuffle_read_mb" -> "MB", "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.gc_ms" -> "ms", "exec.task_skew" -> "ratio",
    "exec.post_shuffle_run_s" -> "s", "exec.scan_share" -> "ratio", "jvm.jit_ms" -> "ms",
    "lake.decode_s" -> "s", "lake.write_s" -> "s", "lake.files_written" -> "count",
    "lake.bytes_written_mb" -> "MB", "lake.bytes_per_payload_byte" -> "ratio",
    "stream.batches" -> "count", "stream.latest_offset_ms" -> "ms",
    "stream.get_batch_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms")

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)
      s""""$n": {"value": $num, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Host noise at the edges of the measured window, as `graft.Bench` gates
  * it: the busy share of other processes while this one sleeps, and a
  * fixed-work single-thread CPU canary.
  */
object Host {
  /** `busy`: share of CPU time used while this thread sleeps (the rest of
    * this JVM included); `steal`: share a virtual machine's host withheld.
    */
  final case class Probe(busy: Double, steal: Double, canaryMs: Double)

  def probe(): Probe = {
    val (busy, steal) = externalBusy(250)
    Probe(busy, steal, canaryMs())
  }

  /** (busy, steal, total) jiffies from the first line of /proc/stat. */
  private def cpu(): (Long, Long, Long) = {
    val f = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
      .split("\\s+").drop(1).map(_.toLong)
    val busy = f(0) + f(1) + f(2) + f(5) + f(6) + f(7)
    (busy, f(7), busy + f(3) + f(4))
  }

  def externalBusy(sleepMs: Long): (Double, Double) =
    try {
      val (b0, s0, t0) = cpu(); Thread.sleep(sleepMs); val (b1, s1, t1) = cpu()
      if (t1 <= t0) (0.0, 0.0)
      else ((b1 - b0).toDouble / (t1 - t0), (s1 - s0).toDouble / (t1 - t0))
    } catch { case scala.util.control.NonFatal(_) => (-1.0, -1.0) }

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def canaryMs(steps: Long = 50000000L): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L; var i = 0L
    while (i < steps) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }
}

/** Peak JVM heap in use after a collection while `body` runs: the live
  * heap, which unlike the momentary heap use does not just track how full
  * the young generation got before the collector ran.
  */
final class HeapPeak {
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  def peakBytes: Long = peak

  def during[T](body: => T): T = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }
    val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case e: NotificationEmitter => e
    }
    emitters.foreach(_.addNotificationListener(listener, null, null))
    try body finally emitters.foreach(_.removeNotificationListener(listener))
  }
}
