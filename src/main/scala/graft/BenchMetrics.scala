package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

/** Per-query execution accounting for `Bench` (VERDICT r7 #1): aggregates
  * task-level shuffle read/write bytes, spilled bytes, and task counts
  * between `reset()` and `snapshot()`, plus a canonicalized-plan
  * fingerprint, so round-over-round bench diffs can separate "the plan
  * changed" from "the machine was busy".
  *
  * A `SparkListener` (not SQL metrics) is deliberate: several inventory
  * queries run multiple internal actions (persist + grade + components
  * loops), and the attribution we want is TOTAL cluster work per query,
  * which task metrics capture and any single `QueryExecution`'s SQL
  * metrics would not. The listener bus is async, so `snapshot()` drains it
  * (via [[org.apache.spark.graft.ListenerBusHatch]]) before reading.
  */
final class BenchMetrics(sc: SparkContext) extends SparkListener {
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong
  private val tasks = new AtomicLong
  private var gcMs0 = 0L

  sc.addSparkListener(this)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      tasks.incrementAndGet()
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Total JVM GC wall-time so far (all collectors), for the per-query
    * gcMs delta: a metric whose wall inflates while its gcMs tracks the
    * inflation 1:1 is a heap-pressure casualty, not an engine change —
    * the q38 r12 drift signature (1.5 → 9.6 → 15.4 s at identical plan
    * hash) needed exactly this attribution in the artifact.
    */
  private def gcTimeMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def reset(): Unit = {
    org.apache.spark.graft.ListenerBusHatch.drain(sc)
    shuffleRead.set(0); shuffleWrite.set(0); spill.set(0); tasks.set(0)
    gcMs0 = gcTimeMs()
  }

  /** Drain the bus, then read the counters accumulated since `reset()`. */
  def snapshot(planHash: String): BenchMetrics.Exec = {
    org.apache.spark.graft.ListenerBusHatch.drain(sc)
    val rt = Runtime.getRuntime
    BenchMetrics.Exec(shuffleRead.get, shuffleWrite.get, spill.get,
      tasks.get, planHash, gcTimeMs() - gcMs0,
      (rt.totalMemory() - rt.freeMemory()) >> 20)
  }
}

object BenchMetrics {
  /** One query's execution footprint; `planHash` is "" for multi-step
    * archive metrics that have no single plan to fingerprint.
    */
  final case class Exec(shuffleRead: Long, shuffleWrite: Long, spill: Long,
      tasks: Long, planHash: String, gcMs: Long = -1L, heapMB: Long = -1L) {
    def toJson: String =
      s"""{"shuffleRead":$shuffleRead,"shuffleWrite":$shuffleWrite,""" +
        s""""spill":$spill,"tasks":$tasks,"planHash":"$planHash",""" +
        s""""gcMs":$gcMs,"heapMB":$heapMB}"""
  }

  /** Intra-capture monotone-drift gate (VERDICT r12 #3): a metric whose
    * runs rise MONOTONICALLY by more than `factor` end-to-end is
    * accumulating state (JVM heap, page-cache eviction, un-GC'd shuffle
    * files), not suffering a transient stall — and it escapes the spread
    * gate by construction, because spread drops the first run (q38 read
    * 1.48 → 9.57 → 15.37 s with a tail spread of only 1.6). Monotone
    * means every successive run is at least as slow as the one before;
    * a single fast run anywhere breaks the pattern (that is the
    * transient-stall shape the spread/median machinery already owns).
    */
  def monotoneDrift(runs: Seq[Double], factor: Double = 3.0): Boolean =
    runs.size >= 3 && runs.head > 0 &&
      runs.iterator.zip(runs.iterator.drop(1)).forall {
        case (a, b) => b >= a } &&
      runs.last / runs.head > factor

  /** End-of-capture host-load gate (VERDICT r13 #6): the start-side
    * busy-probe gate is blind to contention that ARRIVES mid-capture —
    * the r13 blessed window ran while host load rose 1.66 -> 7.47, which
    * is exactly the condition behind that round's 1.3-1.5x
    * identical-plan drifts. A capture whose 1-minute loadavg ends above
    * BOTH 2x its start and cpus/4 — CORROBORATED by the end-side
    * external-busy probe reading >= 5% — ran beside sustained external
    * work and is flagged, so medians only merge quiet windows.
    *
    * The busy corroboration is measured necessity, not caution: the
    * first r14 capture ended at loadavg 8.77 with busy_end 0.001, FLAT
    * canaries (0.813 -> 0.827 1t), zero contaminated metrics, and a
    * 280 s total squarely in the clean 230-286 s band — the 1-minute
    * loadavg was the bench's OWN back-to-back 32-thread tail (archive +
    * lake metrics run last), which no cpus/4 floor reliably clears.
    * loadavg cannot tell our work from theirs; the /proc/stat probe
    * sleeps through its window and so measures OTHER processes only —
    * the load rule supplies the "sustained over the window" evidence,
    * the probe supplies the "not us" evidence, and only together do
    * they flag. Unreadable loadavg/busy (-1) never flags.
    */
  def endLoadInvalid(loadStart: Double, loadEnd: Double,
      cpus: Int, busyEnd: Double): Boolean =
    busyEnd >= 0.05 && loadStart >= 0 && loadEnd >= 0 &&
      loadEnd > math.max(2.0 * loadStart, cpus / 4.0)

  /** Fingerprint of the canonicalized (exprId-normalized) physical plan.
    * Paths under `java.io.tmpdir` (seamf fixture archives are created there
    * with a random suffix each bench run) are masked so the hash is stable
    * across runs of the same code; under AQE this is the INITIAL plan, i.e.
    * the code-determined shape, which is exactly what a round-over-round
    * diff should key on (runtime re-plans are machine-dependent by design).
    */
  def planHash(df: DataFrame): String = {
    val canon = df.queryExecution.executedPlan.canonicalized.toString
    val tmp = java.util.regex.Pattern.quote(
      System.getProperty("java.io.tmpdir").stripSuffix("/"))
    val masked = canon.replaceAll(tmp + "/[^\\s,\\)\\]]*", "<tmp>")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(masked.getBytes("UTF-8")).map("%02x".format(_))
      .mkString.take(12)
  }
}
