package graft

import org.apache.spark.sql.functions._

/** Bench execution-accounting (VERDICT r7 #1): the listener attributes task
  * work to the window between reset and snapshot, and the plan fingerprint
  * is deterministic with temp paths masked.
  */
class BenchMetricsSpec extends SparkSpec {

  test("planHash is deterministic and insensitive to temp-dir location") {
    val df1 = spark.range(10).select((col("id") * 2).as("x"))
    val df2 = spark.range(10).select((col("id") * 2).as("x"))
    assert(BenchMetrics.planHash(df1) === BenchMetrics.planHash(df2))

    // same data + schema written to two different /tmp locations must hash
    // identically (seamf fixture archives land in fresh temp dirs each run)
    val d1 = tempDir("graft_ph_a")
    val d2 = tempDir("graft_ph_b")
    df1.write.mode("overwrite").parquet(d1)
    df1.write.mode("overwrite").parquet(d2)
    val h1 = BenchMetrics.planHash(spark.read.parquet(d1).filter(col("x") > 4))
    val h2 = BenchMetrics.planHash(spark.read.parquet(d2).filter(col("x") > 4))
    assert(h1 === h2)
  }

  test("planHash distinguishes different plans") {
    val a = spark.range(10).select((col("id") * 2).as("x"))
    val b = spark.range(10).select((col("id") + 2).as("x"))
    assert(BenchMetrics.planHash(a) !== BenchMetrics.planHash(b))
  }

  test("monotoneDrift flags rising runs and spares transient stalls") {
    // the q38 r12 shape: monotone rise, >3x end-to-end, spread-gate-blind
    // (tail spread 15.37/9.57 = 1.6)
    assert(BenchMetrics.monotoneDrift(Seq(1.48, 9.57, 15.37)))
    // transient mid-capture stall: not monotone, the median machinery owns it
    assert(!BenchMetrics.monotoneDrift(Seq(1.5, 14.0, 1.6)))
    // steady state: monotone but under the factor
    assert(!BenchMetrics.monotoneDrift(Seq(1.5, 1.6, 1.7)))
    // monotone but only two runs: min-of-2 tails are the crosscheck's job
    assert(!BenchMetrics.monotoneDrift(Seq(1.0, 9.0)))
    // a stalled FIRST run recovering is the cold-start shape, not drift
    assert(!BenchMetrics.monotoneDrift(Seq(9.0, 1.1, 1.2)))
    // failure sentinel first: never divide by a non-positive run
    assert(!BenchMetrics.monotoneDrift(Seq(-1.0, 1.0, 9.0)))
  }

  test("endLoadInvalid flags only sustained external load arriving " +
      "mid-capture (VERDICT r13 #6)") {
    // the r13 blessed window (1.66 -> 7.47 on 32 cpus): below the cpus/4
    // floor, ships as context, not a flag — the rule is conservative by
    // design so the bench's own decaying tail cannot self-flag
    assert(!BenchMetrics.endLoadInvalid(1.66, 7.47, 32, 0.3))
    // load both doubled AND past cpus/4 WITH external-busy corroboration:
    // a concurrent sustained consumer
    assert(BenchMetrics.endLoadInvalid(1.0, 9.0, 32, 0.05))
    assert(BenchMetrics.endLoadInvalid(3.9, 8.1, 32, 0.25))
    // the first r14 capture, measured: loadavg 8.77 was the bench's OWN
    // tail — busy_end 0.001 proves the host idle, so no flag
    assert(!BenchMetrics.endLoadInvalid(1.90, 8.77, 32, 0.001))
    // past cpus/4 but not doubled: the capture STARTED loaded — that is
    // the start-side busy gate's job, not this one's
    assert(!BenchMetrics.endLoadInvalid(5.0, 9.0, 32, 0.3))
    // idle-start doubling stays under the floor
    assert(!BenchMetrics.endLoadInvalid(0.1, 0.3, 32, 0.3))
    // unreadable loadavg/busy never flags
    assert(!BenchMetrics.endLoadInvalid(-1.0, 50.0, 32, 0.3))
    assert(!BenchMetrics.endLoadInvalid(1.0, -1.0, 32, 0.3))
    assert(!BenchMetrics.endLoadInvalid(1.0, 9.0, 32, -1.0))
  }

  test("listener attributes tasks/shuffle to the reset..snapshot window") {
    val mx = new BenchMetrics(spark.sparkContext)
    // work BEFORE reset must not leak into the window
    spark.range(100000).groupBy(col("id") % 7).count()
      .write.format("noop").mode("overwrite").save()
    mx.reset()
    val before = mx.snapshot("")
    assert(before.tasks === 0 && before.shuffleWrite === 0)

    spark.range(100000).groupBy(col("id") % 7).count()
      .write.format("noop").mode("overwrite").save()
    val after = mx.snapshot("")
    assert(after.tasks > 0)
    assert(after.shuffleWrite > 0)
    assert(after.shuffleRead > 0)
  }
}
