package graft

import org.apache.spark.sql.functions._

/** Micro-bench for the W4 TDD-correlation UDF (VERDICT r7 #6): is the
  * Scala-UDF boundary (row encode/decode of the 560-float trace) a
  * material cost next to the O(n^2 m) correlation kernel itself, at the
  * reference's trace shape (n=560 samples, m=2 templates)?
  *
  * Run: `sbt "Test/runMain graft.TddMicroBench"`. Prints
  *   - kernel-only rows/s (tight JVM loop, zero Spark),
  *   - the same rows through the full Spark UDF path at local[1]
  *     (single-thread so the comparison is per-core apples-to-apples),
  * and the implied UDF-boundary overhead fraction. The r8 measurement is
  * recorded in SCALE.md; the conclusion (kernel-bound — a codegen'd
  * Expression would shave only the boundary share) is why the UDF stays.
  */
object TddMicroBench {
  def main(args: Array[String]): Unit = {
    val n = 560
    val rows = 2000
    val rnd = new scala.util.Random(42)
    val traces: Array[Array[Float]] =
      Array.fill(rows)(Array.fill(n)(-80f + 20f * rnd.nextFloat()))

    // warm up JIT, then time the bare kernel
    traces.take(200).foreach(t =>
      graft.operators.TddSync.correlate(t, graft.operators.TddSync.defaultTemplates(n)))
    val t0 = System.nanoTime()
    traces.foreach(t =>
      graft.operators.TddSync.correlate(t, graft.operators.TddSync.defaultTemplates(n)))
    val kernelSec = (System.nanoTime() - t0) / 1e9

    val spark = GraftSession.builder("local[1]", 1).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val df = traces.toSeq.map(_.toSeq).toDF("trace")
      .repartition(1).persist()
    df.count() // materialize input so the timed run is UDF + kernel only

    def sparkRun(): Double = {
      val s0 = System.nanoTime()
      graft.operators.TddSync.syncTraces(df, "trace")
        .select("shift", "corr_peak", "frame_format")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - s0) / 1e9
    }
    sparkRun() // warm up codegen + JIT
    val sparkSec = math.min(sparkRun(), sparkRun())

    val overhead = (sparkSec - kernelSec) / sparkSec
    println(f"""{"rows":$rows,"n":$n,"kernel_sec":$kernelSec%.3f,""" +
      f""""kernel_rows_per_s":${rows / kernelSec}%.0f,""" +
      f""""spark_udf_sec":$sparkSec%.3f,""" +
      f""""spark_rows_per_s":${rows / sparkSec}%.0f,""" +
      f""""udf_boundary_share":$overhead%.3f}""")
    spark.stop()
  }
}
