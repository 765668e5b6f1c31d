package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed binary logistic regression trained by full-batch gradient
  * descent — the linear quality/domain-classifier shape (the trainable
  * complement of the counting classifiers: NaiveBayes fits by one
  * aggregation, this fits by `iters` of them).
  *
  * The reference hands model fitting to single-node libraries; here each
  * GD iteration is ONE partial-aggregable pass over the feature frame:
  *
  *   gradient: every row computes its sigmoid residual `p - y` against the
  *     current weights (a one-row frame, broadcast — model state never
  *     shuffles with the data) and folds `(p - y) * x_j` into k+1
  *     DECIMAL(38,18) sums with map-side combine. No join key, no window:
  *     the shuffle is k+1 decimal cells per partition.
  *   update: weights move by `lr/n * gradient` and are re-quantized to
  *     1e-6-resolution longs (`floor(w * 1e6)`).
  *
  * Quantization is what makes the whole TRAJECTORY portable: decimal sums
  * are exact in any order (partitioning-invariant), the per-row double
  * noise between engines (`exp` is correctly-rounded to ~1 ulp on both
  * JVM libm and DuckDB libm) is ~1e-16 relative and the decimal-summed
  * aggregate noise lands far below the 1e-6 weight grid, so flooring
  * yields bit-identical weights per iteration in Spark and DuckDB — the
  * full training loop replays as a CTE chain (q108's oracle), the
  * NaiveBayes/NgramLm standard applied to an ITERATIVE fit.
  *
  * Laziness (NgramLm discipline): [[train]]/[[trainTrajectory]] run ZERO
  * Spark jobs — the T iterations chain as nested one-row broadcast
  * aggregations inside a single plan, so fit + score + grade execute as
  * one job. The feature frame is persisted (lazily) because every
  * iteration rescans it; release with [[unpersistAll]].
  *
  * 100 TB: the data-sized work is `iters` (+1 per graded trajectory row)
  * scans of the feature frame, each collapsing to k+1 decimal cells via
  * partial aggregation; weights are k+1 longs broadcast per iteration.
  * Nothing driver-side, nothing quadratic, no explode — feature count k
  * bounds every non-scan cost.
  */
object LogReg extends PersistRegistry {
  private val Dec = DecimalType(38, 18)

  /** Weight grid: 1e-6 resolution (floor(w * 1e6) longs). */
  val Scale = 1000000L

  /** Linear score z = sum_j (wq_j / 1e6) * x_j with the weight columns in
    * scope — built in fixed left-associated order so the double arithmetic
    * is reproduced verbatim by the oracle SQL.
    */
  private def zCol(xCols: Seq[String]): Column =
    xCols.zipWithIndex.map { case (c, j) =>
      (col(s"wq_$j") / lit(Scale.toDouble)) * col(c)
    }.reduce(_ + _)

  /** One gradient step: returns the post-update one-row quantized weight
    * frame. `features` must carry `xCols` (double) and `yCol` (0/1 int).
    *
    * The previous weights are carried THROUGH the gradient aggregation
    * (`min(wq_j)` — constant on the broadcast-joined frame, so min is the
    * value itself; NULL over an empty frame, which propagates the same
    * NULL update as a NULL gradient would) instead of joining `w` a
    * second time above `g`. That keeps each iteration's logical plan
    * referencing its predecessor exactly ONCE — the double-reference
    * shape (w crossJoin g(w)) doubles the analyzed tree per iteration,
    * i.e. 2^T plan-analysis cost; measured at T=3 that was ~3x the whole
    * query's wall time in driver-side analysis.
    */
  private def step(features: DataFrame, w: DataFrame, xCols: Seq[String],
      yCol: String, lr: Double): DataFrame = {
    val p = lit(1.0) / (lit(1.0) + exp(-zCol(xCols)))
    val resid = p - col(yCol).cast("double")
    val grads = xCols.zipWithIndex.map { case (c, j) =>
      sum((resid * col(c)).cast(Dec)).as(s"g_$j")
    }
    val carried = xCols.indices.map(j => min(col(s"wq_$j")).as(s"pw_$j"))
    val g = features.crossJoin(broadcast(w))
      .agg(grads.head,
        grads.tail ++ carried :+ count(lit(1)).as("n"): _*)
    g.select(
      xCols.indices.map { j =>
        floor((col(s"pw_$j") / lit(Scale.toDouble) -
          lit(lr) * col(s"g_$j").cast("double") / col("n")) *
          lit(Scale.toDouble)).as(s"wq_$j")
      }: _*)
  }

  /** Train `iters` full-batch GD steps from zero weights; returns the
    * final one-row frame of quantized weights `wq_0 .. wq_{k-1}` (lazy —
    * zero jobs until an action).
    */
  def train(features: DataFrame, xCols: Seq[String], yCol: String,
      lr: Double, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val f = cached(features)
    val w0 = f.sparkSession.range(1)
      .select(xCols.indices.map(j => lit(0L).as(s"wq_$j")): _*)
    (1 to iters).foldLeft(w0)((w, _) => step(f, w, xCols, yCol, lr))
  }

  /** Linear score at trajectory step `t` with the `w{t}q_j` columns in
    * scope (see [[weightTrajectoryWide]]) — the same fixed left-associated
    * order as [[zCol]] so every engine replays the doubles verbatim.
    */
  private def zColAt(t: Int, xCols: Seq[String]): Column =
    xCols.zipWithIndex.map { case (c, j) =>
      (col(s"w${t}q_$j") / lit(Scale.toDouble)) * col(c)
    }.reduce(_ + _)

  /** EVERY iteration's quantized weights in ONE one-row frame, columns
    * `w{t}q_j` for t = 1..iters. This is [[train]]'s chain with each
    * step's output APPENDED (carried through the next gradient aggregation
    * the same way the previous step's weights already are) instead of
    * replaced — so auditing all T models (q118's forgetting events, the
    * q108 trajectory grade) is one broadcast join and the gradient passes
    * stay linear in T. Materializing [[train]]'s per-step frames
    * side-by-side would instead replay every prefix chain: T(T+1)/2
    * gradient aggregations (measured ~3x wall time at T=6).
    */
  def weightTrajectoryWide(features: DataFrame, xCols: Seq[String],
      yCol: String, lr: Double, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val f = cached(features)
    val w0 = f.sparkSession.range(1)
      .select(xCols.indices.map(j => lit(0L).as(s"w0q_$j")): _*)
    val wide = (1 to iters).foldLeft(w0) { (cum, t) =>
      val p = lit(1.0) / (lit(1.0) + exp(-zColAt(t - 1, xCols)))
      val resid = p - col(yCol).cast("double")
      val grads = xCols.zipWithIndex.map { case (c, j) =>
        sum((resid * col(c)).cast(Dec)).as(s"g_$j")
      }
      val carriedNames = cum.columns.toSeq
      val carried = carriedNames.map(c => min(col(c)).as(c))
      val g = f.crossJoin(broadcast(cum))
        .agg(grads.head,
          grads.tail ++ carried :+ count(lit(1)).as("n"): _*)
      g.select(carriedNames.map(col) ++ xCols.indices.map { j =>
        floor((col(s"w${t - 1}q_$j") / lit(Scale.toDouble) -
          lit(lr) * col(s"g_$j").cast("double") / col("n")) *
          lit(Scale.toDouble)).as(s"w${t}q_$j")
      }: _*)
    }
    wide.drop(xCols.indices.map(j => s"w0q_$j"): _*)
  }

  /** Graded training trajectory: one row per iteration with the
    * post-update quantized weights and their training accuracy (decision
    * rule z >= 0, i.e. p >= 0.5). Output:
    * (iter, wq_0..wq_{k-1}, n_correct). All T accuracies fold in ONE
    * extra pass over the persisted features (T count-when cells against
    * the broadcast wide-trajectory frame) — the oracle form; production
    * training uses [[train]] (no accuracy passes).
    */
  def trainTrajectory(features: DataFrame, xCols: Seq[String], yCol: String,
      lr: Double, iters: Int): DataFrame = {
    val wide = weightTrajectoryWide(features, xCols, yCol, lr, iters)
    // count(non-null) rather than sum: DuckDB's COUNT returns BIGINT
    // where SUM over integers returns HUGEINT (type-mismatch in compare)
    val accAggs = (1 to iters).map(t =>
      count(when((zColAt(t, xCols) >= 0.0) === (col(yCol) === 1), 1))
        .as(s"n_correct_$t"))
    val acc = features.crossJoin(broadcast(wide))
      .agg(accAggs.head, accAggs.tail: _*)
    val all = wide.crossJoin(broadcast(acc))
    (1 to iters).map { t =>
      all.select(lit(t.toLong).as("iter") +:
        xCols.indices.map(j => col(s"w${t}q_$j").as(s"wq_$j")) :+
        col(s"n_correct_$t").as("n_correct"): _*)
    }.reduce(_ unionByName _)
  }

  /** Z-score standardize `xCols` in-plan: ONE aggregation derives every
    * column's decimal sum and sum-of-squares (exact in any order), the
    * broadcast one-row stats frame feeds `(x - mean) / std` per row, and
    * columns with variance <= eps fall back to std = 1 (constant columns
    * — the bias — must not divide by ~0). Zero jobs: standardize + fit +
    * score still execute as one action. Population variance in the fixed
    * operation order `E[x^2] - E[x]^2` so the oracle replays the doubles
    * verbatim.
    */
  def standardize(features: DataFrame, xCols: Seq[String],
      eps: Double = 1e-12): DataFrame = {
    val aggs = xCols.flatMap(c => Seq(
      sum(col(c).cast(Dec)).as(s"__s_$c"),
      sum((col(c) * col(c)).cast(Dec)).as(s"__q_$c"))) :+
      count(lit(1)).as("__n")
    val st = features.agg(aggs.head, aggs.tail: _*)
    features.crossJoin(broadcast(st)).select(
      features.columns.toSeq.map { c =>
        if (!xCols.contains(c)) col(c)
        else {
          val m = col(s"__s_$c").cast("double") / col("__n")
          val v = col(s"__q_$c").cast("double") / col("__n") - m * m
          val s = when(v <= eps, lit(1.0)).otherwise(sqrt(v))
          ((col(c) - m) / s).as(c)
        }
      }: _*)
  }

  /** Score a frame with a trained weights frame: adds `z` (double linear
    * score) and `pred` (0/1 at the z >= 0 boundary). One broadcast join,
    * map-side only.
    */
  def score(features: DataFrame, weights: DataFrame,
      xCols: Seq[String]): DataFrame =
    features.crossJoin(broadcast(weights))
      .withColumn("z", zCol(xCols))
      .withColumn("pred", (col("z") >= 0.0).cast("int"))
      .drop(xCols.indices.map(j => s"wq_$j"): _*)
}
