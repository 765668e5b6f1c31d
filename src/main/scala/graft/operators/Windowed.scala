package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-shaped operators from the reference's demo surface: top-k per group
  * (the `limiter` idiom), gap detection, and group-size equalization.
  */
object Windowed extends PersistRegistry {

  /** Top-k rows per group (reference `limiter`,
    * `/root/reference/demos/colormap_plots.ipynb` cell 2: first-N rows per
    * frequency). `row_number` over (group, order) then filter.
    *
    * Scale notes: one shuffle on the group keys; with AQE skewed groups are
    * split. For huge k-per-group workloads prefer pre-aggregation, but for
    * "first/last k" this is the canonical Spark plan.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** The UNBOUNDED-group form of [[topKPerGroup]] — identical selection,
    * different plan: a bounded k-buffer aggregation
    * ([[graft.functions.Aggregators.BoundedMinKByValue]]) keeps each
    * group's k smallest (sortAsc, key) pairs with map-side partial
    * aggregation — at most k pairs per group leave each partition, no
    * per-group sort, no window over a billion-row group — then the kept
    * keys broadcast-join back to recover full rows (kept is groups x k
    * rows). `rankCol` carries the 1-based within-group rank the window
    * form would assign.
    *
    * Preconditions (same discipline as `Sampling.stratifiedTakeHeap`):
    * `keyCol` must be a UNIQUE, NON-NULL integral id and `sortAsc`
    * non-null (the window form would rank nulls per null-ordering; the
    * heap cannot see them). Descending orderings pass the negated column;
    * for decimal sort columns the double cast is order-preserving as long
    * as distinct values differ by more than one double ulp (~1e-11 at
    * 1e5 magnitude — every fixture and any price-like column qualifies).
    */
  def topKPerGroupHeap(df: DataFrame, groupCols: Seq[String],
      sortAsc: Column, keyCol: String, k: Int,
      rankCol: String = "rank"): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Double, Long)]()
    val topk = udaf(graft.functions.Aggregators.BoundedMinKByValue(k), enc)
    val kept = df
      .select(groupCols.map(col) :+ sortAsc.cast("double").as("__v") :+
        col(keyCol).cast("long").as("__k"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(topk(col("__v"), col("__k")).as("__kept"))
      .select(posexplode(col("__kept")).as(Seq("__pos", "__k")))
      .select(col("__k"), (col("__pos") + 1).as(rankCol))
    df.join(broadcast(kept), col(keyCol).cast("long") === col("__k"))
      .drop("__k")
  }

  /** Equalize group sizes to the global minimum group count (the reference's
    * `limiter`: `groupby(freq).size().min()` then first-`lim` rows of each
    * group). The min count is computed distributed and joined back as a
    * 1-row broadcast — no driver collect.
    */
  def equalizeGroups(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[Column]): DataFrame = {
    val minCount = df.groupBy(groupCols.map(col): _*).count()
      .agg(min("count").as("__lim"))
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .join(broadcast(minCount))
      .filter(col("__rn") <= col("__lim"))
      .drop("__rn", "__lim")
  }

  /** Gap detection (reference `colormap_plots.ipynb` cell 12): per-key
    * ordered timestamp diffs in seconds; rows whose gap from the previous
    * observation exceeds `thresholdSec` (first row of a key has no gap).
    * Output: key cols, ts, gap_sec.
    */
  def gaps(df: DataFrame, keys: Seq[String], tsCol: String,
      thresholdSec: Double): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol).asc)
    df.select(keys.map(col) :+ col(tsCol): _*)
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("gap_sec",
        (unix_micros(col(tsCol)) - unix_micros(col("__prev"))).cast("double") / 1e6)
      .filter(col("gap_sec") > thresholdSec)
      .drop("__prev")
  }

  /** Coverage statistic (reference missed-coverage %): per key, observed
    * count vs ideal count for a fixed cadence over the key's own time span.
    */
  def coverage(df: DataFrame, keys: Seq[String], tsCol: String,
      cadenceSec: Double): DataFrame = {
    df.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_obs"),
        min(col(tsCol)).as("t_min"),
        max(col(tsCol)).as("t_max"))
      .withColumn("ideal",
        floor((unix_micros(col("t_max")) - unix_micros(col("t_min"))).cast("double") /
          1e6 / cadenceSec) + 1)
      .withColumn("coverage_pct",
        round(col("n_obs").cast("double") / col("ideal").cast("double") * 100.0, 4))
  }

  /** Sessionization: assign session ids per key where a new session starts
    * after an inactivity gap > `gapSec`. Classic lag + cumulative-sum window.
    */
  def sessionize(df: DataFrame, keys: Seq[String], tsCol: String,
      gapSec: Double): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol).asc)
    df.withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__new_session",
        when(col("__prev").isNull ||
          (unix_micros(col(tsCol)) - unix_micros(col("__prev"))).cast("double") / 1e6 > gapSec,
          1).otherwise(0))
      .withColumn("session_id",
        sum(col("__new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__new_session")
  }

  /** Exact cumulative sum of `valueCol` in global `orderCol` order WITHOUT a
    * single-partition window (the naive `Window.orderBy(key)` plan funnels
    * the whole table through one task — a non-starter at 100 TB).
    *
    * Two-phase prefix sum: range-partition on the order key (so partition i
    * holds a contiguous key range and partition ids are ordered), compute
    * per-partition running sums, and add each partition's broadcast prefix
    * offset. The only single-partition step is the window over ONE ROW PER
    * PARTITION (a few thousand rows on any real cluster).
    *
    * Output: input columns + `cumsum` (inclusive prefix sum). Ties in
    * `orderCol` across partition boundaries are fine: range partitioning
    * puts equal keys in one partition. The range-partitioned input is
    * persisted (scanned by both phases); release with [[unpersistAll]].
    */
  def distributedCumsum(df: DataFrame, orderCol: String, valueCol: String,
      nPartitions: Int = 32): DataFrame = {
    // exact-long accumulation: fractional inputs would silently truncate
    // in the long cast below — refuse them (scale to integer units first,
    // e.g. cents or micro-tokens, like every exact sum in this engine)
    val vt = df.schema(valueCol).dataType
    require(Seq("byte", "short", "integer", "long").contains(vt.typeName),
      s"distributedCumsum needs an integral valueCol, got ${vt.simpleString}" +
        " — floor-scale to integer units first")
    val ranged = cached(df.repartitionByRange(nPartitions, col(orderCol))
      .withColumn("__pid", spark_partition_id()))
    val totals = ranged.groupBy("__pid")
      .agg(sum(col(valueCol).cast("long")).as("__psum"))
    val wPrefix = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("__offset", coalesce(sum("__psum").over(wPrefix), lit(0L)))
      .select("__pid", "__offset")
    val wIn = Window.partitionBy("__pid").orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(offsets), "__pid")
      .withColumn("cumsum",
        col("__offset") + sum(col(valueCol).cast("long")).over(wIn))
      .drop("__pid", "__offset")
  }

  /** Global `lag(orderCol, 1)` WITHOUT a single-partition window — the same
    * two-phase trick as [[distributedCumsum]]: range-partition on the order
    * key (partition ids follow key order), lag within each partition, and
    * patch each partition's FIRST row with the previous partitions' maximum
    * key (broadcast, one row per partition). The global first row keeps a
    * NULL lag, matching `lag` semantics. Equal keys land in one partition
    * under range partitioning, so boundary ties are safe.
    *
    * Output: input columns + `prev` (the preceding orderCol value). The
    * range-partitioned input is persisted (scanned by the totals pass and
    * the final join); release with [[unpersistAll]].
    */
  def distributedLag(df: DataFrame, orderCol: String,
      nPartitions: Int = 32): DataFrame = {
    val ranged = cached(df.repartitionByRange(nPartitions, col(orderCol))
      .withColumn("__pid", spark_partition_id()))
    val wPrefix = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    // max over ALL preceding partitions (not just pid-1): robust to empty
    // range partitions, still one row per partition through the window
    val prevMax = ranged.groupBy("__pid")
      .agg(max(col(orderCol)).as("__pmax"))
      .withColumn("__prevmax", max(col("__pmax")).over(wPrefix))
      .select("__pid", "__prevmax")
    val wIn = Window.partitionBy("__pid").orderBy(col(orderCol))
    ranged.join(broadcast(prevMax), "__pid")
      .withColumn("prev",
        coalesce(lag(col(orderCol), 1).over(wIn), col("__prevmax")))
      .drop("__pid", "__prevmax")
  }
}
