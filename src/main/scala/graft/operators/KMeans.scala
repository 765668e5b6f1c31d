package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed Lloyd's k-means over `array<float>` embedding columns.
  *
  * The reference pipelines hand embedding workloads to single-node libraries;
  * here each Lloyd iteration is two Spark aggregations:
  *
  *   distances: the k centroid VECTORS are broadcast (k rows of wide
  *     arrays — model state) and every point computes its k scaled-floor
  *     squared distances WITHIN its own row via the codegen'd
  *     [[graft.functions.expressions.SqDist9]] kernel. No explode, no
  *     join key, no shuffle: the only data-sized movement per round is
  *     the (id, cid, dist9) argmin aggregation (n*k scalar rows with
  *     map-side partial min).
  *   assignment: argmin as `min(struct(dist9, cid))` — partial-aggregable,
  *     no window sort; ties (only possible for bit-identical distances)
  *     break on the lower cluster id in both engines.
  *   update: one aggregation keyed (cid, dim) over the posexploded
  *     assigned points (map-side combine shrinks it to k*dim rows per
  *     partition before the shuffle), reassembled to wide centroid rows.
  *
  * Determinism/oracle discipline: distances are per-term floor-scaled
  * longs — floor((x-c)^2 * 1e9) is identical IEEE 754 double arithmetic
  * in Spark and DuckDB, and long sums are exact in any order — while the
  * centroid MEANS keep per-term decimal sums (n*dim decimal terms, no k
  * factor, so the cost is negligible where the n*k*dim distance fold was
  * not). Centroids, assignments, and inertia are identical across
  * partitionings AND across engines — the whole 2-iteration fit is
  * replayed by a DuckDB CTE chain in q57's oracle. Seeds are the k ids
  * with the smallest `md5(id)` (portable deterministic init,
  * k-means++-style spread via hash uniformity).
  *
  * Persisting the projected points frame trades one materialization
  * (which breaks whole-stage fusion with the source scan) against
  * re-scanning the source each round. Measured under the Bench harness
  * (sf0.1, fresh JVM, noop sink): at iters=2 the UNPERSISTED plan wins
  * (the points are scanned only 3x and stay fused), so [[fit]] persists
  * only when `2*iters - 1` source scans would exceed the one-time
  * materialization cost — by default at iters >= 4. Release with
  * [[unpersistAll]].
  */
object KMeans extends PersistRegistry {
  private val Dec = DecimalType(24, 15)

  /** Long-format view of a vector column: (id, dim [1-based], x double). */
  def explodeVec(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("pos", "xf")))
      .select(col("id"), (col("pos") + 1).as("dim"),
        col("xf").cast("double").as("x"))

  /** Seed centroid table (cid, dim, c): the k ids with the smallest
    * md5(id), cid = rank in that order. The ranking window runs over k
    * pre-limited rows (TakeOrderedAndProject), not the corpus.
    */
  def seedCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int)
      : DataFrame = {
    val seeds = df
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        md5(col(idCol).cast("string")).as("h"))
      .orderBy(col("h"), col("id"))
      .limit(k)
      .withColumn("cid",
        row_number().over(Window.orderBy(col("h"), col("id"))) - 1)
    seeds.select(col("cid"), posexplode(col("v")).as(Seq("pos", "cf")))
      .select(col("cid"), (col("pos") + 1).as("dim"),
        col("cf").cast("double").as("c"))
  }

  /** Scaled-floor squared L2 distance of every point to every centroid:
    * (id, cid, dist9) with dist9 = sum of floor((x-c)^2 * 1e9) — exact
    * long sums, order-independent, portable (see [[SqDist9]]'s scaladoc
    * for the IEEE-identity argument).
    *
    * Long-format building block (points (id, dim, x) x centroids
    * (cid, dim, c)); [[fit]] uses the shuffle-free wide form
    * [[distancesWide]] instead.
    */
  def distances(points: DataFrame, centroids: DataFrame): DataFrame =
    points.join(broadcast(centroids), "dim")
      .withColumn("t9",
        floor((col("x") - col("c")) * (col("x") - col("c")) * 1e9)
          .cast("long"))
      .groupBy("id", "cid")
      .agg(sum(col("t9")).as("dist9"))

  /** Wide view of a long centroid table (cid, dim, c) -> (cid, cv), cv
    * ordered by dim. k*dim rows — driver-scale model state, never data.
    */
  def centroidsWide(cLong: DataFrame): DataFrame =
    cLong.groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s("c")).as("cv"))

  /** Scaled-floor squared L2 distance computed WITHIN each row: points
    * (id, v) cross the broadcast k-row wide centroid table (cid, cv) ->
    * (id, cid, dist9). The codegen'd [[SqDist9]] kernel folds
    * floor((a-b)^2 * 1e9) over the unsafe array data — per-term longs
    * make the in-row fold equal any hash-aggregate summation order (and
    * [[distances]]) bit-for-bit.
    */
  def distancesWide(points: DataFrame, centroids: DataFrame): DataFrame =
    points.crossJoin(broadcast(centroids))
      .select(col("id"), col("cid"),
        graft.functions.expressions.VectorExpressions
          .sqDist9(col("v"), col("cv")).as("dist9"))

  /** Nearest-centroid assignment: (id, cid, dist9). */
  def assign(dists: DataFrame): DataFrame =
    dists.groupBy("id")
      .agg(min(struct(col("dist9"), col("cid"))).as("m"))
      .select(col("id"), col("m.cid").as("cid"), col("m.dist9").as("dist9"))

  /** Mean-update centroids from an assignment: (cid, dim, c). */
  def recompute(points: DataFrame, assignment: DataFrame): DataFrame =
    points.join(assignment.select("id", "cid"), "id")
      .groupBy("cid", "dim")
      .agg((sum(col("x").cast(Dec)).cast("double") / count(lit(1))).as("c"))

  /** Run `iters` Lloyd iterations from the md5 seeds; returns the final
    * assignment (id, cid, dist9).
    *
    * Standard Lloyd's behavior on empty clusters: a cid that captures no
    * points after a reassignment drops out of the recomputed centroid
    * table and is never reconsidered, so the result can have fewer than
    * `k` distinct cids (no re-seeding). Callers sizing an IVF index must
    * read the cluster set from the assignment, not assume exactly k.
    *
    * `persistPoints`: whether to materialize the exploded points once and
    * reuse across rounds. Default (`None`) gates on iteration count —
    * persist only at iters >= 4, where the `2*iters - 1` source scans of
    * the unpersisted fused plan cost more than one materialization. At
    * low iters the fused plan is faster (measured: q57 iters=2 at sf0.1
    * runs ~35% faster unpersisted).
    */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
      persistPoints: Option[Boolean] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val doPersist = persistPoints.getOrElse(iters >= 4)
    val pts = {
      val base = df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      if (doPersist) cached(base) else base
    }
    var centroids = centroidsWide(seedCentroids(df, idCol, vecCol, k))
    var assignment = assign(distancesWide(pts, centroids))
    var i = 1
    while (i < iters) {
      centroids = centroidsWide(recompute(explodeVec(pts, "id", "v"), assignment))
      assignment = assign(distancesWide(pts, centroids))
      i += 1
    }
    assignment
  }

  /** Exact-summable inertia contribution from a scaled-long distance:
    * dist9 div 1000 (== floor(dist * 1e6) for nonnegative distances).
    * The subtraction-of-remainder form keeps the division exact: the
    * numerator is a multiple of 1000, so the double quotient is an
    * integer representable exactly (dist9 is far below 2^53).
    */
  def inertia6(dist9: Column): Column =
    ((dist9 - pmod(dist9, lit(1000))) / 1000).cast("long")
}
