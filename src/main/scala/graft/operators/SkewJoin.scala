package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys.
  *
  * AQE's skew-join handling (on by Spark's default) is the first line of
  * defense and needs no code; this helper is the explicit fallback for
  * pathologies AQE can't split (e.g. one key that is 50% of the build side,
  * or aggregation-before-join pipelines). Mechanism: the large
  * side gets a deterministic salt in [0, nSalts) derived by hashing its
  * non-key columns; the small(er) side is exploded nSalts times; the join
  * key becomes (key, salt), splitting each hot key's rows across nSalts
  * reducers.
  *
  * Cost: small side inflated nSalts x — choose nSalts ~ (hot-key rows /
  * average-partition rows), typically 8-64.
  */
object SkewJoin {

  private val supportedJoinTypes =
    Set("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi",
      "left_anti", "leftanti")

  def saltedEquiJoin(large: DataFrame, small: DataFrame, keys: Seq[String],
      nSalts: Int, joinType: String = "inner"): DataFrame = {
    // right/full outer would emit each unmatched small-side row once PER
    // SALT (the explode below) — null-extended duplicates. Large-side-
    // preserving types are safe: the large side carries exactly one salt.
    require(supportedJoinTypes.contains(joinType.toLowerCase),
      s"saltedEquiJoin supports inner/left/left_semi/left_anti, not $joinType" +
        " (the exploded small side would duplicate unmatched rows)")
    val saltSrc = large.columns.filterNot(keys.contains).map(col)
    val salted = large.withColumn("__salt",
      pmod(xxhash64(struct(saltSrc.toIndexedSeq: _*)), lit(nSalts.toLong)).cast("int"))
    val exploded = small.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    salted.join(exploded, keys :+ "__salt", joinType).drop("__salt")
  }
}
