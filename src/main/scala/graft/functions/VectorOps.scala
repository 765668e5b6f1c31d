package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` / `array<double>` embedding columns.
  *
  * All helpers are built from `zip_with` / `aggregate` higher-order functions:
  * they run inside Catalyst (no Scala UDF serialization), accumulate
  * left-to-right in index order (deterministic, oracle-hash-friendly), and
  * compute in double precision regardless of the storage element type.
  *
  * Scale notes: these are per-row scalar computations — they parallelize
  * embarrassingly and never shuffle. For 100 TB ANN workloads the shuffle
  * cost lives in the join strategy (see [[graft.operators.Similarity]]), not
  * here.
  */
object VectorOps {
  private def d(c: Column): Column = transform(c, x => x.cast("double"))

  /** Left-to-right double-precision dot product. Backed by the native
    * codegen'd [[graft.functions.expressions.DotProduct]] expression — a
    * fused multiply-add loop with zero per-pair allocation; semantics
    * (accumulation order, empty -> 0.0, length mismatch / null element ->
    * NULL) are identical to the previous `aggregate(zip_with(...))` form.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExpressions.dotProduct(a, b)

  /** Euclidean (L2) norm (sum-of-squares via the native dot product —
    * same left-to-right double accumulation as the HOF form).
    */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity = dot(a,b) / (||a|| * ||b||). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Deterministic pseudo-random hyperplane for random-hyperplane LSH:
    * value for (seed, dim i) = (md5_48("seed:i") mod 1e6)/1e6 - 0.5, i.e.
    * uniform in [-0.5, 0.5). Computed DRIVER-SIDE and embedded as an array
    * literal: the r1 formulation derived plane values with per-element
    * hash expressions INSIDE the row pipeline, recomputing nBits x nTables
    * x dim hashes per row (4096/row for 8x8 tables over 64 dims). The md5
    * derivation is reproducible in portable SQL, so LSH bucketing is
    * DuckDB-oracle-checkable.
    */
  def hyperplaneVals(seed: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$i".getBytes("UTF-8"))
      val h = (0 until 6).foldLeft(0L)((acc, j) => (acc << 8) | (md(j) & 0xffL))
      (h % 1000000L).toDouble / 1e6 - 0.5
    }

  /** Sign bit of the projection onto the (seed) hyperplane. */
  def hyperplaneSignBit(vec: Column, seed: Int, dim: Int): Column = {
    val plane = hyperplaneVals(seed, dim)
    val proj = aggregate(
      zip_with(d(vec), array(plane.map(lit(_)).toIndexedSeq: _*), (x, p) => x * p),
      lit(0.0), (acc, x) => acc + x)
    when(proj >= 0.0, lit(1)).otherwise(lit(0))
  }

  /** Pack `nBits` hyperplane sign bits into a long bucket id for LSH
    * (plane b uses seed `seedBase + b`).
    */
  def hyperplaneBucket(vec: Column, nBits: Int, seedBase: Int, dim: Int): Column =
    (0 until nBits).map { b =>
      hyperplaneSignBit(vec, seedBase + b, dim).cast("long") * (1L << b)
    }.reduce(_ + _)

  /** Element count of the vector column (schema carries no static length
    * for array columns), computed as the MAX length over the table — a
    * deterministic one-column aggregation, where a head(1) probe would
    * depend on partition scan order. 0 for an empty input. Callers that
    * derive fixed-dim hash planes from this (LSH, random projection) DROP
    * rows of any other length: a dot against a mismatched-length plane is
    * NULL, so mixed-dimension corpora (e.g. two encoder versions) must be
    * partitioned by dimension before hashing — they are not comparable in
    * one hash space anyway.
    */
  def dimOf(df: org.apache.spark.sql.DataFrame, vecCol: String): Int =
    df.agg(max(size(col(vecCol)))).head(1).headOption
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
      .getOrElse(0)

  /** Symmetric per-vector int8 quantization: scale = max|x|/127,
    * q_i = round(x_i / scale). 4x the storage/bandwidth of float32 at ~1%
    * cosine error for unit-ish embeddings — the standard serving-storage
    * trade. Returns struct(scale double, q array<int>). The scale is bound
    * with letCol: it is a captured expression inside the per-element
    * lambda, exactly the O(n^2) re-evaluation trap TextOps.letCol exists
    * for.
    */
  def quantizeInt8(vec: Column): Column =
    graft.functions.TextOps.letCol(
      array_max(transform(d(vec), x => abs(x))) / 127.0) { scale =>
      // all-zero vector: scale = 0 would make x/scale NaN; quantize to
      // zeros explicitly (dequantize then reproduces the zero vector)
      struct(scale.as("scale"),
        when(scale === 0.0, transform(d(vec), _ => lit(0)))
          .otherwise(
            transform(d(vec), x => round(x / scale, 0).cast("int"))).as("q"))
    }

  /** Dequantize the struct produced by [[quantizeInt8]]. */
  def dequantizeInt8(qs: Column): Column =
    graft.functions.TextOps.letCol(qs.getField("scale")) { scale =>
      transform(qs.getField("q"), v => v.cast("double") * scale)
    }
}
