package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Production (one-pass) form of the end-to-end curation funnel.
  *
  * The graded q97 query reports its five stage counts as five separate
  * aggregate actions over persisted stage frames — the shape the oracle
  * replays, but at 100 TB five actions mean five passes over the cached
  * corpus (or five recomputes on cache eviction). This operator computes
  * the SAME five counts with conditional aggregation over per-document
  * stage flags: every stage predicate becomes a boolean column on one
  * flags frame, and a single `agg` emits all five counts in one job.
  *
  * The only extra jobs are the inherently iterative ones the staged form
  * pays too: the duplicate-pair materialization inside
  * [[Dedup.connectedComponents]] (label propagation must run before the
  * `dup` flag exists). Everything else — raw count, quality gate, exact
  * winner, near-dup survivor, train split — folds into the final
  * aggregation.
  *
  * Stage semantics are IDENTICAL to q97 (same quality threshold, same
  * normalized-md5 fingerprint with min-doc_id winner, same shingle
  * Jaccard -> connected-components canonicalization, same hash split), so
  * q97's oracle SQL grades this operator row-for-row.
  */
object CurationFunnel extends PersistRegistry {

  /** Five (stage, n_docs) rows from one conditional aggregation.
    *
    * @param exhaustivePairs true = exhaustive Jaccard (the oracle-replayable
    *   configuration, quadratic per shared shingle); false = MinHash-LSH
    *   candidates + exact verify (the 100 TB configuration, graded
    *   equivalent at this threshold by q89).
    */
  def metrics(docs: DataFrame, qualityMin: Double = 0.5, shingleK: Int = 3,
      minJaccard: Double = 0.2, trainFrac: Double = 0.8,
      exhaustivePairs: Boolean = true): DataFrame = {
    // Per-document stage flags, persisted ONCE: the components path below
    // and the final aggregation both consume it. Monotone flags: each
    // stage's predicate conjoins the previous one's.
    // `keyed` itself is ALSO persisted (r15, guide §1.2): it feeds both
    // the winners aggregation and the join's left side — unpersisted,
    // the quality score (the funnel's dominant per-row expression) and
    // the normalization md5 ran twice over the corpus.
    val keyed = cached(docs.select(col("doc_id"), col("text"),
        (TextOps.qualityScore(col("text"),
          graft.functions.SqlFunctions.DefaultStopwords) >= qualityMin).as("q"))
      .withColumn("k", when(col("q"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))))
    // winner per fingerprint among quality docs (scale-safe groupBy, no
    // per-group window); left join back marks the survivor
    val winners = keyed.filter(col("q"))
      .groupBy("k").agg(min(col("doc_id")).as("w_id"))
    val flagged = cached(keyed.join(winners, Seq("k"), "left")
      .withColumn("exact", col("q") && col("doc_id") === col("w_id"))
      .select("doc_id", "text", "q", "exact"))

    val exact = flagged.filter(col("exact")).select("doc_id", "text")
    val pairs =
      if (exhaustivePairs)
        Dedup.jaccardPairsExhaustive(exact, "doc_id", "text",
          k = shingleK, minJaccard = minJaccard, maxDf = 1000000)
          .select("id_a", "id_b")
      else
        Dedup.jaccardPairs(exact, "doc_id", "text",
          k = shingleK, minJaccard = minJaccard)
          .select("id_a", "id_b")
    val nonCanonical = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"), lit(true).as("dup"))

    // ONE action: every stage count as a conditional sum over the flags,
    // then a map-side unpivot to the funnel's (stage, n_docs) shape.
    val counts = flagged
      .join(nonCanonical, Seq("doc_id"), "left")
      .withColumn("kept", col("exact") && col("dup").isNull)
      .withColumn("train", col("kept") && Sampling.splitColumn(col("doc_id"),
        Seq("train" -> trainFrac, "val" -> ((1.0 - trainFrac) / 2),
          "test" -> ((1.0 - trainFrac) / 2))) === "train")
      .agg(count(lit(1)).as("n1"),
        // coalesce: sum over an empty lake is NULL, the funnel reports 0
        coalesce(sum(when(col("q"), 1L).otherwise(0L)), lit(0L)).as("n2"),
        coalesce(sum(when(col("exact"), 1L).otherwise(0L)), lit(0L)).as("n3"),
        coalesce(sum(when(col("kept"), 1L).otherwise(0L)), lit(0L)).as("n4"),
        coalesce(sum(when(col("train"), 1L).otherwise(0L)), lit(0L)).as("n5"))
    counts.select(explode(array(
        struct(lit("1_raw").as("stage"), col("n1").as("n_docs")),
        struct(lit("2_quality").as("stage"), col("n2").as("n_docs")),
        struct(lit("3_exact_dedup").as("stage"), col("n3").as("n_docs")),
        struct(lit("4_near_dedup").as("stage"), col("n4").as("n_docs")),
        struct(lit("5_train_split").as("stage"), col("n5").as("n_docs"))))
        .as("s"))
      .select(col("s.stage").as("stage"), col("s.n_docs").as("n_docs"))
      .orderBy("stage")
  }
}
