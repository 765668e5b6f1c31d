package graft

import org.apache.spark.sql.functions._

/** Null/empty/whitespace-text robustness for the text-operator inventory.
  *
  * Real corpora carry missing fields; the fixtures don't. This spec runs
  * every text-shaped query over a lake whose documents have NULL, empty,
  * and whitespace-only texts injected (doc_id % 17 ∈ {3, 5, 7}) and
  * requires completion. The Spark-vs-DuckDB agreement ON this fixture was
  * verified with the local oracle harness when the null semantics were
  * pinned (q61 zero-length entropy exclusion, q72/q79 null quality,
  * q30 'und' for null text) — this spec keeps the no-crash half pinned
  * where DuckDB isn't available.
  */
class NullTextSpec extends SparkSpec {

  private lazy val nullDir: String = {
    val dir = tempDir("graft_nulltext")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "embeddings").foreach { t =>
      spark.read.parquet(Tables.path(sf("sf0.001"), t))
        .write.mode("overwrite").parquet(Tables.path(dir, t))
    }
    spark.read.parquet(Tables.path(sf("sf0.001"), "documents"))
      .withColumn("text",
        when(col("doc_id") % 17 === 3, lit(null: String))
          .when(col("doc_id") % 17 === 5, lit(""))
          .when(col("doc_id") % 17 === 7, lit("   "))
          .otherwise(col("text")))
      .write.mode("overwrite").parquet(Tables.path(dir, "documents"))
    dir
  }

  private val names = Seq(
    "q23_dedup_exact", "q24_shingle_stats", "q28_text_quality",
    "q29_token_count", "q30_langid", "q51_hash_split",
    "q55_repetition_quality", "q61_char_entropy", "q70_bpe_merges",
    "q72_weighted_sample", "q73_lang_rebalance", "q74_bigram_entropy",
    "q76_passage_dedup", "q77_pack_chunks", "q78_mixture_weights",
    "q79_canonical_docs", "q81_bpe_encode", "q82_boilerplate_strip",
    "q83_epoch_shuffle", "q90_sql_graft_surface", "q91_pii_redact",
    "q92_count_min", "q93_hybrid_rrf", "q94_rag_chunks",
    "q95_nfc_normalize", "q96_textrank_keywords", "q97_curation_funnel",
    "q98_jsonl_source", "q99_csv_source",
    // r6-r8 text families
    "q47_winnow_fingerprints", "q75_decontaminate",
    "q75b_winnow_decontaminate", "q101_lm_perplexity",
    "q102_repeated_spans", "q102b_span_strip", "q102c_span_recall",
    "q102d_winnow_pairs", "q102e_copy_rings",
    "q104_nb_source_classifier")

  names.foreach { name =>
    test(s"$name completes over null/empty/whitespace texts") {
      val rows = SparkEntry.queries(name)(spark, nullDir).collect()
      assert(rows != null)
      graft.operators.Dedup.unpersistAll()
      graft.operators.Windowed.unpersistAll()
      graft.operators.Bpe.unpersistAll()
    }
  }
}
