package graft

import org.apache.spark.sql.functions._

/** Empty-input robustness: a real pipeline constantly sees empty inputs
  * (an empty date partition, a filter that matches nothing, a fresh
  * corpus), and this is exactly the class of failure the DuckDB oracle
  * can't catch — both engines only ever ran the populated fixtures.
  * Every query here must return an EMPTY (or total-row-only) result
  * without throwing, never NaN/divide-by-zero surprises or a driver-side
  * head() on a missing row.
  */
class EmptyInputSpec extends SparkSpec {

  // an empty mirror of the fixture lake: same schemas, zero rows
  private lazy val emptyDir: String = {
    val dir = tempDir("graft_empty")
    // events is TIMESTAMP(NANOS); read it as raw longs like Tables.load does
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      // keep events' raw nanos column: limit(0) BEFORE Tables.load's
      // timestamp conversion so the empty lake has the on-disk schema
      spark.read.parquet(Tables.path(sf("sf0.001"), t)).limit(0)
        .write.mode("overwrite").parquet(Tables.path(dir, t))
    }
    dir
  }

  // every relational/LLM inventory query; streaming (file-stream wait
  // semantics) and seamf/media (archive fixtures, not the parquet lake)
  // are exercised elsewhere
  private val names = SparkEntry.queries.keys.toSeq.sorted
    .filter(n => n.startsWith("q") || n.startsWith("m"))

  names.foreach { name =>
    test(s"$name completes on empty inputs") {
      val rows = SparkEntry.queries(name)(spark, emptyDir).collect()
      name match {
        // BPE fit reports its round-0 base state even for an empty corpus
        // (pair "<base>", zero totals) — a sensible "fitted on nothing"
        // summary rather than a crash or a silent empty
        case "q70_bpe_merges" =>
          assert(rows.map(r => (r.getInt(0), r.getString(1), r.getLong(3)))
            .toSeq === Seq((0, "<base>", 0L)))
        // global aggregates (no GROUP BY) emit one all-zero row on empty
        // input in BOTH engines — that row IS the correct answer
        case "q11_distinct" | "q12_setops" =>
          assert(rows.length === 1 &&
            rows.head.toSeq.forall(v => v == 0L || v == 0 || v == null))
        // the recall grader reports its two approx-vs-exact families with
        // zero pair counts and NULL recall (0/0 is undefined, not 1.0)
        case "q45_dedup_recall" =>
          assert(rows.length === 2 && rows.forall(r =>
            r.getLong(1) == 0L && r.isNullAt(3)))
        // profiling/checks report per-column / per-check rows with zero
        // counts on an empty table (matching the oracle's UNION ALL of
        // global aggregates) — an empty lake "passes" every check
        case "q84_data_profile" =>
          assert(rows.length === 5 && rows.forall(r => r.getLong(1) == 0L))
        case "q85_quality_checks" =>
          assert(rows.length === 5 &&
            rows.forall(r => r.getLong(1) == 0L && r.getBoolean(2)))
        // the funnel reports all five stages with zero survivors — the
        // stage list IS the result shape, like the profile queries above
        case "q97_curation_funnel" | "q97b_funnel_onepass" =>
          assert(rows.length === 5 && rows.forall(_.getLong(1) == 0L))
        // the PSI monitor's bin spine exists independent of data: ten
        // zero-count bins with add-one-smoothed p == q -> psi9 == 0,
        // exactly what the oracle's literal range(0,10) emits
        case "q105_drift_psi" =>
          assert(rows.length === 10 && rows.forall(r =>
            r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L))
        // both batching strategies report zero batches and NULL token
        // totals (SUM over nothing) — same rows as the oracle's UNION
        case "q106_length_bucketing" =>
          assert(rows.length === 2 && rows.forall(r =>
            r.getLong(1) == 0L && r.isNullAt(2)))
        // the categorical PSI spine always contains the reserved __other
        // bucket (the oracle's UNION ALL literal) — one all-zero row with
        // smoothed p == q -> psi9 == 0 is the correct empty answer
        case "q107_drift_psi_categorical" =>
          assert(rows.length === 1 && rows.head.getString(0) == "__other" &&
            (1 to 3).forall(i => rows.head.getLong(i) == 0L))
        // the gate-recall grader reports zero removals on both paths and
        // the sentinel recall9 = -1 (0/0 is undefined) — one row, matching
        // the oracle's scalar-subquery shape
        case "q103d_semdedup_gate_recall" =>
          assert(rows.length === 1 &&
            (0 to 2).forall(i => rows.head.getLong(i) == 0L) &&
            rows.head.getLong(3) == -1L)
        // the span-recall grader likewise: zero spans/chars on both the
        // truth and production paths, sentinel recall9 = -1
        case "q102c_span_recall" =>
          assert(rows.length === 1 &&
            (0 to 4).forall(i => rows.head.getLong(i) == 0L) &&
            rows.head.getLong(5) == -1L)
        // the GD trajectory exists independent of data: one row per
        // iteration with NULL weights (gradient SUM over nothing stays
        // NULL through the quantized update) and zero correct — exactly
        // the oracle's CTE chain over an empty embeddings table
        case "q108_logreg_classifier" | "q108c_logreg_standardized" =>
          assert(rows.length === 3 && rows.forall(r =>
            (1 to 9).forall(r.isNullAt) && r.getLong(10) == 0L))
        // KS on nothing: zero rows per side, undefined-statistic sentinel
        case "q109_drift_ks" =>
          assert(rows.length === 1 &&
            rows.head.getLong(0) == 0L && rows.head.getLong(1) == 0L &&
            rows.head.getLong(2) == -1L)
        // the hard-negative gate grader on nothing: one labeled row with
        // zero exact/found pairs and NULL recall (the oracle's
        // CASE WHEN n_exact = 0 THEN NULL — 0/0 is undefined)
        case "q113b_hard_negative_recall" =>
          assert(rows.length === 1 &&
            rows.head.getString(0) == "lsh_band_topk" &&
            rows.head.getLong(1) == 0L && rows.head.getLong(2) == 0L &&
            rows.head.isNullAt(3))
        // the rule-bundle audit on nothing: one all-zero aggregate row
        // (every COUNT over nothing) — zero docs fail, zero docs pass
        case "q115_gopher_rules" =>
          assert(rows.length === 1 &&
            (0 to 6).forall(i => rows.head.getLong(i) == 0L))
        // the AUC grader on nothing: zero positives/negatives and the
        // undefined-AUC sentinel, matching the oracle's COALESCEd sums
        case "q108b_logreg_auc" =>
          assert(rows.length === 1 &&
            (0 to 2).forall(i => rows.head.getLong(i) == 0L) &&
            rows.head.getLong(3) == -1L)
        // the composed D4 gate grader on nothing: zero kept on both
        // paths, undefined-recall sentinel (the q103d shape)
        case "q122c_d4_gate_recall" =>
          assert(rows.length === 1 &&
            (0 to 2).forall(i => rows.head.getLong(i) == 0L) &&
            rows.head.getLong(3) == -1L)
        // the power-iteration trajectory exists independent of data (the
        // q108 GD-trajectory shape): 3 iters x 64 dims with NULL
        // components — the decimal sums over nothing stay NULL through
        // norm and quantization in both engines
        case "q128_pca_power_iteration" =>
          assert(rows.length === 192 && rows.forall(_.isNullAt(2)))
        // the two-component trajectory likewise: 2 x 3 x 64 NULL rows
        case "q129_pca_second_component" =>
          assert(rows.length === 384 && rows.forall(_.isNullAt(3)))
        // the axes artifact round-trips its 3 x 64 shape with NULL axis
        // cells (every Gram sum is NULL on nothing) and its
        // self-description intact
        case "q131_pca_axes_artifact" =>
          assert(rows.length === 192 && rows.forall(r =>
            r.isNullAt(2) && r.getInt(3) == 64 && r.getLong(6) == 1L))
        // the rebuild grade emits the same 3 x 64 NULL-axis shape, one
        // version up (v2 full refit over nothing is still nothing)
        case "q131b_axes_rebuild" =>
          assert(rows.length === 192 && rows.forall(r =>
            r.isNullAt(2) && r.getInt(3) == 64 && r.getLong(6) == 2L))
        // the full-radius recall grader on nothing: zero truth, zero
        // found, sentinel recall9 = -1 (0/0 undefined, the q103d shape)
        case "q126c_edit_distance_recall" =>
          assert(rows.length === 1 && rows.head.getLong(0) == 0L &&
            rows.head.getLong(1) == 0L && rows.head.getLong(2) == -1L)
        // the URL-cap audit on nothing: one all-zero funnel row (every
        // count/checksum COALESCEs to 0 in both engines)
        case "q123_url_domain_cap" =>
          assert(rows.length === 1 &&
            (0 to 7).forall(i => rows.head.getLong(i) == 0L))
        case _ => assert(rows.isEmpty, s"$name: ${rows.take(3).toSeq}")
      }
      graft.operators.PersistRegistry.releaseAll()
    }
  }
}
