package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve harness (VERDICT r5 next-round #1): measures the headline
  * operator families at sf0.1 and at a derived 10x corpus ("sf1.0"), so the
  * 100 TB plan-shape arguments become measured slopes. Prints one JSON line
  * per query: {"query":..., "sf01_sec":..., "sf10_sec":..., "ratio":...};
  * results land in SCALE.md.
  *
  * The 10x corpus is DERIVED, not regenerated (the driver owns testdata):
  * 10 copies of sf0.1's documents with a per-copy BIJECTIVE word rename
  * (every word w of copy i becomes "w_i") and offset doc_ids. A bijective
  * token rename preserves every within-copy shingle-set relation EXACTLY
  * (Jaccard, MinHash collision structure, winnowing, vocabulary Zipf shape
  * per copy) while making distinct copies pairwise disjoint in shingle
  * space — so dup-pair counts, component sizes, and cluster diameters scale
  * by exactly 10x. Naive duplication would instead create a 10-clique of
  * near-dups per document and measure a DIFFERENT (quadratic) workload.
  * Embeddings get the cosine analog of the bijective rename: a per-copy
  * SIGNED CYCLIC PERMUTATION of the dimensions (an orthogonal transform
  * — every within-copy dot product, norm, and cosine is preserved
  * EXACTLY, so cluster structure and near-dup relations replicate
  * per-copy) while cross-copy cosines decorrelate. The r6 construction
  * perturbed copies by a scalar multiple, which cosine ignores — every
  * copy was an exact cosine-duplicate of its original, so the x100 point
  * handed cosine operators a pathological 100-clique workload (~10M
  * true pairs) instead of a 100x corpus.
  *
  * Timing: same session shape as Bench (local[32], shuffle partitions =
  * cores, AQE on); sf0.1 runs median-of-3, the 10x point runs once (the
  * runs are long enough that cold-start variance is secondary, and the
  * slope question only needs ~1.2x resolution).
  */
object ScaleBench {

  val HeadlineQueries: Seq[String] = Seq(
    "q26_minhash_lsh",      // MinHash+LSH banding
    "q52_dup_clusters",     // connected components (exhaustive pairs)
    "q89_dup_clusters_lsh", // components, LSH scale path + truth path
    "q57_kmeans",           // k-means / IVF quantizer
    "q77_pack_chunks",      // sequence packing (distributed prefix sum)
    "q92_count_min",        // Count-Min sketch build + estimate
    "q97_curation_funnel",  // staged funnel (oracle shape)
    "q97b_funnel_onepass",  // one-pass funnel (production shape)
    "q101_lm_perplexity",   // bigram-LM perplexity filter (r6)
    "q102_repeated_spans",  // k-gram repeated-span dedup (r6)
    "q103_semdedup",        // SemDeDup clusters + within-cluster cosine (r6)
    "q103b_semdedup_survivors", // SemDeDup derived-k production form (r7)
    "q104_nb_source_classifier", // Naive Bayes train + confusion (r7 point)
    "q105_drift_psi",       // PSI drift monitor (r7 point)
    "q106_length_bucketing", // length-bucketed batching (r7 point)
    "q102b_span_strip",     // span strip/reassembly (r8 point)
    "q107_drift_psi_categorical", // categorical PSI (r8 point)
    "q102d_winnow_pairs",   // winnowing fingerprint pairs (r8)
    "q108_logreg_classifier", // GD logistic regression (r8)
    "q108b_logreg_auc",     // train + exact AUC prefix-sum grade (r9)
    "q108d_logreg_pr_curve", // train + exact PR threshold sweep (r9)
    "q111_dsir_weights",    // DSIR hashed-bigram importance fit+score (r9)
    "q112_unimax_alloc",    // UniMax water-filling over per-source frame (r9)
    "q114_kcenter_coreset", // k-center greedy, k map-side passes (r9)
    "q116_rho_learnability", // two-model excess-error selection (r9)
    "q117_tracin_influence", // gradient-dot influence scores (r9)
    "q118_forgetting_events", // per-iteration forgetting histogram (r9)
    "q119_dataset_cartography", // confidence/variability over the trajectory (r9)
    "q120_doremi_weights",  // excess-loss softmax domain mixture (r9)
    "q121_prototype_pruning", // within-cluster hardness keep-cut (r9)
    "q122_d4_pipeline",     // SemDeDup + prototype pruning, one fit (r9)
    "q122b_d4_production",  // two-fit D4, derived-k/gated (r10)
    "q123_url_domain_cap",  // URL canonicalization + domain caps (r10)
    "q125_dedup_index_merge", // incremental winnow-index merge (r11)
    "q126_edit_distance_dedup", // thresholded-Levenshtein fuzzy dedup (r11)
    "q126b_edit_distance_indel", // PassJoin indel-proof anchors (r11)
    "q127_corpus_overlap_sketch", // bottom-k KMV corpus-overlap matrix (r11)
    "q127b_overlap_sketch_artifact", // persisted sketch + exact merge (r11)
    "q128_pca_power_iteration", // quantized power iteration (r11)
    "q128b_spectral_outliers", // residual-energy outlier top-k (r11)
    "q129_pca_second_component", // deflated power iteration (r11)
    "q131_pca_axes_artifact", // k-component axes artifact roundtrip (r12)
    /* q126c is deliberately NOT measured at any decade: its truth
     * denominator is the exhaustive thresholded-DP pair set — a
     * quadratic GRADING shape (the q113b/q122c precedent); the
     * candidate path it grades is q126b/q126, both measured. */
    "q130_cluster_artifact_merge", // persisted clusters + delta merge (r12;
                             // decades 1-2 only — it composes q52's
                             // exhaustive oracle-baseline pair shape; the
                             // production merge is timed separately as
                             // cluster_merge_delta in the x100 block)
    "m06_image_phash_dedup", // perceptual-hash image dedup (r10)
    "m06b_image_phash_massdup", // cap-tripping mass-dup regime (r11)
    "m08_audio_fp_dedup",   // audio fingerprint near-dup (r11)
    "m09_video_phash_dedup", // per-frame video near-dup (r11; decades
                             // 1-2 — m06's mod-256 x100 caveat applies
                             // to the gif formula identically
    "m11_media_index_merge", // persisted media band-Bloom artifact (r12;
                             // decades 1-2 — the probe itself is the
                             // phash_intake_batch x100 row; m06's mod-256
                             // clique caveat applies to the decode here)
    "m10_crossmodal_caption_audit") // image-dup x caption Jaccard (r11;
                             // decades 1-2 — composes m06's pair rule,
                             // so the mod-256 x100 caveat applies

  /** Third-decade subset (the "x100" mode): production-shape families only
    * — the exhaustive-pairs grading configurations (q52, q97) are
    * deliberately oracle-replayable shapes whose scale paths are measured
    * separately (q89's LSH half, q97b), so burning minutes on their
    * quadratic-candidate decade adds no information.
    */
  /* q103 (fixed k=8) is deliberately NOT here: SemDeDup's scale contract
   * is that k GROWS with the corpus (n/k stays ~constant); the inventory
   * query's fixed k at the third decade would time a misconfigured
   * quadratic workload, the same reason the exhaustive-pairs shapes are
   * excluded. q103b IS here — it derives k = ceil(n/50), so it times the
   * configuration the contract actually prescribes at every decade. */
  val ThirdDecadeQueries: Seq[String] = Seq(
    "q26_minhash_lsh", "q57_kmeans", "q77_pack_chunks",
    "q92_count_min", "q97b_funnel_onepass",
    "q101_lm_perplexity", "q102_repeated_spans",
    "q103b_semdedup_survivors",
    // r8 points (VERDICT r7 #5): families previously measured to
    // decade 2 only — all flat-to-linear by construction
    "q104_nb_source_classifier", "q105_drift_psi",
    "q106_length_bucketing", "q102b_span_strip",
    "q107_drift_psi_categorical", "q102d_winnow_pairs",
    // iters x one-pass decimal-gradient aggregations: linear by
    // construction, now measured (the r7 #5 standard)
    "q108_logreg_classifier",
    // r9 points: the packed-prefix-sum evaluation grades — linear in
    // DISTINCT scores by construction, and the decimal auc9 widening
    // means the same code path runs at every decade
    "q108b_logreg_auc", "q108d_logreg_pr_curve",
    // linear in bigram occurrences by construction (two corpus passes +
    // a 256-row broadcast). The inventory form keeps spread=true (the
    // sf0.1 fixture is a single parquet split), so the measured slope
    // ALSO carries three compact-doc repartitions — a conservative upper
    // bound on the operator's own scaling; full-scale callers pass
    // spread=false per the Dsir scaladoc
    "q111_dsir_weights",
    // r9 points: UniMax is a linear token count feeding a per-source
    // bounded frame; k-center is k map-side passes + k one-row
    // TakeOrdereds (q113b is NOT here — its exact denominator is a
    // deliberate quadratic grading shape; the gated production path is
    // timed separately as hard_negatives_lsh below)
    "q112_unimax_alloc", "q114_kcenter_coreset",
    // r9 points: the influence/selection grades are all iters x one-pass
    // decimal aggregations (one-row broadcast models) + a map-side score
    // — the q108 signature, linear by construction, now measured
    "q116_rho_learnability", "q117_tracin_influence",
    "q118_forgetting_events", "q119_dataset_cartography",
    "q120_doremi_weights",
    /* q121 shares q57's fit; the window/cut adds one per-cluster pass.
     * NOTE the fixed k=8 caveat from q103 applies at the third decade —
     * the measured point times the inventory configuration, k growing
     * with the corpus is the production contract */
    /* q121 is here, q122 is NOT: q122 composes q103's within-cluster
     * dedup (fixed k=8 at the inventory point), and the q103 third-decade
     * exclusion applies identically — a fixed-k quadratic on 500k rows
     * would time a misconfigured workload, not the operator. q122b IS
     * here (VERDICT r9 #1): the D4 production composition derives k, so
     * at the third decade (200k embeddings, k = 4000 > maxExactK) BOTH
     * stages cross the gate automatically — the measured point is the
     * hyperplane-cell pipeline, linear by construction. q122c (the
     * recall GRADE) is excluded from ScaleBench entirely: it pins the
     * oracle's 8-bit plane grid, which the bit-depth derivation
     * deliberately outgrows past 12,800 embeddings (the pin exists to
     * fail loudly exactly there).
     * m06 is in HeadlineQueries (decades 1-2) but NOT here: media derive
     * from doc_id, and the scaled corpus preserves doc_id mod 256 (1e8
     * mod 256 = 0), so the third decade turns the 64 distinct fixture
     * images into ~2000-member cliques — a banding pathology the
     * df-capped bucket discipline (Dedup.capBuckets) handles in
     * production but which would time a fixture artifact here, the q52
     * argument again. m06b IS here (r11): giant hash-equal cliques are
     * its DESIGN POINT — the cap drops their band buckets and the
     * exact-hash clique stars collapse them with one aggregation, so the
     * third decade times the production mass-dup path (~780-member
     * cliques), not a pathology. m08 stays at decades 1-2: the scaled
     * id span aliases the WAV phase constant (id+1)*M mod 2^16, which
     * manufactures fixture-artifact near-clique structure unrelated to
     * the operator (the m06 mod-256 argument on the time axis); its
     * scale path is the same capped banding m06b times. */
    "q121_prototype_pruning",
    "q122b_d4_production", "q123_url_domain_cap",
    // r11 points: q126's anchors are per-copy disjoint under the bijective
    // rename (renamed words change every chunk), so candidates scale
    // linearly and the df-cap bounds any Zipf-heavy anchor bucket; q127 is
    // one KMV pass per corpus (reject-fast after saturation) + a 190-row
    // broadcast loop — linear in shingle occurrences by construction
    "q126_edit_distance_dedup", "q126b_edit_distance_indel",
    "q127_corpus_overlap_sketch", "q127b_overlap_sketch_artifact",
    // iters x one-pass decimal aggregations with a one-row collect per
    // round — the q108 signature, linear by construction; q128b adds one
    // map-side score scan + a global TakeOrdered(20)
    "q128_pca_power_iteration", "q128b_spectral_outliers",
    "q129_pca_second_component",
    // r12: 3 deflated chains x 3 iters = 9 one-pass decimal aggregations
    // + a parquet roundtrip of 192 rows — the q128 signature
    "q131_pca_axes_artifact",
    "m06b_image_phash_massdup")

  /** Build the derived 10x dir once (idempotent marker). */
  def buildScaled(spark: SparkSession, srcDir: String, outDir: String,
      copies: Int = 10): Unit = {
    val root = java.nio.file.Paths.get(outDir)
    // v2: r7 replaced the scalar embedding perturbation (a cosine no-op)
    // with the signed-permutation isometry — stale v1 corpora must rebuild
    val marker = root.resolve(".complete_v2")
    if (java.nio.file.Files.exists(marker)) return
    java.nio.file.Files.createDirectories(root)

    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val idSpan = 100000000L
    val scaledDocs = (0 until copies).map { i =>
      val renamed = array_join(
        transform(filter(split(col("text"), "\\s+"), w => length(w) > 0),
          w => concat(w, lit(s"_$i"))), " ")
      docs.select(
        (col("doc_id") + lit(i * idSpan)).as("doc_id"),
        when(col("text").isNull, lit(null: String))
          .otherwise(renamed).as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars",
          coalesce(length(col("text")).cast("long"), lit(0L)))
    }.reduce(_ unionByName _)
    scaledDocs.repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val dim = graft.functions.VectorOps.dimOf(emb, "embedding")
    val scaledEmb = (0 until copies).map { i =>
      // signed cyclic permutation per copy: out[j] = s(i,j) * in[(j+i)%d]
      // with s a deterministic ±1 — orthogonal, so within-copy geometry
      // is bit-preserved; distinct copies land in decorrelated directions
      val shift = i % math.max(dim, 1)
      emb.select(
        (col("vec_id") + lit(i * idSpan)).as("vec_id"),
        transform(col("embedding"), (_, j) =>
          when(pmod(xxhash64(lit(i), j), lit(2)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f)) *
          element_at(col("embedding"),
            pmod(j + lit(shift), lit(dim)).cast("int") + 1))
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    scaledEmb.repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // remaining tables: copy sf0.1's files verbatim (none of the headline
    // queries read them, but main() accepts arbitrary query names, so a
    // table that ships as a parquet DIRECTORY must copy recursively — a
    // bare Files.copy would create an empty dir and silently aggregate
    // nothing)
    def copyRecursive(src: java.nio.file.Path,
        dst: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(src)) {
        java.nio.file.Files.createDirectories(dst)
        val s = java.nio.file.Files.list(src)
        try s.forEach(p => copyRecursive(p, dst.resolve(p.getFileName)))
        finally s.close()
      } else java.nio.file.Files.copy(src, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    for (t <- Tables.names if t != "documents" && t != "embeddings") {
      val src = java.nio.file.Paths.get(Tables.path(srcDir, t))
      val dst = java.nio.file.Paths.get(Tables.path(outDir, t))
      if (java.nio.file.Files.exists(src) && !java.nio.file.Files.exists(dst))
        copyRecursive(src, dst)
    }
    java.nio.file.Files.write(marker, Array.emptyByteArray)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf1.0")
    val hugeDir = sys.env.getOrElse("SPARK_GRAFT_SCALE100_DIR", "/tmp/graft_sf10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    buildScaled(spark, srcDir, bigDir)

    def releaseCaches(): Unit = {
      graft.operators.PersistRegistry.releaseAll()
      spark.catalog.clearCache()
    }
    def runOnce(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[scale] $name @ $dir failed: ${e.getMessage}")
          -1.0
      } finally releaseCaches()
    }

    runOnce(HeadlineQueries.head, srcDir) // codegen warm-up (not reported)
    // args restrict the run: query names, plus the literal "archive" to
    // include the archive-family metrics (no args = everything)
    val wanted =
      if (args.nonEmpty) args.toSeq.filter(SparkEntry.queries.contains)
      else HeadlineQueries
    val rows = wanted.map { name =>
      val small = Seq.fill(3)(runOnce(name, srcDir)).filter(_ >= 0).sorted
      val s = if (small.isEmpty) -1.0 else small((small.size - 1) / 2)
      val big = runOnce(name, bigDir)
      val ratio = if (s > 0 && big > 0) big / s else -1.0
      println(f"""{"query":"$name","sf01_sec":$s%.3f,"sf10_sec":$big%.3f,"ratio":$ratio%.2f}""")
      (name, s, big, ratio)
    }

    // Archive family (lake export + full decode), 200 vs 2000 sweeps —
    // 10x the FILE count at identical per-file shape, the axis a seamf
    // archive actually grows along. One run each (the 2000-sweep runs are
    // long enough that cold-start variance is secondary).
    val archiveRows =
      if (args.nonEmpty && !args.contains("archive")) Seq.empty
      else {
        def timed(body: => Unit): Double = {
          val t0 = System.nanoTime()
          try { body; (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[scale] archive metric failed: ${e.getMessage}")
            -1.0
          } finally releaseCaches()
        }
        val small = graft.seamf.SeamfFixtures.sharedBenchArchive()
        val large = graft.seamf.SeamfFixtures.sharedBenchArchiveLarge()
        def ingest(dir: String): Double = timed {
          graft.seamf.SeamfReader.traces(spark, dir)
            .write.format("noop").mode("overwrite").save()
        }
        def ingestDsv2(dir: String): Double = timed {
          spark.read.format("seamf").load(dir)
            .write.format("noop").mode("overwrite").save()
        }
        def export(dir: String): Double = {
          val out = java.nio.file.Files.createTempDirectory("graft_scale_lake")
          try timed {
            graft.seamf.SeamfLake.exportAll(spark, dir, out.toString, validate = false)
          } finally graft.seamf.SeamfFixtures.deleteTree(out)
        }
        // each metric's first run in a JVM pays whole-stage codegen (~1 s
        // for ingest, ~2x for the 7-sink export plan) — without a warm-up
        // the 200-sweep number absorbs it and the 2000/200 ratio reads
        // SUBLINEAR-by-artifact (measured: cold 200-ingest 1.08 s vs warm
        // 2000-ingest 0.71 s). Warm on the small archive, then time.
        ingest(small); export(small); ingestDsv2(small)
        Seq(
          ("seamf_ingest", ingest(small), ingest(large)),
          ("seamf_dsv2_ingest", ingestDsv2(small), ingestDsv2(large)),
          ("seamf_lake_export", export(small), export(large))
        ).map { case (name, s, big) =>
          val ratio = if (s > 0 && big > 0) big / s else -1.0
          println(f"""{"query":"$name","n200_sec":$s%.3f,"n2000_sec":$big%.3f,"ratio":$ratio%.2f}""")
          (name, s, big, ratio)
        }
      }

    // "x100" arg: third decade (100 copies, 500k docs / 200k embeddings) for
    // the production-shape families — one timed run each; with 3 decades the
    // curve shape is unambiguous without repetition.
    val hundredRows =
      if (!args.contains("x100")) Seq.empty
      else {
        buildScaled(spark, srcDir, hugeDir, copies = 100)
        // extra query-name args restrict the third decade too, and the
        // literal "funnel" selects just the funnel comparison (dev loop);
        // bare "x100" runs the full subset
        val tdq =
          if (args.contains("funnel")) Seq.empty
          else if (wanted.nonEmpty) ThirdDecadeQueries.filter(wanted.contains)
          else ThirdDecadeQueries
        val queryRows = tdq.map { name =>
          val t = runOnce(name, hugeDir)
          println(f"""{"query":"$name","sf100_sec":$t%.3f}""")
          (name, t, t, if (t > 0) 1.0 else -1.0)
        }
        // custom (non-inventory) decade metrics run on a bare "x100" or
        // when named explicitly — so the dev loop can time ONE of them
        // without paying for the rest
        def customOn(n: String): Boolean =
          args.length <= 1 || args.contains(n)
        // the funnel's ACTUAL 100 TB configuration (MinHash-LSH candidates
        // instead of the oracle-replayable exhaustive Jaccard) is not on
        // the query surface — q97b must match q97's oracle — so time it
        // directly at all three decades
        def funnelLsh(dir: String): Double = {
          val t0 = System.nanoTime()
          try {
            graft.operators.CurationFunnel
              .metrics(spark.read.parquet(s"$dir/documents.parquet"),
                exhaustivePairs = false)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[scale] funnel_lsh @ $dir failed: ${e.getMessage}")
              -1.0
          } finally releaseCaches()
        }
        val lshRow = if (!customOn("funnel_onepass_lsh")) Seq.empty else {
          val (s, b, h) = (funnelLsh(srcDir), funnelLsh(bigDir), funnelLsh(hugeDir))
          println(f"""{"query":"funnel_onepass_lsh","sf01_sec":$s%.3f,"sf10_sec":$b%.3f,"sf100_sec":$h%.3f}""")
          Seq(("funnel_onepass_lsh", s, h, if (s > 0 && h > 0) 1.0 else -1.0))
        }
        // the w14 winnow-x-Bloom intake, batch form (the operator is pure
        // DataFrame ops; StreamingSpec pins batch == stream). m scales
        // with the corpus sketch per the operator's sizing contract
        // (fill = 1-e^(-kn/m) under ~0.3) — a fixed m would re-saturate
        // at the third decade, which is exactly the failure the r8 fix
        // measured its way out of.
        def winnowIntake(dir: String, m: Int): Double = {
          val t0 = System.nanoTime()
          try {
            val docs = spark.read.parquet(s"$dir/documents.parquet")
            graft.streaming.StreamingOps.intakeWinnowMatches(
                docs.filter(col("doc_id") % 3 =!= 0),
                docs.filter(col("doc_id") % 3 === 0), m = m, minHits = 5)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[scale] winnow_intake @ $dir failed: ${e.getMessage}")
              -1.0
          } finally releaseCaches()
        }
        val intakeRow = if (!customOn("winnow_intake_batch")) Seq.empty else {
          val (s, b, h) = (winnowIntake(srcDir, 1 << 20),
            winnowIntake(bigDir, 1 << 23), winnowIntake(hugeDir, 1 << 26))
          println(f"""{"query":"winnow_intake_batch","sf01_sec":$s%.3f,"sf10_sec":$b%.3f,"sf100_sec":$h%.3f}""")
          Seq(("winnow_intake_batch", s, h, if (s > 0 && h > 0) 1.0 else -1.0))
        }
        // the w18 image-intake, batch form (the operator is stateless
        // DataFrame ops, so stream == batch by the w14 argument): real
        // PNG decode + band-Bloom probes — linear in images however
        // cliquey the corpus gets, because the probe never materializes
        // candidates (this is m06's scale path past the clique caveat
        // above). Bloom m scales with the corpus band-key count per the
        // w14 sizing contract.
        def phashIntake(dir: String, m: Int): Double = {
          val t0 = System.nanoTime()
          try {
            implicit val sp = spark
            val docs = spark.read.parquet(s"$dir/documents.parquet")
            val corpus = graft.operators.Multimodal.encodeMediaRows(
              docs.filter(col("doc_id") % 4 === 0 && col("doc_id") % 3 === 0))
            val stream = graft.operators.Multimodal.encodeMediaRows(
              docs.filter(col("doc_id") % 4 === 0 && col("doc_id") % 3 =!= 0))
            graft.streaming.StreamingOps
              .intakeImagePHashMatches(stream, corpus, m = m)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[scale] phash_intake @ $dir failed: ${e.getMessage}")
              -1.0
          } finally releaseCaches()
        }
        val phashRow = if (!customOn("phash_intake_batch")) Seq.empty else {
          val (s, b, h) = (phashIntake(srcDir, 1 << 20),
            phashIntake(bigDir, 1 << 20), phashIntake(hugeDir, 1 << 22))
          println(f"""{"query":"phash_intake_batch","sf01_sec":$s%.3f,"sf10_sec":$b%.3f,"sf100_sec":$h%.3f}""")
          Seq(("phash_intake_batch", s, h, if (s > 0 && h > 0) 1.0 else -1.0))
        }
        // landmark audio intake (r13, the w25 shape run as a batch): index
        // the corpus's landmark keys at phases=4 (Bloom m scales with the
        // corpus key count at x100 — the w14 sizing rule), probe every
        // non-corpus clip. Decode is per-clip local; the probe is one
        // broadcast row + in-row array filters, so the decade curve should
        // track the decode volume linearly.
        def landmarkIntake(dir: String, m: Int): Double = {
          val t0 = System.nanoTime()
          try {
            implicit val sp = spark
            val docs = spark.read.parquet(s"$dir/documents.parquet")
            val corpus = graft.operators.Multimodal.encodeMediaRows(
              docs.filter(col("doc_id") % 4 === 1 && col("doc_id") % 3 === 0))
            val stream = graft.operators.Multimodal.encodeMediaRows(
              docs.filter(col("doc_id") % 4 === 1 && col("doc_id") % 3 =!= 0))
            graft.streaming.StreamingOps
              .intakeLandmarkMatches(stream,
                graft.streaming.StreamingOps.buildLandmarkIndex(corpus,
                  m = m), m = m)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[scale] landmark_intake @ $dir failed: ${e.getMessage}")
              -1.0
          } finally releaseCaches()
        }
        val landmarkIntakeRow =
          if (!customOn("landmark_intake_batch")) Seq.empty else {
            val (s, b, h) = (landmarkIntake(srcDir, 1 << 20),
              landmarkIntake(bigDir, 1 << 20), landmarkIntake(hugeDir, 1 << 22))
            println(f"""{"query":"landmark_intake_batch","sf01_sec":$s%.3f,"sf10_sec":$b%.3f,"sf100_sec":$h%.3f}""")
            Seq(("landmark_intake_batch", s, h,
              if (s > 0 && h > 0) 1.0 else -1.0))
          }
        // landmark index BUILD at phases = frameLen (VERDICT r13 #7 — the
        // last unpriced landmark-lifecycle stage): the 4x-key corpus
        // index that intake probes amortize against. Decode dominates
        // (per-clip local, no shuffle until the one-row bitmap
        // aggregation), so build time should track clip volume linearly;
        // the distinct phase-union key count is printed alongside so the
        // artifact's growth is measured, not asserted.
        def landmarkIndexBuild(dir: String, m: Int): (Double, Long) = {
          try {
            implicit val sp = spark
            val docs = spark.read.parquet(s"$dir/documents.parquet")
            def corpus = graft.operators.Multimodal.encodeMediaRows(
              docs.filter(col("doc_id") % 4 === 1 && col("doc_id") % 3 === 0))
            val t0 = System.nanoTime()
            graft.streaming.StreamingOps
              .buildLandmarkIndex(corpus, phases = 4, m = m)
              .write.format("noop").mode("overwrite").save()
            val t = (System.nanoTime() - t0) / 1e9
            // key count measured OUTSIDE the timed window (a second
            // decode pass — the build itself never materializes the
            // pre-Bloom key set)
            val nKeys = graft.operators.Multimodal
              .audioLandmarkKeys(corpus, phases = 4).toDF()
              .select("k").distinct().count()
            (t, nKeys)
          } catch {
            case e: Throwable =>
              System.err.println(s"[scale] landmark_index_build @ $dir failed: ${e.getMessage}")
              (-1.0, -1L)
          } finally releaseCaches()
        }
        val landmarkBuildRow =
          if (!customOn("landmark_index_build")) Seq.empty else {
            val (s, ks) = landmarkIndexBuild(srcDir, 1 << 20)
            val (b, kb) = landmarkIndexBuild(bigDir, 1 << 20)
            val (h, kh) = landmarkIndexBuild(hugeDir, 1 << 22)
            println(f"""{"query":"landmark_index_build","sf01_sec":$s%.3f,"sf10_sec":$b%.3f,"sf100_sec":$h%.3f,"sf01_keys":$ks,"sf10_keys":$kb,"sf100_keys":$kh}""")
            Seq(("landmark_index_build", s, h,
              if (s > 0 && h > 0) 1.0 else -1.0))
          }
        // m12's pair rule at decade scale: keys per clip are bounded
        // (~landmarks/3), the key join rides the df-cap, so candidate
        // volume is capped however hot the lattice fixture's shared keys
        // get — the curve should stay near-linear in the clip count.
        def landmarkPairs(dir: String): Double = {
          val t0 = System.nanoTime()
          try {
            implicit val sp = spark
            val docs = spark.read.parquet(s"$dir/documents.parquet")
            val media = graft.operators.Multimodal.encodeMediaRows(
              docs.filter(col("doc_id") % 4 === 1))
            val keys = graft.operators.Multimodal
              .audioLandmarkKeys(media).toDF()
            graft.operators.Multimodal.audioLandmarkPairs(keys)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[scale] landmark_pairs @ $dir failed: ${e.getMessage}")
              -1.0
          } finally releaseCaches()
        }
        val landmarkPairsRow =
          if (!customOn("landmark_pairs")) Seq.empty else {
            val (s, b, h) = (landmarkPairs(srcDir), landmarkPairs(bigDir),
              landmarkPairs(hugeDir))
            println(f"""{"query":"landmark_pairs","sf01_sec":$s%.3f,"sf10_sec":$b%.3f,"sf100_sec":$h%.3f}""")
            Seq(("landmark_pairs", s, h, if (s > 0 && h > 0) 1.0 else -1.0))
          }
        // m14's resample-closure pair rule at decade scale: ONE persisted
        // two-hypothesis census (decode once), then the cross-hypothesis
        // key join under the union df-cap — same near-linear shape as
        // landmark_pairs with ~1.5x kernel work for the second hypothesis
        def landmarkResamplePairs(dir: String): Double = {
          val t0 = System.nanoTime()
          try {
            implicit val sp = spark
            import spark.implicits._
            val docs = spark.read.parquet(s"$dir/documents.parquet")
            val media = graft.operators.Multimodal.encodeMediaRows(
              docs.filter(col("doc_id") % 4 === 1))
            val ups = media.flatMap(m =>
              if (m.media_id % 3 == 0)
                graft.operators.Multimodal.resampleWav2x(m.content)
                  .map(b => m.copy(media_id = m.media_id + 4000000000L,
                    content = b)).toSeq
              else Seq.empty)
            val census = graft.operators.Multimodal
              .cachedCensus2(media.union(ups))
            graft.operators.Multimodal.audioLandmarkCrossPairs(
                census.select(col("media_id"),
                  explode(col("keys_half")).as("k")),
                census.select(col("media_id"), explode(col("keys")).as("k")))
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[scale] landmark_resample_pairs @ $dir failed: ${e.getMessage}")
              -1.0
          } finally releaseCaches()
        }
        val landmarkResampleRow =
          if (!customOn("landmark_resample_pairs")) Seq.empty else {
            val (s, b, h) = (landmarkResamplePairs(srcDir),
              landmarkResamplePairs(bigDir), landmarkResamplePairs(hugeDir))
            println(f"""{"query":"landmark_resample_pairs","sf01_sec":$s%.3f,"sf10_sec":$b%.3f,"sf100_sec":$h%.3f}""")
            Seq(("landmark_resample_pairs", s, h,
              if (s > 0 && h > 0) 1.0 else -1.0))
          }
        // hard-negative mining, production (LSH-gated) path: q113b's
        // inventory form carries the exact brute-force truth denominator
        // by design (the grade IS the point there), so the decade curve
        // times the gate alone — fixed 10-query set against the growing
        // corpus, the realistic mining shape
        def hardNegLsh(dir: String): Double = {
          val t0 = System.nanoTime()
          try {
            val emb = spark.read.parquet(s"$dir/embeddings.parquet")
            graft.operators.Similarity.hardNegativeTopKLsh(
                emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
                k = 5, loCos = 0.15, hiCos = 0.35)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[scale] hard_negatives_lsh @ $dir failed: ${e.getMessage}")
              -1.0
          } finally releaseCaches()
        }
        val hardNegRow = if (!customOn("hard_negatives_lsh")) Seq.empty else {
          val (s, b, h) = (hardNegLsh(srcDir), hardNegLsh(bigDir),
            hardNegLsh(hugeDir))
          println(f"""{"query":"hard_negatives_lsh","sf01_sec":$s%.3f,"sf10_sec":$b%.3f,"sf100_sec":$h%.3f}""")
          Seq(("hard_negatives_lsh", s, h, if (s > 0 && h > 0) 1.0 else -1.0))
        }
        // ANN recall at decade scale (r12, VERDICT r11 #7): q32/q37 grade
        // LSH/IVF top-k recall against the exact brute force at sf0.01
        // only; these rows measure the recall CURVE at the inventory
        // configurations across all three decades — candidate generation
        // has to carry a measured recall number at scale, not a fixed-sf
        // grade. Truth = exact brute-force top-5 for the 10 fixed
        // queries (linear in the corpus — fine as a grading pass).
        def annRecall(dir: String): Seq[(String, Double, Double)] = {
          try {
            import graft.operators.Similarity
            val emb = spark.read.parquet(s"$dir/embeddings.parquet")
            val queries = emb.filter(col("vec_id") < 10)
            def pairs(df: DataFrame): Set[(Long, Long)] =
              df.select(col("query_id").cast("long"),
                  col("neighbor_id").cast("long"))
                .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
            val truth = pairs(Similarity.bruteForceTopK(emb, queries,
              "vec_id", "embedding", k = 5))
            def grade(name: String, body: => DataFrame) = {
              val t0 = System.nanoTime()
              val got = pairs(body)
              val sec = (System.nanoTime() - t0) / 1e9
              (name, sec, got.intersect(truth).size.toDouble / truth.size)
            }
            // derived configs (VERDICT r12 #5): the per-bucket population
            // the derivation promises to hold constant, logged per decade
            // so the recall curve reads against it
            val n = emb.count()
            val bits = graft.operators.SemDedup.gateBits(n, 4)
            val cells = Similarity.derivedCells(n, 125)
            System.err.println(f"[scale] ann derived config @ $dir: n=$n " +
              f"bits=$bits (exp bucket pop ${n.toDouble / (1L << bits)}%.1f/" +
              f"table) cells=$cells (cell pop ${n.toDouble / cells}%.1f)")
            // planted known-item queries: each is a ~0.999-cosine
            // perturbation of a copy-0 corpus vector, and the grade is
            // "does the top-5 contain the SOURCE". This is the production
            // ANN claim the derived configs must hold at constant cost:
            // on the no-structure fixture the uniform-noise top-5 recall
            // necessarily falls as the examined FRACTION shrinks (the
            // fixed configs hold it by examining a constant fraction —
            // at linearly growing cost), but a near-duplicate pair lands
            // in the same cell/bucket at ANY corpus size because
            // assignment depends on the VECTOR, not on n.
            val plantedQ = queries.select(
              (col("vec_id") + lit(1000000000L)).as("vec_id"),
              transform(col("embedding"), (x, j) =>
                x * (lit(1.0f) +
                  (pmod(xxhash64(col("vec_id"), j), lit(100))
                    .cast("float") - lit(50.0f)) / lit(1000.0f)))
                .as("embedding"))
            def knownItem(name: String, body: => DataFrame) = {
              val t0 = System.nanoTime()
              val got = pairs(body)
              val sec = (System.nanoTime() - t0) / 1e9
              val hits = (0 until 10).count(q =>
                got.contains((q + 1000000000L, q.toLong)))
              (name, sec, hits / 10.0)
            }
            Seq(
              grade("ann_lsh", Similarity.lshTopK(emb, queries, "vec_id",
                "embedding", k = 5, nBits = 8, nTables = 4)),
              grade("ann_ivf", Similarity.ivfTopK(emb, queries, "vec_id",
                "embedding", k = 5, nCells = 16, nProbe = 4)),
              grade("ann_lsh_derived", Similarity.lshTopKAuto(emb, queries,
                "vec_id", "embedding", k = 5, targetBucketSize = 4,
                nTables = 4, knownN = Some(n))),
              grade("ann_ivf_derived", Similarity.ivfTopKAuto(emb, queries,
                "vec_id", "embedding", k = 5, targetCellSize = 125,
                nProbe = 2, knownN = Some(n))),
              knownItem("ann_lsh_derived_planted",
                Similarity.lshTopKAuto(emb, plantedQ, "vec_id",
                  "embedding", k = 5, targetBucketSize = 4,
                  nTables = 4, knownN = Some(n))),
              knownItem("ann_ivf_derived_planted",
                Similarity.ivfTopKAuto(emb, plantedQ, "vec_id",
                  "embedding", k = 5, targetCellSize = 125,
                  nProbe = 2, knownN = Some(n))))
          } catch {
            case e: Throwable =>
              System.err.println(s"[scale] ann_recall @ $dir failed: ${e.getMessage}")
              Seq.empty
          } finally releaseCaches()
        }
        val annRows = if (!customOn("ann_recall")) Seq.empty else {
          val byDecade = Seq(srcDir, bigDir, hugeDir).map(annRecall)
          Seq("ann_lsh", "ann_ivf", "ann_lsh_derived", "ann_ivf_derived",
            "ann_lsh_derived_planted", "ann_ivf_derived_planted")
            .flatMap { name =>
            val pts = byDecade.map(_.find(_._1 == name)
              .getOrElse((name, -1.0, -1.0)))
            println(f"""{"query":"${name}_recall","sf01_sec":${pts(0)._2}%.3f,"sf01_recall":${pts(0)._3}%.4f,"sf10_sec":${pts(1)._2}%.3f,"sf10_recall":${pts(1)._3}%.4f,"sf100_sec":${pts(2)._2}%.3f,"sf100_recall":${pts(2)._3}%.4f}""")
            Seq((s"${name}_recall", pts(0)._2, pts(2)._2,
              if (pts(0)._2 > 0 && pts(2)._2 > 0) 1.0 else -1.0))
          }
        }
        // incremental cluster maintenance (r12): a FIXED-size daily delta
        // (100 copy-0 docs' pairs) merges against the prior cluster
        // artifact at each decade. The timed region is pure clustering
        // work (pairs / prior artifact / delta edges are eagerly
        // localCheckpointed beforehand), MEDIAN-of-3 per decade — both
        // paths are second-scale, where a single post-annRecall GC pause
        // on the 48g heap once read as a 10x merge regression.
        // From-scratch CC grows with the corpus's dup subgraph; the
        // merge's iterative work is bounded by the touched components —
        // the artifact's whole point (VERDICT r11 #1).
        def clusterMerge(dir: String): (Double, Double, Long, Long) = {
          try {
            val docs = spark.read.parquet(s"$dir/documents.parquet")
            // pair source: LSH candidates at the signature-agreement
            // threshold — the clustering input's realistic shape without
            // the exact-verify shingle join (which is q89's own metric;
            // materializing 500k shingle arrays at the third decade OOMs
            // a timing harness that only needs the EDGES)
            val pairs = graft.operators.Dedup.minHashCandidates(docs,
                "doc_id", "text", k = 3, bands = 32, rowsPerBand = 2)
              .filter(col("est_jaccard") >= 0.2)
              .select("id_a", "id_b").localCheckpoint(true)
            def isDelta(c: org.apache.spark.sql.Column) =
              c % 50 === 3 && c < 100000000L
            val delta = pairs.filter(isDelta(col("id_a")) ||
              isDelta(col("id_b"))).localCheckpoint(true)
            val priorPairs = pairs.filter(!isDelta(col("id_a")) &&
              !isDelta(col("id_b")))
            val prior = graft.operators.Dedup.clusterArtifact(
                graft.operators.Dedup.connectedComponents(priorPairs))
              .localCheckpoint(true)
            def med3(body: => Unit): Double = {
              val runs = Seq.fill(3) {
                releaseCaches()
                val t0 = System.nanoTime()
                body
                (System.nanoTime() - t0) / 1e9
              }
              runs.sorted.apply(1)
            }
            val tScratch = med3 {
              graft.operators.Dedup.connectedComponents(pairs)
                .write.format("noop").mode("overwrite").save()
            }
            val tMerge = med3 {
              // persistDelta=false: delta is already localCheckpoint'd —
              // the internal persist would rebuild a redundant cache
              // inside every timed med3 run (ADVICE r14 #1)
              graft.operators.Dedup.mergeClusterArtifact(prior, delta,
                persistDelta = false)
                .write.format("noop").mode("overwrite").save()
            }
            // the structural claim, quantified: the iterative work's input
            // sizes — scratch re-clusters the ALL-TIME pair graph; the
            // merge re-clusters only the touched components' star edges
            // plus the delta (wall times at harness scale are round-trip
            // dominated and near-flat for both, so the edge counts carry
            // the decade story)
            val scratchEdges = pairs.count()
            val deltaNodes = delta.select(col("id_a").as("member"))
              .unionByName(delta.select(col("id_b").as("member"))).distinct()
            val touched = prior.join(deltaNodes, "member")
              .select("root").distinct()
            val mergeEdges = prior.join(touched, Seq("root"), "left_semi")
              .filter(col("member") =!= col("root")).count() + delta.count()
            (tScratch, tMerge, scratchEdges, mergeEdges)
          } catch {
            case e: Throwable =>
              System.err.println(s"[scale] cluster_merge @ $dir failed: ${e.getMessage}")
              (-1.0, -1.0, -1L, -1L)
          } finally releaseCaches()
        }
        val clusterRow = if (!customOn("cluster_merge_delta")) Seq.empty else {
          val (s1, m1, se1, me1) = clusterMerge(srcDir)
          val (s2, m2, se2, me2) = clusterMerge(bigDir)
          val (s3, m3, se3, me3) = clusterMerge(hugeDir)
          println(f"""{"query":"cluster_cc_scratch","sf01_sec":$s1%.3f,"sf10_sec":$s2%.3f,"sf100_sec":$s3%.3f,"sf01_edges":$se1,"sf10_edges":$se2,"sf100_edges":$se3}""")
          println(f"""{"query":"cluster_merge_delta","sf01_sec":$m1%.3f,"sf10_sec":$m2%.3f,"sf100_sec":$m3%.3f,"sf01_edges":$me1,"sf10_edges":$me2,"sf100_edges":$me3}""")
          Seq(("cluster_merge_delta", m1, m3, if (m1 > 0 && m3 > 0) 1.0 else -1.0))
        }
        queryRows ++ lshRow ++ intakeRow ++ phashRow ++
          landmarkIntakeRow ++ landmarkBuildRow ++ landmarkPairsRow ++
          landmarkResampleRow ++ hardNegRow ++ annRows ++ clusterRow
      }

    val bad = (rows ++ archiveRows ++ hundredRows)
      .filter { case (_, _, _, r) => r < 0 || r > 15.0 }
    if (bad.nonEmpty)
      System.err.println("SUPERLINEAR/FAILED: " + bad.map(_._1).mkString(", "))
    spark.stop()
  }
}
