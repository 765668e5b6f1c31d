package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

class StreamingSpec extends SparkSpec {

  private def batchEvents = Tables.load(spark, sf(), "events")

  test("tumbling window counts match the batch equivalent") {
    val streamed = StreamingOps.runToMemory(spark,
      StreamingOps.tumblingCounts(StreamingOps.eventsStream(spark, sf())),
      "t_tumbling", outputMode = "complete")
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
    val s = streamed.select("window_start", "event_type", "n")
      .orderBy("window_start", "event_type").collect().toSeq
    val b = batch.orderBy("window_start", "event_type").collect().toSeq
    assert(s === b)
    assert(s.nonEmpty)
  }

  test("session windows produce bounded per-user sessions") {
    val sess = StreamingOps.runToMemory(spark,
      StreamingOps.sessionWindows(StreamingOps.eventsStream(spark, sf())),
      "t_sessions", outputMode = "complete")
    assert(sess.count() > 0)
    // session integrity: total events across sessions == event count
    val total = sess.agg(sum("n_events")).head().getLong(0)
    assert(total === batchEvents.count())
  }

  test("dropDuplicatesWithinWatermark keeps one row per event_id") {
    val deduped = StreamingOps.runToMemory(spark,
      StreamingOps.dedupWithinWatermark(
        StreamingOps.eventsStream(spark, sf())), "t_dedup")
    assert(deduped.count() === batchEvents.count()) // fixture has unique ids
    assert(deduped.select("event_id").distinct().count() === deduped.count())
  }

  test("streaming as-of enrichment matches the batch tolerance as-of " +
      "row for row") {
    implicit val s = spark
    val tolUs = 86400000000L
    val streamed = StreamingOps.runToMemory(spark,
      StreamingOps.streamingAsOf(StreamingOps.eventsStream(spark, sf()),
        "click", "purchase", tolUs).toDF(), "t_asof")
      .select(col("event_id"), col("ts_us"),
        col("matched"), col("last_value"))
      .orderBy("event_id").collect().toSeq
    // batch truth: the q18b configuration (backward inclusive, same-ts
    // purchase ties -> max value, 1-day tolerance)
    val ev = batchEvents
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "ts", "user_id")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("pv"))
    val batch = graft.operators.AsOfJoin.backward(clicks, purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        valueCols = Seq("pv"), tolerance = Some(tolUs))
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("pv").isNotNull.as("matched"),
        coalesce(col("pv"), lit(-1.0)).as("last_value"))
      .orderBy("event_id").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty &&
      streamed.exists(_.getBoolean(2)) && streamed.exists(!_.getBoolean(2)))
  }

  test("stateless winnow-Bloom intake: streamed rows equal the identical " +
      "batch computation row for row") {
    val docs = Tables.load(spark, sf(), "documents")
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val streamed = StreamingOps.runToMemory(spark,
      StreamingOps.intakeWinnowMatches(
        StreamingOps.documentsStream(spark, sf())
          .filter(col("doc_id") % 3 =!= 0),
        corpus, minHits = 5),
      "t_winnow_intake").orderBy("doc_id").collect().toSeq
    // the operator is pure DataFrame ops — running it in BATCH over the
    // same input must give the identical rows (the strongest statement
    // of statelessness: nothing depends on micro-batch boundaries)
    val batch = StreamingOps.intakeWinnowMatches(
        docs.filter(col("doc_id") % 3 =!= 0), corpus, minHits = 5)
      .orderBy("doc_id").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("mergeWinnowIndex: OR of two version indexes equals the " +
      "from-scratch build over the union, bit for bit") {
    import spark.implicits._
    val docs = Tables.load(spark, sf(), "documents")
    val prior = StreamingOps.buildWinnowIndex(
      docs.filter(col("doc_id") % 6 === 0))
    val delta = StreamingOps.buildWinnowIndex(
      docs.filter(col("doc_id") % 6 === 3))
    val merged = StreamingOps.mergeWinnowIndex(prior, delta)
      .select("filter").as[Seq[Long]].head()
    val scratch = StreamingOps.buildWinnowIndex(
        docs.filter(col("doc_id") % 3 === 0))
      .select("filter").as[Seq[Long]].head()
    // Bloom(A) OR Bloom(B) == Bloom(A ∪ B): each key sets the same md5
    // positions whichever build it entered — the merge is invisible
    assert(merged === scratch)
    // and it is a real union, not one side passing through: the merged
    // bitmap strictly dominates each input
    val priorBits = prior.select("filter").as[Seq[Long]].head()
    assert(merged.zip(priorBits).forall { case (m, p) => (m & p) == p })
    assert(merged !== priorBits)
    // the artifact is self-describing: params ride along and the merge
    // bumps version = max(inputs) + 1
    val meta = StreamingOps.mergeWinnowIndex(prior, delta)
      .select("k", "w", "m", "kHash", "version")
      .as[(Int, Int, Int, Int, Long)].head()
    assert(meta === ((20, 8, 1 << 20, 3, 2L)))
  }

  test("index artifacts carry a MEASURED fill_ratio, and a saturated " +
      "filter refuses loudly instead of silently inflating false " +
      "positives (VERDICT r13 #5)") {
    import spark.implicits._
    val docs = Tables.load(spark, sf(), "documents")
    // fill_ratio is popcount/m, measured on the packed words themselves
    val idx = StreamingOps.buildWinnowIndex(docs.filter(col("doc_id") % 3 === 0))
    val (words, m, fr) = idx.select("filter", "m", "fill_ratio")
      .as[(Seq[Long], Int, Double)].head()
    val pop = words.map(java.lang.Long.bitCount(_).toLong).sum
    assert(fr === pop.toDouble / m && fr > 0.0 && fr <= 0.5)
    // the merge RE-measures on the union bitmap (saturation accrues
    // exactly there): merged fill equals the from-scratch union's
    val prior = StreamingOps.buildWinnowIndex(docs.filter(col("doc_id") % 6 === 0))
    val delta = StreamingOps.buildWinnowIndex(docs.filter(col("doc_id") % 6 === 3))
    val mergedFr = StreamingOps.mergeWinnowIndex(prior, delta)
      .select("fill_ratio").as[Double].head()
    assert(mergedFr === fr)
    // saturate: a tiny m forces fill past the 0.5 bound — every read of
    // the filter column (probe, write, merge) throws with the measured
    // ratio and the rebuild instruction
    val sat = StreamingOps.buildWinnowIndex(
      docs.filter(col("doc_id") % 3 === 0), m = 1 << 8)
    val ex = intercept[Exception] { sat.select("filter").collect() }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t =>
      Option(t.getMessage).exists(_.contains("Bloom saturated"))),
      s"expected the saturation require, got $ex")
    // probe-side enforcement: the builder's in-plan assert does not
    // travel through a parquet round trip, so a saturated artifact
    // RELOADED from disk must still refuse where it matters — at the
    // probe (recomputed popcount, so a doctored fill_ratio cannot mask)
    val satDir = tempDir("graft_sat_idx")
    idx.withColumn("filter", transform(col("filter"), _ => lit(-1L)))
      .write.mode("overwrite").parquet(satDir)
    val exReload = intercept[Exception] {
      StreamingOps.intakeWinnowMatchesWith(
        docs.filter(col("doc_id") % 3 =!= 0).limit(5),
        spark.read.parquet(satDir)).collect()
    }
    assert(chain(exReload).exists(t =>
      Option(t.getMessage).exists(_.contains("Bloom saturated"))),
      s"reloaded saturated artifact probed silently: $exReload")
    // the landmark and band builders carry the same measured column
    implicit val sp = spark
    import graft.operators.Multimodal
    val media = Multimodal.encodeMediaRows(
      docs.filter(col("doc_id") % 4 === 1 && col("doc_id") % 3 === 0))
    val lfr = StreamingOps.buildLandmarkIndex(media)
      .select("fill_ratio").as[Double].head()
    assert(lfr > 0.0 && lfr <= 0.5)
    val bfr = StreamingOps.buildBandIndex(
        Multimodal.imagePHash(Multimodal.encodeMediaRows(
          docs.filter(col("doc_id") % 4 === 0 && col("doc_id") % 3 === 0))).toDF())
      .select("fill_ratio").as[Double].head()
    assert(bfr > 0.0 && bfr <= 0.5)
  }

  test("intakeLandmarkMatches: streamed == batch row for row; trimmed " +
      "re-uploads flag with certainty; landmark-index merge is exact") {
    import spark.implicits._
    implicit val sp = spark
    import graft.operators.Multimodal
    val docs = Tables.load(spark, sf(), "documents")
    val corpus = Multimodal.encodeMediaRows(
      docs.filter(col("doc_id") % 4 === 1 && col("doc_id") % 3 === 0))
    val index = StreamingOps.buildLandmarkIndex(corpus)
    def arrivals(base: org.apache.spark.sql.DataFrame) =
      Multimodal.encodeMediaRows(base.filter(col("doc_id") % 4 === 1))
        .flatMap { m =>
          if (m.media_id % 3 == 0)
            Multimodal.shiftWav(m.content, 3).map(b =>
              m.copy(media_id = m.media_id + 3000000000L,
                content = b)).toSeq
          else Seq(m)
        }
    // statelessness, the strongest form: the streamed computation equals
    // the identical batch computation row for row
    val streamed = StreamingOps.runToMemory(spark,
        StreamingOps.intakeLandmarkMatches(
          arrivals(StreamingOps.documentsStream(spark, sf())), index),
        "t_landmark_intake").orderBy("media_id").collect().toSeq
    val batch = StreamingOps.intakeLandmarkMatches(arrivals(docs), index)
      .orderBy("media_id").collect().toSeq
    assert(streamed === batch && streamed.nonEmpty)
    // certainty: every trimmed corpus re-upload (3-sample trim — NOT a
    // frame multiple) probes at n_hits == n_keys and flags suspect,
    // because its phase-0 keys are a subset of the phases=4 corpus union
    val trimmed = batch.filter(_.getLong(0) >= 3000000000L)
    assert(trimmed.nonEmpty)
    trimmed.foreach { r =>
      assert(r.getBoolean(1) && r.getInt(2) > 0 &&
        r.getInt(3) === r.getInt(2) && r.getBoolean(4),
        s"trimmed re-upload not certain: $r")
    }
    // merge: half-corpus indexes OR to the from-scratch build bit for bit
    val a = StreamingOps.buildLandmarkIndex(corpus.filter(_.media_id % 2 == 0))
    val b = StreamingOps.buildLandmarkIndex(corpus.filter(_.media_id % 2 == 1))
    val merged = StreamingOps.mergeLandmarkIndex(a, b)
    assert(merged.select("filter").as[Seq[Long]].head() ===
      index.select("filter").as[Seq[Long]].head())
    assert(merged.select("version").as[Long].head() === 2L)
    // parameter mismatch refuses loudly
    val other = StreamingOps.buildLandmarkIndex(corpus, m = 1 << 16)
    assert(intercept[Exception] {
      StreamingOps.mergeLandmarkIndex(index, other).collect()
    }.getMessage != null)
  }

  test("intakeResampledLandmarkMatches (w26): streamed == batch row for " +
      "row; 2x-upsampled re-uploads flag suspect_resampled with " +
      "certainty through the decimation hypothesis; zero streaming state") {
    import spark.implicits._
    implicit val sp = spark
    import graft.operators.Multimodal
    val docs = Tables.load(spark, sf(), "documents")
    val corpus = Multimodal.encodeMediaRows(
      docs.filter(col("doc_id") % 4 === 1 && col("doc_id") % 3 === 0))
    val index = StreamingOps.buildLandmarkIndex(corpus)
    def arrivals(base: org.apache.spark.sql.DataFrame) =
      Multimodal.encodeMediaRows(base.filter(col("doc_id") % 4 === 1))
        .flatMap { m =>
          if (m.media_id % 3 == 0)
            Multimodal.resampleWav2x(m.content).map(b =>
              m.copy(media_id = m.media_id + 5000000000L,
                content = b)).toSeq
          else Seq(m)
        }
    val streamed = StreamingOps.runToMemory(spark,
        StreamingOps.intakeResampledLandmarkMatches(
          arrivals(StreamingOps.documentsStream(spark, sf())), index),
        "t_resampled_intake").orderBy("media_id").collect().toSeq
    val batch = StreamingOps.intakeResampledLandmarkMatches(
        arrivals(docs), index)
      .orderBy("media_id").collect().toSeq
    assert(streamed === batch && streamed.nonEmpty)
    // certainty: every upsampled corpus re-upload probes its DECIMATED
    // keys at n_hits_half == n_keys_half and flags suspect_resampled —
    // its decimation IS the original (m14 set equality), whose keys are
    // in the corpus phase union, and Bloom has no false negatives
    val ups = batch.filter(_.getLong(0) >= 5000000000L)
    assert(ups.nonEmpty)
    ups.foreach { r =>
      assert(r.getBoolean(1) && r.getInt(4) > 0 &&
        r.getInt(5) === r.getInt(4) && r.getBoolean(7),
        s"upsampled re-upload not certain: $r")
    }
    // and the IDENTITY hypothesis alone would have missed them (the
    // pre-closure non-claim): upsamples' identity keys mostly novel
    val missedByIdentity = ups.count(r => !r.getBoolean(6))
    info(s"identity-hypothesis probe missed $missedByIdentity/${ups.size}" +
      " upsamples (why the decimation hypothesis exists)")
    // COMPOSED transform: trim 2 samples THEN upsample 2x (the pirated
    // re-upload that was both clipped and transcoded). Decimation
    // recovers the TRIMMED clip exactly, whose phase-0 keys sit in the
    // phases=4 corpus union (the m12 trim closure) — so the certainty
    // guarantee survives the composition too
    val composed = Multimodal.encodeMediaRows(
        docs.filter(col("doc_id") % 4 === 1 && col("doc_id") % 3 === 0))
      .flatMap { m =>
        for {
          t <- Multimodal.shiftWav(m.content, 2)
          u <- Multimodal.resampleWav2x(t)
        } yield m.copy(media_id = m.media_id + 7000000000L, content = u)
      }
    val composedRows = StreamingOps.intakeResampledLandmarkMatches(
        composed, index)
      .orderBy("media_id").collect().toSeq
    assert(composedRows.nonEmpty)
    composedRows.foreach { r =>
      assert(r.getBoolean(1) && r.getInt(4) > 0 &&
        r.getInt(5) === r.getInt(4) && r.getBoolean(7),
        s"trim+resample composition not certain: $r")
    }
  }

  test("intakeLandmarkMatches at strideMax=2 (w27): streamed == batch; " +
      "2x-downsampled re-uploads flag with certainty through the " +
      "stride-multiplied index, and the strideMax=1 index misses every " +
      "one of them (the motivation, measured)") {
    import spark.implicits._
    implicit val sp = spark
    import graft.operators.Multimodal
    val docs = Tables.load(spark, sf(), "documents")
    val corpus = Multimodal.encodeMediaRows(
      docs.filter(col("doc_id") % 4 === 1 && col("doc_id") % 3 === 0))
    val index2 = StreamingOps.buildLandmarkIndex(corpus, strideMax = 2)
    def arrivals(base: org.apache.spark.sql.DataFrame) =
      Multimodal.encodeMediaRows(base.filter(col("doc_id") % 4 === 1))
        .flatMap { m =>
          if (m.media_id % 3 == 0)
            Multimodal.decimateWav(m.content, 2).map(b =>
              m.copy(media_id = m.media_id + 6000000000L,
                content = b)).toSeq
          else Seq(m)
        }
    val streamed = StreamingOps.runToMemory(spark,
        StreamingOps.intakeLandmarkMatches(
          arrivals(StreamingOps.documentsStream(spark, sf())), index2,
          strideMax = 2),
        "t_downsampled_intake").orderBy("media_id").collect().toSeq
    val batch = StreamingOps.intakeLandmarkMatches(arrivals(docs), index2,
        strideMax = 2)
      .orderBy("media_id").collect().toSeq
    assert(streamed === batch && streamed.nonEmpty)
    // certainty: a downsample's identity keys ARE the original's
    // stride-2 offset-0 keys, which the strideMax=2 index carries
    val downs = batch.filter(_.getLong(0) >= 6000000000L)
    assert(downs.nonEmpty)
    downs.foreach { r =>
      assert(r.getBoolean(1) && r.getInt(2) > 0 &&
        r.getInt(3) === r.getInt(2) && r.getBoolean(4),
        s"downsampled re-upload not certain: $r")
    }
    // the plain (strideMax = 1) index misses them all — the closure is
    // load-bearing, not redundant with the phase union
    val index1 = StreamingOps.buildLandmarkIndex(corpus)
    val missed = StreamingOps.intakeLandmarkMatches(
        arrivals(docs), index1)
      .filter(col("media_id") >= 6000000000L)
      .collect().toSeq
    val caught1 = missed.count(_.getBoolean(4))
    info(s"strideMax=1 index caught $caught1/${missed.size} downsamples " +
      "(why the stride multiplicity exists)")
    assert(caught1 <= missed.size / 10)
    // parameter identity: probing a strideMax=2 artifact as strideMax=1
    // refuses loudly
    assert(intercept[Exception] {
      StreamingOps.intakeLandmarkMatches(arrivals(docs), index2).collect()
    }.getMessage != null)
  }

  test("w25 -> w19 composition (VERDICT r13 #8): trimmed-audio certainty " +
      "flags feed per-domain quota admission the way production intake " +
      "chains them — intake stays zero-state, quota state stays one " +
      "bounded counter per domain, admitted <= cap unconditionally") {
    import spark.implicits._
    implicit val sp = spark
    import graft.operators.Multimodal
    val docs = Tables.load(spark, sf(), "documents")
    val corpus = Multimodal.encodeMediaRows(
      docs.filter(col("doc_id") % 4 === 1 && col("doc_id") % 3 === 0))
    val index = StreamingOps.buildLandmarkIndex(corpus)
    val cap = 3
    // the production chain: decode+probe (stateless) -> drop known
    // content -> per-domain admission (the only stateful stage)
    def chain(base: org.apache.spark.sql.DataFrame) = {
      val flagged = StreamingOps.intakeLandmarkMatches(
        Multimodal.encodeMediaRows(base.filter(col("doc_id") % 4 === 1)),
        index)
      StreamingOps.streamingDomainQuota(
        flagged.filter(col("decode_ok") && !col("suspect"))
          .select(col("media_id").as("doc_id"),
            concat(lit("d"), (col("media_id") % 3).cast("string"))
              .as("domain")),
        "domain", cap).toDF()
    }
    val streamed = StreamingOps.runToMemory(spark,
        chain(StreamingOps.documentsStream(spark, sf())),
        "t_landmark_quota").orderBy("doc_id")
      .as[(Long, String, Boolean, Long)].collect().toSeq
    assert(streamed.nonEmpty)
    // quota invariant: admitted <= cap per domain, unconditionally
    streamed.groupBy(_._2).foreach { case (d, rows) =>
      assert(rows.count(_._3) <= cap, s"domain $d overran the cap")
    }
    // corpus members flag suspect upstream, so they never reach quota
    assert(streamed.forall(r => r._1 % 3 != 0))
    // end-of-stream equality with the batch rank rule (the w19 oracle
    // contract): ROW_NUMBER per domain ordered by doc_id, <= cap admits
    val batchTwin = chain(docs).orderBy("doc_id")
      .as[(Long, String, Boolean, Long)].collect().toSeq
    assert(streamed === batchTwin)
  }

  test("mergePackedIndex: an EMPTY side is the OR identity, not silent " +
      "index loss (ADVICE r12)") {
    import spark.implicits._
    val docs = Tables.load(spark, sf(), "documents")
    val prior = StreamingOps.buildWinnowIndex(
      docs.filter(col("doc_id") % 3 === 0))
    // a delta day where nothing arrived: buildWinnowIndex over zero docs
    // emits ZERO ROWS — the old inner join made the merge empty too,
    // and every downstream probe then reported n_hits = 0 forever
    val emptyDelta = StreamingOps.buildWinnowIndex(
      docs.filter(col("doc_id") < 0))
    assert(emptyDelta.count() === 0)
    val merged = StreamingOps.mergeWinnowIndex(prior, emptyDelta)
    assert(merged.count() === 1)
    assert(merged.select("filter").as[Seq[Long]].head() ===
      prior.select("filter").as[Seq[Long]].head())
    // params survive from the present side; version still bumps (a merge
    // happened in the lineage even if the day was empty)
    assert(merged.select("k", "w", "m", "kHash", "version")
      .as[(Int, Int, Int, Int, Long)].head() === ((20, 8, 1 << 20, 3, 2L)))
    // bootstrap direction: empty prior, real delta
    val boot = StreamingOps.mergeWinnowIndex(emptyDelta, prior)
    assert(boot.select("filter").as[Seq[Long]].head() ===
      prior.select("filter").as[Seq[Long]].head())
    // both sides empty: nothing to index, zero rows — not a fabricated row
    assert(StreamingOps.mergeWinnowIndex(emptyDelta, emptyDelta)
      .count() === 0)
    // band-index path through the same core
    val bPrior = StreamingOps.buildBandIndex(
      Seq((1L, 11, 22, 33, 44)).toDF("media_id", "b0", "b1", "b2", "b3"))
    val bEmpty = StreamingOps.buildBandIndex(
      Seq.empty[(Long, Int, Int, Int, Int)]
        .toDF("media_id", "b0", "b1", "b2", "b3"))
    assert(StreamingOps.mergeBandIndex(bPrior, bEmpty)
      .select("filter").as[Seq[Long]].head() ===
      bPrior.select("filter").as[Seq[Long]].head())
  }

  test("mergeBandIndex: image AND audio band-Bloom artifacts OR-merge to " +
      "the from-scratch build over the union, bit for bit; mismatched " +
      "(m, kHash) merges and probes fail loudly (VERDICT r11 #6)") {
    import spark.implicits._
    implicit val sp = spark
    import graft.operators.Multimodal
    val docs = Tables.load(spark, sf(), "documents")
    // image axis
    val media = Multimodal.encodeMediaRows(
      docs.filter(col("doc_id") % 4 === 0 && col("doc_id") % 3 === 0))
    val bands = Multimodal.imagePHash(media).toDF()
    // corpus ids are multiples of 12 (all even): split on %24 so both
    // version halves are non-empty
    val prior = StreamingOps.buildBandIndex(
      bands.filter(col("media_id") % 24 === 0))
    val delta = StreamingOps.buildBandIndex(
      bands.filter(col("media_id") % 24 =!= 0))
    val merged = StreamingOps.mergeBandIndex(prior, delta)
    val mergedBits = merged.select("filter").as[Seq[Long]].head()
    val scratch = StreamingOps.buildBandIndex(bands)
      .select("filter").as[Seq[Long]].head()
    assert(mergedBits === scratch)
    assert(merged.select("m", "kHash", "version")
      .as[(Int, Int, Long)].head() === ((1 << 20, 3, 2L)))
    // audio axis through the SAME build (the machinery cannot tell)
    val clips = Multimodal.encodeMediaRows(
      docs.filter(col("doc_id") % 4 === 1 && col("doc_id") % 3 === 0))
    val aBands = Multimodal.audioFingerprint(clips).toDF()
    val aMerged = StreamingOps.mergeBandIndex(
        StreamingOps.buildBandIndex(aBands.filter(col("media_id") % 24 === 9)),
        StreamingOps.buildBandIndex(aBands.filter(col("media_id") % 24 =!= 9)))
      .select("filter").as[Seq[Long]].head()
    assert(aMerged === StreamingOps.buildBandIndex(aBands)
      .select("filter").as[Seq[Long]].head())
    // mismatched m: wrong position space — must throw, not mis-probe
    val other = StreamingOps.buildBandIndex(bands, m = 1 << 16)
    assert(intercept[Exception] {
      StreamingOps.mergeBandIndex(prior, other).collect()
    }.getMessage != null)
    val stream = Multimodal.encodeMediaRows(
      docs.filter(col("doc_id") % 4 === 0 && col("doc_id") % 3 =!= 0))
    assert(intercept[Exception] {
      StreamingOps.intakeImagePHashMatchesWith(stream, merged,
        m = 1 << 16).collect()
    }.getMessage != null)
    // and the artifact path equals the direct corpus path on real probes
    val viaArtifact = StreamingOps
      .intakeImagePHashMatchesWith(stream, merged)
      .orderBy("media_id").collect().toSeq
    val direct = StreamingOps.intakeImagePHashMatches(stream, media)
      .orderBy("media_id").collect().toSeq
    assert(viaArtifact === direct && direct.nonEmpty)
  }

  test("self-describing winnow index: probing or merging with mismatched " +
      "parameters FAILS LOUDLY instead of silently mis-counting hits") {
    val docs = Tables.load(spark, sf(), "documents")
    val idx = StreamingOps.buildWinnowIndex(
      docs.filter(col("doc_id") % 3 === 0))
    // probe with the artifact's own parameters: fine
    assert(StreamingOps.intakeWinnowMatchesWith(
      docs.filter(col("doc_id") % 3 =!= 0), idx, minHits = 5).count() > 0)
    // probe with a different m: the Bloom positions would be computed in
    // the wrong space — must throw, not return wrong suspects
    val probeEx = intercept[Exception] {
      StreamingOps.intakeWinnowMatchesWith(
        docs.filter(col("doc_id") % 3 =!= 0), idx,
        m = 1 << 16, minHits = 5).collect()
    }
    assert(probeEx.getMessage != null)
    // merge with a different k: different key space — must throw
    val other = StreamingOps.buildWinnowIndex(
      docs.filter(col("doc_id") % 3 === 1), k = 10)
    val mergeEx = intercept[Exception] {
      StreamingOps.mergeWinnowIndex(idx, other).collect()
    }
    assert(mergeEx.getMessage != null)
    // a pre-r11 artifact (no param columns) still probes unchecked
    val legacy = idx.select("__g", "filter")
    assert(StreamingOps.intakeWinnowMatchesWith(
      docs.filter(col("doc_id") % 3 =!= 0), legacy, minHits = 5)
      .count() > 0)
  }

  test("stateless image-pHash intake: streamed rows equal the identical " +
      "batch computation row for row, corrupt sentinels included") {
    implicit val sp = spark
    import spark.implicits._
    import graft.operators.Multimodal
    val docs = Tables.load(spark, sf(), "documents")
    val corpus = Multimodal.encodeMediaRows(
      docs.filter(col("doc_id") % 4 === 0 && col("doc_id") % 3 === 0))
    def withCorruption(m: Multimodal.MediaRow): Multimodal.MediaRow =
      if (m.media_id % 5 == 3) m.copy(content = m.content.take(7)) else m
    val streamed = StreamingOps.runToMemory(spark,
      StreamingOps.intakeImagePHashMatches(
        Multimodal.encodeMediaRows(
          StreamingOps.documentsStream(spark, sf())
            .filter(col("doc_id") % 4 === 0 && col("doc_id") % 3 =!= 0))
          .map(withCorruption), corpus),
      "t_phash_intake").orderBy("media_id").collect().toSeq
    val batch = StreamingOps.intakeImagePHashMatches(
        Multimodal.encodeMediaRows(
          docs.filter(col("doc_id") % 4 === 0 && col("doc_id") % 3 =!= 0))
          .map(withCorruption), corpus)
      .orderBy("media_id").collect().toSeq
    assert(streamed === batch)
    // the fixture must exercise all three row kinds
    assert(streamed.exists(!_.getBoolean(1)))                  // corrupt
    assert(streamed.exists(r => r.getBoolean(1) && r.getBoolean(3))) // hit
    assert(streamed.exists(r => r.getBoolean(1) && !r.getBoolean(3))) // clean miss
  }

  test("stateless audio-fingerprint intake (w21): streamed rows equal the " +
      "identical batch computation, corrupt sentinels included") {
    implicit val sp = spark
    import spark.implicits._
    import graft.operators.Multimodal
    val docs = Tables.load(spark, sf(), "documents")
    val corpus = Multimodal.encodeMediaRows(
      docs.filter(col("doc_id") % 4 === 1 && col("doc_id") % 3 === 0))
    def withCorruption(m: Multimodal.MediaRow): Multimodal.MediaRow =
      if (m.media_id % 5 == 3) m.copy(content = m.content.take(7)) else m
    val streamed = StreamingOps.runToMemory(spark,
      StreamingOps.intakeAudioFpMatches(
        Multimodal.encodeMediaRows(
          StreamingOps.documentsStream(spark, sf())
            .filter(col("doc_id") % 4 === 1 && col("doc_id") % 3 =!= 0))
          .map(withCorruption), corpus),
      "t_audio_intake").orderBy("media_id").collect().toSeq
    val batch = StreamingOps.intakeAudioFpMatches(
        Multimodal.encodeMediaRows(
          docs.filter(col("doc_id") % 4 === 1 && col("doc_id") % 3 =!= 0))
          .map(withCorruption), corpus)
      .orderBy("media_id").collect().toSeq
    assert(streamed === batch)
    assert(streamed.exists(!_.getBoolean(1)))                  // corrupt
    assert(streamed.exists(r => r.getBoolean(1) && !r.getBoolean(3))) // miss
  }

  test("streamingDomainQuota: per-domain counters persist across " +
      "micro-batches and admitted <= cap holds unconditionally") {
    implicit val sp = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.streamingDomainQuota(
        mem.toDF().toDF("doc_id", "domain"), "domain", cap = 2).toDF()
      .writeStream.format("memory").queryName("t_quota")
      .outputMode("append").start()
    try {
      // batch 1 fills domain a's quota exactly; out-of-order in-batch
      // arrivals must process in doc_id order
      mem.addData((2L, "a"), (1L, "a"))
      q.processAllAvailable()
      // batch 2: domain a is CLOSED (state survived the batch boundary);
      // domain b opens fresh
      mem.addData((3L, "a"), (4L, "b"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("t_quota").orderBy("doc_id")
      .as[(Long, String, Boolean, Long)].collect().toSeq
    assert(rows === Seq(
      (1L, "a", true, 1L), (2L, "a", true, 2L),
      (3L, "a", false, -1L), (4L, "b", true, 1L)))
  }

  test("windowed domain quota (w20): re-admission per event-time window " +
      "across batches, and expired-window state is REMOVED by the " +
      "watermark timeout") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1704067200000000L
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    val q = StreamingOps.streamingDomainQuotaWindowed(
        mem.toDF().toDF("doc_id", "domain", "ts0")
          .withColumn("ts", timestamp_micros(col("ts0"))),
        "domain", "ts", cap = 1, windowSec = 60).toDF()
      .writeStream.format("memory").queryName("t_wquota")
      .outputMode("append").start()
    try {
      // batch 1, window 0: cap 1 — doc 1 admitted, doc 2 rejected
      mem.addData((1L, "a", base + 1000000L), (2L, "a", base + 2000000L))
      q.processAllAvailable()
      // batch 2 jumps two windows ahead: the SAME domain re-admits (the
      // whole point vs w19), and the watermark now passes window 0's end
      mem.addData((3L, "a", base + 130000000L))
      q.processAllAvailable()
      // batch 3 lets the window-0 timeout fire (timeouts are evaluated
      // against the watermark established by the PREVIOUS batch)
      mem.addData((4L, "a", base + 190000000L))
      q.processAllAvailable()
      val removed = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsRemoved).sum
      assert(removed > 0,
        s"expired (domain, window) state was never removed; progress: " +
          s"${q.recentProgress.map(_.stateOperators.map(o =>
            s"rows=${o.numRowsTotal} removed=${o.numRowsRemoved}")
            .mkString(",")).mkString(" | ")}")
    } finally q.stop()
    val rows = spark.table("t_wquota").orderBy("doc_id")
      .as[(Long, String, Long, Boolean, Long)].collect().toSeq
    val w = 60000000L
    assert(rows === Seq(
      (1L, "a", base / w * w, true, 1L),
      (2L, "a", base / w * w, false, -1L),
      (3L, "a", (base + 130000000L) / w * w, true, 1L),
      (4L, "a", (base + 190000000L) / w * w, true, 1L)))
  }

  test("streaming model-score drift equals the batch PSI table (w15 " +
      "end-of-stream = batch)") {
    val got = SparkEntry.queries("w15_stream_score_drift")(spark, sf())
      .collect().toSeq
    // batch truth over the same lake: identical scoring expression via
    // the inventory path is already oracle-replayed; here assert shape +
    // stability essentials — 10 bins, counts sum to each slice's size
    assert(got.size === 10)
    val emb = Tables.load(spark, sf(), "embeddings")
    val nRef = emb.filter(col("vec_id") % 2 === 0).count()
    val nLive = emb.filter(col("vec_id") % 2 === 1).count()
    assert(got.map(_.getLong(1)).sum === nRef)
    assert(got.map(_.getLong(2)).sum === nLive)
    graft.operators.LogReg.unpersistAll()
  }

  test("flatMapGroupsWithState gap detector matches the batch gap count") {
    implicit val s = spark
    val gaps = StreamingOps.runToMemory(spark,
      StreamingOps.streamingGaps(
        StreamingOps.eventsStream(spark, sf()), 1800.0).toDF(), "t_gaps")
    val batchGaps = graft.operators.Windowed
      .gaps(batchEvents, Seq("user_id"), "ts", 1800.0).count()
    assert(gaps.count() === batchGaps)
    assert(gaps.filter(col("gap_sec") <= 1800.0).count() === 0)
  }

  test("streamingOverlapSketch: an EMPTY reference sketch (fresh corpus " +
      "version) reports zero overlap instead of refusing to start") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.streamingOverlapSketch(
        mem.toDF().toDF("doc_id", "text"), Seq.empty, k = 8)
      .writeStream.format("memory").queryName("t_overlap_empty")
      .outputMode("complete").start()
    try {
      mem.addData((1L, "alpha beta gamma delta")); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_overlap_empty")
      .select("stream_k", "m", "n_common", "jaccard_est")
      .as[(Long, Long, Long, Double)].head()
    assert(got._1 === 2L && got._2 === 2L && got._3 === 0L && got._4 === 0.0)
  }

  test("intakeEditDistanceMatches (w23): stateless fuzzy intake — " +
      "insertion-shifted near-copies match via the window index, clean " +
      "docs emit sentinels, and batch == stream") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val pre = "abcdefghijkl" * 4
    val corpus = Seq((100L, pre + " tail one"), (101L, "z" * 60))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (1L, "Q" + pre + " tail one"), // 1 leading insertion -> must match
      (2L, "totally unrelated text that matches nothing at all here"))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.intakeEditDistanceMatches(
        mem.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("t_fuzzy")
      .outputMode("append").start()
    try {
      mem.addData(arrivals.head); q.processAllAvailable()
      mem.addData(arrivals(1)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_fuzzy").orderBy("doc_id", "cand_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(streamed === Seq(
      (1L, 100L, 1L, true),   // the indel near-copy, found + verified
      (2L, -1L, -1L, false))) // clean arrival: sentinel row
    val batch = StreamingOps.intakeEditDistanceMatches(
        arrivals.toDF("doc_id", "text"), corpus)
      .orderBy("doc_id", "cand_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(batch === streamed)
  }

  test("streamingOverlapSketch (w22): KMV state accumulates across " +
      "micro-batches and the final row matches the batch operator " +
      "bit-for-bit") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.CorpusOverlap
    val refDocs = Seq(("r", "alpha beta gamma delta epsilon zeta eta"),
      ("r", "one two three four five six seven eight"))
      .toDF("source", "text")
    val ref = CorpusOverlap.sketches(refDocs, "source", "text", k = 8)
      .head().getSeq[Long](1)
    val b1 = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "nine ten eleven twelve thirteen"))
    val b2 = Seq((3L, "one two three four five"),
      (4L, "alpha beta gamma delta epsilon")) // pure repeat: set-min no-op
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.streamingOverlapSketch(
        mem.toDF().toDF("doc_id", "text"), ref, k = 8)
      .writeStream.format("memory").queryName("t_overlap")
      .outputMode("complete").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_overlap")
      .select("stream_k", "m", "n_common", "jaccard_est")
      .as[(Long, Long, Long, Double)].head()
    // batch replay over the union of both micro-batches
    val all = (b1 ++ b2).toDF("doc_id", "text")
      .withColumn("source", lit("stream"))
    val sk = CorpusOverlap.sketches(all, "source", "text", k = 8)
      .head().getSeq[Long](1)
    val want = CorpusOverlap.overlapMatrix(
        refDocs.select(lit("a_ref").as("source"), col("text"))
          .union(all.select(lit("b_stream").as("source"), col("text"))),
        "source", "text", k = 8)
      .select("m", "n_common", "jaccard_est")
      .as[(Long, Long, Double)].head()
    assert(got._1 === sk.length.toLong)
    assert((got._2, got._3, got._4) === want)
  }
}
