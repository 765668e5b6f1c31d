package graft.queries

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.{TextOps, VectorOps}
import graft.operators.{Dedup, Similarity}
import graft.queries.LlmOracleSql._

/** Text analysis and retrieval: quality/language/token statistics, TF-IDF, BM25, BPE, TextRank, RRF fusion, chunking, NFC, PII redaction, SQL-function surface.
  *
  * Split out of the monolithic LlmQueries (r9 verdict #7) along its
  * family banners; the aggregate inventory, its portable-hash contract
  * scaladoc, and the shared oracle CTE builders live in [[LlmQueries]]
  * and [[LlmOracleSql]].
  */
object LlmTextQueries {
  val defs: ListMap[String, QueryDef] = ListMap(

    // ---- n-gram shingle statistics -------------------------------------
    "q24_shingle_stats" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // countDistinct over exploded shingles stays in codegen;
        // size(array_distinct(...)) would run interpreted and O(n^2)/row
        val counts = docs
          .select(col("doc_id"), explode(TextOps.shingles(col("text"), 3)).as("sh"))
          .groupBy("doc_id")
          .agg(countDistinct(col("sh")).cast("int").as("n_shingles"))
        docs.select(col("doc_id"), TextOps.wordCount(col("text")).as("n_words"))
          .join(counts, Seq("doc_id"), "left_outer")
          .na.fill(0, Seq("n_shingles"))
          .orderBy(col("n_shingles").desc, col("doc_id").asc)
          .limit(10)
      },
      Some(s"""$WordsCte
        , g AS (SELECT doc_id, unnest(range(1, len(ws) - 1)) AS i, ws FROM w),
        sh AS (SELECT doc_id, COUNT(DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS n_shingles
          FROM g GROUP BY doc_id)
        SELECT w.doc_id AS doc_id, CAST(len(w.ws) AS INT) AS n_words,
          CAST(COALESCE(sh.n_shingles, 0) AS INT) AS n_shingles
        FROM w LEFT JOIN sh ON w.doc_id = sh.doc_id
        ORDER BY n_shingles DESC, w.doc_id LIMIT 10""")),

    // ---- text quality scoring ------------------------------------------
    // Corpus-level quality ratios per language. All aggregates are exact
    // integer sums (chars, words, punctuation chars, stopword hits) with ONE
    // final double division — bit-identical across engines with no decimal
    // cast of irrational doubles.
    "q28_text_quality" -> QueryDef(
      (s, dir) => {
        val stop = Seq("the", "a", "and", "of", "to", "in", "is", "data")
        val ws = TextOps.words(col("text"))
        t(s, dir, "documents")
          .select(col("lang"),
            size(ws).as("n_words"),
            length(col("text")).as("n_chars"),
            (length(col("text")) -
              length(regexp_replace(col("text"), TextOps.PunctPattern, "")))
              .as("punct_chars"),
            size(filter(ws, w => lower(w).isInCollection(stop))).as("stop_hits"),
            aggregate(ws, lit(0), (acc, w) => acc + length(w)).as("word_chars"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("total_words"),
            sum(col("punct_chars")).cast("double")
              ./(sum(col("n_chars"))).as("punct_ratio"),
            sum(col("stop_hits")).cast("double")
              ./(sum(col("n_words"))).as("stopword_ratio"),
            sum(col("word_chars")).cast("double")
              ./(sum(col("n_words"))).as("avg_word_len"))
          .orderBy("lang")
      },
      Some(s"""$WordsCte,
        m AS (SELECT lang, len(ws) AS n_words, len(text) AS n_chars,
          len(text) - len(regexp_replace(text, '[.,;:!?()''"-]', '', 'g'))
            AS punct_chars,
          len(list_filter(ws, x -> lower(x) IN
            ('the','a','and','of','to','in','is','data'))) AS stop_hits,
          list_sum(list_transform(ws, x -> len(x))) AS word_chars
        FROM w)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_words) AS BIGINT) AS total_words,
          CAST(SUM(punct_chars) AS DOUBLE)/CAST(SUM(n_chars) AS DOUBLE)
            AS punct_ratio,
          CAST(SUM(stop_hits) AS DOUBLE)/CAST(SUM(n_words) AS DOUBLE)
            AS stopword_ratio,
          CAST(SUM(word_chars) AS DOUBLE)/CAST(SUM(n_words) AS DOUBLE)
            AS avg_word_len
        FROM m GROUP BY lang ORDER BY lang""")),

    // ---- token counting (regex pre-tokenizer) --------------------------
    "q29_token_count" -> QueryDef(
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("source"),
            size(TextOps.regexTokens(col("text"))).as("n_tokens"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            max(col("n_tokens")).as("max_tokens"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')))
          AS BIGINT) AS total_tokens,
        CAST(MAX(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')))
          AS INT) AS max_tokens
        FROM documents GROUP BY source ORDER BY source""")),

    // ---- language-ID heuristic -----------------------------------------
    "q30_langid" -> QueryDef(
      (s, dir) => {
        t(s, dir, "documents")
          .withColumn("predicted", TextOps.langIdHeuristic(col("text")))
          .groupBy("lang", "predicted")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "predicted")
      },
      Some(s"""$WordsCte,
        h AS (SELECT lang,
          len(list_filter(ws, x -> lower(x) IN ('the','and','of','to','a','in','is','that'))) AS en,
          len(list_filter(ws, x -> lower(x) IN ('der','die','das','und','ist','nicht','ein','zu'))) AS de,
          len(list_filter(ws, x -> lower(x) IN ('le','la','les','et','est','un','une','dans'))) AS fr,
          len(list_filter(ws, x -> lower(x) IN ('el','la','los','y','es','un','una','en'))) AS es,
          len(list_filter(ws, x -> lower(x) IN ('的','是','了','在','我','有','和','不'))) AS zh
        FROM w),
        p AS (SELECT lang,
          -- null text -> every marker count NULL -> every WHEN comparison
          -- NULL -> would fall through to ELSE 'de'; say 'und' like the
          -- engine (undetermined is the right label for missing text)
          CASE WHEN en IS NULL OR greatest(en, de, fr, es, zh) = 0 THEN 'und'
               WHEN zh = greatest(en, de, fr, es, zh) THEN 'zh'
               WHEN fr = greatest(en, de, fr, es, zh) THEN 'fr'
               WHEN es = greatest(en, de, fr, es, zh) THEN 'es'
               WHEN en = greatest(en, de, fr, es, zh) THEN 'en'
               ELSE 'de' END AS predicted
        FROM h)
        SELECT lang, predicted, COUNT(*) AS n FROM p
        GROUP BY lang, predicted ORDER BY lang, predicted""")),

    // ---- vocabulary / inverted-index statistics ------------------------
    // The core text-pipeline shuffle shape at 100 TB: explode tokens ->
    // one (term) groupBy with map-side combine. df = distinct-doc count,
    // tf = corpus frequency; top-20 by tf is the Zipf head.
    "q49_vocab_stats" -> QueryDef(
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("doc_id"),
            explode(TextOps.words(lower(col("text")))).as("w"))
          .groupBy("w")
          .agg(countDistinct(col("doc_id")).as("df"),
            count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("w").asc)
          .limit(20)
      },
      Some(s"""$WordsCte,
        tok AS (SELECT doc_id, unnest(list_transform(ws, x -> lower(x)))
          AS w FROM w)
        SELECT w, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
        FROM tok GROUP BY w ORDER BY tf DESC, w LIMIT 20""")),

    // ---- TF-IDF top terms per document ---------------------------------
    // Keyword extraction: score = tf * ln(N/df) over the corpus-wide df
    // table (broadcast-sized by Zipf: distinct vocab << corpus). round(.,6)
    // absorbs the <=1-ulp libm ln() difference between engines.
    "q50_tfidf_terms" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val n = docs.count()
        val tok = docs.select(col("doc_id"),
          explode(TextOps.words(lower(col("text")))).as("w"))
        val df = tok.groupBy("w")
          .agg(countDistinct(col("doc_id")).as("df"))
        val tf = tok.filter(col("doc_id") < 10)
          .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        val scored = tf.join(broadcast(df), "w")
          .withColumn("tfidf",
            round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
        scored
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
              .orderBy(col("tfidf").desc, col("w").asc)))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("w"), col("tf"), col("df"),
            col("tfidf"), col("rank"))
          .orderBy("doc_id", "rank")
      },
      Some(s"""$WordsCte,
        tok AS (SELECT doc_id, unnest(list_transform(ws, x -> lower(x)))
          AS w FROM w),
        n AS (SELECT COUNT(*) AS n FROM documents),
        df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w),
        tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
          WHERE doc_id < 10 GROUP BY 1, 2),
        scored AS (SELECT tf.doc_id, tf.w, tf.tf, df.df,
            ROUND(tf.tf * LN(CAST((SELECT n FROM n) AS DOUBLE) / df.df), 6)
              AS tfidf
          FROM tf JOIN df ON tf.w = df.w),
        r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, w) AS INT) AS rank
          FROM scored)
        SELECT doc_id, w, tf, df, tfidf, rank
        FROM r WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // ---- bigram LM cross-entropy scoring (perplexity filter) -----------
    // Train an add-one-smoothed bigram model on the corpus (one explode ->
    // (w1,w2) and unigram counts, both Zipf-bounded), then score every
    // document: H(doc) = -(1/n) sum ln p(w2|w1) — the KenLM-style quality
    // filter. Model tables broadcast into the doc-pair join (at 100 TB the
    // bigram table co-partitions on the pair instead). ln terms floor to
    // 1e-9 longs (q61 discipline); per-language exact means.
    "q74_bigram_entropy" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = docs.select(col("doc_id"), col("lang"),
          explode(TextOps.shingles(lower(col("text")), 2)).as("pair"))
        val toks = docs.select(
          explode(TextOps.words(lower(col("text")))).as("w"))
        val vocab = toks.agg(countDistinct(col("w"))).head.getLong(0)
        val big = pairs.groupBy("pair").agg(count(lit(1)).as("c12"))
        val uni = toks.groupBy("w").agg(count(lit(1)).as("c1"))
        val scored = pairs
          .join(broadcast(big), "pair")
          .withColumn("w1", split(col("pair"), " ").getItem(0))
          .join(broadcast(uni), col("w1") === col("w"))
          .withColumn("lp9", floor(
            log((col("c12") + 1.0) / (col("c1") + vocab.toDouble)) * -1e9)
            .cast("long"))
        // pooled (token-weighted) cross-entropy per language: exact long
        // sums, ONE division at the end — a per-doc-mean formulation would
        // need a double->decimal re-cast whose rounding differs between
        // engines (q33 scaladoc)
        scored.groupBy("lang")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_pairs"),
            (sum(col("lp9")).cast("double") / count(lit(1)) / 1e9)
              .as("cross_entropy"))
          .orderBy("lang")
      },
      Some(s"""$WordsCte,
        lw AS (SELECT doc_id, lang, list_transform(ws, x -> lower(x)) AS lws
          FROM w),
        prs AS (SELECT doc_id, lang, lws[i] || ' ' || lws[i+1] AS pair,
            lws[i] AS w1
          FROM (SELECT doc_id, lang, lws,
            CAST(unnest(range(1, len(lws))) AS INT) AS i FROM lw)),
        toks AS (SELECT unnest(lws) AS w FROM lw),
        v AS (SELECT COUNT(DISTINCT w) AS vocab FROM toks),
        big AS (SELECT pair, COUNT(*) AS c12 FROM prs GROUP BY pair),
        uni AS (SELECT w, COUNT(*) AS c1 FROM toks GROUP BY w),
        sc AS (SELECT prs.doc_id, prs.lang,
            CAST(FLOOR(LN((big.c12 + 1.0) /
              (uni.c1 + CAST((SELECT vocab FROM v) AS DOUBLE))) * -1e9)
              AS BIGINT) AS lp9
          FROM prs JOIN big ON prs.pair = big.pair
            JOIN uni ON prs.w1 = uni.w)
        SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
          COUNT(*) AS n_pairs,
          CAST(SUM(lp9) AS DOUBLE) / COUNT(*) / 1e9 AS cross_entropy
        FROM sc GROUP BY lang ORDER BY lang""")),

    // ---- BPE vocabulary learning (multi-round merge training) ----------
    // Three rounds of byte-pair-encoding over the corpus-frequency word
    // table (operators/Bpe.scala): weighted pair counting is the
    // distributed step; merges apply with exact leftmost-greedy run
    // semantics via windows (never substring replace). The oracle replays
    // ALL THREE ROUNDS as a CTE chain — argmax, merge application, and the
    // post-merge corpus token totals hash-match.
    "q70_bpe_merges" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        import graft.operators.Bpe
        val words = t(s, dir, "documents")
          .select(explode(TextOps.words(lower(col("text")))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt"))
          .withColumn("seq", Bpe.charSeq(col("word")))
        Bpe.fit(words, 3)
          .toDF("round", "pair", "pair_count", "total_symbols")
          .orderBy("round")
      },
      Some(BpeOracleSql)),

    // ---- character-entropy quality metric ------------------------------
    // Unigram character entropy per document (low entropy = repetitive/
    // degenerate text, a classic corpus-quality signal), averaged per
    // source. Explode chars -> (doc, char) counts -> per-term
    // floor(-(p)ln(p) * 1e9) longs -> exact sums: order-independent, and
    // the SUMS are exact. The per-term floor is engine-identical unless a
    // term lands within ~1 ulp of an integer AND the JVM's and DuckDB's
    // ln() (neither correctly rounded) disagree there — truncation does
    // not absorb noise AT a boundary, it only makes the hit set measure-
    // ~1e-7 per corpus. Accepted residual risk, same as every rounded
    // transcendental in this inventory (q50's round(.,6) included).
    "q61_char_entropy" -> QueryDef(
      (s, dir) => {
        // n > 0: entropy of a zero-length text is undefined, and the c/n
        // term would divide by zero under ANSI mode (split("", "") still
        // yields one empty element, so the explode does NOT drop empties)
        val cnt = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), length(col("text")).as("n"),
            explode(split(col("text"), "")).as("ch"))
          .filter(col("n") > 0)
          .groupBy("doc_id", "source", "n", "ch")
          .agg(count(lit(1)).as("c"))
        val h = cnt.groupBy("doc_id", "source")
          .agg(sum(floor((col("c") / col("n")) * log(col("c") / col("n"))
              * lit(-1.0) * 1e9).cast("long")).as("h9"),
            count(lit(1)).as("ndc"))
        h.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            (sum(col("h9")).cast("double") / count(lit(1)) / 1e9)
              .as("avg_entropy"),
            (sum(col("ndc")).cast("double") / count(lit(1)))
              .as("avg_distinct_chars"))
          .orderBy("source")
      },
      Some("""WITH ce AS (SELECT doc_id, source, len(text) AS n,
          unnest(string_split_regex(text, '')) AS ch FROM documents
          WHERE len(text) > 0),
        cnt AS (SELECT doc_id, source, n, ch, COUNT(*) AS c
          FROM ce GROUP BY doc_id, source, n, ch),
        h AS (SELECT doc_id, source,
            SUM(CAST(FLOOR((c / n) * LN(c / n) * -1.0 * 1e9) AS BIGINT))
              AS h9,
            COUNT(*) AS ndc
          FROM cnt GROUP BY doc_id, source)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(h9) AS DOUBLE) / COUNT(*) / 1e9 AS avg_entropy,
          CAST(SUM(ndc) AS DOUBLE) / COUNT(*) AS avg_distinct_chars
        FROM h GROUP BY source ORDER BY source""")),

    // ---- repetition quality signals (Gopher-style) ---------------------
    // Per-document repetition metrics used by LLM corpus-quality filters:
    // fraction of tokens that are the single most-frequent word, fraction
    // of bigram instances that are the top bigram, fraction of trigram
    // instances whose trigram occurs more than once. One tagged explode
    // (k=1,2,3 shingles as struct(k, sh)) -> one (doc,k,sh) count -> per-
    // (doc,k) partial aggregates -> per-language exact means (1e-9 floor-
    // scaled longs). Single shuffle chain, all partial-aggregable; the
    // short `lang` tag rides the explode instead of a doc-keyed join back.
    // The word array is bound ONCE per row (letCol) and all three shingle
    // sizes + the min-length gate derive from it — the naive form re-runs
    // the whitespace split four times per document. Short docs yield an
    // empty array, which explode drops (same rows as the length filter).
    "q55_repetition_quality" -> QueryDef(
      (s, dir) => {
        def tagged(ws: org.apache.spark.sql.Column, k: Int) =
          transform(TextOps.shinglesOf(ws, k),
            x => struct(lit(k).as("k"), x.as("sh")))
        val sh = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            explode(TextOps.letCol(TextOps.words(lower(col("text")))) { ws =>
              when(size(ws) >= 3,
                flatten(array(tagged(ws, 1), tagged(ws, 2), tagged(ws, 3))))
                .otherwise(array().cast("array<struct<k:int,sh:string>>"))
            }).as("t"))
          .select(col("doc_id"), col("lang"),
            col("t.k").as("k"), col("t.sh").as("sh"))
        val perDoc = sh.groupBy("doc_id", "lang", "k", "sh")
          .agg(count(lit(1)).as("c"))
          .groupBy("doc_id", "lang", "k")
          .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"),
            sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup"))
        val m = perDoc.groupBy("doc_id", "lang")
          .agg(
            max(when(col("k") === 1, col("mx") / col("tot"))).as("topw"),
            max(when(col("k") === 2, col("mx") / col("tot"))).as("topb"),
            max(when(col("k") === 3, col("dup") / col("tot"))).as("dupt"))
        m.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            (sum(floor(col("topw") * 1e9).cast("long")).cast("double")
              / count(lit(1)) / 1e9).as("avg_top_word_frac"),
            (sum(floor(col("topb") * 1e9).cast("long")).cast("double")
              / count(lit(1)) / 1e9).as("avg_top_bigram_frac"),
            (sum(floor(col("dupt") * 1e9).cast("long")).cast("double")
              / count(lit(1)) / 1e9).as("avg_dup_trigram_frac"))
          .orderBy("lang")
      },
      Some(s"""$WordsCte,
        lw AS (SELECT doc_id, lang, list_transform(ws, x -> lower(x)) AS lws
          FROM w WHERE len(ws) >= 3),
        sh AS (
          SELECT doc_id, lang, 1 AS k, unnest(lws) AS sh FROM lw
          UNION ALL
          SELECT doc_id, lang, 2, unnest(list_transform(range(1, len(lws)),
            i -> lws[i] || ' ' || lws[i+1])) FROM lw
          UNION ALL
          SELECT doc_id, lang, 3, unnest(list_transform(range(1, len(lws) - 1),
            i -> lws[i] || ' ' || lws[i+1] || ' ' || lws[i+2])) FROM lw),
        cnt AS (SELECT doc_id, lang, k, sh, COUNT(*) AS c
          FROM sh GROUP BY doc_id, lang, k, sh),
        pd AS (SELECT doc_id, lang, k, MAX(c) AS mx, SUM(c) AS tot,
            SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
          FROM cnt GROUP BY doc_id, lang, k),
        m AS (SELECT doc_id, lang,
            MAX(CASE WHEN k = 1 THEN mx / tot END) AS topw,
            MAX(CASE WHEN k = 2 THEN mx / tot END) AS topb,
            MAX(CASE WHEN k = 3 THEN dup / tot END) AS dupt
          FROM pd GROUP BY doc_id, lang)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(CAST(FLOOR(topw * 1e9) AS BIGINT)) AS DOUBLE)
            / COUNT(*) / 1e9 AS avg_top_word_frac,
          CAST(SUM(CAST(FLOOR(topb * 1e9) AS BIGINT)) AS DOUBLE)
            / COUNT(*) / 1e9 AS avg_top_bigram_frac,
          CAST(SUM(CAST(FLOOR(dupt * 1e9) AS BIGINT)) AS DOUBLE)
            / COUNT(*) / 1e9 AS avg_dup_trigram_frac
        FROM m GROUP BY lang ORDER BY lang""")),

    // ---- BM25 keyword search (inverted-index retrieval) ----------------
    // Okapi BM25 (k1=1.2, b=0.75) over the corpus for a 3-term query with
    // one rare discriminative term. Plan: doc length is a per-row size()
    // (no explode needed); the token explode is filtered to the query
    // terms BEFORE the (doc,term) aggregation, so the shuffle carries only
    // matching postings; df and the per-term idf table are query-sized and
    // broadcast. Per-term score contributions floor to 1e-9-scaled longs
    // so the per-doc sum is order-independent (q33 discipline; the ln()
    // floor-boundary caveat documented at q61 applies here too). Float
    // literals (2.2, 1.2, 0.25, 0.75) are written identically in both
    // engines — 1.2+1.0 in binary is NOT the double literal 2.2.
    "q54_bm25_search" -> QueryDef(
      (s, dir) => {
        bm25Scored(s, dir, Seq("dup", "spark", "query"))
          .withColumn("score", col("score9") / 1e9)
          .orderBy(col("score9").desc, col("doc_id"))
          .limit(15)
          .select("doc_id", "n_terms", "score9", "score")
      },
      Some(s"""$WordsCte,
        d AS (SELECT doc_id, list_transform(ws, x -> lower(x)) AS lws FROM w),
        stats AS (SELECT COUNT(*) AS n,
          CAST(SUM(len(lws)) AS DOUBLE)/COUNT(*) AS avgdl FROM d),
        tf AS (SELECT doc_id, len(lws) AS dl, w, COUNT(*) AS tf
          FROM (SELECT doc_id, lws, unnest(lws) AS w FROM d)
          WHERE w IN ('dup', 'spark', 'query') GROUP BY 1, 2, 3),
        dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        scored AS (SELECT tf.doc_id,
            CAST(FLOOR(LN(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5))
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))
              * 1e9) AS BIGINT) AS contrib9
          FROM tf CROSS JOIN stats JOIN dfq ON tf.w = dfq.w),
        agg AS (SELECT doc_id, COUNT(*) AS n_terms, SUM(contrib9) AS score9
          FROM scored GROUP BY doc_id)
        SELECT doc_id, n_terms, CAST(score9 AS BIGINT) AS score9,
          CAST(score9 AS BIGINT) / 1e9 AS score
        FROM agg ORDER BY score9 DESC, doc_id LIMIT 15""")),

    // ---- SQL-endpoint coverage of the graft_* function surface ---------
    // q48 proves the dialect-portable endpoint (one SQL text, both
    // engines verbatim); THIS query grades the ENGINE-SPECIFIC SQL
    // surface — the registered graft_* functions, including the
    // codegen'd graft_shingles expression — through spark.sql, with the
    // oracle replicating each function's semantics in DuckDB (VERDICT r4
    // #7: the SQL path of the custom expressions must be graded too, not
    // just the Column DSL).
    "q90_sql_graft_surface" -> QueryDef(
      (s, dir) => {
        Tables.registerViews(s, dir)
        graft.functions.SqlFunctions.registerAll(s)
        s.sql("""SELECT d.doc_id,
            size(graft_shingles(lower(d.text), 3)) AS n_shingles,
            try_element_at(graft_shingles(lower(d.text), 3), 1)
              AS first_shingle,
            graft_token_count(d.text) AS n_words,
            graft_hash48(lower(d.text)) AS h48,
            round(graft_cosine(e.embedding, reverse(e.embedding)), 4)
              AS rev_cos
          FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
          ORDER BY d.doc_id LIMIT 30""")
      },
      Some("""WITH w AS (SELECT doc_id,
          list_filter(string_split_regex(lower(text), '\s+'),
            x -> len(x) > 0) AS ws,
          list_filter(string_split_regex(text, '\s+'),
            x -> len(x) > 0) AS tws,
          lower(text) AS lt
          FROM documents),
        f AS (SELECT doc_id,
          CAST(CASE WHEN lt IS NULL THEN NULL
            ELSE GREATEST(len(ws) - 2, 0) END AS INT) AS n_shingles,
          CASE WHEN len(ws) >= 3
            THEN ws[1] || ' ' || ws[2] || ' ' || ws[3] END AS first_shingle,
          CAST(len(tws) AS INT) AS n_words,
          CAST(('0x' || substr(md5(lt), 1, 12)) AS BIGINT) AS h48
          FROM w),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings)
        SELECT f.doc_id, n_shingles, first_shingle, n_words, h48,
          ROUND(list_dot_product(v, list_reverse(v)) /
            (sqrt(list_dot_product(v, v)) *
             sqrt(list_dot_product(list_reverse(v), list_reverse(v)))), 4)
            AS rev_cos
        FROM f JOIN e ON f.doc_id = e.vec_id
        ORDER BY f.doc_id LIMIT 30""")),

    // ---- TextRank keyword extraction (iterative weighted PageRank) ------
    // operators/TextRank: damping 0.85, 3 rounds of QUANTIZED PageRank
    // over the word co-occurrence graph — per-edge contributions floor to
    // 1e12-scaled longs before summing, so every round is an exact long
    // aggregation and DuckDB replays all 3 rounds as unrolled CTEs. The
    // damping complement is written (1.0 - 0.85) in BOTH engines — the
    // literal 0.15 is a DIFFERENT double (SCALE.md float rule 3).
    "q96_textrank_keywords" -> QueryDef(
      (s, dir) => {
        graft.operators.TextRank
          .keywordRank(t(s, dir, "documents"), "text", iters = 3)
          .withColumn("rank", col("rank12") / 1e12)
          .orderBy(col("rank12").desc, col("word"))
          .limit(15)
          .select("word", "rank12", "rank")
      },
      Some("""WITH g AS (SELECT list_filter(string_split_regex(lower(text),
            '\s+'), x -> len(x) > 0) AS ws FROM documents),
        bg AS (SELECT ws[i] AS a, ws[i+1] AS b
          FROM g, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t),
        ed AS (SELECT src, dst, COUNT(*) AS w FROM (
            SELECT a AS src, b AS dst FROM bg
            UNION ALL SELECT b, a FROM bg)
          GROUP BY 1, 2),
        wo AS (SELECT src, SUM(w) AS wout FROM ed GROUP BY src),
        nn AS (SELECT COUNT(*) AS n FROM wo),
        p0 AS (SELECT src AS word, CAST(FLOOR(1e12 / n) AS BIGINT) AS rank12
          FROM wo, nn),
        p1 AS (SELECT ed.dst AS word,
            CAST(SUM(CAST(FLOOR(0.85 * p.rank12 * ed.w / wo.wout)
              AS BIGINT)) AS BIGINT)
            + (SELECT CAST(FLOOR((1.0 - 0.85) * 1e12 / n) AS BIGINT) FROM nn)
              AS rank12
          FROM ed JOIN wo USING (src) JOIN p0 p ON p.word = ed.src
          GROUP BY ed.dst),
        p2 AS (SELECT ed.dst AS word,
            CAST(SUM(CAST(FLOOR(0.85 * p.rank12 * ed.w / wo.wout)
              AS BIGINT)) AS BIGINT)
            + (SELECT CAST(FLOOR((1.0 - 0.85) * 1e12 / n) AS BIGINT) FROM nn)
              AS rank12
          FROM ed JOIN wo USING (src) JOIN p1 p ON p.word = ed.src
          GROUP BY ed.dst),
        p3 AS (SELECT ed.dst AS word,
            CAST(SUM(CAST(FLOOR(0.85 * p.rank12 * ed.w / wo.wout)
              AS BIGINT)) AS BIGINT)
            + (SELECT CAST(FLOOR((1.0 - 0.85) * 1e12 / n) AS BIGINT) FROM nn)
              AS rank12
          FROM ed JOIN wo USING (src) JOIN p2 p ON p.word = ed.src
          GROUP BY ed.dst)
        SELECT word, rank12, rank12 / 1e12 AS rank
        FROM p3 ORDER BY rank12 DESC, word LIMIT 15""")),

    // ---- Unicode NFC canonicalization ----------------------------------
    // The codegen'd NfcNormalize expression (expressions/TextExpressions):
    // canonicalize before hashing so precomposed and combining-mark forms
    // of the same text dedup together. The ASCII fixture is augmented
    // relationally with both forms of 'café' (q91 discipline: chr-built
    // in the oracle, \\u-escaped in the engine — identical codepoints),
    // so the grade is non-degenerate: decomposed rows MUST change under
    // NFC, precomposed and ASCII rows must not, and the normalized-text
    // checksum pins the exact output bytes.
    "q95_nfc_normalize" -> QueryDef(
      (s, dir) => {
        import graft.functions.expressions.TextExpressions
        // escape-built so no editor/toolchain can silently normalize the
        // source: %3==0 decomposed (e + U+0301), %3==1 precomposed U+00E9
        val aug = t(s, dir, "documents").withColumn("t2",
          concat(col("text"),
            when(col("doc_id") % 3 === 0, lit(" cafe\u0301 plan"))
              .otherwise(lit("")),
            when(col("doc_id") % 3 === 1, lit(" caf\u00e9 plan"))
              .otherwise(lit(""))))
        aug.select(col("source"), col("t2"),
            TextExpressions.nfcNormalize(col("t2")).as("norm"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum((col("norm") === col("t2")).cast("long")).as("n_unchanged"),
            sum(Dedup.md5Hash48(col("norm"))).as("norm_checksum"))
          .orderBy("source")
      },
      Some("""WITH a AS (SELECT source, text ||
          CASE WHEN doc_id % 3 = 0
            THEN ' caf' || chr(101) || chr(769) || ' plan' ELSE '' END ||
          CASE WHEN doc_id % 3 = 1
            THEN ' caf' || chr(233) || ' plan' ELSE '' END AS t2
          FROM documents),
        n AS (SELECT source, t2, nfc_normalize(t2) AS norm FROM a)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN norm = t2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_unchanged,
          CAST(SUM(CAST(('0x' || substr(md5(norm), 1, 12)) AS BIGINT))
            AS BIGINT) AS norm_checksum
        FROM n GROUP BY source ORDER BY source""")),

    // ---- RAG chunking: overlapping sliding windows ----------------------
    // TextOps.slidingChunks (size 64, stride 48 => 16-word overlap): the
    // retrieval-ingestion counterpart of q77's training-sequence packing.
    // Graded per source on chunk counts, tail behavior (max/min chunk
    // words), and a summed md5-48 checksum of every chunk string — the
    // oracle rebuilds each window with list slicing, so boundary semantics
    // (total coverage, short tail, empty doc -> zero chunks) are
    // hash-checked, not trusted.
    "q94_rag_chunks" -> QueryDef(
      (s, dir) => {
        val chunks = t(s, dir, "documents")
          .select(col("source"),
            explode(TextOps.slidingChunks(col("text"), 64, 48)).as("chunk"))
        chunks
          .select(col("source"), Dedup.md5Hash48(col("chunk")).as("h"),
            TextOps.wordCount(col("chunk")).as("cw"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_chunks"),
            max(col("cw")).as("max_chunk_words"),
            min(col("cw")).as("min_chunk_words"),
            sum(col("h")).as("chunk_checksum"))
          .orderBy("source")
      },
      Some(s"""$WordsCte,
        k AS (SELECT source, ws,
            (GREATEST(len(ws) - 64, 0) + 47) // 48 AS kmax
          FROM w WHERE len(ws) > 0),
        c AS (SELECT source,
            array_to_string(ws[ki*48 + 1 : ki*48 + 64], ' ') AS chunk
          FROM k, LATERAL (SELECT unnest(range(0, kmax + 1)) AS ki) t),
        h AS (SELECT source,
            CAST(('0x' || substr(md5(chunk), 1, 12)) AS BIGINT) AS h,
            len(list_filter(string_split_regex(chunk, '\\s+'),
              x -> len(x) > 0)) AS cw
          FROM c)
        SELECT source, COUNT(*) AS n_chunks,
          CAST(MAX(cw) AS INT) AS max_chunk_words,
          CAST(MIN(cw) AS INT) AS min_chunk_words,
          CAST(SUM(h) AS BIGINT) AS chunk_checksum
        FROM h GROUP BY source ORDER BY source""")),

    // ---- hybrid retrieval: BM25 + vector KNN via reciprocal-rank fusion -
    // The standard two-tower serving shape: a lexical ranked list (the q54
    // BM25 scorer) and a semantic ranked list (cosine to a query vector,
    // here embedding 0) fuse with RRF: score = sum over lists of
    // 1/(60 + rank). Per-list contributions floor-scale to longs so the
    // fusion sum is order-independent and engine-exact; the ranking
    // windows run AFTER orderBy(...).limit(20) (TakeOrdered) so they sort
    // 20 rows, never the corpus — same pattern as KMeans.seedCentroids.
    // Docs appearing in only one list still surface (full outer fusion).
    "q93_hybrid_rrf" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val lex = bm25Scored(s, dir, Seq("dup", "spark", "query"))
          .orderBy(col("score9").desc, col("doc_id")).limit(20)
          .withColumn("lex_rank", row_number()
            .over(Window.orderBy(col("score9").desc, col("doc_id"))))
          .select("doc_id", "lex_rank")
        val emb = t(s, dir, "embeddings")
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"))
        val sem = emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            floor(VectorOps.cosine(col("embedding"), col("qv")) * 1e9)
              .cast("long").as("cos9"))
          .orderBy(col("cos9").desc, col("doc_id")).limit(20)
          .withColumn("sem_rank", row_number()
            .over(Window.orderBy(col("cos9").desc, col("doc_id"))))
          .select("doc_id", "sem_rank")
        lex.join(sem, Seq("doc_id"), "full_outer")
          .withColumn("rrf9",
            coalesce(floor(lit(1e9) / (col("lex_rank") + 60)).cast("long"),
              lit(0L)) +
            coalesce(floor(lit(1e9) / (col("sem_rank") + 60)).cast("long"),
              lit(0L)))
          .orderBy(col("rrf9").desc, col("doc_id"))
          .limit(15)
          .select("doc_id", "lex_rank", "sem_rank", "rrf9")
      },
      Some(s"""$WordsCte,
        d AS (SELECT doc_id, list_transform(ws, x -> lower(x)) AS lws FROM w),
        stats AS (SELECT COUNT(*) AS n,
          CAST(SUM(len(lws)) AS DOUBLE)/COUNT(*) AS avgdl FROM d),
        tf AS (SELECT doc_id, len(lws) AS dl, tw.w, COUNT(*) AS tf
          FROM (SELECT doc_id, lws, unnest(lws) AS w FROM d) tw
          WHERE tw.w IN ('dup', 'spark', 'query') GROUP BY 1, 2, 3),
        dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        scored AS (SELECT tf.doc_id,
            CAST(FLOOR(LN(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5))
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))
              * 1e9) AS BIGINT) AS contrib9
          FROM tf CROSS JOIN stats JOIN dfq ON tf.w = dfq.w),
        lexs AS (SELECT doc_id, SUM(contrib9) AS score9
          FROM scored GROUP BY doc_id),
        lex AS (SELECT doc_id, CAST(ROW_NUMBER() OVER
            (ORDER BY score9 DESC, doc_id) AS INT) AS lex_rank
          FROM lexs ORDER BY score9 DESC, doc_id LIMIT 20),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
        sems AS (SELECT vec_id AS doc_id,
            CAST(FLOOR(list_dot_product(v, q) /
              (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q, q)))
              * 1e9) AS BIGINT) AS cos9
          FROM e CROSS JOIN qv WHERE vec_id <> 0),
        sem AS (SELECT doc_id, CAST(ROW_NUMBER() OVER
            (ORDER BY cos9 DESC, doc_id) AS INT) AS sem_rank
          FROM sems ORDER BY cos9 DESC, doc_id LIMIT 20),
        fused AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
            lex_rank, sem_rank,
            COALESCE(CAST(FLOOR(1e9 / (lex_rank + 60)) AS BIGINT), 0) +
            COALESCE(CAST(FLOOR(1e9 / (sem_rank + 60)) AS BIGINT), 0) AS rrf9
          FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
        SELECT doc_id, lex_rank, sem_rank, rrf9
        FROM fused ORDER BY rrf9 DESC, doc_id LIMIT 15""")),

    // ---- PII detection / redaction --------------------------------------
    // The standard pre-training scrub: count + redact email/IPv4 spans
    // (TextOps.redactPii — patterns restricted to the Java-regex/RE2
    // common subset so DuckDB replays them verbatim). The fixture text is
    // synthetic and PII-free, so the query INJECTS deterministic PII
    // relationally — every 5th doc gains an email, every 7th an IPv4,
    // built from doc_id with the identical expression in the oracle —
    // making the grade non-degenerate (the m01 jpeg pattern: fixture
    // augmentation is relational, the OPERATOR is what is graded). The
    // redaction checksum (summed md5-48 of redacted text) proves the
    // rewrite is byte-identical, not just the counts. Map-side only: the
    // single shuffle is the per-source aggregation.
    "q91_pii_redact" -> QueryDef(
      (s, dir) => {
        val aug = t(s, dir, "documents").withColumn("t2",
          concat(col("text"),
            when(col("doc_id") % 5 === 0,
              concat(lit(" contact user"), col("doc_id").cast("string"),
                lit("@example.com for details"))).otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              concat(lit(" logged from 10.0."),
                (col("doc_id") % 256).cast("string"), lit("."),
                (col("doc_id") % 100).cast("string"))).otherwise(lit(""))))
        aug.select(col("source"),
            TextOps.piiEmailCount(col("t2")).as("ne"),
            TextOps.piiIpCount(col("t2")).as("ni"),
            Dedup.md5Hash48(TextOps.redactPii(col("t2"))).as("h"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ne")).as("n_emails"),
            sum(col("ni")).as("n_ips"),
            sum(when(col("ne") + col("ni") > 0, 1L).otherwise(0L))
              .as("n_docs_with_pii"),
            sum(col("h")).as("redact_checksum"))
          .orderBy("source")
      },
      Some("""WITH a AS (SELECT source, text ||
          CASE WHEN doc_id % 5 = 0 THEN ' contact user'
            || CAST(doc_id AS VARCHAR) || '@example.com for details'
            ELSE '' END ||
          CASE WHEN doc_id % 7 = 0 THEN ' logged from 10.0.'
            || CAST(doc_id % 256 AS VARCHAR) || '.'
            || CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS t2
          FROM documents),
        r AS (SELECT source,
          len(regexp_extract_all(t2,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
          len(regexp_extract_all(t2,
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ni,
          regexp_replace(regexp_replace(t2,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
              '<EMAIL>', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS red
          FROM a)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(ne) AS BIGINT) AS n_emails,
          CAST(SUM(ni) AS BIGINT) AS n_ips,
          CAST(SUM(CASE WHEN ne + ni > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_docs_with_pii,
          CAST(SUM(CAST(('0x' || substr(md5(red), 1, 12)) AS BIGINT))
            AS BIGINT) AS redact_checksum
        FROM r GROUP BY source ORDER BY source""")),

    // ---- BPE tokenizer application (encode with the learned merges) ----
    // The other half of q70: learn 3 merges, re-apply them to the distinct
    // word table (vocab-sized, Zipf-bounded — NOT the corpus), and encode
    // the corpus by broadcast-joining word -> post-merge token count.
    // Reports per-source chars/BPE-tokens compression. The oracle replays
    // the full 3-round fit (bpeRoundSql chain) and the same join.
    "q81_bpe_encode" -> QueryDef(
      (s, dir) => {
        import graft.operators.Bpe
        val tokens = t(s, dir, "documents")
          .select(col("source"),
            explode(TextOps.words(lower(col("text")))).as("word"))
        val words = tokens.groupBy("word").agg(count(lit(1)).as("cnt"))
          .withColumn("seq", Bpe.charSeq(col("word")))
        // fitWithSeqs hands back the fit's own final merged table — no
        // replay of the three merge passes. It stays persisted until the
        // encode job has run; ownership passes to Bpe's registry
        // (released by the harness's per-query drain)
        val (_, seqs) = Bpe.fitWithSeqs(words, 3)
        Bpe.track(seqs)
        val wordLens = seqs.select(col("word"),
          size(split(col("seq"), " ")).as("ntok"))
        tokens.join(broadcast(wordLens), "word")
          .groupBy("source")
          .agg(count(lit(1)).as("n_words"),
            sum("ntok").as("n_bpe_tokens"),
            sum(length(col("word"))).as("n_chars"))
          .withColumn("compression",
            col("n_chars").cast("double") / col("n_bpe_tokens"))
          .orderBy("source")
      },
      Some(s"""$WordsCte,
        tok AS (SELECT source, unnest(list_transform(ws, x -> lower(x)))
          AS word FROM w),
        s0 AS (SELECT word, COUNT(*) AS cnt,
            trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq
          FROM tok GROUP BY word),
        ${(1 to 3).map(bpeRoundSql).mkString(",\n        ")},
        wl AS (SELECT word, len(string_split(seq, ' ')) AS ntok FROM s3)
        SELECT source, COUNT(*) AS n_words,
          CAST(SUM(wl.ntok) AS BIGINT) AS n_bpe_tokens,
          CAST(SUM(len(tok.word)) AS BIGINT) AS n_chars,
          CAST(SUM(len(tok.word)) AS DOUBLE) / SUM(wl.ntok) AS compression
        FROM tok JOIN wl USING (word)
        GROUP BY source ORDER BY source"""))
  )
}
