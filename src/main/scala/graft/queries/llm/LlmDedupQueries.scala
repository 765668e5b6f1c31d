package graft.queries

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.{TextOps, VectorOps}
import graft.operators.{Dedup, Similarity}
import graft.queries.LlmOracleSql._

/** Deduplication: exact / MinHash / SimHash / Jaccard pairs and clusters, repeated spans, winnowing, SemDeDup, decontamination, boilerplate/passages, canonical representatives.
  *
  * Split out of the monolithic LlmQueries (r9 verdict #7) along its
  * family banners; the aggregate inventory, its portable-hash contract
  * scaladoc, and the shared oracle CTE builders live in [[LlmQueries]]
  * and [[LlmOracleSql]].
  */
object LlmDedupQueries {

  /** Filesystem-safe artifact key for a dataset dir: the FULL path with
    * non-portable characters folded to '_' — injective enough that two
    * different dataset dirs can never share an artifact (ADVICE r11:
    * the former Int hashCode could collide and silently cross-
    * contaminate; the sanitization only conflates paths differing in
    * punctuation AT the same position, which real sf-dir layouts never
    * do).
    */
  private[graft] def artifactKey(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_")

  val defs: ListMap[String, QueryDef] = ListMap(

    // ---- exact dedup (hash-groupBy) ------------------------------------
    "q23_dedup_exact" -> QueryDef(
      (s, dir) => {
        t(s, dir, "documents")
          .withColumn("h", md5(col("text")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("h")).as("n_distinct_texts"))
          .withColumn("n_dup_docs", col("n_docs") - col("n_distinct_texts"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
        COUNT(DISTINCT md5(text)) AS n_distinct_texts,
        COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_docs
        FROM documents GROUP BY source ORDER BY source""")),

    // ---- n-gram Jaccard near-dup pairs (inverted-index exact) ----------
    "q25_jaccard_pairs" -> QueryDef(
      (s, dir) => {
        Dedup.jaccardPairsExhaustive(t(s, dir, "documents"), "doc_id", "text",
            k = 3, minJaccard = 0.05, maxDf = 1000000)
          .withColumn("jaccard", round(col("jaccard"), 6))
          .orderBy("id_a", "id_b")
      },
      Some(s"""$WordsCte,
        g AS (SELECT doc_id, unnest(range(1, len(ws) - 1)) AS i, ws FROM w),
        sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
          FROM g),
        sz AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
        p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, shared, CAST(sa.set_size AS INT) AS size_a, CAST(sb.set_size AS INT) AS size_b,
          ROUND(CAST(shared AS DOUBLE)/(sa.set_size + sb.set_size - shared), 6)
            AS jaccard
        FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        WHERE CAST(shared AS DOUBLE)/(sa.set_size + sb.set_size - shared) >= 0.05
        ORDER BY id_a, id_b""")),

    // ---- MinHash + LSH banding -----------------------------------------
    // Portable hash family (one md5 per shingle reduced mod 2^31-1, then
    // the Carter–Wegman universal family (a_i*x + b_i) mod p — see
    // Dedup.minHashCoeffs for why double hashing was rejected), so the
    // full signature -> band-bucket -> candidate-pair pipeline is
    // replicated in DuckDB SQL and hash-checked cell-for-cell.
    "q26_minhash_lsh" -> QueryDef(
      (s, dir) => {
        Dedup.minHashCandidates(t(s, dir, "documents"), "doc_id", "text",
            k = 3, bands = 16, rowsPerBand = 4)
          .orderBy("id_a", "id_b")
      },
      Some(s"""$WordsCte,
        g AS (SELECT doc_id, CAST(unnest(range(1, len(ws) - 1)) AS INT) AS i,
          ws FROM w),
        hm AS (SELECT doc_id, md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
          AS m FROM g),
        hh AS (SELECT doc_id,
          CAST(('0x' || substr(m, 1, 12)) AS BIGINT) % 2147483647 AS x
          FROM hm),
        f AS (SELECT * FROM (VALUES $MinHashCoeffSql) t(fi, a, b)),
        sig AS (SELECT doc_id, fi, MIN((a * x + b) % 2147483647) AS mv
          FROM hh CROSS JOIN f GROUP BY doc_id, fi),
        bands AS (SELECT doc_id, CAST(fi // 4 AS INT) AS band,
            CAST(('0x' || substr(md5(
              string_agg(CAST(mv AS VARCHAR), '_' ORDER BY fi)), 1, 12))
              AS BIGINT) AS bucket
          FROM sig GROUP BY doc_id, band),
        capped AS (SELECT * FROM bands
          QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 1000),
        cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            COUNT(*) AS n_bands
          FROM capped a JOIN capped b
            ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        agree AS (SELECT c.id_a, c.id_b,
            SUM(CASE WHEN sa.mv = sb.mv THEN 1 ELSE 0 END) AS eq
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.id_a
          JOIN sig sb ON sb.doc_id = c.id_b AND sb.fi = sa.fi
          GROUP BY 1, 2)
        SELECT c.id_a AS id_a, c.id_b AS id_b,
          CAST(c.n_bands AS BIGINT) AS n_bands,
          ROUND(CAST(a.eq AS DOUBLE) / 64, 6) AS est_jaccard
        FROM cand c JOIN agree a ON a.id_a = c.id_a AND a.id_b = c.id_b
        ORDER BY c.id_a, c.id_b""")),

    // ---- SimHash near-dup candidates -----------------------------------
    // 60-bit portable simhash (15 md5 hex chars -> non-negative BIGINT in
    // every engine); 4 x 15-bit bands; oracle replicates the bit votes.
    "q27_simhash" -> QueryDef(
      (s, dir) => {
        Dedup.simHashCandidates(t(s, dir, "documents"), "doc_id", "text",
            maxHamming = 16)
          .orderBy("id_a", "id_b")
      },
      Some(s"""$WordsCte,
        tok AS (SELECT doc_id, unnest(ws) AS wd FROM w),
        th AS (SELECT doc_id,
          CAST(('0x' || substr(md5(wd), 1, 15)) AS BIGINT) AS h FROM tok),
        bits AS (SELECT CAST(unnest(range(0, 60)) AS INT) AS b),
        votes AS (SELECT doc_id, b,
            SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
          FROM th CROSS JOIN bits GROUP BY doc_id, b),
        sh AS (SELECT doc_id,
            SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
              AS simhash
          FROM votes GROUP BY doc_id),
        banded AS (SELECT doc_id, simhash, band,
            (simhash >> (band * 15)) & 32767 AS chunk
          FROM sh CROSS JOIN
            (SELECT CAST(unnest(range(0, 4)) AS INT) AS band) bb),
        capped AS (SELECT * FROM banded
          QUALIFY COUNT(*) OVER (PARTITION BY band, chunk) <= 200)
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 16
        ORDER BY id_a, id_b""")),

    // ---- embedding-cosine near-dup pairs (oracle-checked) --------------
    "q42_embedding_dedup" -> QueryDef(
      (s, dir) => {
        Dedup.embeddingNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
            minCosine = 0.45)
          .withColumn("cosine", round(col("cosine"), 4))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          ROUND(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
            AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
        ORDER BY id_a, id_b""")),

    // ---- winnowed document fingerprints (MOSS rolling-hash scheme) -----
    // Every k-shingle is hashed, a w-window rolling minimum is kept, and
    // docs sharing >= 2 winnowed fingerprints pair up — near-dup candidate
    // generation with a fingerprint set ~1/w the shingle count. The oracle
    // recomputes the winnowing with SQL window functions over the same md5
    // shingle hashes.
    "q47_winnow_fingerprints" -> QueryDef(
      (s, dir) => {
        val fps = t(s, dir, "documents")
          .select(col("doc_id"),
            explode(TextOps.winnowedFingerprints(col("text"), 3, 4)).as("fp"))
        fps.groupBy("fp")
          .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .filter(size(col("ids")) >= 2 && size(col("ids")) <= 100)
          .select(explode(expr(
            """flatten(transform(sequence(1, size(ids) - 1),
                 i -> transform(slice(ids, i + 1, size(ids) - i),
                   b -> struct(element_at(ids, i) AS id_a, b AS id_b))))"""))
            .as("p"))
          .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .orderBy("id_a", "id_b")
      },
      Some(s"""$WordsCte,
        g AS (SELECT doc_id, CAST(unnest(range(1, len(ws) - 1)) AS INT) AS i,
          ws FROM w),
        sh AS (SELECT doc_id, i,
          md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS h FROM g),
        mins AS (SELECT doc_id, i,
          MIN(h) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
          COUNT(*) OVER (PARTITION BY doc_id) AS nsh FROM sh),
        fp AS (SELECT DISTINCT doc_id, fp FROM mins
          WHERE i <= GREATEST(nsh - 3, 1)),
        capped AS (SELECT doc_id, fp,
          COUNT(*) OVER (PARTITION BY fp) AS df FROM fp),
        p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
          FROM capped a JOIN capped b
            ON a.fp = b.fp AND a.doc_id < b.doc_id
          WHERE a.df BETWEEN 2 AND 100 AND b.df BETWEEN 2 AND 100
          GROUP BY 1, 2)
        SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 2
        ORDER BY 1, 2""")),

    // ---- LSH recall vs exact baselines ---------------------------------
    // The approximate dedup paths (MinHash-candidates Jaccard, hyperplane-
    // LSH embedding near-dups) are graded against their exact counterparts:
    // recall = |approx ∩ exact| / |exact| at the inventory thresholds.
    // Fully oracle-checked (see the oracle comment below); row counts also
    // pinned in RowsOnlySpec.
    "q45_dedup_recall" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // deterministic 25% document sample: recall is a set-overlap RATIO,
        // measured as well on a sample — the exhaustive baseline over the
        // full corpus would dominate the whole bench (it is exactly the
        // all-pairs plan the approximate path exists to avoid)
        val docs = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
        val emb = t(s, dir, "embeddings").filter(col("vec_id") % 2 === 0)
        def recallRow(method: String, exact: DataFrame, approx: DataFrame)
            : (String, Long, Long, java.lang.Double) = {
          val keys = Seq("id_a", "id_b")
          // both sides are consumed twice (count + semi-join): persist so
          // the expensive pair pipelines run once, release before returning
          val e = exact.persist(); val a = approx.persist()
          try {
            val nExact = e.count()
            val nFound = e.join(a, keys, "left_semi").count()
            val pct: java.lang.Double =
              if (nExact == 0) null
              else math.round(nFound.toDouble / nExact * 10000.0) / 100.0
            (method, nExact, nFound, pct)
          } finally {
            e.unpersist(blocking = false); a.unpersist(blocking = false)
          }
        }
        // one inverted-index plan fragment feeds both paths (NOT persisted:
        // materializing it breaks whole-stage fusion of the scan->explode->
        // distinct pipeline into the downstream aggregates and measured
        // SLOWER than recomputing — the pair outputs persisted inside
        // recallRow are the right cache boundary)
        val inv = Some(Dedup.shingleIndex(docs, "doc_id", "text", 3))
        // the two method grades are independent action chains, each leaving
        // most of the cluster idle — submit them concurrently (driver-side
        // job parallelism, same pattern as q89)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        // exact variants below are the truth DENOMINATORS of this recall
        // grade, deliberately run on a bounded doc_id % 4 sample — the
        // production path is the approximate numerator being graded. maxDf
        // is explicitly unbounded to mirror the oracle's uncapped jexact
        // CTE (ADVICE r4: the default df cap would silently diverge if the
        // fixture ever gained a ubiquitous shingle).
        val jacF = Future(recallRow("jaccard_minhash",
          Dedup.jaccardPairsExhaustive(docs, "doc_id", "text", 3, 0.2,
            maxDf = 1000000, index = inv).select("id_a", "id_b"),
          Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.2,
            bands = 32, rowsPerBand = 2, index = inv)
            .select("id_a", "id_b")))
        val embF = Future(recallRow("embedding_lsh",
          Dedup.embeddingNearDupsExact(emb, "vec_id", "embedding", 0.45)
            .select("id_a", "id_b"),
          Dedup.embeddingNearDupsLsh(emb, "vec_id", "embedding", 0.45)
            .select("id_a", "id_b")))
        val jac = Await.result(jacF, Duration.Inf)
        val embR = Await.result(embF, Duration.Inf)
        Seq(jac, embR).toDF("method", "n_exact", "n_found", "recall_pct")
          .orderBy("method")
      },
      // FULL oracle (r3 ADVICE #6): both the exact denominators AND the
      // approximate numerators are hash-family-deterministic, so DuckDB
      // replays the whole recall grade — exhaustive Jaccard pairs + the
      // 32x2 minhash banding (q26's CTE chain at fi//2), and exact-cosine
      // pairs + the 8-table/8-bit multi-probe hyperplane LSH (q32's plane
      // formula at seed t*1000+b, Hamming <= 1). approx = candidates
      // exact-verified at the same threshold, so found = cand INTERSECT
      // exact. Recall rounding replays math.round(x*10000)/100.
      Some(s"""${WordsCte.replace("FROM documents",
          "FROM documents WHERE doc_id % 4 = 0")},
        g AS (SELECT doc_id, CAST(unnest(range(1, len(ws) - 1)) AS INT) AS i,
          ws FROM w),
        shd AS (SELECT DISTINCT doc_id,
          ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle FROM g),
        sz AS (SELECT doc_id, COUNT(*) AS set_size FROM shd GROUP BY doc_id),
        prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
          FROM shd a JOIN shd b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        jexact AS (SELECT id_a, id_b FROM prs
          JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
          WHERE CAST(shared AS DOUBLE)/(sa.set_size + sb.set_size - shared)
            >= 0.2),
        hm AS (SELECT doc_id, md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
          AS m FROM g),
        hh AS (SELECT doc_id,
          CAST(('0x' || substr(m, 1, 12)) AS BIGINT) % 2147483647 AS x
          FROM hm),
        f AS (SELECT * FROM (VALUES $MinHashCoeffSql) t(fi, a, b)),
        sig AS (SELECT doc_id, fi, MIN((a * x + b) % 2147483647) AS mv
          FROM hh CROSS JOIN f GROUP BY doc_id, fi),
        bands AS (SELECT doc_id, CAST(fi // 2 AS INT) AS band,
            CAST(('0x' || substr(md5(
              string_agg(CAST(mv AS VARCHAR), '_' ORDER BY fi)), 1, 12))
              AS BIGINT) AS bucket
          FROM sig GROUP BY doc_id, band),
        capped AS (SELECT * FROM bands
          QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 1000),
        jcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM capped a JOIN capped b
            ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id),
        jfound AS (SELECT e.id_a FROM jexact e
          JOIN jcand c ON e.id_a = c.id_a AND e.id_b = c.id_b),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % 2 = 0),
        ef AS (SELECT vec_id, v FROM e
          WHERE len(v) = (SELECT MAX(len(v)) FROM e)),
        eexact AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM ef a JOIN ef b ON a.vec_id < b.vec_id
          WHERE list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) >= 0.45),
        planes AS (SELECT t, b, list_transform(
            range(0, (SELECT MAX(len(v)) FROM e)),
            i -> (CAST(('0x' || substr(md5(CAST(t*1000+b AS VARCHAR) || ':' ||
              CAST(i AS VARCHAR)), 1, 12)) AS BIGINT) % 1000000) / 1e6 - 0.5)
            AS pv
          FROM (SELECT CAST(unnest(range(0, 8)) AS INT) AS t) tt
          CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INT) AS b) bb),
        buck AS (SELECT ef.vec_id, p.t AS tbl,
            SUM(CASE WHEN list_dot_product(ef.v, p.pv) >= 0
              THEN (CAST(1 AS BIGINT) << p.b) ELSE 0 END) AS bucket
          FROM ef CROSS JOIN planes p GROUP BY 1, 2),
        ecand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM buck a JOIN buck b ON a.tbl = b.tbl
            AND bit_count(xor(a.bucket, b.bucket)) <= 1
            AND a.vec_id < b.vec_id),
        efound AS (SELECT e.id_a FROM eexact e
          JOIN ecand c ON e.id_a = c.id_a AND e.id_b = c.id_b),
        stats AS (
          SELECT 'embedding_lsh' AS method,
            (SELECT COUNT(*) FROM eexact) AS ne,
            (SELECT COUNT(*) FROM efound) AS nf
          UNION ALL
          SELECT 'jaccard_minhash',
            (SELECT COUNT(*) FROM jexact),
            (SELECT COUNT(*) FROM jfound))
        SELECT method, CAST(ne AS BIGINT) AS n_exact,
          CAST(nf AS BIGINT) AS n_found,
          CASE WHEN ne = 0 THEN NULL
            ELSE ROUND(CAST(nf AS DOUBLE) / ne * 10000.0) / 100.0 END
            AS recall_pct
        FROM stats ORDER BY method""")),

    // ---- SemDeDup: semantic dedup via k-means + within-cluster cosine --
    // Abbas et al. 2023: the k-means fit IS q57's graded fit (shared
    // KMeansA2Cte oracle chain), then every within-cluster pair at
    // cosine >= 0.45 marks its larger id as removed (deterministic min-id
    // keep rule). Per-cluster survival counts are the paper's headline
    // statistic. See operators/SemDedup.scala for the bounded-cluster
    // scale argument.
    "q103_semdedup" -> QueryDef(
      (s, dir) => {
        import graft.operators.SemDedup
        SemDedup.clusterStats(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 2, minCosine = 0.45)
      },
      Some(s"""WITH $KMeansA2Cte,
        m AS (SELECT a2.id, a2.cid, e.v FROM a2 JOIN e USING (id)),
        rem AS (SELECT DISTINCT b.cid, b.id
          FROM m a JOIN m b ON a.cid = b.cid AND a.id < b.id
          WHERE list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))) >= 0.45),
        rc AS (SELECT cid, COUNT(*) AS n_removed FROM rem GROUP BY cid),
        nc AS (SELECT cid, COUNT(*) AS n FROM a2 GROUP BY cid)
        SELECT nc.cid AS cluster, nc.n,
          CAST(COALESCE(rc.n_removed, 0) AS BIGINT) AS n_removed,
          CAST(nc.n - COALESCE(rc.n_removed, 0) AS BIGINT) AS n_kept
        FROM nc LEFT JOIN rc ON rc.cid = nc.cid
        ORDER BY cluster""")),

    // ---- SemDeDup, derived-k production form ---------------------------
    // The scale contract made executable: k = ceil(n / 50) grows with the
    // corpus (SemDedup.deriveK), so mean cluster size stays ~50 at every
    // SF and the within-cluster quadratic is bounded by construction; the
    // oracle replays the derivation as a scalar subquery over the same
    // table. Grades the SURVIVOR SET itself (which rows a pipeline keeps),
    // complementing q103's per-cluster statistics. The per-cluster cap
    // (8x target -> 400) does not trip on the fixtures, so the exact
    // within-cluster path is what the oracle replays; the cap's LSH
    // fallback semantics are spec-tested in OperatorsSpec.
    "q103b_semdedup_survivors" -> QueryDef(
      (s, dir) => {
        import graft.operators.SemDedup
        SemDedup.survivorsAuto(t(s, dir, "embeddings"), "vec_id",
            "embedding", targetClusterSize = 50, iters = 2,
            minCosine = 0.45)
          .orderBy("vec_id")
      },
      Some(s"""WITH ${kmeansA2Cte(
          "SELECT CAST(CEIL(COUNT(*) / 50.0) AS INT) FROM embeddings")},
        m AS (SELECT a2.id, a2.cid, e.v FROM a2 JOIN e USING (id)),
        rem AS (SELECT DISTINCT b.id
          FROM m a JOIN m b ON a.cid = b.cid AND a.id < b.id
          WHERE list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))) >= 0.45)
        SELECT id AS vec_id FROM a2 WHERE id NOT IN (SELECT id FROM rem)
        ORDER BY vec_id""")),

    // ---- SemDeDup, past-the-gate LSH scale path ------------------------
    // The representative-anchored configuration survivorsAuto switches to
    // when derived k exceeds maxExactK (here forced with maxExactK = 1):
    // 8 hyperplane tables stand in for the k-means cells, each member is
    // exact-cosine-verified against its bucket's min-id representative
    // ONLY (candidates = n x tables — linear even on tight clusters,
    // where any within-bucket pair rule is quadratic; see SemDedup
    // scaladoc). Every stage replays in SQL: the md5-derived planes (as
    // in q32), bucket packing, min-id reps, and the cosine verify — so
    // the SCALE path is hash-graded, not just the bounded-k oracle form.
    // Bit depth derives as SemDedup.gateBits (8 at both gate SFs); the
    // oracle's 8x8 plane grid is PINNED via pinnedBits, so crossing the
    // >12,800-embedding threshold fails loudly in the operator instead of
    // silently invalidating the replay (ADVICE r7).
    "q103c_semdedup_lsh_gate" -> QueryDef(
      (s, dir) => {
        import graft.operators.SemDedup
        // knownDim pins the fixture embedding width (TESTDATA contract,
        // the q131 style) — saves the gate path's dimOf aggregation
        // scan; a drifted pin RAISES in the operator (ADVICE r14)
        SemDedup.survivorsAuto(t(s, dir, "embeddings"), "vec_id",
            "embedding", targetClusterSize = 50, iters = 2,
            minCosine = 0.45, maxExactK = 1, pinnedBits = Some(8),
            knownDim = Some(64))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        planes AS (SELECT t, b, list_transform(
            range(0, (SELECT MAX(len(v)) FROM e)),
            i -> (CAST(('0x' || substr(md5(CAST(t*1000+b AS VARCHAR) || ':' ||
              CAST(i AS VARCHAR)), 1, 12)) AS BIGINT) % 1000000) / 1e6 - 0.5)
            AS pv
          FROM (SELECT CAST(unnest(range(0, 8)) AS INT) AS t) tt
          CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INT) AS b) bb),
        buck AS (SELECT e.vec_id, p.t AS tbl,
            SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
              THEN (CAST(1 AS BIGINT) << p.b) ELSE 0 END) AS bucket
          FROM e CROSS JOIN planes p GROUP BY 1, 2),
        reps AS (SELECT tbl, bucket, MIN(vec_id) AS id_a
          FROM buck GROUP BY 1, 2),
        cand AS (SELECT DISTINCT r.id_a, k.vec_id AS id_b
          FROM buck k JOIN reps r ON r.tbl = k.tbl AND r.bucket = k.bucket
          WHERE k.vec_id > r.id_a),
        rem AS (SELECT DISTINCT id_b FROM cand
          JOIN e a ON a.vec_id = cand.id_a
          JOIN e b ON b.vec_id = cand.id_b
          WHERE list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))) >= 0.45)
        SELECT vec_id FROM e
        WHERE vec_id NOT IN (SELECT id_b FROM rem)
        ORDER BY vec_id""")),

    // ---- SemDeDup gate-path recall grade -------------------------------
    // What the q103c gate TRADES AWAY, measured (VERDICT r7 #2): on the
    // same corpus, survivor-set agreement between the exact derived-k path
    // (q103b config) and the past-the-gate representative-anchored LSH
    // path (q103c config). Emits the removal-set sizes, their overlap,
    // and recall9 = floor(n_agree * 1e9 / n_exact_removed) — integer
    // arithmetic end to end (DIV / //), so the agreement METRIC itself
    // replays exactly, the way q45 grades MinHash pair recall and q89
    // grades LSH cluster recall. Both paths hash-replay in the oracle
    // (the Lloyd CTE chain + the md5-derived plane chain).
    "q103d_semdedup_gate_recall" -> QueryDef(
      (s, dir) => {
        import graft.operators.SemDedup
        // Sharing the base frame across the two pipelines was MEASURED
        // and REJECTED in r15 (see the q122c call-site note: registry
        // persist 1.3x slower, localCheckpoint 2.2x slower — recompute
        // beats materialization at this input size, the q102d/q59
        // precedent).
        val emb = t(s, dir, "embeddings")
        // ONE corpus count shared by both pipelines (each derived it
        // independently — the count also materializes the shared cache),
        // and the fixture dim pinned for the gate path (a mismatch now
        // RAISES in the operator instead of silently dropping rows)
        val n = emb.count()
        val exact = SemDedup.survivorsAuto(emb, "vec_id", "embedding",
          targetClusterSize = 50, iters = 2, minCosine = 0.45,
          knownN = Some(n))
        val lsh = SemDedup.survivorsAuto(emb, "vec_id", "embedding",
          targetClusterSize = 50, iters = 2, minCosine = 0.45,
          maxExactK = 1, pinnedBits = Some(8), knownN = Some(n),
          knownDim = Some(64))
        val all = emb.select(col("vec_id"))
        val exRem = all.except(exact).select(col("vec_id"),
          lit(1L).as("__ex"))
        val lshRem = all.except(lsh).select(col("vec_id"),
          lit(1L).as("__ls"))
        exRem.join(lshRem, Seq("vec_id"), "full")
          .na.fill(0L, Seq("__ex", "__ls"))
          // coalesce: SUM over an empty corpus is NULL in Spark but the
          // oracle's scalar COUNT subqueries emit 0 — the empty answer is
          // (0, 0, 0, -1) in both engines (EmptyInputSpec pins it)
          .agg(coalesce(sum("__ex"), lit(0L)).as("n_exact_removed"),
            coalesce(sum("__ls"), lit(0L)).as("n_lsh_removed"),
            coalesce(sum(col("__ex") * col("__ls")), lit(0L)).as("n_agree"))
          .select(col("n_exact_removed"), col("n_lsh_removed"),
            col("n_agree"),
            when(col("n_exact_removed") === 0, lit(-1L))
              .otherwise(expr("n_agree * 1000000000 DIV n_exact_removed"))
              .as("recall9"))
      },
      Some(s"""WITH ${kmeansA2Cte(
          "SELECT CAST(CEIL(COUNT(*) / 50.0) AS INT) FROM embeddings")},
        m AS (SELECT a2.id, a2.cid, e.v FROM a2 JOIN e USING (id)),
        remx AS (SELECT DISTINCT b.id
          FROM m a JOIN m b ON a.cid = b.cid AND a.id < b.id
          WHERE list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))) >= 0.45),
        planes AS (SELECT t, b, list_transform(
            range(0, (SELECT MAX(len(v)) FROM e)),
            i -> (CAST(('0x' || substr(md5(CAST(t*1000+b AS VARCHAR) || ':' ||
              CAST(i AS VARCHAR)), 1, 12)) AS BIGINT) % 1000000) / 1e6 - 0.5)
            AS pv
          FROM (SELECT CAST(unnest(range(0, 8)) AS INT) AS t) tt
          CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INT) AS b) bb),
        buck AS (SELECT e.id, p.t AS tbl,
            SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
              THEN (CAST(1 AS BIGINT) << p.b) ELSE 0 END) AS bucket
          FROM e CROSS JOIN planes p GROUP BY 1, 2),
        reps AS (SELECT tbl, bucket, MIN(id) AS id_a
          FROM buck GROUP BY 1, 2),
        cand AS (SELECT DISTINCT r.id_a, k.id AS id_b
          FROM buck k JOIN reps r ON r.tbl = k.tbl AND r.bucket = k.bucket
          WHERE k.id > r.id_a),
        reml AS (SELECT DISTINCT id_b AS id FROM cand
          JOIN e a ON a.id = cand.id_a
          JOIN e b ON b.id = cand.id_b
          WHERE list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))) >= 0.45),
        st AS (SELECT (SELECT COUNT(*) FROM remx) AS nx,
            (SELECT COUNT(*) FROM reml) AS nl,
            (SELECT COUNT(*) FROM remx JOIN reml USING (id)) AS na)
        SELECT CAST(nx AS BIGINT) AS n_exact_removed,
          CAST(nl AS BIGINT) AS n_lsh_removed,
          CAST(na AS BIGINT) AS n_agree,
          CAST(CASE WHEN nx = 0 THEN -1
            ELSE na * 1000000000 // nx END AS BIGINT) AS recall9
        FROM st""")),

    // ---- benchmark decontamination (n-gram overlap) --------------------
    // Flag training documents sharing 3-gram shingles with an eval
    // "benchmark" set (stand-in: doc_id % 100 == 0): contaminated iff
    // >= 5 shared distinct shingles or >= 20% of the doc's shingles.
    // The benchmark shingle set is eval-sized -> broadcast semi-join
    // against the candidate inverted index; raw shingle strings here,
    // 64-bit hashes at 100 TB (same join shape).
    "q75_decontaminate" -> QueryDef(
      (s, dir) => {
        val sh = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            explode(TextOps.shingleSet(lower(col("text")), 3)).as("sh"))
        val bench = sh.filter(col("doc_id") % 100 === 0)
          .select("sh").distinct()
        val cand = sh.filter(col("doc_id") % 100 =!= 0)
        val cs = cand.groupBy("doc_id", "lang").agg(count(lit(1)).as("n_sh"))
        val ov = cand.join(broadcast(bench), "sh")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        cs.join(ov, Seq("doc_id"), "left")
          .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
          .withColumn("contaminated", col("n_shared") >= 5 ||
            col("n_shared").cast("double") / col("n_sh") >= 0.2)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("contaminated"), 1L).otherwise(0L))
              .as("n_contaminated"),
            sum(col("n_shared")).as("total_shared"),
            max(col("n_shared")).as("max_shared"))
          .orderBy("lang")
      },
      Some(s"""$WordsCte,
        lw AS (SELECT doc_id, lang, list_transform(ws, x -> lower(x)) AS lws
          FROM w),
        sh AS (SELECT DISTINCT doc_id, lang, sh FROM
          (SELECT doc_id, lang, unnest(list_transform(range(1, len(lws) - 1),
            i -> lws[i] || ' ' || lws[i+1] || ' ' || lws[i+2])) AS sh
          FROM lw)),
        bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 100 = 0),
        cand AS (SELECT * FROM sh WHERE doc_id % 100 <> 0),
        cs AS (SELECT doc_id, lang, COUNT(*) AS n_sh FROM cand GROUP BY 1, 2),
        ov AS (SELECT c.doc_id, COUNT(*) AS n_shared
          FROM cand c JOIN bench b USING (sh) GROUP BY 1),
        f AS (SELECT cs.doc_id, cs.lang, cs.n_sh,
            COALESCE(ov.n_shared, 0) AS n_shared
          FROM cs LEFT JOIN ov ON cs.doc_id = ov.doc_id)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN n_shared >= 5
              OR CAST(n_shared AS DOUBLE) / n_sh >= 0.2
            THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
          CAST(SUM(n_shared) AS BIGINT) AS total_shared,
          CAST(MAX(n_shared) AS BIGINT) AS max_shared
        FROM f GROUP BY lang ORDER BY lang""")),

    // ---- duplicate-cluster assignment (connected components) -----------
    // Pairs -> clusters: what "keep one doc per dup group" actually needs.
    // Spark side runs iterative min-label propagation; the oracle computes
    // the same components with a recursive transitive-closure CTE.
    // The exhaustive pair generation here (maxDf effectively unbounded) is
    // the ORACLE-BASELINE configuration: it is only tractable at fixture
    // scale and exists so the clusters can be checked exactly against the
    // recursive CTE. The scale path — LSH candidates + exact verify feeding
    // the same connectedComponents — is q89_dup_clusters_lsh below.
    // doc_ids is emitted as a comma-joined string (numeric sort, then
    // stringify) because the driver comparator cannot sort array columns.
    "q52_dup_clusters" -> QueryDef(
      (s, dir) => {
        val pairs = Dedup.jaccardPairsExhaustive(t(s, dir, "documents"),
            "doc_id", "text", k = 3, minJaccard = 0.2, maxDf = 1000000)
          .select("id_a", "id_b")
        Dedup.connectedComponents(pairs)
          .groupBy("label")
          .agg(count(lit(1)).as("n_docs"),
            array_join(
              transform(sort_array(collect_list(col("id"))),
                x => x.cast("string")), ",").as("doc_ids"))
          .select(col("label").as("cluster_root"), col("n_docs"),
            col("doc_ids"))
          .orderBy("cluster_root")
      },
      Some(dupClustersOracleSql)),

    // ---- duplicate clustering, scale path (LSH candidates) -------------
    // The 100 TB formulation: MinHash-LSH banding proposes candidate pairs
    // (bounded by bucket size, never all-pairs), exact Jaccard verifies
    // them, and the SAME connectedComponents assigns clusters. Graded the
    // way q45 grades pair recall: the oracle recomputes the EXHAUSTIVE
    // clusters (ground truth at fixture scale) and this query reports,
    // per cluster, whether LSH recovered it intact — so the row is a
    // cluster-recall scorecard that an external engine can replay exactly.
    // Banding config is the q45-graded one (32 bands x 2 rows: candidate
    // probability 1-(1-j^2)^32, ~0.73 at the j=0.2 threshold and ~1.0 by
    // j=0.5); cluster intactness additionally tolerates individual missed
    // pairs as long as each cluster stays connected.
    "q89_dup_clusters_lsh" -> QueryDef(
      (s, dir) => {
        // deterministic 50% document sample (q45 discipline): the grade
        // needs the EXHAUSTIVE clusters as denominator, and that quadratic
        // baseline is exactly what the LSH path exists to avoid — cluster
        // recall is measured as well on a sample, since BOTH paths see the
        // same sampled corpus and the oracle replays the same predicate
        val docs = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
        // one shingle-index plan FRAGMENT shared by both paths (single
        // definition, recomputed per consumer). Deliberately NOT persisted:
        // materializing it breaks whole-stage fusion of scan->explode->
        // distinct into each consumer's aggregates and measured ~30% SLOWER
        // than recomputing (same result as the q45 experiment).
        val inv = Some(Dedup.shingleIndex(docs, "doc_id", "text", 3))
        val lshPairs = Dedup.jaccardPairs(docs, "doc_id", "text",
            k = 3, minJaccard = 0.2, bands = 32, rowsPerBand = 2,
            index = inv)
          .select("id_a", "id_b")
        val exhPairs = Dedup.jaccardPairsExhaustive(docs, "doc_id", "text",
            k = 3, minJaccard = 0.2, maxDf = 1000000, index = inv)
          .select("id_a", "id_b")
        // the two clusterings are independent iterative jobs that each use
        // a fraction of the cluster: submit them concurrently (driver-side
        // job parallelism; the operators' cache registries are thread-safe)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val lshF = Future(Dedup.connectedComponents(lshPairs)
          .select(col("id").as("doc_id"), col("label").as("lsh_root")))
        val exactF = Future(Dedup.connectedComponents(exhPairs)
          .select(col("id").as("doc_id"), col("label").as("true_root")))
        val lsh = Await.result(lshF, Duration.Inf)
        val exact = Await.result(exactF, Duration.Inf)
        // Per true cluster: size, how many members LSH clustered at all,
        // and whether LSH kept the cluster intact (single lsh label
        // covering every member).
        exact.join(lsh, Seq("doc_id"), "left")
          .groupBy("true_root")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("lsh_root").isNotNull, 1L).otherwise(0L))
              .as("n_clustered"),
            (countDistinct(col("lsh_root")) === 1 &&
              sum(when(col("lsh_root").isNull, 1L).otherwise(0L)) === 0)
              .as("intact"))
          .orderBy("true_root")
      },
      // The oracle recomputes the exhaustive clusters (true_root, n_docs)
      // exactly and asserts FULL cluster recall (every member clustered,
      // every cluster intact) — valid because the pinned hash family makes
      // LSH deterministic and, at this banding config, the fixture's dup
      // clusters (near-clique, high-Jaccard) are fully recovered.
      // IF THIS ROW EVER HASH-MISMATCHES: it is almost certainly a recall
      // regression from a banding/fixture change, not a clustering bug —
      // run LshClusterSpec first; it pins the full-recovery property with
      // a per-cluster assertion message naming the degraded cluster.
      Some(s"""${WordsCte.replaceFirst("WITH", "WITH RECURSIVE")
          .replace("FROM documents", "FROM documents WHERE doc_id % 2 = 0")},
        $ComponentsCte
        SELECT label AS true_root, COUNT(*) AS n_docs,
          COUNT(*) AS n_clustered, TRUE AS intact
        FROM comp GROUP BY label ORDER BY true_root""")),

    // ---- exact repeated-span detection (substring dedup) ----------------
    // The k-gram approximation of suffix-array substring dedup (Lee et al.
    // 2021): positions whose 30-char gram recurs across documents, merged
    // into maximal spans per doc. Top 20 docs by duplicated characters —
    // the removal list a substring-dedup pass would act on. The oracle
    // groups RAW substrings where the engine groups their 128-bit
    // dual-xxhash64 fingerprints (collision odds ~1e-11 at 1e14 grams, so
    // the two groupings agree), then replays island merging and the
    // roll-up.
    "q102_repeated_spans" -> QueryDef(
      (s, dir) => {
        import graft.operators.SpanDedup
        val docs = t(s, dir, "documents")
        SpanDedup.spanStats(docs, "doc_id", "text", k = 30)
          .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
          .withColumn("dup_frac",
            col("dup_chars").cast("double") / col("n_chars"))
          .orderBy(col("dup_chars").desc, col("doc_id"))
          .limit(20)
          .select("doc_id", "n_dup_spans", "dup_chars", "n_chars", "dup_frac")
      },
      Some("""WITH g AS (SELECT doc_id, i,
          substring(text, CAST(i AS INT), 30) AS gr
          FROM (SELECT doc_id, text, unnest(range(1, len(text) - 28)) AS i
            FROM documents WHERE len(text) >= 30)),
        d AS (SELECT gr FROM g GROUP BY gr
          HAVING COUNT(DISTINCT doc_id) >= 2),
        p AS (SELECT doc_id, i FROM g JOIN d USING (gr)),
        m AS (SELECT doc_id, i,
            CASE WHEN i > COALESCE(MAX(i + 30) OVER (PARTITION BY doc_id
                ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              -9223372036854775808) THEN 1 ELSE 0 END AS nw
          FROM p),
        isl AS (SELECT doc_id, i,
            SUM(nw) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM m),
        sp AS (SELECT doc_id, island, MIN(i) AS span_start,
            MAX(i) + 30 AS span_end
          FROM isl GROUP BY 1, 2),
        st AS (SELECT doc_id, COUNT(*) AS n_dup_spans,
            SUM(span_end - span_start) AS dup_chars
          FROM sp GROUP BY doc_id)
        SELECT st.doc_id, n_dup_spans, CAST(dup_chars AS BIGINT) AS dup_chars,
          d2.n_chars, CAST(dup_chars AS DOUBLE) / d2.n_chars AS dup_frac
        FROM st JOIN documents d2 ON d2.doc_id = st.doc_id
        ORDER BY dup_chars DESC, st.doc_id LIMIT 20""")),

    // ---- repeated-span STRIP (the action step) -------------------------
    // q102 applied: cut every merged duplicated span out of its document
    // and reassemble (SpanDedup.stripSpans). Graded by checksum over the
    // FULL corpus — every kept byte of every document rides the md5, so a
    // one-character slicing error anywhere fails the hash. The oracle
    // replays the cut by string slicing: segment before each span
    // (lag(span_end) window), tail after the last, concatenated in order.
    "q102b_span_strip" -> QueryDef(
      (s, dir) => {
        import graft.operators.SpanDedup
        SpanDedup.stripSpans(t(s, dir, "documents"), "doc_id", "text",
            k = 30)
          .select(col("doc_id"),
            length(col("stripped")).as("kept_chars"),
            md5(col("stripped").cast("binary")).as("kept_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (SELECT doc_id, i,
          substring(text, CAST(i AS INT), 30) AS gr
          FROM (SELECT doc_id, text, unnest(range(1, len(text) - 28)) AS i
            FROM documents WHERE len(text) >= 30)),
        d AS (SELECT gr FROM g GROUP BY gr
          HAVING COUNT(DISTINCT doc_id) >= 2),
        p AS (SELECT doc_id, i FROM g JOIN d USING (gr)),
        m AS (SELECT doc_id, i,
            CASE WHEN i > COALESCE(MAX(i + 30) OVER (PARTITION BY doc_id
                ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              -9223372036854775808) THEN 1 ELSE 0 END AS nw
          FROM p),
        isl AS (SELECT doc_id, i,
            SUM(nw) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM m),
        sp AS (SELECT doc_id, island, MIN(i) AS span_start,
            MAX(i) + 30 AS span_end
          FROM isl GROUP BY 1, 2),
        seg AS (SELECT doc_id, span_start, span_end,
            COALESCE(LAG(span_end) OVER (PARTITION BY doc_id
              ORDER BY span_start), 1) AS prev_end
          FROM sp),
        pieces AS (SELECT s.doc_id,
            substring(d2.text, CAST(s.prev_end AS INT),
              CAST(s.span_start - s.prev_end AS INT)) AS piece,
            s.span_start
          FROM seg s JOIN documents d2 USING (doc_id)),
        hd AS (SELECT doc_id,
            COALESCE(string_agg(piece, '' ORDER BY span_start), '') AS head
          FROM pieces GROUP BY doc_id),
        mx AS (SELECT doc_id, MAX(span_end) AS maxe FROM sp GROUP BY doc_id),
        kept AS (SELECT d2.doc_id,
            CASE WHEN mx.doc_id IS NULL THEN d2.text
              ELSE hd.head || substring(d2.text, CAST(mx.maxe AS INT)) END
              AS kt
          FROM documents d2 LEFT JOIN mx USING (doc_id)
            LEFT JOIN hd USING (doc_id))
        SELECT doc_id, CAST(len(kt) AS INT) AS kept_chars,
          md5(kt) AS kept_md5
        FROM kept ORDER BY doc_id""")),

    // ---- repeated-span RECALL vs the suffix-array-grade truth ----------
    // What the production k-gram path TRADES AWAY, measured (VERDICT r7
    // stretch): TRUTH = SpanDedup.exactRepeatedSpans — raw grams (no
    // fingerprint, collisions impossible) flagged on total corpus
    // occurrences >= 2, which marks exactly the characters a suffix array
    // with match threshold k marks, INCLUDING repeats within a single
    // document. PRODUCTION = repeatedSpans' cross-document rule. The
    // production span set is a subset by construction (precision 1), so
    // the grade is character-level recall: covered truth chars, as
    // recall9 = floor(covered * 1e9 / truth_chars) in integer arithmetic
    // end to end (DIV / //) so the metric itself hash-replays — the q45 /
    // q89 / q103d grading standard. Both span sets are per-doc disjoint,
    // so summed pairwise interval overlaps = |intersection| exactly.
    "q102c_span_recall" -> QueryDef(
      (s, dir) => {
        import graft.operators.SpanDedup
        val docs = t(s, dir, "documents")
        // both span frames feed TWO consumers each (their size/count agg
        // and the overlap join) — unpersisted, each whole gram pipeline
        // ran twice (guide §1.2). Span frames are island-merged and tiny
        // (bounded by flagged islands, not grams). Registered with the
        // dedup family's cache registry; Bench/Verify drain it per run.
        val truth = Dedup.cached(
          SpanDedup.exactRepeatedSpans(docs, "doc_id", "text", k = 30))
        val prod = Dedup.cached(
          SpanDedup.repeatedSpans(docs, "doc_id", "text", k = 30))
        val tAgg = truth.agg(count(lit(1)).as("n_truth_spans"),
          coalesce(sum(col("span_end") - col("span_start")), lit(0L))
            .cast("long").as("truth_chars"))
        val pAgg = prod.agg(count(lit(1)).as("n_prod_spans"),
          coalesce(sum(col("span_end") - col("span_start")), lit(0L))
            .cast("long").as("prod_chars"))
        val ov = truth.alias("t").join(prod.alias("p"),
            col("t.id") === col("p.id") &&
              col("p.span_start") < col("t.span_end") &&
              col("t.span_start") < col("p.span_end"))
          .select((least(col("t.span_end"), col("p.span_end")) -
            greatest(col("t.span_start"), col("p.span_start"))).as("__ov"))
          .agg(coalesce(sum(col("__ov")), lit(0L)).cast("long")
            .as("covered_chars"))
        tAgg.crossJoin(pAgg).crossJoin(ov)
          .select(col("n_truth_spans"), col("truth_chars"),
            col("n_prod_spans"), col("prod_chars"), col("covered_chars"),
            when(col("truth_chars") === 0, lit(-1L))
              .otherwise(expr("covered_chars * 1000000000 DIV truth_chars"))
              .as("recall9"))
      },
      Some("""WITH g AS (SELECT doc_id, i,
          substring(text, CAST(i AS INT), 30) AS gr
          FROM (SELECT doc_id, text, unnest(range(1, len(text) - 28)) AS i
            FROM documents WHERE len(text) >= 30)),
        dt AS (SELECT gr FROM g GROUP BY gr HAVING COUNT(*) >= 2),
        dp AS (SELECT gr FROM g GROUP BY gr
          HAVING COUNT(DISTINCT doc_id) >= 2),
        pt AS (SELECT doc_id, i FROM g JOIN dt USING (gr)),
        pp AS (SELECT doc_id, i FROM g JOIN dp USING (gr)),
        mt AS (SELECT doc_id, i,
            CASE WHEN i > COALESCE(MAX(i + 30) OVER (PARTITION BY doc_id
                ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              -9223372036854775808) THEN 1 ELSE 0 END AS nw
          FROM pt),
        it AS (SELECT doc_id, i,
            SUM(nw) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM mt),
        spt AS (SELECT doc_id, island, MIN(i) AS s, MAX(i) + 30 AS e
          FROM it GROUP BY 1, 2),
        mp AS (SELECT doc_id, i,
            CASE WHEN i > COALESCE(MAX(i + 30) OVER (PARTITION BY doc_id
                ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              -9223372036854775808) THEN 1 ELSE 0 END AS nw
          FROM pp),
        ip AS (SELECT doc_id, i,
            SUM(nw) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM mp),
        spp AS (SELECT doc_id, island, MIN(i) AS s, MAX(i) + 30 AS e
          FROM ip GROUP BY 1, 2),
        ta AS (SELECT COUNT(*) AS nts, COALESCE(SUM(e - s), 0) AS tc
          FROM spt),
        pa AS (SELECT COUNT(*) AS nps, COALESCE(SUM(e - s), 0) AS pc
          FROM spp),
        ov AS (SELECT COALESCE(SUM(LEAST(spt.e, spp.e)
              - GREATEST(spt.s, spp.s)), 0) AS cc
          FROM spt JOIN spp ON spt.doc_id = spp.doc_id
            AND spp.s < spt.e AND spt.s < spp.e)
        SELECT CAST(nts AS BIGINT) AS n_truth_spans,
          CAST(tc AS BIGINT) AS truth_chars,
          CAST(nps AS BIGINT) AS n_prod_spans,
          CAST(pc AS BIGINT) AS prod_chars,
          CAST(cc AS BIGINT) AS covered_chars,
          CAST(CASE WHEN tc = 0 THEN -1
            ELSE cc * 1000000000 // tc END AS BIGINT) AS recall9
        FROM ta CROSS JOIN pa CROSS JOIN ov""")),

    // ---- winnowing fingerprint matching (MOSS) -------------------------
    // The BOUNDED-SKETCH substring-similarity path (Schleimer et al. 2003):
    // each document keeps only the window-minimum k-gram hashes (~2/(w+1)
    // of its grams; operators/Winnow.scala), yet any shared substring of
    // length >= w+k-1 = 27 still shares a fingerprint. Top document pairs
    // by shared-fingerprint count — MOSS's plagiarism ranking, and the
    // cheap "which documents share copied text" pass at 100 TB. Hot
    // fingerprints (boilerplate present in > 20 docs) are dropped before
    // pairing — same df-cap rationale as the Jaccard inverted index, and
    // the cap bounds the pair fan-out at df^2 per fingerprint. Fully
    // portable: 40-bit md5 gram hashes, (hash asc, pos desc) selection
    // packed into one BIGINT so the oracle's window MIN replays the
    // rightmost-min tie rule exactly.
    "q102d_winnow_pairs" -> QueryDef(
      (s, dir) => {
        import graft.operators.Winnow
        val docs = t(s, dir, "documents")
        val fp = Winnow.fingerprints(docs, "doc_id", "text", k = 20, w = 8)
        // NOT persisted, by measurement (r14): the sketch kernel is
        // map-side codegen fused into each consumer; materializing the
        // byDoc fragment for its three references read 1.2x SLOWER than
        // recomputing (the q45/q89 index-fragment result) — the distinct's
        // exchange is reused across consumers anyway
        val byDoc = fp.select(col("id"), col("h")).distinct()
        val ok = byDoc.groupBy("h").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= 20).select("h")
        val m = byDoc.join(ok, "h")
        m.alias("a").join(m.alias("b"),
            col("a.h") === col("b.h") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .orderBy(col("n_shared").desc, col("id_a"), col("id_b"))
          .limit(10)
      },
      Some("""WITH g AS (SELECT doc_id, i, len(text) AS n,
          CAST(('0x' || substr(md5(substring(text, CAST(i AS INT), 20)),
            1, 10)) AS BIGINT) * 8388608 + (8388607 - i) AS comb
          FROM (SELECT doc_id, text, unnest(range(1, len(text) - 18)) AS i
            FROM documents WHERE len(text) >= 27)),
        s AS (SELECT doc_id, i, n,
            MIN(comb) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS sel
          FROM g),
        fp AS (SELECT DISTINCT doc_id, sel // 8388608 AS h
          FROM s WHERE i <= n - 26),
        okh AS (SELECT h FROM fp GROUP BY h HAVING COUNT(*) <= 20),
        m AS (SELECT doc_id, h FROM fp JOIN okh USING (h)),
        p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            COUNT(*) AS n_shared
          FROM m a JOIN m b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
        FROM p WHERE n_shared >= 2
        ORDER BY n_shared DESC, id_a, id_b LIMIT 10""")),

    // ---- copy-ring clustering over winnow pairs ------------------------
    // MOSS's other half: q102d ranks PAIRS by shared fingerprints; this
    // clusters the copy GRAPH — documents transitively connected by
    // >= 3 shared winnowed fingerprints form a "copy ring" (mirror sets,
    // template families, licence rings). Same pair construction as
    // q102d, fed through the min-label connected components the q52/q89
    // cluster family already grades; the oracle replays the whole chain
    // (winnow selection -> df-cap -> pair threshold -> RECURSIVE
    // reachability -> min label). At 100 TB this runs on the PAIR
    // subgraph (df-capped, sketch-sized), never the corpus.
    "q102e_copy_rings" -> QueryDef(
      (s, dir) => {
        import graft.operators.{Dedup, Winnow}
        val docs = t(s, dir, "documents")
        // NOT persisted — same measured result as q102d (see there)
        val byDoc = Winnow.fingerprints(docs, "doc_id", "text",
            k = 20, w = 8)
          .select(col("id"), col("h")).distinct()
        val ok = byDoc.groupBy("h").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= 20).select("h")
        val m = byDoc.join(ok, "h")
        val pairs = m.alias("a").join(m.alias("b"),
            col("a.h") === col("b.h") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .select("id_a", "id_b")
        Dedup.connectedComponents(pairs)
          .groupBy(col("label").as("ring_root"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("ring_root")
      },
      Some("""WITH RECURSIVE g AS (SELECT doc_id, i, len(text) AS n,
          CAST(('0x' || substr(md5(substring(text, CAST(i AS INT), 20)),
            1, 10)) AS BIGINT) * 8388608 + (8388607 - i) AS comb
          FROM (SELECT doc_id, text, unnest(range(1, len(text) - 18)) AS i
            FROM documents WHERE len(text) >= 27)),
        s AS (SELECT doc_id, i, n,
            MIN(comb) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS sel
          FROM g),
        fp AS (SELECT DISTINCT doc_id, sel // 8388608 AS h
          FROM s WHERE i <= n - 26),
        okh AS (SELECT h FROM fp GROUP BY h HAVING COUNT(*) <= 20),
        m AS (SELECT doc_id, h FROM fp JOIN okh USING (h)),
        p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM m a JOIN m b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        e AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
        nd AS (SELECT DISTINCT src AS id FROM e),
        reach AS (SELECT id AS node, id AS root FROM nd
          UNION SELECT e.dst AS node, r.root FROM reach r
            JOIN e ON e.src = r.node),
        comp AS (SELECT node, MIN(root) AS label FROM reach GROUP BY node)
        SELECT label AS ring_root, COUNT(*) AS n_docs
        FROM comp GROUP BY label ORDER BY ring_root""")),

    // ---- substring-level decontamination (winnow containment) ----------
    // q75's shingle-overlap decontamination catches word-level reuse; this
    // catches VERBATIM COPYING: asymmetric containment of a benchmark
    // doc's winnowed fingerprint sketch inside each training doc —
    // n_shared / |sketch(bench)|, the direction that matters (a training
    // doc QUOTING the whole benchmark scores ~1 however much other text
    // surrounds the quote; symmetric Jaccard would dilute it). By the
    // winnowing guarantee, any copied run >= w+k-1 = 27 chars contributes
    // sketch hits, so long quotes cannot hide between samples. The
    // containment grade is integer-exact (DIV / //) and the whole chain
    // (planes-free: gram hash -> window min -> distinct -> join) replays
    // in the oracle. At 100 TB, boilerplate fingerprints get the q102d
    // df-cap on BOTH sides before the join (drops them from n_fp too, so
    // the grade stays conservative); the fixture corpus needs no cap.
    "q75b_winnow_decontaminate" -> QueryDef(
      (s, dir) => {
        import graft.operators.Winnow
        val docs = t(s, dir, "documents")
        val fp = Winnow.fingerprints(docs, "doc_id", "text", k = 20, w = 8)
          .select(col("id"), col("h")).distinct()
        val bench = fp.filter(col("id") % 100 === 0)
          .withColumnRenamed("id", "bench_id")
        val train = fp.filter(col("id") % 100 =!= 0)
          .withColumnRenamed("id", "train_id")
        val bsize = bench.groupBy("bench_id").agg(count(lit(1)).as("n_fp"))
        train.join(bench, "h")
          .groupBy("train_id", "bench_id").agg(count(lit(1)).as("n_shared"))
          .join(bsize, "bench_id")
          .select(col("train_id"), col("bench_id"), col("n_shared"),
            col("n_fp"),
            expr("n_shared * 1000000000 DIV n_fp").as("containment9"))
          .orderBy(col("containment9").desc, col("train_id"),
            col("bench_id"))
          .limit(15)
      },
      Some("""WITH g AS (SELECT doc_id, i, len(text) AS n,
          CAST(('0x' || substr(md5(substring(text, CAST(i AS INT), 20)),
            1, 10)) AS BIGINT) * 8388608 + (8388607 - i) AS comb
          FROM (SELECT doc_id, text, unnest(range(1, len(text) - 18)) AS i
            FROM documents WHERE len(text) >= 27)),
        s AS (SELECT doc_id, i, n,
            MIN(comb) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS sel
          FROM g),
        fp AS (SELECT DISTINCT doc_id, sel // 8388608 AS h
          FROM s WHERE i <= n - 26),
        bench AS (SELECT doc_id AS bench_id, h FROM fp
          WHERE doc_id % 100 = 0),
        train AS (SELECT doc_id AS train_id, h FROM fp
          WHERE doc_id % 100 <> 0),
        bs AS (SELECT bench_id, COUNT(*) AS n_fp FROM bench GROUP BY 1),
        sh AS (SELECT train_id, bench_id, COUNT(*) AS n_shared
          FROM train JOIN bench USING (h) GROUP BY 1, 2)
        SELECT train_id, bench_id, CAST(n_shared AS BIGINT) AS n_shared,
          CAST(n_fp AS BIGINT) AS n_fp,
          CAST(n_shared * 1000000000 // n_fp AS BIGINT) AS containment9
        FROM sh JOIN bs USING (bench_id)
        ORDER BY containment9 DESC, train_id, bench_id LIMIT 15""")),

    // ---- passage-level boilerplate dedup -------------------------------
    // RefinedWeb/CCNet-style: split each document into non-overlapping
    // 8-word passages, count the DISTINCT documents each passage occurs
    // in, and flag passages shared by >= 3 documents as boilerplate.
    // One shuffle on the passage text; the hot set (tiny by construction:
    // only passages repeated across docs) joins back broadcast.
    "q76_passage_dedup" -> QueryDef(
      (s, dir) => {
        val pass = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(TextOps.passages(col("text"), 8)).as("passage"))
        val hot = pass.groupBy("passage")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 3)
          .select(col("passage"), lit(true).as("is_dup"))
        pass.join(broadcast(hot), Seq("passage"), "left")
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_pass"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_pass").as("total_passages"),
            sum("n_dup").as("dup_passages"),
            (sum("n_dup").cast("double") / sum("n_pass")).as("dup_fraction"))
          .orderBy("source")
      },
      Some(s"""$WordsCte,
        g AS (SELECT doc_id, source, ws,
            CAST(unnest(range(0, CAST(FLOOR((len(ws) - 1) / 8.0) AS INT) + 1))
              AS INT) AS j
          FROM w WHERE len(ws) > 0),
        p AS (SELECT doc_id, source,
            array_to_string(ws[j*8+1 : j*8+8], ' ') AS passage FROM g),
        hot AS (SELECT passage FROM
          (SELECT passage, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY 1)
          WHERE nd >= 3),
        d AS (SELECT doc_id, source, COUNT(*) AS n_pass,
            SUM(CASE WHEN passage IN (SELECT passage FROM hot)
              THEN 1 ELSE 0 END) AS n_dup
          FROM p GROUP BY 1, 2)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(n_pass) AS BIGINT) AS total_passages,
          CAST(SUM(n_dup) AS BIGINT) AS dup_passages,
          CAST(SUM(n_dup) AS DOUBLE) / SUM(n_pass) AS dup_fraction
        FROM d GROUP BY source ORDER BY source""")),

    // ---- canonical representative per duplicate cluster ----------------
    // The "keep one" step after clustering: within each connected
    // component (q52's min-label clusters), keep the document with the
    // highest quality score (ties -> lowest doc_id). The quality score is
    // floor-quantized to 1e-9 (q72 discipline) before ranking so Spark
    // and DuckDB order identically.
    "q79_canonical_docs" -> QueryDef(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.jaccardPairsExhaustive(docs, "doc_id", "text",
            k = 3, minJaccard = 0.2, maxDf = 1000000)
          .select("id_a", "id_b")
        val q = TextOps.qualityScore(col("text"),
          graft.functions.SqlFunctions.DefaultStopwords)
        val scored = Dedup.connectedComponents(pairs)
          .join(docs.select(col("doc_id").as("id"),
            floor(q * 1e9).cast("long").as("q9")), "id")
        // canonical pick = argmin of (-q9, id): one partial-aggregable
        // min(struct) per cluster, identical selection to a (q9 desc, id)
        // rank-1 window without the per-label sort
        scored.groupBy("label")
          .agg(count(lit(1)).as("n_docs"),
            min(struct((-col("q9")).as("nq9"), col("id"))).as("m"))
          .select(col("label").as("cluster_root"), col("n_docs"),
            col("m.id").as("kept_id"), (-col("m.nq9")).as("kept_q9"))
          .orderBy("cluster_root")
      },
      Some(s"""${WordsCte.replaceFirst("WITH", "WITH RECURSIVE")},
        $ComponentsCte,
        qs AS (SELECT doc_id,
            CAST(FLOOR(($QualityScoreSql)
              * 1e9) AS BIGINT) AS q9
          FROM w),
        sc AS (SELECT comp.node AS id, comp.label, qs.q9
          FROM comp JOIN qs ON qs.doc_id = comp.node),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
            ORDER BY q9 DESC, id ASC) AS rn FROM sc)
        SELECT label AS cluster_root, COUNT(*) AS n_docs,
          MIN(CASE WHEN rn = 1 THEN id END) AS kept_id,
          MAX(CASE WHEN rn = 1 THEN q9 END) AS kept_q9
        FROM r GROUP BY label ORDER BY cluster_root""")),

    // ---- semantic decontamination (embedding-space overlap) ------------
    // The embedding analog of q75's shingle decontamination: flag training
    // vectors whose max cosine against ANY held-out benchmark vector
    // (vec_id % 20 == 0, ~5%) reaches 0.92. The benchmark side is small by
    // construction, so it broadcasts and the max folds map-side — no
    // shuffle proportional to the cross product. Cosines are floor-
    // quantized to 1e-6 before max/compare (cross-engine float
    // discipline).
    "q80_semantic_decontaminate" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        // norms once per row on each side, BEFORE the BNL join — computing
        // them inside the pair expression would redo each norm |other side|
        // times (measured 3x on the whole query at sf0.1)
        // zero-vector guard (q53 discipline): cosine against a zero norm is
        // 0/0 = NaN, which the oracle's CAST(FLOOR(NaN)) hard-errors on
        val bench = emb.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("bench_id"), col("embedding").as("bv"),
            VectorOps.l2Norm(col("embedding")).as("bnorm"))
          .filter(col("bnorm") > 0)
        val cos6 = floor(VectorOps.dot(col("embedding"), col("bv"))
          / (col("tnorm") * col("bnorm")) * 1e6).cast("long")
        emb.filter(col("vec_id") % 20 =!= 0)
          .withColumn("tnorm", VectorOps.l2Norm(col("embedding")))
          .filter(col("tnorm") > 0)
          .crossJoin(broadcast(bench))
          .groupBy(col("vec_id"), col("label"))
          .agg(max(cos6).as("max_cos6"))
          .withColumn("contaminated", col("max_cos6") >= 920000L)
          .groupBy("label")
          .agg(count(lit(1)).as("n_train"),
            sum(when(col("contaminated"), 1L).otherwise(0L))
              .as("n_contaminated"),
            max(col("max_cos6")).as("max_cos6"))
          .orderBy("label")
      },
      Some("""WITH e AS (SELECT vec_id, label,
          CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id AS bench_id, v AS bv FROM e
          WHERE vec_id % 20 = 0 AND list_dot_product(v, v) > 0),
        mx AS (SELECT t.vec_id, t.label,
            MAX(CAST(FLOOR(list_dot_product(t.v, b.bv) /
              (sqrt(list_dot_product(t.v, t.v)) *
               sqrt(list_dot_product(b.bv, b.bv))) * 1e6) AS BIGINT))
              AS max_cos6
          FROM e t, b WHERE t.vec_id % 20 <> 0
            AND list_dot_product(t.v, t.v) > 0
          GROUP BY 1, 2)
        SELECT label, COUNT(*) AS n_train,
          CAST(SUM(CASE WHEN max_cos6 >= 920000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
          MAX(max_cos6) AS max_cos6
        FROM mx GROUP BY label ORDER BY label""")),

    // ---- boilerplate removal (rewrite, not just stats) -----------------
    // q76 actually applied: drop hot passages (shared by >= 3 docs) from
    // each document, reassemble the survivors in order, and measure the
    // shrinkage. Reassembly is collect_list(struct(idx, passage)) ->
    // array_sort -> join: deterministic regardless of shuffle order.
    "q82_boilerplate_strip" -> QueryDef(
      (s, dir) => {
        val pass = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            posexplode(TextOps.passages(col("text"), 8))
              .as(Seq("idx", "passage")))
        val hot = pass.groupBy("passage")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 3)
          .select(col("passage"), lit(true).as("is_dup"))
        def rejoin(c: org.apache.spark.sql.Column) =
          length(concat_ws(" ", transform(array_sort(collect_list(c)),
            x => x.getField("passage"))))
        val perDoc = pass.join(broadcast(hot), Seq("passage"), "left")
          .groupBy("doc_id", "source")
          .agg(
            rejoin(struct(col("idx"), col("passage"))).as("chars_norm"),
            rejoin(when(col("is_dup").isNull,
              struct(col("idx"), col("passage")))).as("chars_clean"))
        perDoc.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("chars_norm").as("chars_norm"),
            sum("chars_clean").as("chars_clean"),
            sum(when(col("chars_clean") < col("chars_norm"), 1L)
              .otherwise(0L)).as("n_modified"))
          .orderBy("source")
      },
      Some(s"""$WordsCte,
        g AS (SELECT doc_id, source, ws,
            CAST(unnest(range(0, CAST(FLOOR((len(ws) - 1) / 8.0) AS INT) + 1))
              AS INT) AS j
          FROM w WHERE len(ws) > 0),
        p AS (SELECT doc_id, source, j,
            array_to_string(ws[j*8+1 : j*8+8], ' ') AS passage FROM g),
        hot AS (SELECT passage FROM
          (SELECT passage, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY 1)
          WHERE nd >= 3),
        d AS (SELECT doc_id, source,
            COALESCE(len(string_agg(passage, ' ' ORDER BY j)), 0)
              AS chars_norm,
            COALESCE(len(string_agg(CASE WHEN passage IN
                (SELECT passage FROM hot) THEN NULL ELSE passage END, ' '
                ORDER BY j)), 0) AS chars_clean
          FROM p GROUP BY 1, 2)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(chars_norm) AS BIGINT) AS chars_norm,
          CAST(SUM(chars_clean) AS BIGINT) AS chars_clean,
          CAST(SUM(CASE WHEN chars_clean < chars_norm THEN 1 ELSE 0 END)
            AS BIGINT) AS n_modified
        FROM d GROUP BY source ORDER BY source""")),

    // ---- persisted dedup index round trip (operational shape) -----------
    // A daily intake job does NOT re-sketch the whole corpus per run: the
    // corpus winnow-Bloom (StreamingOps.buildWinnowIndex — one row,
    // m/8 bytes) is written once per corpus version as a parquet ARTIFACT
    // and every subsequent intake probes the RELOADED index. This query
    // grades the round trip end to end: build -> write -> read -> probe,
    // compared against w14's oracle VERBATIM (shared winnowIntakeOracleSql)
    // — the persistence layer must be invisible in every bit, including
    // the md5-replayable false positives. (k, w, m, kHash) are the
    // artifact's identity; probing with mismatched parameters is a
    // documented contract violation, not a silent wrong answer the
    // Bloom's no-false-negative guarantee could mask.
    "q124_persisted_dedup_index" -> QueryDef(
      (s, dir) => {
        import graft.streaming.StreamingOps
        val docs = t(s, dir, "documents")
        // a FIXED per-corpus path + overwrite, not a fresh temp dir per
        // invocation (ADVICE r10: bench runs invoke each query several
        // times per capture — a createTempDirectory here leaked one
        // parquet-bearing directory per run for the life of the host);
        // "one artifact per corpus version, overwritten on rebuild" is
        // also the operational contract the query models. Keyed by the
        // FULL sanitized dir, not its Int hashCode (ADVICE r11: hashCode
        // collisions between dataset dirs would silently cross-
        // contaminate artifacts).
        val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_winnow_idx_" + artifactKey(dir)).toString
        StreamingOps.buildWinnowIndex(docs.filter(col("doc_id") % 3 === 0))
          .write.mode("overwrite").parquet(idxDir)
        StreamingOps.intakeWinnowMatchesWith(
            docs.filter(col("doc_id") % 3 =!= 0),
            s.read.parquet(idxDir), minHits = 5)
          .orderBy("doc_id")
      },
      Some(winnowIntakeOracleSql)),

    // ---- incremental dedup-index merge (corpus versioning) --------------
    // Real corpora grow daily; re-sketching history per version defeats
    // the q124 artifact. The day's delta builds its OWN index and
    // mergeWinnowIndex ORs the bitmaps — exact for Bloom membership
    // (each key sets the same md5 positions whichever build it entered
    // at equal m/kHash), so the merged artifact is bit-for-bit the
    // from-scratch build over the union. Graded end to end by splitting
    // q124's corpus (doc_id % 3 = 0) into two "versions" (% 6 = 0 prior,
    // % 6 = 3 delta), merging, and probing the SAME intake against the
    // SAME oracle as q124/w14 — the merge must be invisible in every
    // bit, md5-replayable false positives included. The bitwise
    // merged-equals-scratch identity is additionally pinned in
    // StreamingSpec.
    "q125_dedup_index_merge" -> QueryDef(
      (s, dir) => {
        import graft.streaming.StreamingOps
        val docs = t(s, dir, "documents")
        val prior = StreamingOps.buildWinnowIndex(
          docs.filter(col("doc_id") % 6 === 0))
        val delta = StreamingOps.buildWinnowIndex(
          docs.filter(col("doc_id") % 6 === 3))
        StreamingOps.intakeWinnowMatchesWith(
            docs.filter(col("doc_id") % 3 =!= 0),
            StreamingOps.mergeWinnowIndex(prior, delta), minHits = 5)
          .orderBy("doc_id")
      },
      Some(winnowIntakeOracleSql)),

    // ---- edit-distance near-dup pairs (fuzzy dedup) ---------------------
    // The character-noise dedup family the token-set methods miss: true
    // Levenshtein <= 8 over the FULL text, candidates from chunked
    // 48-char prefix anchors (12-char chunks x 4; pigeonhole recall for
    // prefixes within 3 substitutions — the planted fixture near-dups
    // share their prefix exactly), df-capped with the aggregation-based
    // discipline. The verify is Spark's thresholded banded-DP
    // levenshtein (O(len*maxEdit)); the oracle replays chunks ->
    // candidates -> length lower bound -> exact levenshtein in DuckDB.
    "q126_edit_distance_dedup" -> QueryDef(
      (s, dir) => {
        Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
            prefixLen = 48, chunks = 4, maxEdit = 8, maxBucket = 200)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents),
        an AS (SELECT doc_id, CAST(t.ci AS INT) AS ci,
            substr(text, CAST(t.ci AS INT) * 12 + 1, 12) AS chunk
          FROM d, range(4) t(ci)),
        keep AS (SELECT an.doc_id, an.ci, an.chunk FROM an
          JOIN (SELECT ci, chunk, COUNT(*) AS n FROM an GROUP BY 1, 2) z
            ON z.ci = an.ci AND z.chunk = an.chunk
          WHERE z.n <= 200),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM keep a JOIN keep b ON a.ci = b.ci AND a.chunk = b.chunk
            AND a.doc_id < b.doc_id)
        SELECT c.id_a, c.id_b,
          CAST(levenshtein(pa.text, pb.text) AS BIGINT) AS edit_distance
        FROM cand c JOIN d pa ON pa.doc_id = c.id_a
        JOIN d pb ON pb.doc_id = c.id_b
        WHERE abs(length(pa.text) - length(pb.text)) <= 8
          AND levenshtein(pa.text, pb.text) <= 8
        ORDER BY id_a, id_b""")),

    // ---- edit-distance dedup, indel-proof anchors (PassJoin) ------------
    // q126's fixed anchors miss pairs whose prefix edits include an
    // insertion/deletion (the alignment shifts every chunk). This is the
    // PassJoin substring-selection fix: the probe side keeps its exact
    // chunks, the window side contributes every length-12 substring
    // within ±3 of each chunk's home position — recall 1.0 GUARANTEED
    // for prefixes within 3 edits of each other, any mix of edit kinds
    // (one chunk always survives the edit script and appears shifted by
    // at most the net indel count). Verify is unchanged: thresholded
    // Levenshtein <= 8 over the full text.
    "q126b_edit_distance_indel" -> QueryDef(
      (s, dir) => {
        Dedup.editDistancePairsPositional(t(s, dir, "documents"),
            "doc_id", "text", prefixLen = 48, chunks = 4, maxEdit = 8,
            maxBucket = 200)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents),
        pr AS (SELECT doc_id, CAST(t.ci AS INT) AS ci,
            substr(text, CAST(t.ci AS INT) * 12 + 1, 12) AS chunk
          FROM d, range(4) t(ci)),
        wn AS (SELECT DISTINCT doc_id, CAST(t.ci AS INT) AS ci,
            substr(text,
              CAST(t.ci AS INT) * 12 + CAST(s.d AS INT) + 1, 12) AS chunk
          FROM d, range(4) t(ci), range(-3, 4) s(d)
          WHERE CAST(t.ci AS INT) * 12 + CAST(s.d AS INT) >= 0),
        cnt AS (SELECT ci, chunk, COUNT(*) AS n FROM wn GROUP BY 1, 2),
        kw AS (SELECT wn.doc_id, wn.ci, wn.chunk FROM wn
          JOIN cnt ON cnt.ci = wn.ci AND cnt.chunk = wn.chunk
          WHERE cnt.n <= 200),
        kp AS (SELECT pr.doc_id, pr.ci, pr.chunk FROM pr
          JOIN cnt ON cnt.ci = pr.ci AND cnt.chunk = pr.chunk
          WHERE cnt.n <= 200),
        cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
            greatest(a.doc_id, b.doc_id) AS id_b
          FROM kp a JOIN kw b ON a.ci = b.ci AND a.chunk = b.chunk
            AND a.doc_id <> b.doc_id)
        SELECT c.id_a, c.id_b,
          CAST(levenshtein(pa.text, pb.text) AS BIGINT) AS edit_distance
        FROM cand c JOIN d pa ON pa.doc_id = c.id_a
        JOIN d pb ON pb.doc_id = c.id_b
        WHERE abs(length(pa.text) - length(pb.text)) <= 8
          AND levenshtein(pa.text, pb.text) <= 8
        ORDER BY id_a, id_b""")),

    // ---- full PassJoin: recall 1.0 at the FULL verify radius -------------
    // VERDICT r11 #1: q126b's window anchors guarantee recall only for
    // prefixes within chunks-1 = 3 edits; a pair with 4+ edits inside
    // the 48-char prefix could silently miss while the verify accepts
    // Levenshtein <= 8. editDistancePairsFullRadius partitions EVERY
    // document into maxEdit+1 = 9 chunks of its own width (the PassJoin
    // partition lemma), so candidate recall 1.0 holds at the full radius
    // — and this query MEASURES it rather than trusting the lemma: the
    // truth set is the exhaustive thresholded-DP pair set (quadratic,
    // the oracle-baseline shape per q113b's precedent — tractable at
    // grading scale, which is its only job), the found set is the
    // operator's own verified output, and the row is the one-line
    // scorecard (n_true, n_found, recall9 floor-quantized, q108
    // discipline). The oracle replays widths -> anchors -> cap ->
    // candidates -> verify -> counts in DuckDB.
    "q126c_edit_distance_recall" -> QueryDef(
      (s, dir) => {
        val raw = t(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        // planted tiny docs (VERDICT r12 #4): the fixture corpus has no
        // docs shorter than maxEdit+1 = 9 chars, so the tiny-doc exact
        // path would grade vacuously — derive 1..8-char prefixes of
        // every 37th doc under offset ids, so the truth set includes
        // tiny-tiny pairs (every one of which is within radius by
        // length alone) and recall 1.0 is measured over them too
        val tiny = raw.filter(col("doc_id") % 37 === 0)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"),
            col("text").substr(lit(1),
              (col("doc_id") % 8 + 1).cast("int")).as("text"))
        // persisted (guide §1.2): the grading corpus (raw ∪ planted tiny)
        // is referenced ~8x — both truth join sides, the operator's probe/
        // window/verify sides, and the tiny path — each re-running the
        // parquet scan + union + substr. Registry-drained per run.
        val docs = Dedup.cached(raw.unionAll(tiny))
        val a = docs.select(col("doc_id").as("id_a"),
          col("text").as("__ta"), length(col("text")).as("__na"))
        val b = docs.select(col("doc_id").as("id_b"),
          col("text").as("__tb"), length(col("text")).as("__nb"))
        // EQUI-JOIN on the 9-char length bucket instead of a pure-theta
        // BroadcastNestedLoopJoin over all n^2/2 ordered pairs (guide
        // §3.3/§2.4): |len_a - len_b| <= 8 implies floor(len_a/9) is
        // within 1 of floor(len_b/9), so joining a's bucket against b
        // exploded to its three adjacent buckets is a SUPERSET of the
        // truth pairs — each qualifying pair matches exactly once (the
        // three keys are distinct) and the exact length bound + banded
        // DP verify as before. Measured at sf0.1: 12.5M pair evals ->
        // 419k surviving the length bound (~30x fewer DP calls), BNLJ ->
        // BroadcastHashJoin.
        val ab = a.withColumn("__bka", floor(col("__na") / 9))
        val bb = b.withColumn("__bkb", explode(array(
          floor(col("__nb") / 9) - 1, floor(col("__nb") / 9),
          floor(col("__nb") / 9) + 1)))
        val truth = ab.join(bb,
            col("__bka") === col("__bkb") &&
              col("id_a") < col("id_b") &&
              abs(col("__na") - col("__nb")) <= 8 &&
              levenshtein(col("__ta"), col("__tb"), 8).between(0, 8))
          .select("id_a", "id_b")
        val found = Dedup.editDistancePairsFullRadius(docs, "doc_id",
            "text", maxEdit = 8, maxBucket = 200)
          .select("id_a", "id_b").withColumn("__f", lit(1))
        // ONE pass over the truth side (a separate semi-joined count would
        // run the quadratic truth join twice): left-join the found marker
        // — broadcast, the verified pair set is dup-sized — and count
        // both in the same aggregation
        truth.join(broadcast(found), Seq("id_a", "id_b"), "left")
          .agg(count(lit(1)).as("n_true"), count(col("__f")).as("n_found"))
          .select(col("n_true"), col("n_found"),
            when(col("n_true") === 0, lit(-1L))
              .otherwise(expr(
                "CAST(n_found AS DECIMAL(38,0)) * 1000000000 DIV n_true"))
              .as("recall9"))
      },
      Some("""WITH d0 AS (SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000,
            substr(text, 1, CAST(doc_id % 8 + 1 AS INT))
          FROM documents WHERE doc_id % 37 = 0),
        d AS (SELECT doc_id, text, length(text) AS n FROM d0),
        tru AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.n - b.n) <= 8
          WHERE levenshtein(a.text, b.text) <= 8),
        pr AS (SELECT doc_id,
            CAST(('0x' || substr(md5(CAST(floor(n/9.0) AS INT) || ':' ||
              CAST(t.ci AS INT) || ':' ||
              substr(text, CAST(t.ci AS INT)*CAST(floor(n/9.0) AS INT) + 1,
                CAST(floor(n/9.0) AS INT))), 1, 12)) AS BIGINT) AS akey
          FROM d, range(9) t(ci) WHERE floor(n/9.0) >= 1),
        ww AS (SELECT doc_id, text, n, CAST(unnest(range(
            greatest(CAST(floor((n - 8)/9.0) AS BIGINT), 1),
            CAST(floor((n + 8)/9.0) AS BIGINT) + 1)) AS INT) AS w
          FROM d WHERE floor((n + 8)/9.0) >= 1),
        wn AS (SELECT doc_id,
            CAST(('0x' || substr(md5(w || ':' || CAST(t.ci AS INT) || ':' ||
              substr(text, CAST(t.ci AS INT)*w + CAST(u.dd AS INT) + 1, w)),
              1, 12)) AS BIGINT) AS akey
          FROM ww, range(9) t(ci), range(-8, 9) u(dd)
          WHERE CAST(t.ci AS INT)*w + CAST(u.dd AS INT) >= 0
            AND CAST(t.ci AS INT)*w + CAST(u.dd AS INT) + w <= n),
        cnt AS (SELECT akey, COUNT(*) AS c FROM wn GROUP BY 1),
        kw AS (SELECT wn.doc_id, wn.akey FROM wn
          JOIN cnt ON cnt.akey = wn.akey WHERE cnt.c <= 200),
        kp AS (SELECT pr.doc_id, pr.akey FROM pr
          JOIN cnt ON cnt.akey = pr.akey WHERE cnt.c <= 200),
        cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
            greatest(a.doc_id, b.doc_id) AS id_b
          FROM kp a JOIN kw b ON a.akey = b.akey
            AND a.doc_id <> b.doc_id),
        fnd AS (SELECT c.id_a, c.id_b FROM cand c
          JOIN d pa ON pa.doc_id = c.id_a
          JOIN d pb ON pb.doc_id = c.id_b
          WHERE abs(pa.n - pb.n) <= 8
            AND levenshtein(pa.text, pb.text) <= 8
          UNION ALL
          SELECT a.doc_id, b.doc_id FROM d a JOIN d b
            ON a.doc_id < b.doc_id
          WHERE a.n < 9 AND b.n < 9
            AND levenshtein(a.text, b.text) <= 8),
        st AS (SELECT
            (SELECT COUNT(*) FROM tru) AS n_true,
            (SELECT COUNT(*) FROM tru JOIN fnd
              ON fnd.id_a = tru.id_a AND fnd.id_b = tru.id_b) AS n_found)
        SELECT CAST(n_true AS BIGINT) AS n_true,
          CAST(n_found AS BIGINT) AS n_found,
          CASE WHEN n_true = 0 THEN -1
            ELSE CAST(n_found * 1000000000 // n_true AS BIGINT)
          END AS recall9
        FROM st""")),

    // ---- corpus-overlap matrix via bottom-k (KMV) sketches --------------
    // "How much does snapshot B repeat snapshot A" across every source
    // pair, WITHOUT a shingle-level join: each source collapses map-side
    // to its 256 smallest distinct md5-shingle hashes (a uniform sample
    // of its shingle set under the hash order), and the fraction of the
    // merged union-sample present in both sketches estimates Jaccard.
    // The only shuffle is |sources| rows of <=256 longs; the pairwise
    // matrix is a self-join of that one-row-per-source frame with pure
    // array expressions inside. The oracle replays every sketch value
    // (ORDER BY hash LIMIT k) and both counters exactly.
    "q127_corpus_overlap_sketch" -> QueryDef(
      (s, dir) => {
        graft.operators.CorpusOverlap.overlapMatrix(
            t(s, dir, "documents"), "source", "text", k = 256, shingleK = 3)
          .orderBy("corpus_a", "corpus_b")
      },
      Some(corpusOverlapOracleSql)),

    // ---- persisted overlap-sketch artifact + exact incremental merge ----
    // The q124/q125 corpus-versioning discipline on the overlap axis:
    // each source's "prior" half (doc_id % 2 = 0) and "delta" half
    // (doc_id % 2 = 1) sketch SEPARATELY, the two sketches merge with
    // the pure array expression (KMV merge is EXACT — the k smallest of
    // the union are determined by the k smallest of each side), the
    // merged artifact round-trips through parquet (self-describing: k,
    // shingle_k, version ride in the row), and the overlap matrix
    // computes from the RELOADED artifact. The oracle is q127's
    // from-scratch full-corpus SQL VERBATIM (shared constant, cannot
    // drift) — any bit the merge or the round trip loses fails the hash.
    "q127b_overlap_sketch_artifact" -> QueryDef(
      (s, dir) => {
        import graft.operators.CorpusOverlap
        val docs = t(s, dir, "documents")
        val k = 256
        val empty = lit(Array.empty[Long])
        val prior = CorpusOverlap.sketches(
          docs.filter(col("doc_id") % 2 === 0), "source", "text", k)
        val delta = CorpusOverlap.sketches(
            docs.filter(col("doc_id") % 2 === 1), "source", "text", k)
          .select(col("corpus"), col("sketch").as("__delta"))
        val merged = prior.join(delta, Seq("corpus"), "full_outer")
          .select(col("corpus"),
            CorpusOverlap.mergeSketches(coalesce(col("sketch"), empty),
              coalesce(col("__delta"), empty), k).as("sketch"),
            lit(k).as("k"), lit(3).as("shingle_k"), lit(2L).as("version"))
        // fixed per-corpus path + overwrite (the q124 artifact contract),
        // keyed by the full sanitized dir (ADVICE r11)
        val skDir = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_overlap_sketch_" + artifactKey(dir)).toString
        merged.write.mode("overwrite").parquet(skDir)
        CorpusOverlap.overlapMatrixOf(
            s.read.parquet(skDir).select("corpus", "sketch"), k)
          .orderBy("corpus_a", "corpus_b")
      },
      Some(corpusOverlapOracleSql)),

    // ---- persisted cluster artifact + incremental delta merge -----------
    // The q124/q125/q127b corpus-versioning discipline on the CLUSTER
    // axis (VERDICT r11 #1 — the one family still rebuilt from scratch):
    // the prior corpus version's connectedComponents output persists as
    // a (root, member, version) parquet artifact; the day's delta
    // contributes only its NEW near-dup edges (new-vs-new and
    // new-vs-old); mergeClusterArtifact re-clusters ONLY the touched
    // components' star edges plus the delta, carrying untouched rows
    // over verbatim. Graded end to end: prior = components over pairs
    // among doc_id % 4 != 3, delta = every pair involving a % 4 == 3
    // doc, and the merged labels are compared against q52's oracle
    // VERBATIM (shared constant — the from-scratch recursive-CTE closure
    // over the FULL pair set), so any bit the persist/merge path loses
    // fails the hash. Pair config is q52's oracle-baseline exhaustive
    // shape; production feeds LSH-verified pairs to the same merge.
    "q130_cluster_artifact_merge" -> QueryDef(
      (s, dir) => {
        // persisted: the exhaustive pair pipeline feeds BOTH the prior
        // build (via its filter) and the delta merge — unpersisted, each
        // downstream reference re-ran the whole shingle+pair pass
        // (guide §1.2/§5; released via Dedup.unpersistAll)
        val pairs = Dedup.cached(
          Dedup.jaccardPairsExhaustive(t(s, dir, "documents"),
              "doc_id", "text", k = 3, minJaccard = 0.2, maxDf = 1000000)
            .select("id_a", "id_b"))
        val priorPairs = pairs.filter(
          col("id_a") % 4 =!= 3 && col("id_b") % 4 =!= 3)
        val deltaEdges = pairs.filter(
          col("id_a") % 4 === 3 || col("id_b") % 4 === 3)
        val artDir = new java.io.File(sys.props("java.io.tmpdir"),
          "graft_cluster_art_" + artifactKey(dir)).toString
        Dedup.clusterArtifact(Dedup.connectedComponents(priorPairs))
          .write.mode("overwrite").parquet(artDir)
        // persistDelta=false: deltaEdges filters the ALREADY-cached pairs
        // frame above — the internal persist would cache the same rows
        // twice (ADVICE r14 #1)
        Dedup.mergeClusterArtifact(s.read.parquet(artDir), deltaEdges,
            persistDelta = false)
          .groupBy("label")
          .agg(count(lit(1)).as("n_docs"),
            array_join(
              transform(sort_array(collect_list(col("id"))),
                x => x.cast("string")), ",").as("doc_ids"))
          .select(col("label").as("cluster_root"), col("n_docs"),
            col("doc_ids"))
          .orderBy("cluster_root")
      },
      Some(dupClustersOracleSql))
  )

  // q52 and q130 share ONE oracle (the from-scratch recursive-CTE
  // transitive closure over the FULL exhaustive pair set): q130's
  // artifact-persist + delta-merge must be invisible against it, which
  // is exactly the grade (the q125/q127b discipline on the cluster axis).
  private def dupClustersOracleSql: String =
    s"""${WordsCte.replaceFirst("WITH", "WITH RECURSIVE")},
        $ComponentsCte
        SELECT label AS cluster_root, COUNT(*) AS n_docs,
          array_to_string(list_sort(list(node)), ',') AS doc_ids
        FROM comp GROUP BY label ORDER BY cluster_root"""

  // q127 and q127b share ONE oracle (the from-scratch full-corpus bottom-k
  // replay): q127b's split-sketch-merge-roundtrip must be invisible
  // against it, which is exactly the grade.
  private def corpusOverlapOracleSql: String =
    s"""$WordsCte,
        g AS (SELECT source, unnest(range(1, len(ws) - 1)) AS i, ws FROM w),
        sh AS (SELECT DISTINCT source,
            ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM g),
        h AS (SELECT DISTINCT source,
            CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh),
        sk AS (SELECT source, h FROM (SELECT source, h,
            ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn FROM h)
          WHERE rn <= 256),
        pairs AS (SELECT a.source AS corpus_a, b.source AS corpus_b
          FROM (SELECT DISTINCT source FROM h) a
          JOIN (SELECT DISTINCT source FROM h) b ON a.source < b.source),
        u AS (SELECT p.corpus_a, p.corpus_b, s.h FROM pairs p
            JOIN sk s ON s.source = p.corpus_a
          UNION SELECT p.corpus_a, p.corpus_b, s.h FROM pairs p
            JOIN sk s ON s.source = p.corpus_b),
        mg AS (SELECT corpus_a, corpus_b, h FROM (SELECT corpus_a, corpus_b,
            h, ROW_NUMBER() OVER (PARTITION BY corpus_a, corpus_b
              ORDER BY h) AS rn FROM u)
          WHERE rn <= 256),
        st AS (SELECT mg.corpus_a, mg.corpus_b, COUNT(*) AS m,
            SUM(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
              THEN 1 ELSE 0 END) AS n_common
          FROM mg
          LEFT JOIN sk sa ON sa.source = mg.corpus_a AND sa.h = mg.h
          LEFT JOIN sk sb ON sb.source = mg.corpus_b AND sb.h = mg.h
          GROUP BY 1, 2)
        SELECT corpus_a, corpus_b, CAST(m AS BIGINT) AS m,
          CAST(n_common AS BIGINT) AS n_common,
          ROUND(CAST(n_common AS DOUBLE) / NULLIF(m, 0), 6) AS jaccard_est
        FROM st ORDER BY corpus_a, corpus_b"""
}
