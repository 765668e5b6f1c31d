package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Distributed byte-pair-encoding (BPE) vocabulary learning.
  *
  * Classic BPE trains on the (distinct word, corpus frequency) table: each
  * round counts adjacent symbol pairs weighted by word frequency, merges the
  * most frequent pair corpus-wide, and repeats. The heavy step — weighted
  * pair counting over the corpus-derived word table — is one explode + one
  * partial-aggregable groupBy per round; the argmax is a 1-row
  * TakeOrdered; the merge application rewrites the (vocab-sized, Zipf-
  * bounded) word table, never the corpus.
  *
  * Merge semantics are exact leftmost-greedy BPE: all occurrences merge,
  * and when the pair overlaps itself (p1 == p2, runs like `l l l`) only
  * even offsets within each run merge. That rule is implemented with
  * windows (match -> run id -> run offset parity), NOT string replace —
  * substring replace over the space-joined form merges across symbol
  * boundaries (`ka b` matching `a b`) and mis-handles runs. Every step is
  * deterministic and relational, so q70's DuckDB oracle replays the whole
  * multi-round fit as a CTE chain.
  */
object Bpe extends PersistRegistry {

  /** Space-joined character sequence of a word: "hello" -> "h e l l o". */
  def charSeq(word: Column): Column =
    trim(regexp_replace(word, "(.)", "$1 "))

  /** Corpus-weighted adjacent-pair counts over (word, cnt, seq). */
  def pairCounts(seqs: DataFrame): DataFrame =
    seqs.select(col("cnt"), explode(pairsOf(col("seq"))).as("pair"))
      .groupBy("pair").agg(sum(col("cnt")).as("pc"))

  /** Adjacent symbol pairs of a space-joined sequence (empty for single-
    * symbol sequences). The split array is let-bound (TextOps.letCol):
    * captured expressions inside HOF lambdas re-evaluate per element.
    */
  def pairsOf(seq: Column): Column =
    TextOps.letCol(split(seq, " ")) { a =>
      when(size(a) >= 2,
        transform(sequence(lit(1), size(a) - 1),
          i => concat(element_at(a, i), lit(" "), element_at(a, i + 1))))
        .otherwise(array().cast("array<string>"))
    }

  /** Merge every leftmost-greedy occurrence of `p1 p2` in each sequence. */
  def applyMerge(seqs: DataFrame, p1: String, p2: String): DataFrame = {
    val w = Window.partitionBy("word").orderBy("i")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = Window.partitionBy("word", "rid")
    seqs
      .select(col("word"), col("cnt"),
        posexplode(split(col("seq"), " ")).as(Seq("i", "tok")))
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .withColumn("mtch", col("nxt").isNotNull &&
        col("tok") === p1 && col("nxt") === p2)
      .withColumn("prevm", coalesce(lag(col("mtch"), 1).over(w), lit(false)))
      .withColumn("rs", when(col("mtch") && !col("prevm"), 1).otherwise(0))
      .withColumn("rid", sum(col("rs")).over(cum))
      // offset parity inside a run of consecutive matches (p1 == p2 case)
      .withColumn("run0", min(when(col("mtch"), col("i"))).over(run))
      .withColumn("merged",
        col("mtch") && (col("i") - col("run0")) % 2 === 0)
      .withColumn("consumed",
        coalesce(lag(col("merged"), 1).over(w), lit(false)))
      .filter(!col("consumed"))
      .withColumn("emit",
        when(col("merged"), concat(col("tok"), col("nxt")))
          .otherwise(col("tok")))
      .groupBy("word", "cnt")
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("i"), col("emit")))),
        s => s.getField("emit"))).as("seq"))
  }

  /** Weighted symbol count of the current sequences (corpus tokens).
    * SUM over an empty word table is NULL, not 0 — coalesce so an empty
    * corpus fits with zero totals instead of throwing.
    */
  def totalSymbols(seqs: DataFrame): Long =
    seqs.select(coalesce(sum(size(split(col("seq"), " ")) * col("cnt")),
      lit(0L))).head.getLong(0)

  /** Run `rounds` merge rounds over (word, cnt, seq); returns
    * (round, pair, pair_count, total_symbols_after) — round 0 carries the
    * initial symbol total with pair "<base>".
    */
  def fit(words: DataFrame, rounds: Int): Seq[(Int, String, Long, Long)] = {
    // stats-only call: release the final table only if the fit persisted
    // it (zero-merge fits return the caller's input — possibly the
    // caller's OWN persist, which is not ours to take)
    val (stats, finalSeqs, fitOwned) = fitImpl(words, rounds)
    if (fitOwned) finalSeqs.unpersist(blocking = false)
    stats
  }

  /** [[fit]] plus the FINAL merged (word, cnt, seq) table — for encoders
    * (q81) that would otherwise replay every merge the fit just computed.
    * The returned frame is still persisted; the CALLER owns releasing it
    * (`.unpersist()` or [[track]]) once consumed.
    */
  def fitWithSeqs(words: DataFrame,
      rounds: Int): (Seq[(Int, String, Long, Long)], DataFrame) = {
    val (stats, finalSeqs, _) = fitImpl(words, rounds)
    (stats, finalSeqs)
  }

  private def fitImpl(words: DataFrame,
      rounds: Int): (Seq[(Int, String, Long, Long)], DataFrame, Boolean) = {
    // The word table is Zipf-bounded (distinct vocab << corpus): persist
    // each generation so the 2-3 actions per round (argmax, total, next
    // round's counts) do not re-derive the corpus aggregation. All owned
    // caches except the returned final generation release in the finally
    // block (generations are vocab-sized, so holding them for the fit's
    // duration is cheap and leak-proof even if an action throws
    // mid-round); a caller-persisted input is left alone.
    val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = {
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        df.persist(); owned += df
      }
      df
    }
    var seqs: DataFrame = null
    var ok = false
    try {
      seqs = cache(words)
      var out = Vector((0, "<base>", 0L, totalSymbols(seqs)))
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        // stop early when every word has collapsed to a single symbol
        pairCounts(seqs).orderBy(col("pc").desc, col("pair").asc)
          .limit(1).collect().headOption match {
          case None => exhausted = true
          case Some(top) =>
            val pair = top.getString(0)
            val Array(p1, p2) = pair.split(" ", 2)
            seqs = cache(applyMerge(seqs, p1, p2))
            out :+= ((r, pair, top.getLong(1), totalSymbols(seqs)))
            r += 1
        }
      }
      ok = true
      (out, seqs, owned.exists(_ eq seqs))
    } finally
      // on failure release EVERYTHING (nothing is handed to the caller)
      owned.filter(d => !ok || (d ne seqs))
        .foreach(_.unpersist(blocking = false))
  }
}
