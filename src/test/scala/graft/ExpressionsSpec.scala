package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.DecodeExpressions
import graft.seamf.{HalfFloat, SeamfCodec}

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val vals = Array(1.0f, -2.5f, 0.25f, -77.0f)
  private def payload = SeamfCodec.xzCompress(HalfFloat.encodeVector(vals))

  test("xz_decompress + half_decode round-trip via the Column DSL") {
    val df = Seq(Tuple1(payload)).toDF("content")
    val got = df.select(DecodeExpressions.half_decode(
        DecodeExpressions.xz_decompress(col("content"))).as("v"))
      .head().getSeq[Float](0)
    assert(got.toSeq === vals.toSeq)
  }

  test("registered SQL functions decode in pure SQL") {
    DecodeExpressions.registerAll(spark)
    Seq(Tuple1(payload)).toDF("content").createOrReplaceTempView("payloads")
    val got = spark.sql(
      "SELECT half_decode(xz_decompress(content)) AS v FROM payloads")
      .head().getSeq[Float](0)
    assert(got.toSeq === vals.toSeq)
  }

  test("expressions stay inside whole-stage codegen") {
    // a parquet scan keeps the input non-literal (a literal input would be
    // constant-folded into a LocalTableScan before codegen)
    val dir = tempDir("exprtest")
    Seq(Tuple1(payload)).toDF("content").write.mode("overwrite")
      .parquet(s"$dir/p")
    val df = spark.read.parquet(s"$dir/p")
      .select(size(DecodeExpressions.half_decode(
        DecodeExpressions.xz_decompress(col("content")))).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" stage prefix marks operators inside WholeStageCodegen
    assert(plan.contains("*(1) Project"), plan)
    assert(df.head().getInt(0) === vals.length)
  }

  test("null propagates, type mismatch is an analysis error") {
    val df = Seq(Tuple1(null: Array[Byte])).toDF("content")
    assert(df.select(DecodeExpressions.xz_decompress(col("content")))
      .head().isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("x").select(DecodeExpressions.half_decode(col("x"))).head()
    }
  }

  test("DotProduct matches the HOF form bit-for-bit and keeps its null semantics") {
    import graft.functions.expressions.VectorExpressions.dotProduct
    val df = Seq(
      (Array(1.5f, -2.25f, 3.125f), Array(0.5f, 4.0f, -1.75f)),
      (Array.empty[Float], Array.empty[Float]))
      .toDF("a", "b")
    // bit parity with the aggregate(zip_with(cast)) formulation
    val hof = df.select(aggregate(
      zip_with(transform(col("a"), x => x.cast("double")),
        transform(col("b"), x => x.cast("double")), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)).as[Double].collect()
    val nat = df.select(dotProduct(col("a"), col("b"))).as[Double].collect()
    assert(java.lang.Double.doubleToLongBits(nat(0)) ===
      java.lang.Double.doubleToLongBits(hof(0)))
    assert(nat(1) === 0.0) // empty arrays -> 0.0 like the HOF init
    // length mismatch -> null (zip_with pads, null poisons the aggregate)
    val mm = Seq((Array(1.0f, 2.0f), Array(1.0f)))
      .toDF("a", "b")
      .select(dotProduct(col("a"), col("b")))
    assert(mm.head().isNullAt(0))
    // null array -> null; double arrays work; ints are an analysis error
    assert(Seq((null: Array[Double], Array(1.0)))
      .toDF("a", "b").select(dotProduct(col("a"), col("b")))
      .head().isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Array(1, 2), Array(3, 4))).toDF("a", "b")
        .select(dotProduct(col("a"), col("b"))).head()
    }
    // stays inside whole-stage codegen (parquet-backed so the local
    // relation doesn't constant-fold the projection away)
    val dir = tempDir("dottest")
    df.write.mode("overwrite").parquet(s"$dir/p")
    val plan = spark.read.parquet(s"$dir/p")
      .select(dotProduct(col("a"), col("b")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("Shingles matches the HOF form and keeps its null/edge semantics") {
    import graft.functions.TextOps
    // the HOF formulation the expression replaced (kept here as the
    // semantic reference)
    def hofShingles(text: org.apache.spark.sql.Column, k: Int) =
      TextOps.letCol(TextOps.words(text))(ws => TextOps.shinglesOf(ws, k))
    val texts = Seq(
      "a b c d e",
      "  leading and\ttab\nnewline  double  spaces ",
      "one",
      "",
      "   ",
      "exactly three words",
      "unicode nbsp stays inside words")
    val df = texts.toDF("t")
    for (k <- 2 to 4) {
      val nat = df.select(TextOps.shingles(col("t"), k))
        .as[Seq[String]].collect().toSeq
      val hof = df.select(hofShingles(col("t"), k))
        .as[Seq[String]].collect().toSeq
      assert(nat === hof, s"k=$k")
    }
    // deliberate k=1 divergence: the HOF form emits [""] for zero-word
    // text (its window filter sees split("", " ") = [""], size 1 == k);
    // the native expression returns the correct empty array. No inventory
    // query shingles possibly-empty text at k=1 (q55's unigram path is
    // the ARRAY variant, gated to >= 3 words).
    val empties = Seq("", "   ").toDF("t")
    assert(empties.select(TextOps.shingles(col("t"), 1))
      .as[Seq[String]].collect().toSeq === Seq(Seq(), Seq()))
    assert(empties.select(hofShingles(col("t"), 1))
      .as[Seq[String]].collect().toSeq === Seq(Seq(""), Seq("")))
    // non-empty text agrees at k=1 too
    assert(df.filter(length(trim(col("t"))) > 0)
      .select(TextOps.shingles(col("t"), 1)).as[Seq[String]].collect().toSeq
      === df.filter(length(trim(col("t"))) > 0)
        .select(hofShingles(col("t"), 1)).as[Seq[String]].collect().toSeq)
    // null propagates
    assert(Seq((null: String)).toDF("t")
      .select(TextOps.shingles(col("t"), 3)).head().isNullAt(0))
    // non-string input is an analysis error
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("t").select(TextOps.shingles(col("t"), 3)).head()
    }
    // stays inside whole-stage codegen on a parquet-backed scan
    val dir = tempDir("shingletest")
    df.write.mode("overwrite").parquet(s"$dir/p")
    val plan = spark.read.parquet(s"$dir/p")
      .select(TextOps.shingles(col("t"), 3))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("NfcNormalize composes combining marks, is identity on NFC text, " +
      "and registers as graft_nfc") {
    import graft.functions.expressions.TextExpressions
    val decomposed = "cafe\u0301"      // e + U+0301
    val precomposed = "caf\u00e9"      // U+00E9
    val df = Seq(decomposed, precomposed, "plain ascii",
      null.asInstanceOf[String]).toDF("t")
    val got = df.select(TextExpressions.nfcNormalize(col("t"))).collect()
      .map(r => Option(r.getString(0)))
    assert(got(0) === Some(precomposed),
      "decomposed form must compose to the precomposed codepoint")
    assert(got(1) === Some(precomposed))
    assert(got(2) === Some("plain ascii"))
    assert(got(3) === None)
    // the dedup motivation: both forms share a fingerprint after NFC
    val fps = df.filter(col("t").isNotNull)
      .select(graft.functions.TextOps
        .fingerprint(TextExpressions.nfcNormalize(col("t"))))
      .collect().map(_.getLong(0))
    assert(fps(0) === fps(1))
    // SQL surface
    graft.functions.SqlFunctions.registerAll(spark)
    df.limit(1).createOrReplaceTempView("nfc_probe")
    assert(spark.sql("SELECT graft_nfc(t) FROM nfc_probe").head().getString(0)
      === precomposed)
  }
}
