package graft

import org.apache.spark.sql.functions._
import graft.functions.DbMath
import graft.plans.SimplifyDbRoundTrips

/** The dB-algebra optimizer rule: tested both as a standalone
  * Rule[LogicalPlan] application and via SparkSessionExtensions injection.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("rule cancels dbToPow(powToDb(x)) round-trips in the plan") {
    val df = Seq(0.5, 2.0, 123.25).toDF("x")
      .select(
        DbMath.dbToPow(DbMath.powToDb(col("x"))).as("rt1"),
        DbMath.powToDb(DbMath.dbToPow(col("x"))).as("rt2"),
        DbMath.dbToEnv(DbMath.envToDb(col("x"))).as("rt3"))
    val before = df.queryExecution.analyzed
    val after = SimplifyDbRoundTrips(before)
    val s = after.toString
    withClue(s) {
      assert(!s.contains("LOG10") && !s.toLowerCase.contains("pow"))
    }
  }

  test("rewrite guards non-positive inputs (ADVICE r1): plan keeps a null " +
    "branch, not bare x") {
    val df = Seq(2.0).toDF("x")
      .select(DbMath.dbToPow(DbMath.powToDb(col("x"))).as("rt"))
    val s = SimplifyDbRoundTrips(df.queryExecution.analyzed).toString
    // transcendentals gone, but the replacement is the guarded conditional
    assert(!s.contains("LOG10") && !s.toLowerCase.contains("pow"))
    assert(s.contains("if ") || s.contains("CASE"), s)
  }

  test("rule leaves mismatched power/envelope scales alone") {
    val df = Seq(10.0).toDF("x")
      .select(DbMath.dbToPow(DbMath.envToDb(col("x"))).as("y"))
    val s = SimplifyDbRoundTrips(df.queryExecution.analyzed).toString
    assert(s.contains("LOG10") || s.toLowerCase.contains("pow"))
  }

  test("composite SQL functions evaluate like their Column-DSL forms") {
    import spark.implicits._
    graft.functions.SqlFunctions.registerAll(spark)
    Seq(("the data of the pipeline is good and big", 7L, 13L))
      .toDF("text", "x", "y").createOrReplaceTempView("sqlfn_t")
    val r = spark.sql("""SELECT graft_token_count(text) AS tc,
        graft_quality_score(text) AS q,
        graft_lang_id(text) AS lang,
        graft_hash48(text) AS h,
        graft_zvalue2(x, y) AS z,
        graft_cosine(array(1.0, 0.0), array(1.0, 0.0)) AS cos
      FROM sqlfn_t""").head
    assert(r.getAs[Int]("tc") === 9)
    val dsl = spark.table("sqlfn_t").select(
      graft.functions.TextOps.qualityScore(col("text"),
        graft.functions.SqlFunctions.DefaultStopwords)).head.getDouble(0)
    assert(r.getAs[Double]("q") === dsl)
    assert(r.getAs[String]("lang") === "en")
    assert(r.getAs[Long]("h") > 0L)
    // z(7=0b111, 13=0b1101): interleave -> x bits at even, y at odd
    assert(r.getAs[Long]("z") ===
      (1L << 0 | 1L << 2 | 1L << 4 | 1L << 1 | 1L << 5 | 1L << 7))
    assert(r.getAs[Double]("cos") === 1.0)
    // graft_winnow: SQL surface of the codegen'd sketch — same rows as
    // the Column-DSL operator form, structural k/w as literals
    val sqlFp = spark.sql(
      """SELECT f.pos AS pos, f.h AS h
        FROM sqlfn_t LATERAL VIEW explode(graft_winnow(text, 5, 3)) AS f
        ORDER BY pos""").collect().map(r => (r.getLong(0), r.getLong(1)))
    val dslFp = graft.operators.Winnow.fingerprints(
        spark.table("sqlfn_t").withColumn("id", lit(1L)), "id", "text",
        k = 5, w = 3)
      .orderBy("pos").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(sqlFp.nonEmpty && sqlFp.toSeq === dslFp.toSeq)
    intercept[Exception] {
      spark.sql("SELECT graft_winnow(text, x, 3) FROM sqlfn_t").collect()
    }
  }

  test("the shared test session is vanilla and carries " +
    "GraftSession.builder's settings") {
    // no GraftExtensions: the round-trip survives optimization, as it does
    // on the driver's and perfbench's sessions
    val df = spark.range(1, 4)
      .select(DbMath.dbToPow(DbMath.powToDb(col("id").cast("double"))).as("y"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("LOG10"), opt)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") ===
      "TIMESTAMP_MICROS")
    assert(spark.conf.get("spark.ui.enabled") === "false")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  test("extension injection wires the rule into a session's optimizer") {
    // a session created with GraftExtensions optimizes the round-trip away
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val ext = GraftSession.builder("local[2]", 2)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    try {
      import ext.implicits._
      val df = Seq(1.5).toDF("x")
        .select(DbMath.dbToPow(DbMath.powToDb(col("x"))).as("y"))
      val opt = df.queryExecution.optimizedPlan.toString
      withClue(opt) {
        assert(!opt.contains("LOG10") && !opt.toLowerCase.contains("pow"))
      }
      assert(df.head().getDouble(0) === 1.5) // exact: ops eliminated
      // NULL/non-positive semantics preserved through the rewrite
      // (ADVICE r1): log10(x <= 0) is NULL in Spark, so the round-trip
      // must stay NULL there
      val edge = Seq[java.lang.Double](4.0, 0.0, -3.0, null).toDF("x")
        .select(col("x"), DbMath.dbToPow(DbMath.powToDb(col("x"))).as("rt"))
      assert(!edge.queryExecution.optimizedPlan.toString.contains("LOG10"))
      val got = edge.orderBy(col("x").asc_nulls_first).collect()
        .map(r => if (r.isNullAt(1)) null else r.getDouble(1))
      assert(got.toSeq === Seq(null, null, null, 4.0))
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      // restore the shared vanilla session as default for later suites
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }
}
