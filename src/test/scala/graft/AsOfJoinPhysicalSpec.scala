package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AsOfJoin
import graft.plans.AsOfJoinPhysical

/** The physical as-of join operator (LogicalPlan + Strategy + ExecNode) must
  * agree with the window-based formulation and plan as a single merge with
  * one exchange+sort per side.
  */
class AsOfJoinPhysicalSpec extends AnyFunSuite {
  private lazy val ext: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    GraftSession.builder("local[4]", 4)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
  }

  test("AsOfJoinExec matches the window formulation on the events fixture") {
    import ext.implicits._
    try {
      val ev = Tables.load(ext, "/root/testdata/sf0.001", "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "ts", "user_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))

      val physical = AsOfJoinPhysical.backward(clicks, purchases,
        Seq("user_id"), "ts", "ts", Seq("purchase_value"))
      val windowed = AsOfJoin.backward(clicks, purchases,
        Seq("user_id"), "ts", "ts", Seq("purchase_value"))

      // the physical plan is OUR operator: one AsOfJoinExec, exchanges only
      // below it (inserted by EnsureRequirements)
      val planStr = physical.queryExecution.executedPlan.toString
      assert(planStr.contains("AsOfJoin ["), planStr) // SparkPlan nodeName strips "Exec"

      val p = physical.select("event_id", "purchase_value")
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      val w = windowed.select("event_id", "purchase_value")
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(p === w)
      assert(p.nonEmpty)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("key groups with no earlier right rows yield nulls") {
    import ext.implicits._
    try {
      val left = Seq((1L, 100L), (1L, 50L), (2L, 10L), (3L, 99L))
        .toDF("k", "ts")
      val right = Seq((1L, 60L, 6.0), (3L, 99L, 9.0)).toDF("k", "ts", "v")
      val got = AsOfJoinPhysical.backward(left, right, Seq("k"), "ts", "ts", Seq("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
      assert(got === Set(
        (1L, 100L, Some(6.0)),
        (1L, 50L, None),       // before the only right row
        (2L, 10L, None),       // key absent on the right
        (3L, 99L, Some(9.0)))) // tie: rightTs == leftTs is inclusive
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("tolerance nulls stale matches; allowExactMatches=false excludes " +
      "exact-timestamp right rows (physical and window forms agree)") {
    import ext.implicits._
    try {
      val left = Seq((1L, 100L), (1L, 200L), (1L, 300L), (2L, 50L))
        .toDF("k", "ts")
      val right = Seq((1L, 90L, 9.0), (1L, 200L, 2.0), (2L, 10L, 1.0))
        .toDF("k", "ts", "v")

      // tolerance 50: (1,100) matches 90 (delta 10), (1,300) is 100 past
      // the nearest candidate 200 -> NULL, (2,50) is 40 past 10 -> kept
      val tol = AsOfJoinPhysical.backward(left, right, Seq("k"), "ts", "ts",
          Seq("v"), tolerance = Some(50L))
        .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
      assert(tol === Set(
        (1L, 100L, Some(9.0)),
        (1L, 200L, Some(2.0)), // exact hit, delta 0
        (1L, 300L, None),      // candidate 200 is 100 stale > 50
        (2L, 50L, Some(1.0))))

      // strict: the exact-ts row 200 no longer matches (falls back to 90)
      val strict = AsOfJoinPhysical.backward(left, right, Seq("k"), "ts",
          "ts", Seq("v"), allowExactMatches = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
      assert(strict === Set(
        (1L, 100L, Some(9.0)),
        (1L, 200L, Some(9.0)), // 200 excluded, latest strict match is 90
        (1L, 300L, Some(2.0)),
        (2L, 50L, Some(1.0))))

      // window formulation must agree under both knobs, jointly
      for ((t, e) <- Seq((Some(50L), true), (None, false),
          (Some(50L), false))) {
        val p = AsOfJoinPhysical.backward(left, right, Seq("k"), "ts", "ts",
            Seq("v"), tolerance = t, allowExactMatches = e)
          .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
        val w = AsOfJoin.backward(left, right, Seq("k"), "ts", "ts",
            Seq("v"), tolerance = t, allowExactMatches = e)
          .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
        assert(p === w, s"tolerance=$t allowExactMatches=$e")
      }
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("nearest with tolerance disqualifies both-direction candidates " +
      "before the pick; strict mode ignores exact hits") {
    import ext.implicits._
    try {
      val left = Seq((1L, 100L), (1L, 500L)).toDF("k", "ts")
      val right = Seq((1L, 80L, 8.0), (1L, 130L, 3.0), (1L, 500L, 5.0))
        .toDF("k", "ts", "v")
      // tolerance 25: for (1,100) backward 80 (delta 20) qualifies, forward
      // 130 (delta 30) does not -> 8.0 wins despite being farther than 130
      val tol = AsOfJoin.nearest(left, right, Seq("k"), "ts", "ts", "v",
          tolerance = Some(25L))
        .select("k", "ts", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
      assert(tol === Set(
        (1L, 100L, Some(8.0)),
        (1L, 500L, Some(5.0)))) // exact hit, delta 0
      // strict + tolerance 25: the exact 500 is no candidate, 130 is 370
      // away -> NULL
      val strict = AsOfJoin.nearest(left, right, Seq("k"), "ts", "ts", "v",
          tolerance = Some(25L), allowExactMatches = false)
        .select("k", "ts", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
      assert(strict === Set(
        (1L, 100L, Some(8.0)),
        (1L, 500L, None)))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
