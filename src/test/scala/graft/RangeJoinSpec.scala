package graft

import graft.plans.{GraftExtensions, RangeJoinBinning}
import org.apache.spark.sql.functions._

/** The automatic range-join binning rewrite: a pure point-in-interval
  * theta join must leave the optimizer as a binned equi-join (the plan
  * that scales out) while keeping EXACTLY the naive join's rows —
  * boundaries, negatives, nulls, and empty-overlap intervals included.
  */
class RangeJoinSpec extends SparkTestBase {
  import spark.implicits._

  private def withBin[A](w: Long)(body: => A): A = {
    spark.conf.set(RangeJoinBinning.ConfKey, w.toString)
    try body finally spark.conf.unset(RangeJoinBinning.ConfKey)
  }

  private val points =
    Seq(-25L, -15L, -10L, -5L, 0L, 3L, 5L, 15L, 20L).toDF("x")
  private val intervals = Seq(
    (1L, Some(-20L), Some(-10L)), // negative range, boundary hits
    (2L, Some(-7L), Some(3L)),    // straddles zero
    (3L, Some(10L), Some(20L)),   // positive, upper boundary hit
    (4L, Some(100L), Some(200L)), // matches nothing
    (5L, None, Some(50L)),        // null lo: never matches (SQL nulls)
    (6L, Some(0L), None)          // null hi: never matches
  ).toDF("iid", "lo", "hi")

  test("binned rewrite keeps exactly the naive join's rows") {
    GraftExtensions.install(spark)
    val cond = $"x" >= $"lo" && $"x" <= $"hi"
    val naive = points.join(intervals, cond)
      .select($"iid", $"x").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty && naive.contains((1L, -15L)) &&
      naive.contains((1L, -10L)) && naive.contains((3L, 20L)))
    val got = withBin(10L) {
      val df = points.join(intervals, cond)
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("NestedLoop") && !phys.contains("Cartesian"),
        s"rewrite missed — still a nested loop:\n$phys")
      assert(phys.contains("__graft_bin"), phys)
      df.select($"iid", $"x").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(got == naive, s"got ${got.diff(naive)} extra / ${naive.diff(got)} missing")
  }

  test("strict bounds and point-on-right both rewrite soundly") {
    GraftExtensions.install(spark)
    val cond = $"x" > $"lo" && $"x" < $"hi"
    val naive = points.join(intervals, cond)
      .select($"iid", $"x").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = withBin(7L) { // width coprime to the data on purpose
      val df = intervals.join(points, cond) // interval side on the LEFT
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("NestedLoop") && phys.contains("__graft_bin"), phys)
      df.select($"iid", $"x").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(got == naive)
  }

  test("the rewrite fires from pure SQL (BETWEEN desugars to the bound pair)") {
    GraftExtensions.install(spark)
    points.createOrReplaceTempView("rj_points")
    intervals.createOrReplaceTempView("rj_intervals")
    val sql = """SELECT i.iid, p.x FROM rj_points p
                |JOIN rj_intervals i ON p.x BETWEEN i.lo AND i.hi""".stripMargin
    val naive = spark.sql(sql).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = withBin(10L) {
      val df = spark.sql(sql)
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("NestedLoop") && phys.contains("__graft_bin"),
        phys)
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(got == naive && naive.nonEmpty)
  }

  test("inverted intervals (lo > hi) are dropped, not a Sequence crash") {
    GraftExtensions.install(spark)
    val dirty = intervals.union(Seq(
      (7L, Some(30L), Some(-30L)), // inverted: legal data, matches nothing
      (8L, Some(5L), Some(5L))     // degenerate single-point interval
    ).toDF("iid", "lo", "hi"))
    val cond = $"x" >= $"lo" && $"x" <= $"hi"
    val naive = points.join(dirty, cond)
      .select($"iid", $"x").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.contains((8L, 5L)) && !naive.exists(_._1 == 7L))
    val got = withBin(10L) {
      val df = points.join(dirty, cond)
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("NestedLoop") && phys.contains("__graft_bin"), phys)
      df.select($"iid", $"x").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(got == naive, s"got ${got.diff(naive)} extra / ${naive.diff(got)} missing")
  }

  test("rule is idempotent and leaves equi-joins + off-conf plans alone") {
    val cond = $"x" >= $"lo" && $"x" <= $"hi"
    withBin(10L) {
      val analyzed = points.join(intervals, cond).queryExecution.analyzed
      val once = RangeJoinBinning(analyzed)
      assert(once.toString.contains("__graft_bin"), once.toString)
      val twice = RangeJoinBinning(once)
      assert(once.toString == twice.toString, "rule must not re-match its output")
      // a join that already has an equi key shuffles fine — no rewrite
      val equi = points.withColumn("iid", lit(1L))
        .join(intervals, Seq("iid")).where(cond)
      assert(!RangeJoinBinning(equi.queryExecution.analyzed)
        .toString.contains("__graft_bin"))
    }
    // conf unset: no rewrite
    val off = RangeJoinBinning(
      points.join(intervals, cond).queryExecution.analyzed)
    assert(!off.toString.contains("__graft_bin"))
  }

  test("a malformed bin width conf fails loudly instead of turning the rule off") {
    val cond = $"x" >= $"lo" && $"x" <= $"hi"
    spark.conf.set(RangeJoinBinning.ConfKey, "1h")
    val e = try intercept[IllegalArgumentException] {
        RangeJoinBinning(points.join(intervals, cond).queryExecution.analyzed)
      } finally spark.conf.unset(RangeJoinBinning.ConfKey)
    assert(e.getMessage.contains(RangeJoinBinning.ConfKey) &&
      e.getMessage.contains("'1h'"), e.getMessage)
  }

  test("withBinWidth hint scopes the rewrite to one join, equi keys allowed") {
    // the plan-embedded trigger: no session conf, an equi key present
    // (the production shape the conf path deliberately skips) — the
    // hinted join must still come out binned, row-identical to the
    // naive join, and the marker must never reach physical planning
    val keyedIntervals = intervals.withColumn("k", $"iid" % 2)
    val keyedPoints = points.withColumn("pk", $"x" % 2)
    val naive = keyedPoints.join(keyedIntervals,
        $"pk" === $"k" && $"x" >= $"lo" && $"x" <= $"hi")
      .select($"x", $"iid").as[(Long, Long)].collect().sorted.toSeq
    val hinted = RangeJoinBinning.withBinWidth(keyedIntervals, 10L)
    val df = keyedPoints.join(hinted,
      $"pk" === hinted("k") && $"x" >= hinted("lo") && $"x" <= hinted("hi"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_bin"), plan)
    assert(!plan.contains("RangeBinHint"), plan)
    assert(!plan.contains("NestedLoop"), plan)
    val got = df.select($"x", $"iid").as[(Long, Long)].collect().sorted.toSeq
    assert(got == naive)
    // an un-joined hinted frame still executes (marker stripped)
    assert(RangeJoinBinning.withBinWidth(intervals, 5L).count() == 6)
    // q47 is the production adopter: its executed plan shows the
    // rule's generator and bin keys with no conf set
    val q47 = SparkEntry.queries("q47_range_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(q47.contains("__graft_bin") && !q47.contains("NestedLoop"), q47)
  }
}
