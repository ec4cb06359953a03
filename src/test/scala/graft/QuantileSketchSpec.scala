package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Certification of the quantile sketches graft uses — Spark's
  * built-in KLL (`kll_sketch_agg_double` + `kll_sketch_get_quantile_double`)
  * and GK `percentile_approx`: the measured rank error must stay inside
  * the deterministic closed-form bound across partitionings (merge
  * orders) and skews, and the SQL surface must agree with the DSL
  * column — the ANN-style certified-contract discipline for an
  * approximate operator.
  */
class QuantileSketchSpec extends SparkTestBase {
  import spark.implicits._
  import QuantileSketchSpec.{kll, rankErrorBound}

  private val probs = Seq(0.1, 0.5, 0.9, 0.99)

  private def rankOf(sorted: Array[Double], v: Double): Long =
    sorted.count(_ <= v).toLong

  test("rank error stays inside the deterministic bound across partitionings and skews") {
    val n = 60000
    val uniform = (1 to n).map(_.toDouble)
    val rnd = new scala.util.Random(7)
    val skewed = (1 to n).map(_ => math.exp(rnd.nextGaussian() * 4))
    val estimators = Seq(
      "kll" -> kll($"v", probs, 256),
      "percentile_approx" ->
        percentile_approx($"v", array(probs.map(lit): _*), lit(10000)))
    for ((data, tag) <- Seq((uniform, "uniform"), (skewed, "lognormal"));
         parts <- Seq(1, 7, 32); (name, est) <- estimators) {
      val sorted = data.toArray.sorted
      val got = data.toDF("v").repartition(parts)
        .agg(est.as("q")).as[Seq[Double]].head()
      val bound = rankErrorBound(n, 256)
      probs.zip(got).foreach { case (p, q) =>
        val err = math.abs(rankOf(sorted, q) - math.ceil(p * n).toLong)
        assert(err <= bound,
          s"$name $tag parts=$parts p=$p: rank error $err > bound $bound")
      }
    }
  }

  test("Percentiles dispatcher: both physical paths agree within the certified rank bound") {
    // graft's two grouped-percentile plans: native GK percentile_approx
    // (the default — x_pctl_approx) and the opt-in mergeable KLL tier.
    // Both must land inside the KLL sketch's closed-form rank bound of
    // the same exact quantile per group (GK at accuracy 1e4 is far
    // tighter, so one shared bound gates both), or callers choosing
    // between the two plans would get answers that disagree.
    val n = 50000
    val rnd = new scala.util.Random(11)
    val rows = (1 to n).map(i => (i % 4, math.exp(rnd.nextGaussian() * 2)))
    val df = rows.toDF("g", "v").repartition(13)
    val ps = Seq(0.5, 0.9)
    val nativeDf = df.groupBy($"g")
      .agg(percentile_approx($"v", array(ps.map(lit): _*), lit(10000)).as("q"))
    val sketchDf = df.groupBy($"g").agg(kll($"v", ps, 256).as("q"))
    def got(q: org.apache.spark.sql.DataFrame): Map[Int, Seq[Double]] =
      q.as[(Int, Seq[Double])].collect().toMap
    val native = got(nativeDf)
    val sketch = got(sketchDf)
    val nativePlan = nativeDf.queryExecution.executedPlan.toString
    assert(nativePlan.contains("percentile_approx"), nativePlan.take(400))
    val sketchPlan = sketchDf.queryExecution.executedPlan.toString
    assert(sketchPlan.contains("kll_sketch_agg_double"), sketchPlan.take(400))
    for (g <- 0 until 4) {
      val vals = rows.collect { case (gg, v) if gg == g => v }.toArray.sorted
      val bound = rankErrorBound(vals.length, 256)
      for ((p, i) <- ps.zipWithIndex; est <- Seq(native(g)(i), sketch(g)(i))) {
        val err = math.abs(rankOf(vals, est) - math.ceil(p * vals.length).toLong)
        assert(err <= bound, s"g=$g p=$p est=$est rank err $err > $bound")
      }
    }
  }

  test("per-group sketch quantiles track exact percentiles; SQL spot agrees") {
    val ev = Tables.events(spark, sf).filter($"value".isNotNull)
    val viaDsl = ev.groupBy($"event_type")
      .agg(kll($"value", Seq(0.5, 0.9, 0.99), 256).as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    ev.createOrReplaceTempView("ev_pctl")
    val viaSql = spark.sql(
      """SELECT event_type, kll_sketch_get_quantile_double(
        |  kll_sketch_agg_double(value, 256), array(0.5D, 0.9D, 0.99D)) AS q
        |FROM ev_pctl GROUP BY event_type""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(viaDsl.keySet == viaSql.keySet && viaDsl.keySet.nonEmpty)
    // each group's n is far below k=256, so the sketch is EXACT here:
    // both surfaces must hit the true lower-quantile values
    val groups = ev.groupBy($"event_type")
      .agg(collect_list($"value").as("vs")).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray.sorted).toMap
    for ((t, sorted) <- groups; (p, i) <- Seq(0.5, 0.9, 0.99).zipWithIndex) {
      val exact = sorted(math.max(0,
        math.ceil(p * sorted.length).toInt - 1))
      assert(viaDsl(t)(i) == exact, s"$t p=$p: ${viaDsl(t)(i)} != $exact")
      assert(viaSql(t)(i) == exact)
    }
  }

  test("SQL surface skips NULLs instead of coercing them to 0.0") {
    // a sparse column: 10 real values among 990 NULLs. Reading each
    // NULL as 0.0 would drag p50 to 0; the sketch must return the
    // quantiles of the 10 real values. (An all-NULL group has no
    // sketch to query: kll_sketch_get_quantile_double raises
    // KLL_INVALID_INPUT_SKETCH_BUFFER, so callers filter NULLs first.)
    val vals = (1 to 10).map(i => i * 100.0)
    val rows = vals.map(Option(_)) ++ Seq.fill(990)(Option.empty[Double])
    rows.toDF("v").createOrReplaceTempView("sparse_pctl")
    val got = spark.sql(
      """SELECT kll_sketch_get_quantile_double(kll_sketch_agg_double(v, 256),
        |  array(0.5D, 0.9D, 0.99D)) AS q FROM sparse_pctl""".stripMargin)
      .collect()(0).getSeq[Double](0)
    // n=10 < k: exact lower quantiles of {100..1000}
    assert(got == Seq(500.0, 900.0, 1000.0), got.toString)
  }
}

object QuantileSketchSpec {
  /** Quantiles of `v` at `probs` from a k-capacity KLL sketch. */
  def kll(v: Column, probs: Seq[Double], k: Int): Column =
    kll_sketch_get_quantile_double(kll_sketch_agg_double(v.cast("double"), k),
      array(probs.map(lit): _*))

  /** The deterministic worst-case RANK error of a k-capacity KLL-style
    * sketch over n rows: n·(log₂(n/k)+2)/k — every compaction at level
    * l displaces a rank by ≤ 2^l and at most ⌈n/(k·2^l)⌉ happen there.
    */
  def rankErrorBound(n: Long, k: Int): Double =
    if (n <= k) 0.0
    else n.toDouble * (math.log(n.toDouble / k) / math.log(2.0) + 2.0) / k
}
