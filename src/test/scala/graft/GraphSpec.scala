package graft

import org.apache.spark.sql.functions._

/** Hand-computable fixtures for the iterative graph operators
  * (q125/q126 machinery). Oracle-level value checks live in the DuckDB
  * gate; these pin the algorithmic contracts on graphs small enough to
  * verify by hand.
  */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  // path graph A–B–C as symmetric edges
  private lazy val pathEdges =
    Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")

  test("pageRank on a 3-node path: symmetric ends equal, center highest, mass sums to 1") {
    val pr = operators.Graph.pageRank(pathEdges, iterations = 5)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(pr(1L) - pr(3L)) < 1e-15, s"ends differ: $pr")
    assert(pr(2L) > pr(1L), s"center not highest: $pr")
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, s"mass leak: ${pr.values.sum}")
  }

  test("pageRank single iteration matches the closed-form step") {
    // after 1 iter from uniform 1/3: ends get .15/3 + .85*(1/3)/2,
    // center gets .15/3 + .85*((1/3)/1 + (1/3)/1)
    val pr = operators.Graph.pageRank(pathEdges, iterations = 1)
      .as[(Long, Double)].collect().toMap
    // same FP steps as the operator: (1 - d)/n, NOT literal 0.15/3
    // (they differ in the last ulp — the operator and its SQL oracle
    // both use the (1 - d) form for exactly this reason)
    val t = (1.0 - 0.85) / 3
    assert(pr(1L) == t + 0.85 * (1.0 / 3 / 2))
    assert(pr(2L) == t + 0.85 * (1.0 / 3 + 1.0 / 3))
  }

  test("bfsHops labels a 5-node path with exact hop distances and respects maxHops") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 3L), (4L, 5L), (5L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("part")
    val hops = operators.Graph.bfsHops(edges, seeds, maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(hops == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3), hops.toString)
    // node 5 is 4 hops out -> excluded at maxHops=3
    assert(!hops.contains(5L))
  }

  test("bfsHops takes the MINIMUM hop when multiple paths reach a node") {
    // triangle 1-2-3 plus tail 3-4: node 3 reachable in 1 (direct) not 2
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L),
      (3L, 1L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val hops = operators.Graph.bfsHops(edges, Seq(1L).toDF("part"), maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(hops == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2), hops.toString)
  }

  test("pageRank shuffle path (broadcastState=false) matches the broadcast path") {
    val e = operators.Graph.coOrderEdges(
      Tables.lineitem(spark, sf).limit(2000))
    val bc = operators.Graph.pageRank(e, iterations = 3,
        broadcastState = Some(true))
      .select($"part", round($"pr", 10).as("pr"))
      .as[(Long, Double)].collect().toMap
    val sh = operators.Graph.pageRank(e, iterations = 3,
        broadcastState = Some(false))
      .select($"part", round($"pr", 10).as("pr"))
      .as[(Long, Double)].collect().toMap
    // only the physical join strategy differs; the contribution sums
    // may associate differently, so compare decimal-rounded ranks
    assert(bc.keySet == sh.keySet)
    assert(bc.forall { case (k, v) => math.abs(sh(k) - v) < 1e-9 },
      "shuffle-path ranks diverge from broadcast-path ranks")
  }

  test("bfsHops shuffle path (broadcastState=false) matches the broadcast path exactly") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L),
      (3L, 1L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("part")
    val bc = operators.Graph.bfsHops(edges, seeds, maxHops = 3,
      broadcastState = Some(true)).as[(Long, Int)].collect().toMap
    val sh = operators.Graph.bfsHops(edges, seeds, maxHops = 3,
      broadcastState = Some(false)).as[(Long, Int)].collect().toMap
    assert(bc == sh, s"$bc vs $sh")
  }

  test("labelPropagation symmetric seed ≡ union seed on a symmetric edge list; union seed still covers src-only vertices") {
    // two triangles bridged by one edge — communities are non-trivial
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val base = operators.Graph.labelPropagation(sym, rounds = 2)
      .as[(Long, Long)].collect().toMap
    val fast = operators.Graph.labelPropagation(sym, rounds = 2,
      symmetric = true).as[(Long, Long)].collect().toMap
    assert(base == fast, s"symmetric seed diverged: $base vs $fast")
    // asymmetric caller (default path): a src-only vertex must still
    // seed — 7 -> 1 one-way: 7 has no in-edges, keeps its own label,
    // but must APPEAR (the r15 advice fix this flag must not undo)
    val asym = sym.union(Seq((7L, 1L)).toDF("src", "dst"))
    val lab = operators.Graph.labelPropagation(asym, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(lab.contains(7L), s"src-only vertex dropped: $lab")
  }

  test("snapshotDiff classifies added/removed/changed/unchanged and treats NULL transitions as CHANGED") {
    val a = Seq((1L, Some("O"), 10.0), (2L, Some("F"), 20.0),
      (3L, Some("O"), 30.0), (4L, None: Option[String], 40.0))
      .toDF("k", "status", "price")
    val b = Seq((1L, Some("O"), 10.0),            // unchanged
      (3L, Some("O"), 35.0),                      // changed (price)
      (4L, Some("O"), 40.0),                      // changed (NULL -> value)
      (5L, Some("O"), 50.0))                      // added; key 2 removed
      .toDF("k", "status", "price")
    val got = operators.Reconcile.snapshotDiff(a, b, "k", Seq("status", "price"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "UNCHANGED", 2L -> "REMOVED", 3L -> "CHANGED",
      4L -> "CHANGED", 5L -> "ADDED"), got.toString)
  }

  test("coOrderEdges is symmetric and excludes self-pairs") {
    val e = operators.Graph.coOrderEdges(Tables.lineitem(spark, sf))
    assert(e.filter($"src" === $"dst").count() == 0)
    val asym = e.select($"src", $"dst")
      .exceptAll(e.select($"dst".as("src"), $"src".as("dst")))
    assert(asym.count() == 0)
  }

  test("connectedComponents: two known components + a 12-ring needing 6 propagation rounds") {
    // component 1: path 1–2–3–4–5 (size 5); component 2: triangle
    // 10–11–12 (size 3); plus a 12-ring 20..31 (size 12) whose min
    // label needs ring-diameter/2 = 6 hash-min rounds to reach the
    // antipode — inside the 10-round contract, so the census must
    // report full convergence (n_changed_last = 0).
    def sym(ps: Seq[(Long, Long)]) =
      ps.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val ring = (0 until 12).map(i => (20L + i, 20L + (i + 1) % 12))
    val e = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L)) ++ ring).toDF("src", "dst")
    val row = operators.Graph.connectedComponents(e, rounds = 10)
      .collect()(0)
    assert(row.getAs[Long]("n_nodes") == 20L, row)
    assert(row.getAs[Long]("n_components") == 3L, row)
    assert(row.getAs[Long]("largest_size") == 12L, row)
    assert(row.getAs[Double]("largest_share") == 0.6, row)
    assert(row.getAs[Long]("n_changed_last") == 0L, row)
  }

  test("connectedComponents: an under-budget round count reports honest non-convergence") {
    // a 16-path's min label needs 15 rounds; with 3 the census must
    // say so (n_changed_last > 0) rather than pretend convergence —
    // and the fixed-round labeling is still deterministic.
    def sym(ps: Seq[(Long, Long)]) =
      ps.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val path = (0 until 15).map(i => (100L + i, 101L + i))
    val e = sym(path).toDF("src", "dst")
    val row = operators.Graph.connectedComponents(e, rounds = 3)
      .collect()(0)
    assert(row.getAs[Long]("n_nodes") == 16L, row)
    assert(row.getAs[Long]("n_components") > 1L, row)
    assert(row.getAs[Long]("n_changed_last") > 0L, row)
  }

  test("checkpointKeepLayout keeps hashpartitioning without mutating the caller session's AQE conf") {
    val aqeKey = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(aqeKey) == "true",
      "precondition: test session runs with AQE on")
    val src = spark.range(0, 10000)
      .select(($"id" % 97).as("k"), $"id".as("v"))
      .repartition(8, $"k")
    val ck = operators.Graph.checkpointKeepLayout(src)
    // the caller session's conf must be untouched (no session-global
    // flip a concurrently-planned query could observe)
    assert(spark.conf.get(aqeKey) == "true",
      "checkpointKeepLayout leaked an AQE conf mutation")
    assert(ck.sparkSession eq spark,
      "checkpoint must re-bind to the caller's session")
    // rows identical
    assert(ck.count() == 10000L)
    assert(ck.exceptAll(src).count() == 0 && src.exceptAll(ck).count() == 0)
    // the layout survived: a k-keyed aggregation over the checkpoint
    // plans with NO shuffle exchange (the whole point of the operator)
    val agg = ck.groupBy($"k").agg(count(lit(1)))
    agg.write.format("noop").mode("overwrite").save()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"consumer re-shuffled a kept layout:\n$plan")
  }

  test("checkpointKeepLayout's sibling session follows parent conf and strategy changes made after first use") {
    val tz = "spark.sql.session.timeZone"
    val ansi = "spark.sql.ansi.enabled"
    val src = spark.range(0, 100).select(($"id" % 7).as("k"), $"id".as("v"))
      .repartition(4, $"k")
    operators.Graph.checkpointKeepLayout(src).count() // first use
    val savedTz = spark.conf.get(tz)
    val savedAnsi = spark.conf.get(ansi)
    val savedStrategies = spark.experimental.extraStrategies
    object NoopStrategy extends org.apache.spark.sql.execution.SparkStrategy {
      def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = Nil
    }
    try {
      spark.conf.set(tz, "America/New_York")
      spark.conf.set(ansi, (!savedAnsi.toBoolean).toString)
      spark.experimental.extraStrategies = savedStrategies :+ NoopStrategy
      val ck = operators.Graph.checkpointKeepLayout(src)
      assert(ck.exceptAll(src).isEmpty && src.exceptAll(ck).isEmpty)
      val sib = operators.Graph.layoutSession(spark)
      assert(!(sib eq spark))
      assert(sib.conf.get(tz) == "America/New_York")
      assert(sib.conf.get(ansi) == spark.conf.get(ansi))
      assert(sib.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      // copied once, however many calls
      operators.Graph.layoutSession(spark)
      assert(sib.experimental.extraStrategies.count(_ eq NoopStrategy) == 1)
    } finally {
      spark.conf.set(tz, savedTz)
      spark.conf.set(ansi, savedAnsi)
      spark.experimental.extraStrategies = savedStrategies
    }
    assert(operators.Graph.layoutSession(spark).conf.get(tz) == savedTz)
  }
}
