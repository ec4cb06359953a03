package graft

/** Meta-test: every registered query must return the SAME result
  * regardless of physical parallelism — re-planning with a different
  * shuffle-partition count must not change a single row. Catches
  * order-dependent aggregation (collect_list without sort, first/last
  * without ordering, FP sum-order reliance beyond the rounding
  * convention) that a fixed-layout oracle run can miss.
  */
class DeterminismSpec extends SparkTestBase {

  /** Sketch estimates whose MERGE TREE legitimately depends on the
    * partition layout: the quantile sketch's compaction path (and thus
    * its approximation) varies with how partials merge. HLL (q20/q52)
    * is register-max based and stays exact across layouts, so it is
    * NOT excluded.
    */
  private val layoutSensitive = Set("q65_approx_quantile")

  private def canon(name: String): (Int, String) = {
    val rows = SparkEntry.queries(name)(spark, sf).collect()
    (rows.length, rows.map(_.toString).sorted.mkString("\n"))
  }

  test("every query is layout-deterministic (4 vs 13 shuffle partitions)") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val names = SparkEntry.queries.keys.toSeq.sorted
        .filterNot(layoutSensitive)
      val bad = names.flatMap { name =>
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        val a = canon(name)
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        val b = canon(name)
        if (a == b) None
        else Some(s"$name: ${a._1} rows vs ${b._1} rows, content ${
          if (a._2 == b._2) "equal" else "DIFFERS"}")
      }
      assert(bad.isEmpty, s"layout-dependent queries:\n${bad.mkString("\n")}")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Every registered query that resolves through [[operators.AsOf]]:
    * the keyed window plan (`join`) or the keyless broadcast-interval
    * plan (`broadcastJoin`, q98).
    */
  private val asOfQueries = Seq("q21_asof_join", "q59_asof_tolerance",
    "q89_asof_forward", "q98_factor_adjust", "q136_corp_actions",
    "q143_golden_master", "q145_factor_decomposition", "q148_fx_normalize",
    "q155_markout")

  test("as-of queries agree across default, AQE off and no auto-broadcast") {
    asOfQueries.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.analyzed.toString
      assert(plan.contains("__rv") || plan.contains("__eff"), s"$name: no as-of in plan")
    }
    def under(k: String, v: String, name: String) = {
      val prev = spark.conf.getOption(k)
      spark.conf.set(k, v)
      try canon(name)
      finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    val bad = asOfQueries.flatMap { name =>
      val base = canon(name)
      Seq("spark.sql.adaptive.enabled" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1").flatMap { case (k, v) =>
        val c = under(k, v, name)
        if (c == base) None
        else Some(s"$name with $k=$v: ${base._1} rows vs ${c._1} rows")
      }
    }
    assert(bad.isEmpty, s"setting-dependent as-of queries:\n${bad.mkString("\n")}")
  }
}
