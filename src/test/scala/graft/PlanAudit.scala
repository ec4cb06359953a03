package graft

import org.apache.spark.sql.SparkSession

/** Regenerates the generated block of PLANS.md in the working
  * directory: formatted physical plans for headline queries, the
  * evidence behind SURVEY §5's scale claims. Run with
  * `sbt "Test/runMain graft.PlanAudit"` after plan-shape changes. The
  * block runs from the top of the file to [[EndMarker]]; the
  * hand-written notes after the marker are kept as they are.
  */
object PlanAudit {
  val picks: Seq[(String, String)] = Seq(
    "q2_filter_pushdown" -> "filters + projection reach the parquet scan",
    "q4_broadcast_join" -> "dimension chain broadcasts; fact side never shuffles",
    "q21_asof_join" -> "as-of join = union + ONE keyed exchange + window",
    "q73_drawdown" -> "stacked window + agg share a single exchange",
    "q93_chunking" -> "row-local explode: zero exchanges",
    "q98_factor_adjust" -> "global-dim as-of: broadcast nested loop, no event shuffle",
    "q94_contamination" -> "one-scan posting aggregation, bounded pair explode",
    "q117_cross_corr" -> "fact aggregates once; the pair self-join broadcasts the tiny daily frame",
    "q129_abc_class" -> "decimal-exact cumulative classification over the reduced key frame",
    "q147_fifo_pnl" -> "FIFO lot matching = user-keyed cumsum windows + one equi-join with a range residual",
    "q148_fx_normalize" -> "low-cardinality keyed as-of = the same union + ONE ccy exchange + window; the (ccy, day) rollup reuses it",
    "q155_markout" -> "3 markout horizons ride ONE union+window tape exchange",
    "q158_source_kl" -> "closed-form KL remainder: token-keyed join + 3 broadcast scalars, no source x vocab cross product",
    "q170_kyle_lambda" -> "tick regression: diff, sign carry, and co-moment rollup on ONE tape exchange",
    "q175_triangle_census" -> "degree-oriented wedge join: triangles without a hub-degree blow-up",
  )

  /** Last line of the generated block. */
  val EndMarker = "<!-- end of PlanAudit output; hand-written notes below are kept on regeneration -->"

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# Physical-plan audit (generated by `sbt \"Test/runMain graft.PlanAudit\"`)\n\n")
    sb.append("Formatted plans at sf0.001 for the headline shapes; the plan-shape\n")
    sb.append("properties below are ALSO asserted in PlanSpec so refactors can't\n")
    sb.append("silently trade them away. Plans are captured pre-execution\n")
    sb.append("(AdaptiveSparkPlan isFinalPlan=false), showing the static exchange\n")
    sb.append("structure AQE starts from.\n")
    picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sf)
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim)
      sb.append("\n```\n")
    }
    val out = java.nio.file.Paths.get("PLANS.md")
    // keep what follows the marker; refuse a file without one rather
    // than overwrite its notes
    val notes = if (!java.nio.file.Files.exists(out)) "\n" else {
      val text = java.nio.file.Files.readString(out)
      val at = text.indexOf(EndMarker)
      require(at >= 0, s"$out has no end marker ($EndMarker); not overwriting it")
      text.substring(at + EndMarker.length)
    }
    java.nio.file.Files.writeString(out, sb.toString + "\n" + EndMarker + notes)
    println(s"[audit] wrote the generated block of ${out.toAbsolutePath} (${picks.size} plans)")
    spark.stop()
  }
}
