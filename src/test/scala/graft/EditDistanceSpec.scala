package graft

import org.apache.spark.sql.functions._
import graft.operators.EditDistance

/** The segment (PassJoin) path must return EXACTLY the blocked path's
  * pairs — the candidate lemma is recall-complete, the shared guards
  * and banded verify make precision exact, so outputs are bit-equal.
  */
class EditDistanceSpec extends SparkTestBase {
  import spark.implicits._

  private def pairsOf(df: org.apache.spark.sql.DataFrame, seg: Boolean) =
    EditDistance.pairs(df, "k", "name", "blk", maxDist = 3,
        segment = Some(seg))
      .as[(Long, Long, Int)].collect().toSet

  test("segment path equals blocked path on real part names") {
    val p = Tables.part(spark, sf)
      .select($"p_partkey".as("k"), $"p_name".as("name"), $"p_brand".as("blk"))
    val blocked = pairsOf(p, seg = false)
    val segment = pairsOf(p, seg = true)
    assert(segment == blocked && blocked.nonEmpty)
  }

  test("segment path is exact on adversarial boundary cases") {
    // distances exactly 0..4 (4 must be excluded), length deltas
    // exactly at/over the band, edits at segment boundaries, repeated
    // characters, one-block-vs-many
    val rows = Seq(
      (1L, "alphabravocharlie", "X"),   // base
      (2L, "alphabravocharlie", "X"),   // lev 0 duplicate
      (3L, "alphaBravocharlie", "X"),   // lev 1 substitution mid-segment
      (4L, "lphabravocharlei", "X"),    // dels/swaps at both ends
      (5L, "alphabravocharlieXYZ", "X"), // lev 3 suffix insert (len +3)
      (6L, "alphabravocharlieWXYZ", "X"), // lev 4 suffix (len +4, excluded)
      (7L, "abcdabcdabcdabcd", "X"),    // periodic — repeated segments
      (8L, "abcdabcdabcdabce", "X"),    // lev 1 from 7
      (9L, "alphabravocharlie", "Y"),   // other block: never pairs with X
      (10L, "aaaaaaaaaaaaaaaa", "X"),   // low-entropy mask collisions
      (11L, "aaaaaaabaaaaaaaa", "X"),
      (12L, "zzzz", "X"))               // minimum legal length (k+1)
    val df = rows.toDF("k", "name", "blk")
    val blocked = pairsOf(df, seg = false)
    val segment = pairsOf(df, seg = true)
    assert(segment == blocked)
    // sanity: the expected relations are present with exact distances
    assert(blocked.contains((1L, 2L, 0)))
    assert(blocked.contains((1L, 3L, 1)))
    assert(blocked.contains((1L, 5L, 3)))
    assert(!blocked.exists(p => p._1 == 1L && p._2 == 6L))
    assert(!blocked.exists(p => p._2 == 9L))
    assert(blocked.contains((10L, 11L, 1)))
  }

  test("many small blocks over the broadcast-safe bound co-partition, not broadcast") {
    // large estimated input whose blocks are all tiny: passes the
    // max-block gate (blocked join is the right pair volume) but must
    // NOT broadcast the full dim side — the r7 advice hole. Plan
    // inspection only; the pair job never runs.
    val big = spark.range(30000000L).select($"id".as("k"),
      concat(lit("name"), $"id").as("name"), ($"id" % 1000000L).as("blk"))
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes >
      EditDistance.BroadcastSafeByteLimit)
    val plan = EditDistance.pairs(big, "k", "name", "blk")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), plan.take(800))
    // still the blocked shape (no segment Generate), just co-partitioned
    assert(!plan.contains("Generate"), plan.take(800))
  }

  test("auto mode picks blocked under the byte limit and segment above") {
    val p = Tables.part(spark, sf)
      .select($"p_partkey".as("k"), $"p_name".as("name"), $"p_brand".as("blk"))
    assert(p.queryExecution.optimizedPlan.stats.sizeInBytes <=
      EditDistance.BlockedByteLimit)
    // the blocked plan broadcasts its build side; the segment plan's
    // candidate join is keyed on (blk, la, slot, sub) — distinguish by
    // the presence of the generator (explode) only the segment plan has
    val autoPlan = EditDistance.pairs(p, "k", "name", "blk")
      .queryExecution.executedPlan.toString
    val segPlan = EditDistance.pairs(p, "k", "name", "blk",
        segment = Some(true))
      .queryExecution.executedPlan.toString
    assert(!autoPlan.contains("Generate"), autoPlan.take(500))
    assert(segPlan.contains("Generate"), segPlan.take(500))
  }

  test("winnow-candidate JW tier recalls every exact blocked pair (measured 100%)") {
    // the sub-quadratic scale tier behind q189: candidates from shared
    // winnowing fingerprints, JW rerank. Its domain is a SUPERSET
    // (no brand blocking), so the assertion is containment: every
    // exact-tier pair must surface. Measured 100% at sf0.001 AND
    // sf0.01 before pinning; a miss here means the fingerprint
    // parameters stopped covering the 0.92 similarity band.
    val exact = SparkEntry.queries("q189_name_link")(spark, sf)
      .select($"key_a", $"key_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val win = operators.EditDistance.jwPairsWinnow(
        Tables.part(spark, sf), "p_partkey", "p_name")
      .select($"key_a", $"key_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(exact.subsetOf(win),
      s"winnow tier lost ${exact.diff(win).size}/${exact.size} exact pairs")
  }

  test("global winnow tier degrades to prefix recall when every bucket blows the df cap (r15 regression)") {
    // r15 finding: on the ×10 derived fixture every GLOBAL fingerprint
    // bucket exceeded the absolute maxDf window and the tier silently
    // returned ZERO candidates — the forced bench entry was pricing an
    // empty join. Reproduce the geometry with ScaleUp's own p_name
    // derivation (key shift + 12-char copy tag, copy 0 verbatim) and
    // force the window tier empty with maxDf = 1 (no df ≥ 2 bucket can
    // pass): the rarest-r prefix stage alone must still recall every
    // base exact pair. Under the pre-fix code this returns 0 rows.
    val base = Tables.part(spark, sf)
      .select($"p_partkey", $"p_name", $"p_brand")
    val maxKey = base.agg(max($"p_partkey")).as[Long].head() + 1L
    val derived = (0 until 10).map { c =>
      val tag = ('A' + c).toChar.toString * 12 // within-copy distances unchanged
      if (c == 0) base
      else base.select(($"p_partkey" + lit(c * maxKey)).as("p_partkey"),
        concat($"p_name", lit(s" $tag")).as("p_name"), $"p_brand")
    }.reduce(_ unionByName _)
    val exactBase = EditDistance.jwPairsBlocked(base, "p_partkey", "p_name",
        Seq("p_brand"))
      .select($"key_a", $"key_b").as[(Long, Long)].collect().toSet
    val win = EditDistance.jwPairsWinnow(derived, "p_partkey", "p_name",
        maxDf = 1)
      .select($"key_a", $"key_b").as[(Long, Long)].collect().toSet
    assert(exactBase.nonEmpty)
    assert(exactBase.subsetOf(win),
      s"prefix tier lost ${exactBase.diff(win).size}/${exactBase.size} base pairs")
  }

  test("block-restricted winnow JW path equals the exact blocked path (q189 dual plan)") {
    // the q70 discipline applied to q189: both forced paths of the
    // jwPairs dispatcher must agree EXACTLY on the blocked domain —
    // same pairs, same 6dp sims. Per-(fp, block) df-capping keeps at
    // least every fingerprint the global cap keeps for in-block pairs,
    // so recall here is >= the global tier's spec-measured 100%.
    val p = Tables.part(spark, sf)
      .select($"p_partkey", $"p_name", $"p_brand",
        split($"p_name", " ").getItem(0).as("tok"))
    def run(winnow: Boolean) = EditDistance.jwPairs(
        p, "p_partkey", "p_name", Seq("p_brand", "tok"),
        threshold = 0.92, winnow = Some(winnow))
      .as[(Long, Long, Double)].collect().toSet
    val exact = run(winnow = false)
    val win = run(winnow = true)
    assert(exact.nonEmpty)
    assert(win == exact,
      s"winnow-blocked diverges: missing ${exact.diff(win).size}, " +
        s"extra ${win.diff(exact).size} of ${exact.size}")
  }

  test("blocked winnow links keys that sit under two block tuples as the exact blocked plan does") {
    // Keys 1 and 2 carry the same name under blocks {b1, b2} and
    // {b2, b3}. Each of rows 3-5 is the single 3-gram of that name
    // whose hash is the name's smallest fingerprint g, so g's bucket
    // holds 3 rows in b2 (over maxDf = 2, dropped) and 2 rows in b1
    // and b3 (kept). A key-wide fingerprint set would make g the
    // minimum shared fingerprint of (1, 2), a fingerprint they do not
    // share in b2, and the pair would never be emitted.
    val name = "acme industrial widget"
    def fps(s: String) = Seq(s).toDF("s")
      .select(graft.functions.TextExpressions.winnowFp($"s", 3, 4))
      .as[Seq[Long]].head()
    val g = fps(name).min
    val gram = name.sliding(3).find(fps(_) == Seq(g)).get
    val rows = Seq((1L, name, "b1"), (1L, name, "b2"), (2L, name, "b2"),
      (2L, name, "b3"), (3L, gram, "b2"), (4L, gram, "b1"), (5L, gram, "b3"))
      .toDF("k", "name", "blk")
    val exact = EditDistance.jwPairsBlocked(rows, "k", "name", Seq("blk"))
      .as[(Long, Long, Double)].collect().toSet
    val win = EditDistance.jwPairsWinnowBlocked(rows, "k", "name", Seq("blk"),
        maxDf = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact == Set((1L, 2L, 1.0)))
    assert(win == exact)
  }

  test("jw guard: small inputs take the exact blocked plan, a hot block flips to winnow") {
    // plan-shape pin for the q189 stats guard. Distinguish paths by
    // the winnow fingerprint generator (explode) only the prefilter
    // plan has — same convention as the lev-family auto-mode pin.
    val p = Tables.part(spark, sf)
      .select($"p_partkey", $"p_name", $"p_brand",
        split($"p_name", " ").getItem(0).as("tok"))
    val autoPlan = EditDistance.jwPairs(
        p, "p_partkey", "p_name", Seq("p_brand", "tok"))
      .queryExecution.executedPlan.toString
    assert(!autoPlan.contains("Generate"), autoPlan.take(500))
    // big estimated input with ONE hot block: the byte gate opens, the
    // max-block stats job measures 3M >> JwBlockRowLimit, and the
    // dispatcher must pick the winnow prefilter. Plan inspection only
    // — the scoring job never runs.
    val hot = spark.range(30000000L).select($"id".as("k"),
      concat(lit("name"), $"id").as("name"), ($"id" % 10L).as("blk"))
    assert(hot.queryExecution.optimizedPlan.stats.sizeInBytes >
      EditDistance.BlockedByteLimit)
    val hotPlan = EditDistance.jwPairs(hot, "k", "name", Seq("blk"))
      .queryExecution.executedPlan.toString
    assert(hotPlan.contains("Generate"), hotPlan.take(500))
    // same size with tiny blocks stays on the exact blocked plan
    val cool = spark.range(30000000L).select($"id".as("k"),
      concat(lit("name"), $"id").as("name"), ($"id" % 1000000L).as("blk"))
    val coolPlan = EditDistance.jwPairs(cool, "k", "name", Seq("blk"))
      .queryExecution.executedPlan.toString
    assert(!coolPlan.contains("Generate"), coolPlan.take(500))
  }

  test("JaroWinkler matches the reference values including both Winkler gates") {
    import graft.functions.StringSim.jaroWinkler
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    // probed against DuckDB jaro_winkler_similarity (RapidFuzz):
    assert(close(jaroWinkler("martha", "marhta"), 0.9611111111111111))
    assert(close(jaroWinkler("dwayne", "duane"), 0.8400000000000001))
    assert(close(jaroWinkler("abcd", "abce"), 0.8833333333333334))
    // the 0.7 boost gate: jaro 0.5 with a 2-char prefix gets NO bonus
    assert(close(jaroWinkler("abcdefgh", "abzzzzzz"), 0.5))
    // the 4-char prefix cap: 5 shared chars still bonus as 4
    assert(close(jaroWinkler("prefixxx", "prefiyyy"), 0.85))
    // window-0 transposition and degenerate cases
    assert(close(jaroWinkler("ab", "ba"), 0.0))
    assert(close(jaroWinkler("same", "same"), 1.0))
    assert(close(jaroWinkler("", ""), 1.0))
    assert(close(jaroWinkler("a", ""), 0.0))
  }

  test("rescue audit counts backstop drops on an adversarial pile, zero on organic data") {
    // Adversarial pile: every name identical → every global bucket
    // blows maxDf = 1, every name is rescued, and every rescued
    // prefix bucket (pdf = pile size) blows prefixMaxDf = 1 — the
    // backstop drops ALL rescue buckets, the tier returns zero pairs,
    // and jwWinnowRescueStats must SAY so (dropped_fps > 0): the r15
    // zero-collapse signature one level up, now machine-visible.
    val pile = (0L until 12L)
      .map(i => (i, "twelve identical catalog names aaaa"))
      .toDF("k", "name")
    val stats = EditDistance.jwWinnowRescueStats(pile, "k", "name",
        maxDf = 1, prefixMaxDf = 1)
      .as[(Long, Long, Long, Long)].head()
    assert(stats._1 == 12L, s"n_names: $stats")
    assert(stats._2 == 12L, s"every name should be uncovered: $stats")
    assert(stats._4 > 0L, s"backstop drop not counted: $stats")
    val out = EditDistance.jwPairsWinnow(pile, "k", "name",
      maxDf = 1, prefixMaxDf = 1)
    assert(out.count() == 0L,
      "all-dropped backstop should yield zero pairs (and be audited)")
    // Organic fixture at defaults: nothing is uncovered, nothing is
    // dropped — the audit's green state.
    val organic = EditDistance.jwWinnowRescueStats(
        Tables.part(spark, sf), "p_partkey", "p_name")
      .as[(Long, Long, Long, Long)].head()
    assert(organic._2 == 0L && organic._4 == 0L,
      s"organic corpus should need no rescue: $organic")
  }

  test("rarest-r prefix selection equals the row_number-window selection it replaced") {
    // The bounded TopK aggregation must pick byte-identically the same
    // (key, fp) prefix as `row_number() OVER (PARTITION BY key ORDER BY
    // df ASC, fp ASC) <= r` did — pin the equivalence on the derived
    // densified geometry where the rescue actually fires.
    val base = Tables.part(spark, sf)
      .select($"p_partkey", $"p_name", $"p_brand")
    val maxKey = base.agg(max($"p_partkey")).as[Long].head() + 1L
    val derived = (0 until 6).map { c =>
      val tag = ('A' + c).toChar.toString * 12
      if (c == 0) base
      else base.select(($"p_partkey" + lit(c * maxKey)).as("p_partkey"),
        concat($"p_name", lit(s" $tag")).as("p_name"), $"p_brand")
    }.reduce(_ unionByName _)
    // rebuild the tier's frames exactly (maxDf = 1 → all uncovered)
    val fp = derived.select($"p_partkey".as("__key"), $"p_name".as("__name"),
        explode(graft.functions.TextExpressions.winnowFp($"p_name", 3, 4))
          .as("__fp"))
      .distinct()
    val dfs = fp.groupBy($"__fp").agg(count(lit(1)).as("__df"))
    val joined = fp.join(dfs.filter($"__df" >= 2L), Seq("__fp"))
    val byWindow = joined
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"__key")
          .orderBy($"__df".asc, $"__fp".asc)))
      .filter($"__rk" <= EditDistance.WinnowPrefixR)
      .select($"__key", $"__fp").as[(Long, Long)].collect().toSet
    val byAgg = joined
      .groupBy($"__key")
      .agg(graft.functions.TopK.topK(-$"__df", $"__fp",
        EditDistance.WinnowPrefixR).as("__top"))
      .select($"__key", explode($"__top"("_2")).as("__fp"))
      .as[(Long, Long)].collect().toSet
    assert(byAgg == byWindow && byAgg.nonEmpty,
      s"prefix selection diverged: agg-only ${byAgg.diff(byWindow).size}, " +
        s"window-only ${byWindow.diff(byAgg).size}")
  }
}
