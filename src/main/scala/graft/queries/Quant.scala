package graft.queries

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5d batch (SURVEY §2, q115–q124): series diagnostics
  * (autocorrelation, streaks, lead-lag cross-correlation, risk ratios,
  * Bollinger breakouts) and corpus/ML-prep utilities (token entropy,
  * containment dedup, deterministic sampling, class balance, token
  * packing).
  *
  * FP discipline (SURVEY §6): counts and cumulative sums stay integral;
  * double divisions happen on identical operand bit patterns in both
  * engines where possible; order-dependent FP aggregates (corr, stddev
  * over doubles) are decimal-rounded on both sides; any COMPARISON
  * against an FP-derived boundary compares against the decimal-rounded
  * boundary so the branch is engine-independent. Type discipline
  * (round-5 lesson): DuckDB sum(BIGINT/INTEGER) yields HUGEINT whose
  * client export changed across DuckDB versions — every integral
  * aggregate an oracle EMITS is CAST to BIGINT so both engines hand
  * the checker int64.
  */
object Quant {

  private def decRound(c: org.apache.spark.sql.Column, scale: Int) =
    graft.functions.Num.decRound(c, scale)

  /** q115_acf — sample autocorrelation of the event value series per
    * event type at lags 1–3, as Pearson corr(x_t, x_{t−k}): the
    * stationarity/memory diagnostic run before fitting any AR model.
    * One keyed sort-window pass produces all three lag columns (three
    * lags share one sort), then a single map-side-combinable aggregate;
    * corr's co-moment accumulation is order-dependent FP, so the result
    * is decimal-rounded on both sides.
    */
  def q115Acf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The lag windows ran over PARTITION BY event_type — 5 partitions,
    // 1/5 of all events sorted in ONE task (q90's sf1.0 lesson). The
    // lags are ROW-positional, so they decompose into the scalable
    // rank (Rank.groupRowNumber: sliced range exchange above the stats
    // bound, computed ONCE) plus a row-local 4× explode — each row
    // lands at its own rn (k=0) and at rn+1..rn+3 (the positions it is
    // the lag OF) — and one hash aggregate on the high-cardinality
    // (type, rn) key pivots the copies back into (value, l1, l2, l3).
    // No join, no giant sort partition; shifted copies beyond the last
    // row pivot into groups with no k=0 member and are dropped by the
    // presence flag (NOT by value nullness — a null value row must
    // still count toward n_obs, exactly as lag() kept it).
    val rn = graft.operators.Rank.groupRowNumber(
        Tables.events(spark, dir)
          .select($"event_type", $"ts", $"event_id", $"value"),
        Seq("event_type"), Seq("ts", "event_id"), "rn", "n_total")
      .select($"event_type", $"rn", $"value")
    rn.select($"event_type", explode(array(
        struct($"rn".as("rn"), lit(0).as("k"), $"value".as("sv")),
        struct(($"rn" + 1).as("rn"), lit(1).as("k"), $"value".as("sv")),
        struct(($"rn" + 2).as("rn"), lit(2).as("k"), $"value".as("sv")),
        struct(($"rn" + 3).as("rn"), lit(3).as("k"), $"value".as("sv"))))
        .as("s"))
      .select($"event_type", $"s.rn".as("rn"), $"s.k".as("k"),
        $"s.sv".as("sv"))
      .groupBy($"event_type", $"rn")
      .agg(max(when($"k" === 0, lit(1))).as("present"),
        max(when($"k" === 0, $"sv")).as("v"),
        max(when($"k" === 1, $"sv")).as("l1"),
        max(when($"k" === 2, $"sv")).as("l2"),
        max(when($"k" === 3, $"sv")).as("l3"))
      .filter($"present" === 1)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_obs"),
        decRound(corr($"v", $"l1"), 4).as("acf1"),
        decRound(corr($"v", $"l2"), 4).as("acf2"),
        decRound(corr($"v", $"l3"), 4).as("acf3"))
  }

  val q115Sql: String =
    """WITH l AS (
      |  SELECT event_type, value,
      |    lag(value, 1) OVER w AS l1,
      |    lag(value, 2) OVER w AS l2,
      |    lag(value, 3) OVER w AS l3
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
      |SELECT event_type, count(*) AS n_obs,
      |  CAST(round(CAST(corr(value, l1) AS DECIMAL(28,12)), 4) AS DOUBLE) AS acf1,
      |  CAST(round(CAST(corr(value, l2) AS DECIMAL(28,12)), 4) AS DOUBLE) AS acf2,
      |  CAST(round(CAST(corr(value, l3) AS DECIMAL(28,12)), 4) AS DOUBLE) AS acf3
      |FROM l GROUP BY event_type""".stripMargin

  /** q116_streaks — longest run of consecutive up-days and down-days in
    * the daily mean-value series per event type (gaps-and-islands via
    * the row_number difference trick). The daily aggregate is map-side
    * combined to |types|·|days| rows before any window runs, and the
    * day-over-day direction compares DECIMAL-ROUNDED daily means so the
    * up/down branch is identical across engines (raw FP averages could
    * differ in the last ulp and flip a sign).
    */
  def q116Streaks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"event_type").orderBy($"d")
    val wRun = Window.partitionBy($"event_type", $"dir").orderBy($"d")
    val daily = Tables.events(spark, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
      .agg(decRound(avg($"value"), 6).as("v"))
    daily
      .withColumn("pv", lag($"v", 1).over(wOrd))
      .filter($"pv".isNotNull)
      .withColumn("dir",
        when($"v" > $"pv", 1).when($"v" < $"pv", -1).otherwise(0))
      .withColumn("grp",
        row_number().over(wOrd) - row_number().over(wRun))
      .groupBy($"event_type", $"dir", $"grp")
      .agg(count(lit(1)).as("run_len"))
      .groupBy($"event_type")
      .agg(max(when($"dir" === 1, $"run_len")).as("max_up_streak"),
        max(when($"dir" === -1, $"run_len")).as("max_down_streak"),
        (sum($"run_len") + 1).as("n_days"))
  }

  val q116Sql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS d,
      |    CAST(round(CAST(avg(value) AS DECIMAL(28,12)), 6) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2),
      |dirs AS (
      |  SELECT event_type, d, v,
      |    lag(v) OVER w AS pv,
      |    row_number() OVER w AS rn
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
      |marked AS (
      |  SELECT event_type, d, rn,
      |    CASE WHEN v > pv THEN 1 WHEN v < pv THEN -1 ELSE 0 END AS dir
      |  FROM dirs WHERE pv IS NOT NULL),
      |runs AS (
      |  SELECT event_type, dir,
      |    rn - row_number() OVER (PARTITION BY event_type, dir ORDER BY d) AS grp
      |  FROM marked),
      |lens AS (
      |  SELECT event_type, dir, grp, count(*) AS run_len
      |  FROM runs GROUP BY 1, 2, 3)
      |SELECT event_type,
      |  max(CASE WHEN dir = 1 THEN run_len END) AS max_up_streak,
      |  max(CASE WHEN dir = -1 THEN run_len END) AS max_down_streak,
      |  CAST(sum(run_len) + 1 AS BIGINT) AS n_days
      |FROM lens GROUP BY event_type""".stripMargin

  /** q117_cross_corr — lead-lag cross-correlation between every pair of
    * event types over their daily mean series: corr at lag 0 plus both
    * one-day leads (does A's yesterday predict B's today, and vice
    * versa). The daily frame is tiny (|types|·|days|) at ANY corpus
    * scale — the pair self-join is broadcast, never shuffled; only the
    * daily aggregate touches the fact table.
    */
  def q117CrossCorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"event_type").orderBy($"d")
    val daily = Tables.events(spark, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
      .agg(avg($"value").as("v"))
      .withColumn("v_prev", lag($"v", 1).over(wOrd))
    val a = daily.select($"event_type".as("type_a"), $"d",
      $"v".as("va"), $"v_prev".as("va_prev"))
    val b = daily.select($"event_type".as("type_b"), $"d",
      $"v".as("vb"), $"v_prev".as("vb_prev"))
    a.join(broadcast(b), Seq("d"))
      .filter($"type_a" < $"type_b")
      .groupBy($"type_a", $"type_b")
      .agg(count(lit(1)).as("n_days"),
        decRound(corr($"va", $"vb"), 4).as("corr0"),
        decRound(corr($"va_prev", $"vb"), 4).as("corr_a_leads"),
        decRound(corr($"vb_prev", $"va"), 4).as("corr_b_leads"))
  }

  val q117Sql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS d, avg(value) AS v
      |  FROM events GROUP BY 1, 2),
      |ld AS (
      |  SELECT event_type, d, v,
      |    lag(v) OVER (PARTITION BY event_type ORDER BY d) AS v_prev
      |  FROM daily)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  count(*) AS n_days,
      |  CAST(round(CAST(corr(a.v, b.v) AS DECIMAL(28,12)), 4) AS DOUBLE) AS corr0,
      |  CAST(round(CAST(corr(a.v_prev, b.v) AS DECIMAL(28,12)), 4) AS DOUBLE)
      |    AS corr_a_leads,
      |  CAST(round(CAST(corr(b.v_prev, a.v) AS DECIMAL(28,12)), 4) AS DOUBLE)
      |    AS corr_b_leads
      |FROM ld a JOIN ld b ON a.d = b.d AND a.event_type < b.event_type
      |GROUP BY 1, 2""".stripMargin

  /** q118_sharpe — annualized Sharpe and Sortino ratios per event type
    * from day-over-day returns of the daily mean value: mean return
    * over (sample) volatility, and over downside deviation
    * (root-mean-square of the negative returns only), both scaled by
    * √252. The whole computation after the daily aggregate runs on a
    * frame of |types|·|days| rows.
    */
  def q118Sharpe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"event_type").orderBy($"d")
    Tables.events(spark, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
      .agg(avg($"value").as("v"))
      .withColumn("r", $"v" / lag($"v", 1).over(wOrd) - 1.0)
      .filter($"r".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_returns"),
        decRound(avg($"r"), 6).as("mean_r"),
        decRound(stddev_samp($"r"), 6).as("sd_r"),
        // nullif guards: a constant-return series has sd 0 (and an
        // all-gain one has downside 0) — ANSI Spark would throw where
        // DuckDB yields inf; NULL on both sides instead
        decRound(avg($"r") / nullif(stddev_samp($"r"), lit(0.0)) *
          sqrt(lit(252.0)), 4).as("sharpe"),
        decRound(avg($"r") /
          nullif(sqrt(avg(when($"r" < 0, $"r" * $"r").otherwise(0.0))),
            lit(0.0)) * sqrt(lit(252.0)), 4).as("sortino"))
  }

  val q118Sql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS d, avg(value) AS v
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type,
      |    v / lag(v) OVER (PARTITION BY event_type ORDER BY d) - 1.0 AS r
      |  FROM daily)
      |SELECT event_type, count(*) AS n_returns,
      |  CAST(round(CAST(avg(r) AS DECIMAL(28,12)), 6) AS DOUBLE) AS mean_r,
      |  CAST(round(CAST(stddev_samp(r) AS DECIMAL(28,12)), 6) AS DOUBLE) AS sd_r,
      |  CAST(round(CAST(avg(r) / nullif(stddev_samp(r), 0.0) * sqrt(252.0)
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS sharpe,
      |  CAST(round(CAST(avg(r) /
      |    nullif(sqrt(avg(CASE WHEN r < 0 THEN r * r ELSE 0.0 END)), 0.0)
      |    * sqrt(252.0) AS DECIMAL(28,12)), 4) AS DOUBLE) AS sortino
      |FROM r WHERE r IS NOT NULL GROUP BY event_type""".stripMargin

  /** q119_entropy — per-document token Shannon entropy (bits) and
    * type-token ratio: the vocabulary-diversity quality signals (low
    * entropy = repetitive boilerplate; TTR near 0 = keyword stuffing).
    * One tokenization, one explode, two integral aggregates; the
    * per-token counts and totals are exact integers so every p·log₂p
    * term is computed from identical operands in both engines, and the
    * order-dependent term SUM is decimal-rounded.
    */
  def q119Entropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", Text.tokens($"text").as("toks"))
      .select($"doc_id", explode($"toks").as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum($"c" * log2($"c")).as("clogc"))
      .select($"doc_id", $"n_tokens", $"n_types",
        decRound($"n_types".cast("double") / $"n_tokens", 6).as("ttr"),
        // H = log2(n) - (Σ c·log2 c)/n — one pass, no second join
        decRound(log2($"n_tokens") -
          $"clogc" / $"n_tokens".cast("double"), 4).as("entropy"))
  }

  val q119Sql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, token, count(*) AS c FROM tk GROUP BY 1, 2),
      |g AS (
      |  SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_types,
      |    sum(c * log2(c)) AS clogc
      |  FROM c GROUP BY doc_id)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_types,
      |  CAST(round(CAST(CAST(n_types AS DOUBLE) / n_tokens
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS ttr,
      |  CAST(round(CAST(log2(n_tokens) - clogc / CAST(n_tokens AS DOUBLE)
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS entropy
      |FROM g""".stripMargin

  /** q120_containment — asymmetric near-dup detection via Jaccard
    * CONTAINMENT (shared / min-set-size) over word bigram sets: catches
    * a short document embedded in a longer one, which symmetric Jaccard
    * (q34) dilutes below any usable threshold. Delegates to
    * [[graft.operators.Dedup.containmentPairs]] — same one-scan
    * df-capped postings self-join as the Jaccard path; see the operator
    * doc for why the length prefilter cannot apply here.
    */
  def q120Containment(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.containmentPairs(
      Tables.documents(spark, dir), n = 2, maxDf = 50, threshold = 0.1)

  val q120Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
      |         ELSE list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))])
      |    END AS g
      |  FROM toks),
      |ex AS (SELECT doc_id, len(g) AS n_grams, unnest(g) AS gram FROM grams),
      |rare AS (SELECT gram FROM ex GROUP BY gram HAVING count(*) BETWEEN 2 AND 50),
      |f AS (SELECT ex.* FROM ex JOIN rare USING (gram)),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.n_grams AS n_a, b.n_grams AS n_b, count(*) AS shared
      |  FROM f a JOIN f b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT doc_a, doc_b,
      |  CAST(round(CAST(CAST(shared AS DOUBLE) / least(n_a, n_b)
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS containment
      |FROM pairs
      |WHERE CAST(round(CAST(CAST(shared AS DOUBLE) / least(n_a, n_b)
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) >= 0.1""".stripMargin

  /** q121_group_sample — deterministic per-group sampling: the 5
    * documents per (lang, source) cell with the smallest multiplicative
    * hash of doc_id (Knuth's 2654435761 mod 2³²). Unlike rand()-based
    * sampling this is reproducible across engines, runs, and retries —
    * the property a training-data pipeline needs for auditable eval
    * splits — and unlike "first 5 by id" it is unbiased w.r.t. insertion
    * order. Pure integer arithmetic; one keyed window.
    */
  def q121GroupSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wCell = Window.partitionBy($"lang", $"source")
      .orderBy($"h", $"doc_id")
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source",
        (($"doc_id" * lit(2654435761L)) % lit(4294967296L)).as("h"))
      .withColumn("rk", row_number().over(wCell))
      .filter($"rk" <= 5)
      .select($"lang", $"source", $"rk", $"doc_id", $"h")
  }

  val q121Sql: String =
    """WITH h AS (
      |  SELECT doc_id, lang, source,
      |    (doc_id * 2654435761) % 4294967296 AS h
      |  FROM documents),
      |r AS (
      |  SELECT lang, source, doc_id, h,
      |    row_number() OVER (PARTITION BY lang, source ORDER BY h, doc_id)
      |      AS rk
      |  FROM h)
      |SELECT lang, source, rk, doc_id, h FROM r WHERE rk <= 5""".stripMargin

  /** q122_class_balance — label distribution of the embeddings table
    * with each label's χ² contribution against the uniform expectation:
    * the class-imbalance audit run before training a classifier. All
    * inputs are exact integers; expectation, share, and contribution are
    * single divisions on identical operands in both engines.
    */
  def q122ClassBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.embeddings(spark, dir)
      .groupBy($"label").agg(count(lit(1)).as("n"))
      .withColumn("total", sum($"n").over(wAll))
      .withColumn("n_labels", count(lit(1)).over(wAll))
      .select($"label", $"n",
        decRound($"n".cast("double") / $"total", 6).as("share"),
        decRound(($"n" - $"total".cast("double") / $"n_labels") *
          ($"n" - $"total".cast("double") / $"n_labels") /
          ($"total".cast("double") / $"n_labels"), 4).as("chi2_contrib"))
  }

  val q122Sql: String =
    """WITH g AS (
      |  SELECT label, count(*) AS n FROM embeddings GROUP BY label),
      |t AS (
      |  SELECT label, n, sum(n) OVER () AS total, count(*) OVER () AS n_labels
      |  FROM g)
      |SELECT label, n,
      |  CAST(round(CAST(CAST(n AS DOUBLE) / total AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS share,
      |  CAST(round(CAST(
      |    (n - CAST(total AS DOUBLE) / n_labels) *
      |    (n - CAST(total AS DOUBLE) / n_labels) /
      |    (CAST(total AS DOUBLE) / n_labels) AS DECIMAL(28,12)), 4)
      |    AS DOUBLE) AS chi2_contrib
      |FROM t""".stripMargin

  /** q123_pack_chunks — sequential token-budget packing per source:
    * docs in doc_id order are assigned to consecutive 2000-token bins
    * by their EXCLUSIVE running token total (bin = prior-cum div 2000 —
    * a doc straddling a boundary stays in the bin it started in), then
    * summarized per bin. This is the batch-packing step that turns a
    * corpus into fixed-budget training chunks. Packing is inherently
    * sequential per source, but the PREFIX SUM that drives it is not:
    * Rank.groupRunningSum picks its plan from input statistics — a
    * plain window at sizes where one source fits a task, the sliced
    * two-pass merge above that — so no task ever holds a too-big
    * source corpus (`source` is exactly the low-cardinality key the
    * round-5 audit flagged). Counts are exact integers end-to-end.
    */
  def q123PackChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", $"source", size(Text.tokens($"text")).as("n_tok"))
    graft.operators.Rank.groupRunningSum(toks,
        group = Seq("source"), order = Seq("doc_id"),
        valueCol = "n_tok", out = "cum")
      .withColumn("bin_id", expr("(cum - n_tok) div 2000"))
      .groupBy($"source", $"bin_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("tok_total"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
  }

  val q123Sql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tok,
      |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT source, (CAST(cum AS BIGINT) - n_tok) // 2000 AS bin_id,
      |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tok_total,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM c GROUP BY 1, 2""".stripMargin

  /** q124_bollinger — Bollinger-band breakout counts per user: a
    * 20-observation rolling mean ± 2 sample stddevs, counting closes
    * above/below the bands over full windows only. The band edges are
    * FP-derived (windowed mean/stddev), so BOTH engines compare the raw
    * value against the DECIMAL-ROUNDED edges — the q80 3·MAD-boundary
    * lesson: never branch on an unrounded FP threshold.
    */
  def q124Bollinger(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val w20 = wOrd.rowsBetween(-19, 0)
    Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"value")
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("m", avg($"value").over(w20))
      .withColumn("sd", stddev_samp($"value").over(w20))
      .filter($"rn" >= 20)
      .withColumn("ub", decRound($"m" + lit(2.0) * $"sd", 6))
      .withColumn("lb", decRound($"m" - lit(2.0) * $"sd", 6))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_obs"),
        sum(when($"value" > $"ub", 1L).otherwise(0L)).as("n_above"),
        sum(when($"value" < $"lb", 1L).otherwise(0L)).as("n_below"))
  }

  val q124Sql: String =
    """WITH w AS (
      |  SELECT user_id, value,
      |    row_number() OVER o AS rn,
      |    avg(value) OVER f AS m,
      |    stddev_samp(value) OVER f AS sd
      |  FROM events
      |  WINDOW o AS (PARTITION BY user_id ORDER BY ts, event_id),
      |    f AS (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
      |b AS (
      |  SELECT user_id, value,
      |    CAST(round(CAST(m + 2.0 * sd AS DECIMAL(28,12)), 6) AS DOUBLE) AS ub,
      |    CAST(round(CAST(m - 2.0 * sd AS DECIMAL(28,12)), 6) AS DOUBLE) AS lb
      |  FROM w WHERE rn >= 20)
      |SELECT user_id, count(*) AS n_obs,
      |  CAST(sum(CASE WHEN value > ub THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
      |  CAST(sum(CASE WHEN value < lb THEN 1 ELSE 0 END) AS BIGINT) AS n_below
      |FROM b GROUP BY user_id""".stripMargin

  /** q127_skew_profile — join-key skew audit: the 10 hottest l_partkey
    * values with their row counts and skew multiplier (freq / mean
    * freq). This is the profiling pass that decides between a plain
    * shuffle join, Skew.saltedJoin's hot-key replication, or AQE skew
    * handling — run it BEFORE the join, not after it straggles. One
    * map-side-combined aggregate; the mean rides in as a broadcast
    * scalar. Integer counts; one division, identical operands.
    */
  def q127SkewProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val freq = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey").agg(count(lit(1)).as("freq"))
    val stats = freq.agg(count(lit(1)).as("n_keys"),
      sum($"freq").as("n_rows"))
    freq.crossJoin(broadcast(stats))
      .withColumn("rk", row_number().over(
        Window.orderBy($"freq".desc, $"l_partkey")))
      .filter($"rk" <= 10)
      .select($"rk", $"l_partkey", $"freq", $"n_keys",
        decRound($"freq" * $"n_keys" / $"n_rows".cast("double"), 4)
          .as("skew_x"))
  }

  val q127Sql: String =
    """WITH freq AS (
      |  SELECT l_partkey, count(*) AS freq FROM lineitem GROUP BY l_partkey),
      |stats AS (
      |  SELECT count(*) AS n_keys, sum(freq) AS n_rows FROM freq),
      |ranked AS (
      |  SELECT l_partkey, freq,
      |    row_number() OVER (ORDER BY freq DESC, l_partkey) AS rk
      |  FROM freq)
      |SELECT r.rk, r.l_partkey, r.freq, s.n_keys,
      |  CAST(round(CAST(r.freq * s.n_keys / CAST(s.n_rows AS DOUBLE)
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS skew_x
      |FROM ranked r CROSS JOIN stats s WHERE r.rk <= 10""".stripMargin

  /** q128_ntile_bins — equal-frequency decile binning of the event
    * value per type (the discretization step before decision-tree
    * features or monotonic calibration), with per-bin stats. ntile's
    * bucket boundaries are pure integer arithmetic over the row count;
    * the (value, event_id) tiebreak makes the assignment total-order
    * deterministic across engines. event_type has ~5 values, so a
    * plain `ntile() OVER (PARTITION BY event_type)` would put 20% of
    * the table in ONE task at warehouse scale — Rank.groupRowNumber
    * switches to its sliced two-pass plan above a size threshold
    * (stats-based, like the broadcast-join choice), and the decile
    * is the same integer formula DuckDB's ntile applies to that rank.
    */
  def q128NtileBins(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ranked = graft.operators.Rank.groupRowNumber(
      Tables.events(spark, dir).select($"event_type", $"event_id", $"value"),
      group = Seq("event_type"), order = Seq("value", "event_id"),
      rankCol = "r", totalCol = "n_total")
    ranked
      .withColumn("decile",
        graft.operators.Rank.ntileFromRank($"r", $"n_total", 10))
      .groupBy($"event_type", $"decile")
      .agg(count(lit(1)).as("n"), min($"value").as("min_v"),
        max($"value").as("max_v"), decRound(avg($"value"), 4).as("avg_v"))
  }

  val q128Sql: String =
    """WITH d AS (
      |  SELECT event_type, value,
      |    ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id)
      |      AS decile
      |  FROM events)
      |SELECT event_type, decile, count(*) AS n,
      |  min(value) AS min_v, max(value) AS max_v,
      |  CAST(round(CAST(avg(value) AS DECIMAL(28,12)), 4) AS DOUBLE) AS avg_v
      |FROM d GROUP BY 1, 2""".stripMargin

  /** q129_abc_class — ABC (Pareto) classification of parts by revenue:
    * A = parts covering the first 80% of cumulative revenue, B = to
    * 95%, C = the tail. Per-part revenue is decimal-rounded AT SCALE 4
    * — price·(1−disc) products have exactly four decimals, so every FP
    * sum sits within noise of a scale-4 lattice point and NEVER at a
    * rounding midpoint (rounding at 2 DID flip cents at sf0.1: true
    * sums end in …45, exactly on the half-cent) — then cast to
    * DECIMAL(18,4) so the cumulative sum and grand total are
    * EXACT (order-independent) — the one place FP summation noise could
    * otherwise flip a class at the 80%/95% boundary, because the
    * running total's order is fixed but the grand total's is not. The
    * share division happens on identical decimal-derived doubles.
    *
    * Scale note: the cumulative window here is global (fine for a
    * per-part aggregate measured in millions); at billions of keys the
    * same semantics run as a two-pass range-partitioned cumsum —
    * repartitionByRange on (rev desc, key), per-partition partial sums,
    * broadcast prefix offsets — no single-partition sort needed.
    */
  def q129AbcClass(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wCum = Window.orderBy($"rev".desc, $"l_partkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.lineitem(spark, dir)
      .groupBy($"l_partkey")
      .agg(decRound(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
        .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("rev"))
      .withColumn("cum", sum($"rev").over(wCum))
      .withColumn("total", sum($"rev").over(wAll))
      .withColumn("share", $"cum".cast("double") / $"total".cast("double"))
      .select($"l_partkey", $"rev".cast("double").as("rev"),
        when($"share" <= 0.80, "A").when($"share" <= 0.95, "B")
          .otherwise("C").as("cls"))
  }

  val q129Sql: String =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    CAST(CAST(round(CAST(sum(l_extendedprice * (1.0 - l_discount))
      |      AS DECIMAL(28,12)), 4) AS DOUBLE) AS DECIMAL(18,4)) AS rev
      |  FROM lineitem GROUP BY l_partkey),
      |c AS (
      |  SELECT l_partkey, rev,
      |    sum(rev) OVER (ORDER BY rev DESC, l_partkey
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(rev) OVER () AS total
      |  FROM rev)
      |SELECT l_partkey, CAST(rev AS DOUBLE) AS rev,
      |  CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.80 THEN 'A'
      |       WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
      |       ELSE 'C' END AS cls
      |FROM c""".stripMargin

  /** q131_cusum — CUSUM changepoint detection per event type: the
    * running sum of (daily mean − overall mean) peaks in magnitude at
    * the most likely level-shift day. Both operands of every step are
    * decimal-rounded FIRST, and the cumulative fold then runs over the
    * identical value SEQUENCE in both engines — FP addition is
    * deterministic given order, so the argmax needs no tolerance. The
    * day frame is |types|·|days|; only the daily aggregate touches the
    * fact table.
    */
  def q131Cusum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"event_type").orderBy($"d")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPick = Window.partitionBy($"event_type")
      .orderBy(abs($"s").desc, $"d")
    val daily = Tables.events(spark, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
      .agg(decRound(avg($"value"), 6).as("v"))
    val mean = daily.groupBy($"event_type")
      .agg(decRound(avg($"v"), 6).as("m"), count(lit(1)).as("n_days"))
    daily.join(broadcast(mean), "event_type")
      .withColumn("s", sum($"v" - $"m").over(wCum))
      .withColumn("rk", row_number().over(wPick))
      .filter($"rk" === 1)
      .select($"event_type", $"n_days", $"d".as("changepoint_day"),
        decRound(abs($"s"), 4).as("max_cusum"))
  }

  val q131Sql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS d,
      |    CAST(round(CAST(avg(value) AS DECIMAL(28,12)), 6) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type,
      |    CAST(round(CAST(avg(v) AS DECIMAL(28,12)), 6) AS DOUBLE) AS m,
      |    count(*) AS n_days
      |  FROM daily GROUP BY event_type),
      |c AS (
      |  SELECT daily.event_type, daily.d, m.n_days,
      |    sum(daily.v - m.m) OVER (PARTITION BY daily.event_type
      |      ORDER BY daily.d ROWS UNBOUNDED PRECEDING) AS s
      |  FROM daily JOIN m ON daily.event_type = m.event_type),
      |r AS (
      |  SELECT event_type, n_days, d, s,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY abs(s) DESC, d) AS rk
      |  FROM c)
      |SELECT event_type, n_days, CAST(d AS TIMESTAMP) AS changepoint_day,
      |  CAST(round(CAST(abs(s) AS DECIMAL(28,12)), 4) AS DOUBLE) AS max_cusum
      |FROM r WHERE rk = 1""".stripMargin

  /** q132_gini — Gini coefficient of revenue concentration across parts
    * per return flag: G = 2·Σ(i·rev_i)/(n·Σrev) − (n+1)/n over revenues
    * in ascending order. Reuses q129's decimal-lattice discipline —
    * per-key revenue rounded at the product's exact scale 4 and cast to
    * DECIMAL, so both Σrev and the rank-weighted Σ(i·rev_i) are exact
    * integers-in-decimal and the final expression is computed from
    * identical operands. 0 = perfectly even, →1 = winner-takes-all.
    */
  def q132Gini(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wRank = Window.partitionBy($"l_returnflag")
      .orderBy($"rev".asc, $"l_partkey")
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_partkey")
      .agg(decRound(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
        .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("rev"))
      .withColumn("i", row_number().over(wRank))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_parts"),
        sum($"rev").as("tot"), sum($"rev" * $"i").as("wsum"))
      .select($"l_returnflag", $"n_parts",
        decRound(lit(2.0) * $"wsum".cast("double") /
          ($"n_parts" * $"tot".cast("double")) -
          ($"n_parts" + 1).cast("double") / $"n_parts", 6).as("gini"))
  }

  /** q133_rank_normalize — percentile-rank feature normalization per
    * event type: (rank−1)/(n−1) maps every value onto [0,1] by rank —
    * the distribution-free normalization (vs q109's min-max) robust to
    * outliers. percent_rank is pure integer-rank arithmetic over a
    * total order ((value, event_id) tiebreak), so the division is on
    * identical integer operands — bit-exact, no rounding needed. Like
    * q128, the rank comes from Rank.groupRowNumber, whose stats-based
    * plan choice keeps any one event_type partition out of a single
    * task once the input outgrows the native-window threshold.
    */
  def q133RankNormalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Rank.groupRowNumber(
      Tables.events(spark, dir).select($"event_type", $"event_id", $"value"),
      group = Seq("event_type"), order = Seq("value", "event_id"),
      rankCol = "r", totalCol = "n_total")
      .withColumn("rank_norm",
        graft.operators.Rank.percentRankFromRank($"r", $"n_total"))
      .select($"event_type", $"event_id", $"value", $"rank_norm")
  }

  val q133Sql: String =
    """SELECT event_type, event_id, value,
      |  percent_rank() OVER (PARTITION BY event_type
      |    ORDER BY value, event_id) AS rank_norm
      |FROM events""".stripMargin

  /** q134_var — historical one-day Value-at-Risk and expected shortfall
    * (CVaR) per event type from daily mean-value returns: VaR95 = the
    * 5th-percentile return (exact interpolated percentile — q19's
    * proven-matchable primitive), ES95 = the mean of returns at or
    * below it. The tail-mean compares returns against the DECIMAL-
    * ROUNDED VaR boundary (the q124 band lesson) so tail membership is
    * engine-independent.
    */
  def q134Var(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"event_type").orderBy($"d")
    val rets = Tables.events(spark, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("d"))
      .agg(avg($"value").as("v"))
      .withColumn("r", $"v" / lag($"v", 1).over(wOrd) - 1.0)
      .filter($"r".isNotNull)
    val vars = rets.groupBy($"event_type")
      .agg(count(lit(1)).as("n_returns"),
        decRound(percentile($"r", lit(0.05)), 6).as("var95"))
    rets.join(broadcast(vars), "event_type")
      .filter($"r" <= $"var95")
      .groupBy($"event_type")
      .agg(max($"n_returns").as("n_returns"), max($"var95").as("var95"),
        count(lit(1)).as("n_tail"), decRound(avg($"r"), 6).as("es95"))
  }

  val q134Sql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS d, avg(value) AS v
      |  FROM events GROUP BY 1, 2),
      |rets AS (
      |  SELECT event_type,
      |    v / lag(v) OVER (PARTITION BY event_type ORDER BY d) - 1.0 AS r
      |  FROM daily),
      |vars AS (
      |  SELECT event_type, count(*) AS n_returns,
      |    CAST(round(CAST(quantile_cont(r, 0.05) AS DECIMAL(28,12)), 6)
      |      AS DOUBLE) AS var95
      |  FROM rets WHERE r IS NOT NULL GROUP BY event_type)
      |SELECT rets.event_type, max(vars.n_returns) AS n_returns,
      |  max(vars.var95) AS var95, count(*) AS n_tail,
      |  CAST(round(CAST(avg(rets.r) AS DECIMAL(28,12)), 6) AS DOUBLE) AS es95
      |FROM rets JOIN vars ON rets.event_type = vars.event_type
      |WHERE rets.r <= vars.var95
      |GROUP BY rets.event_type""".stripMargin

  val q132Sql: String =
    """WITH rev AS (
      |  SELECT l_returnflag, l_partkey,
      |    CAST(CAST(round(CAST(sum(l_extendedprice * (1.0 - l_discount))
      |      AS DECIMAL(28,12)), 4) AS DOUBLE) AS DECIMAL(18,4)) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (
      |  SELECT l_returnflag, rev,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY rev ASC, l_partkey) AS i
      |  FROM rev),
      |g AS (
      |  SELECT l_returnflag, count(*) AS n_parts,
      |    sum(rev) AS tot, sum(rev * i) AS wsum
      |  FROM r GROUP BY l_returnflag)
      |SELECT l_returnflag, n_parts,
      |  CAST(round(CAST(2.0 * CAST(wsum AS DOUBLE) /
      |    (n_parts * CAST(tot AS DOUBLE)) -
      |    CAST(n_parts + 1 AS DOUBLE) / n_parts
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS gini
      |FROM g""".stripMargin

  /** q176_rank_ic — daily cross-sectional rank information
    * coefficient: Pearson correlation between each instrument's
    * within-day return RANK and its next-day rank — the
    * signal-quality statistic a cross-sectional momentum desk tracks
    * (IC ≈ 0: yesterday's ordering says nothing about today's).
    * Day returns are first-to-last print (window-picked stored
    * doubles, no arithmetic until the ratio); zero first prices drop
    * via the divisor guard (q157 convention); ranks are row_number by
    * (return, instrument) — integer, deterministic, and
    * tie-stable on both engines, so corr's inputs are bit-identical
    * and only its accumulation order needs the 6dp round. Day
    * adjacency joins on the exact integer epoch-day, never on
    * timestamp arithmetic.
    *
    * Scale shape: one tape window pass (user-keyed), a day-keyed
    * rank window over instrument-cardinality frames, and a
    * (user, day)-keyed equi-join — no self-join on the raw tape.
    */
  def q176RankIc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wDay = Window.partitionBy($"user_id", $"day")
      .orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rets = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"value",
        date_trunc("day", $"ts").as("day"))
      .withColumn("first_px", first($"value").over(wDay))
      .withColumn("last_px", last($"value").over(wDay))
      .select($"user_id", $"day", $"first_px", $"last_px").distinct()
      .withColumn("ret",
        ($"last_px" - $"first_px") / nullif($"first_px", lit(0.0)))
      .filter($"ret".isNotNull)
      .withColumn("day_idx", (unix_micros($"day") / lit(86400000000L))
        .cast("long"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"day_idx").orderBy($"ret", $"user_id")))
    val nxt = rets.select($"user_id", ($"day_idx" - 1L).as("day_idx"),
      $"rk".as("rk_next"))
    rets.join(nxt, Seq("user_id", "day_idx"))
      .groupBy($"day")
      .agg(count(lit(1)).as("n_names"),
        graft.functions.Num.decRound(
          corr($"rk".cast("double"), $"rk_next".cast("double")), 6).as("ic"))
  }

  val q176Sql: String =
    """WITH px AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day,
      |    first_value(value) OVER w AS first_px,
      |    last_value(value) OVER w AS last_px
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id, date_trunc('day', ts)
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
      |r AS (
      |  SELECT user_id, day,
      |    epoch_us(day) // 86400000000 AS day_idx,
      |    (last_px - first_px) / nullif(first_px, 0.0) AS ret
      |  FROM px
      |  WHERE (last_px - first_px) / nullif(first_px, 0.0) IS NOT NULL),
      |rk AS (
      |  SELECT user_id, day, day_idx,
      |    row_number() OVER (PARTITION BY day_idx ORDER BY ret, user_id)
      |      AS rk
      |  FROM r)
      |SELECT a.day, count(*) AS n_names,
      |  CAST(round(CAST(corr(CAST(a.rk AS DOUBLE), CAST(b.rk AS DOUBLE))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS ic
      |FROM rk a JOIN rk b
      |  ON a.user_id = b.user_id AND b.day_idx = a.day_idx + 1
      |GROUP BY 1""".stripMargin

  /** q197_kfold — stratified k-fold assignment audit: folds assigned
    * round-robin WITHIN each label stratum (row_number by vec_id mod
    * 5 — deterministic, reproducible, no RNG), reported as the per
    * (fold, label) census plus each cell's deviation from perfect
    * stratification (n/5 of its label). The ML-prep step between
    * q122's class-balance audit and training: a fold whose deviation
    * exceeds ±1 means the assignment is broken, not merely unlucky —
    * which is exactly what round-robin guarantees and the oracle
    * certifies. ALL integers.
    *
    * Scale shape: one label-keyed window (rank within stratum) and
    * one (fold, label) agg — the window partitions on label
    * (low-cardinality strata: acceptable here because the per-label
    * work is a row_number scan, not a sort-heavy rollup; a
    * high-cardinality stratifier would ride Rank.groupRowNumber).
    */
  def q197Kfold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"label").orderBy($"vec_id")
    Tables.embeddings(spark, dir)
      .select($"vec_id", $"label")
      .withColumn("fold",
        ((row_number().over(w) - 1) % 5).cast("int"))
      .groupBy($"fold", $"label")
      .agg(count(lit(1)).as("n"))
      .withColumn("label_total",
        sum($"n").over(Window.partitionBy($"label")))
      .select($"fold", $"label", $"n",
        ($"n" * 5L - $"label_total").as("dev_x5"))
      .withColumn("stratified_ok", abs($"dev_x5") <= 5L)
  }

  val q197Sql: String =
    """WITH f AS (
      |  SELECT label,
      |    CAST((row_number() OVER (PARTITION BY label ORDER BY vec_id)
      |      - 1) % 5 AS INT) AS fold
      |  FROM embeddings),
      |c AS (
      |  SELECT fold, label, count(*) AS n FROM f GROUP BY 1, 2)
      |SELECT fold, label, n,
      |  CAST(n * 5 - sum(n) OVER (PARTITION BY label) AS BIGINT)
      |    AS dev_x5,
      |  abs(CAST(n * 5 - sum(n) OVER (PARTITION BY label) AS BIGINT))
      |    <= 5 AS stratified_ok
      |FROM c""".stripMargin

  /** q196_underwater — drawdown DURATION per instrument: the longest
    * spell (in prints and in integer µs) spent strictly below the
    * running peak — q73 reports how DEEP drawdowns get, this reports
    * how LONG they last (the risk metric investors actually live
    * through; two books with equal max drawdown differ wildly in
    * recovery time). Runs segment by the classic cumulative-resets
    * trick: grp = running count of at-peak prints, so each underwater
    * run shares a (user, grp) key. EVERYTHING is integer counts, µs
    * differences, and exact double comparisons (value < running max
    * picks doubles, never sums them) — deterministic on both engines,
    * no rounding anywhere.
    *
    * Scale shape: two stacked windows and the rollup all cluster on
    * user_id — the single-tape-exchange family; the (user, grp) run
    * agg rides the same hash partitioning (subset-key clustering).
    */
  def q196Underwater(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"value")
      .withColumn("peak", max($"value").over(wRun))
      .withColumn("under", ($"value" < $"peak").cast("int"))
      .withColumn("grp", sum(lit(1) - $"under").over(wRun))
      .filter($"under" === 1)
      .groupBy($"user_id", $"grp")
      .agg(count(lit(1)).as("len_prints"),
        (max(unix_micros($"ts")) - min(unix_micros($"ts"))).as("len_us"))
    runs.groupBy($"user_id")
      .agg(count(lit(1)).as("n_spells"),
        max($"len_prints").as("max_underwater_prints"),
        max($"len_us").as("max_underwater_us"))
  }

  val q196Sql: String =
    """WITH p AS (
      |  SELECT user_id, ts, event_id, value,
      |    max(value) OVER w AS peak
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |g AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN value < peak THEN 1 ELSE 0 END AS under,
      |    sum(CASE WHEN value < peak THEN 0 ELSE 1 END) OVER w AS grp
      |  FROM p
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |r AS (
      |  SELECT user_id, grp, count(*) AS len_prints,
      |    max(epoch_us(ts)) - min(epoch_us(ts)) AS len_us
      |  FROM g WHERE under = 1 GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_spells,
      |  CAST(max(len_prints) AS BIGINT) AS max_underwater_prints,
      |  CAST(max(len_us) AS BIGINT) AS max_underwater_us
      |FROM r GROUP BY 1""".stripMargin

  /** q193_hurst — long-memory diagnostic per instrument: the Hurst
    * exponent from the variance-of-aggregates regression. Tick
    * log-returns (q157's zero-price guard) land on the 12dp decimal
    * lattice; for k ∈ {1,2,4,8} the non-overlapping FULL k-bucket sums
    * are EXACT decimal additions, and each (instrument, k) variance
    * comes from exact decimal moments (Σs, Σs²) — the q178 lesson: no
    * engine-ordered double accumulation anywhere before the final
    * double formula. ln k is equally spaced (0, L, 2L, 3L with
    * L = ln 2), so the 4-point slope collapses to fixed weights:
    * H = slope/2 = (−1.5·ln v₁ − 0.5·ln v₂ + 0.5·ln v₄ + 1.5·ln v₈)
    * / (10·ln 2). H ≈ 0.5 = random walk; H > 0.5 persistent, < 0.5
    * mean-reverting — the regime sanity check beside q168's variance
    * ratio. Zero-variance scales drop (ln throws in DuckDB, nulls in
    * Spark — filtered identically); instruments missing any scale
    * drop via the nk = 4 gate.
    *
    * Scale shape: ONE tape window (lag + row_number share the user
    * sort), then integer-keyed bucket aggs — k·|buckets| rows through
    * map-side combine; the per-user 4-row pivot is arithmetic.
    */
  def q193Hurst(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val rets = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"value")
      .withColumn("ret", when($"value" > 0.0,
        log($"value" / nullif(lag($"value", 1).over(wOrd), lit(0.0)))))
      .filter($"ret".isNotNull)
      .withColumn("idx", row_number().over(wOrd).cast("long") - 1L)
      .select($"user_id", $"idx",
        graft.functions.Num.decRound($"ret", 12)
          .cast(DecimalType(18, 12)).as("r12"))
    // ONE window pass, not four: the per-k branches used to arrive as a
    // 4-way union whose branches shared the tape exchange via
    // ReusedExchange but re-ran the sort + lag/row_number WINDOW once
    // per branch (r17 QBench: 4 identical window stages). Exploding the
    // scale literal instead multiplies only the (user, idx, r12) rows
    // row-locally — the same rows reach the same (user, k, bucket)
    // groups, the aggregation stays clustered by the window's hash
    // (user_id) exchange, and sums of identical decimals are exact —
    // so the output is bit-identical (oracle re-verified; the DuckDB
    // mirror has always used this CROSS JOIN unnest([1,2,4,8]) shape).
    val bucketed = rets
      .select($"user_id", $"idx", $"r12",
        explode(typedLit(Seq(1L, 2L, 4L, 8L))).as("k"))
      .groupBy($"user_id", $"k", ($"idx" / $"k").cast("long").as("bucket"))
      // s re-narrows to (18,12) — values are tiny and a (28,12)²
      // product would blow the 38-digit cap and silently round
      // (Spark) or error (DuckDB); at (18,12) the square is exact
      .agg(sum($"r12").cast(DecimalType(18, 12)).as("s"),
        count(lit(1)).as("cnt"))
      .filter($"cnt" === $"k")
    val vark = bucketed.groupBy($"user_id", $"k")
      .agg(count(lit(1)).as("n"),
        sum($"s").as("ss"), sum($"s" * $"s").as("ss2"))
      .select($"user_id", $"k", $"n",
        ($"ss2".cast("double") / $"n".cast("double") -
          ($"ss".cast("double") / $"n".cast("double")) *
            ($"ss".cast("double") / $"n".cast("double"))).as("vark"))
      .filter($"vark" > 0.0 && $"n" >= 2L)
    vark.groupBy($"user_id")
      .agg(count(lit(1)).as("nk"),
        sum(when($"k" === 1, log($"vark"))).as("y1"),
        sum(when($"k" === 2, log($"vark"))).as("y2"),
        sum(when($"k" === 4, log($"vark"))).as("y4"),
        sum(when($"k" === 8, log($"vark"))).as("y8"))
      .filter($"nk" === 4L)
      .select($"user_id",
        decRound((lit(-1.5) * $"y1" - lit(0.5) * $"y2" +
          lit(0.5) * $"y4" + lit(1.5) * $"y8") /
          (lit(10.0) * log(lit(2.0))), 4).as("hurst"))
  }

  val q193Sql: String =
    """WITH r0 AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN value > 0.0 THEN
      |      ln(value / nullif(lag(value) OVER (
      |        PARTITION BY user_id ORDER BY ts, event_id), 0.0)) END AS ret
      |  FROM events),
      |r AS (
      |  SELECT user_id,
      |    CAST(row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS BIGINT) - 1 AS idx,
      |    CAST(round(CAST(ret AS DECIMAL(28,12)), 12) AS DECIMAL(18,12))
      |      AS r12
      |  FROM r0 WHERE ret IS NOT NULL),
      |b AS (
      |  SELECT user_id, k, idx // k AS bucket,
      |    CAST(sum(r12) AS DECIMAL(18,12)) AS s,
      |    count(*) AS cnt
      |  FROM r CROSS JOIN (SELECT unnest([1, 2, 4, 8]) AS k)
      |  GROUP BY 1, 2, 3
      |  HAVING count(*) = k),
      |v AS (
      |  SELECT user_id, k, count(*) AS n,
      |    CAST(sum(s * s) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |      - (CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE))
      |        * (CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE))
      |      AS vark
      |  FROM b GROUP BY 1, 2),
      |f AS (SELECT * FROM v WHERE vark > 0.0 AND n >= 2),
      |h AS (
      |  SELECT user_id, count(*) AS nk,
      |    sum(CASE WHEN k = 1 THEN ln(vark) END) AS y1,
      |    sum(CASE WHEN k = 2 THEN ln(vark) END) AS y2,
      |    sum(CASE WHEN k = 4 THEN ln(vark) END) AS y4,
      |    sum(CASE WHEN k = 8 THEN ln(vark) END) AS y8
      |  FROM f GROUP BY 1)
      |SELECT user_id,
      |  CAST(round(CAST((-1.5 * y1 - 0.5 * y2 + 0.5 * y4 + 1.5 * y8)
      |    / (10.0 * ln(2.0)) AS DECIMAL(28,12)), 4) AS DOUBLE) AS hurst
      |FROM h WHERE nk = 4""".stripMargin

  /** q181_event_study — post-event abnormal return per instrument:
    * for every signup print on an instrument's tape, the cumulative
    * return over the NEXT 3 prints (a forward row frame anchored at
    * the event — the event-study CAR at a fixed horizon), de-meaned
    * by 3× the instrument's own average print return (the
    * constant-mean-return benchmark of the classic event-study
    * design). Positive mean abnormal CAR = the event systematically
    * precedes drift the baseline doesn't explain. Returns reuse the
    * q165 zero-price guard; NULL returns inside a frame are skipped
    * identically by both engines' window sums.
    *
    * Scale shape: the return lag, the forward CAR frame, the
    * whole-partition mean, and the final per-instrument rollup are
    * all user_id-clustered — ONE tape exchange (PlanSpec-pinned).
    */
  def q181EventStudy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wFwd = wOrd.rowsBetween(1, 3)
    val wAll = Window.partitionBy($"user_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"value", $"event_type")
      .withColumn("prev", lag($"value", 1).over(wOrd))
      .withColumn("ret",
        when($"value" > 0.0 && $"prev" > 0.0, $"value" / $"prev" - 1.0))
      .withColumn("car3", sum($"ret").over(wFwd))
      .withColumn("mean_ret", avg($"ret").over(wAll))
      .filter($"event_type" === "signup" && $"car3".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        decRound(avg($"car3" - lit(3.0) * $"mean_ret"), 6).as("abn_car"))
  }

  val q181Sql: String =
    """WITH r AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN value > 0.0 AND lag(value) OVER w > 0.0
      |         THEN value / lag(value) OVER w - 1.0 END AS ret
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |c AS (
      |  SELECT user_id, event_type,
      |    sum(ret) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS car3,
      |    avg(ret) OVER (PARTITION BY user_id) AS mean_ret
      |  FROM r)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(round(CAST(avg(car3 - 3.0 * mean_ret) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS abn_car
      |FROM c WHERE event_type = 'signup' AND car3 IS NOT NULL
      |GROUP BY 1""".stripMargin

  /** q201_ar1_halflife — mean-reversion half-life per instrument:
    * OLS AR(1) on the 12dp-latticed log-price tape, b = slope of
    * x_t on x_{t−1}, half-life = −ln2 / ln b prints for 0 < b < 1
    * (the Ornstein–Uhlenbeck discretization — the pre-trade screen
    * behind every mean-reversion strategy and the holding-period
    * calibration for q202's pair residuals). One keyed sort-window
    * pass pairs each print with its predecessor; moments are EXACT
    * decimal sums (the q178 determinism discipline — a (18,12)² product
    * is (37,24), inside the 38-digit cap), so both engines run the
    * identical slope arithmetic on identical operands and the only FP
    * surface is the final guarded log, absorbed at the output round.
    * Scales: one tape exchange, one agg; no driver state.
    */
  def q201Ar1Halflife(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val x = Tables.events(spark, dir)
      .filter($"value" > 0.0)
      .select($"user_id", $"ts", $"event_id",
        decRound(log($"value"), 12).cast(DecimalType(18, 12)).as("x"))
      .withColumn("xp", lag($"x", 1).over(wOrd))
      .filter($"xp".isNotNull)
    val m = x.groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"xp").as("sx"), sum($"x").as("sy"),
        sum($"xp" * $"x").as("sxy"), sum($"xp" * $"xp").as("sxx"))
    val nD = $"n_pairs".cast("double")
    val (sx, sy, sxy, sxx) = ($"sx".cast("double"), $"sy".cast("double"),
      $"sxy".cast("double"), $"sxx".cast("double"))
    val den = nD * sxx - sx * sx
    val b = (nD * sxy - sx * sy) / den
    m.filter($"n_pairs" >= 10L && den > 0.0)
      .select($"user_id", $"n_pairs",
        decRound(b, 6).as("ar1_b"),
        decRound(when(b > 0.0 && b < 1.0,
          -log(lit(2.0)) / log(b)), 4).as("halflife_prints"))
  }

  val q201Sql: String =
    """WITH x0 AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(round(CAST(ln(value) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS x
      |  FROM events WHERE value > 0.0),
      |p AS (
      |  SELECT user_id, x,
      |    lag(x) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS xp
      |  FROM x0),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |    sum(xp) AS sx, sum(x) AS sy,
      |    sum(xp * x) AS sxy, sum(xp * xp) AS sxx
      |  FROM p WHERE xp IS NOT NULL GROUP BY 1),
      |f AS (
      |  SELECT user_id, n_pairs,
      |    CAST(n_pairs AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
      |    CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
      |    CAST(sxx AS DOUBLE) AS sxxd
      |  FROM m),
      |g AS (
      |  SELECT user_id, n_pairs,
      |    (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS b,
      |    nd * sxxd - sxd * sxd AS den
      |  FROM f)
      |SELECT user_id, n_pairs,
      |  CAST(round(CAST(b AS DECIMAL(28,12)), 6) AS DOUBLE) AS ar1_b,
      |  CAST(round(CAST(CASE WHEN b > 0.0 AND b < 1.0
      |    THEN -ln(2.0) / ln(b) END AS DECIMAL(28,12)), 4) AS DOUBLE)
      |    AS halflife_prints
      |FROM g WHERE n_pairs >= 10 AND den > 0.0""".stripMargin

  /** q202_pairs_cointegration — Engle–Granger-style pair scan over the
    * top-50 most-active universe: per instrument pair (a < b) with
    * ≥ 20 shared trading days, the OLS hedge ratio β of a's latticed
    * log-close on b's, the log-close correlation, and the residual
    * variance ratio var(Δe)/var(e) of e = x_a − β·x_b — the
    * mean-reversion strength screen (VR → 2 ≈ white-noise residual =
    * tradeable pair; VR → 0 = random-walk residual = spurious).
    * Scale contract: the pair scan is quadratic in the UNIVERSE, never
    * the tape — ticks collapse to (instrument, day) closes first
    * (one tape pass), the universe is capped at 50 by activity rank
    * (the q44-nCentroids bound class), so pair volume is ≤ C(50,2)
    * regardless of sf. β is assembled from exact decimal moments
    * (identical in both engines), and the residual is RE-LATTICED to
    * 12dp before the second moment pass, so Δe/e variances are exact
    * decimal sums too — the two-pass formulation never sums raw
    * doubles.
    */
  /** The pair family's shared spine: one row per (instrument, day)
    * with the 12dp-latticed ln of the LAST positive print that day
    * (ties broken by event_id — a total close order): the
    * [[graft.sources.LedgerTable.Closes]] cell, served. Both q202 and
    * q208 are pure functions of this frame.
    */
  def dailyCloses(spark: SparkSession, dir: String): DataFrame =
    graft.sources.LedgerTable.Closes.fromTape(Tables.events(spark, dir))

  def q202PairsCointegration(spark: SparkSession, dir: String): DataFrame =
    cointFromCloses(dailyCloses(spark, dir))

  /** q202's cointegration tail as a pure function of the closes spine
    * (user_id, day, x) — shared verbatim by the batch query and the
    * s67 ledger's differential spec.
    */
  def cointFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val universe = closes.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"))
      .orderBy($"n_days".desc, $"user_id".asc)
      .limit(50)
      .select($"user_id")
    val u = broadcast(universe)
    val c = closes.join(u, "user_id")
    val pairs = c.as("a").join(c.as("b"),
        col("a.day") === col("b.day") &&
          col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("ua"), col("b.user_id").as("ub"),
        col("a.day").as("day"), col("a.x").as("xa"), col("b.x").as("xb"))
    val m1 = pairs.groupBy($"ua", $"ub")
      .agg(count(lit(1)).as("n_days"),
        sum($"xa").as("sa"), sum($"xb").as("sb"),
        sum($"xa" * $"xb").as("sab"),
        sum($"xa" * $"xa").as("saa"), sum($"xb" * $"xb").as("sbb"))
      .filter($"n_days" >= 20L)
    val nD = $"n_days".cast("double")
    val (sa, sb, sab, saa, sbb) = ($"sa".cast("double"), $"sb".cast("double"),
      $"sab".cast("double"), $"saa".cast("double"), $"sbb".cast("double"))
    val vb = nD * sbb - sb * sb
    val va = nD * saa - sa * sa
    val beta = m1.filter(vb > 0.0 && va > 0.0)
      .select($"ua", $"ub", $"n_days",
        ((nD * sab - sa * sb) / vb).as("beta"),
        ((nD * sab - sa * sb) / (sqrt(va) * sqrt(vb))).as("rho"))
    // second pass: residual e = xa − β·xb, re-latticed so the Δe/e
    // moment sums are exact decimals in both engines
    val wPair = Window.partitionBy($"ua", $"ub").orderBy($"day")
    val resid = pairs.join(beta, Seq("ua", "ub"))
      .select($"ua", $"ub", $"day", $"n_days", $"beta", $"rho",
        decRound($"xa".cast("double") - $"beta" * $"xb".cast("double"), 12)
          .cast(DecimalType(18, 12)).as("e"))
      .withColumn("ep", lag($"e", 1).over(wPair))
      // Δe re-narrows to (18,12): the raw (19,12) difference squared
      // would pass the 38-digit cap (q193's lesson); |Δe| < 2 so the
      // narrowing is exact
      .withColumn("d", ($"e" - $"ep").cast(DecimalType(18, 12)))
    val m2 = resid.groupBy($"ua", $"ub", $"n_days", $"beta", $"rho")
      .agg(sum($"e").as("se"), sum($"e" * $"e").as("see"),
        count($"ep").as("nd"),
        sum($"d").as("sd"),
        sum($"d" * $"d").as("sdd"))
    val n2 = $"n_days".cast("double")
    val ndD = $"nd".cast("double")
    val varE = $"see".cast("double") / n2 -
      ($"se".cast("double") / n2) * ($"se".cast("double") / n2)
    val varD = $"sdd".cast("double") / ndD -
      ($"sd".cast("double") / ndD) * ($"sd".cast("double") / ndD)
    m2.filter($"nd" >= 10L && varE > 0.0)
      .select($"ua", $"ub", $"n_days",
        decRound($"beta", 6).as("beta"),
        decRound($"rho", 6).as("rho"),
        decRound(varD / varE, 6).as("resid_vr"))
  }

  val q202Sql: String =
    """WITH c0 AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE value > 0.0),
      |c AS (
      |  SELECT user_id, day,
      |    CAST(round(CAST(ln(value) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS x
      |  FROM c0 WHERE rn = 1),
      |uni AS (
      |  SELECT user_id FROM c GROUP BY 1
      |  ORDER BY count(*) DESC, user_id ASC LIMIT 50),
      |cu AS (SELECT c.* FROM c JOIN uni USING (user_id)),
      |p AS (
      |  SELECT a.user_id AS ua, b.user_id AS ub, a.day,
      |    a.x AS xa, b.x AS xb
      |  FROM cu a JOIN cu b ON a.day = b.day AND a.user_id < b.user_id),
      |m1 AS (
      |  SELECT ua, ub, CAST(count(*) AS BIGINT) AS n_days,
      |    sum(xa) AS sa, sum(xb) AS sb, sum(xa * xb) AS sab,
      |    sum(xa * xa) AS saa, sum(xb * xb) AS sbb
      |  FROM p GROUP BY 1, 2 HAVING count(*) >= 20),
      |b1 AS (
      |  SELECT ua, ub, n_days,
      |    CAST(n_days AS DOUBLE) AS nd, CAST(sa AS DOUBLE) AS sad,
      |    CAST(sb AS DOUBLE) AS sbd, CAST(sab AS DOUBLE) AS sabd,
      |    CAST(saa AS DOUBLE) AS saad, CAST(sbb AS DOUBLE) AS sbbd
      |  FROM m1),
      |beta AS (
      |  SELECT ua, ub, n_days,
      |    (nd * sabd - sad * sbd) / (nd * sbbd - sbd * sbd) AS beta,
      |    (nd * sabd - sad * sbd)
      |      / (sqrt(nd * saad - sad * sad) * sqrt(nd * sbbd - sbd * sbd))
      |      AS rho
      |  FROM b1
      |  WHERE nd * sbbd - sbd * sbd > 0.0
      |    AND nd * saad - sad * sad > 0.0),
      |r AS (
      |  SELECT p.ua, p.ub, p.day, beta.n_days, beta.beta, beta.rho,
      |    CAST(round(CAST(CAST(p.xa AS DOUBLE)
      |      - beta.beta * CAST(p.xb AS DOUBLE) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS e
      |  FROM p JOIN beta ON p.ua = beta.ua AND p.ub = beta.ub),
      |r2 AS (
      |  SELECT ua, ub, n_days, beta, rho, e,
      |    CAST(e - lag(e) OVER (PARTITION BY ua, ub ORDER BY day)
      |      AS DECIMAL(18,12)) AS d
      |  FROM r),
      |m2 AS (
      |  SELECT ua, ub, n_days, beta, rho,
      |    sum(e) AS se, sum(e * e) AS see,
      |    CAST(count(d) AS BIGINT) AS nd2,
      |    sum(d) AS sd, sum(d * d) AS sdd
      |  FROM r2 GROUP BY 1, 2, 3, 4, 5),
      |f AS (
      |  SELECT ua, ub, n_days, beta, rho, nd2,
      |    CAST(see AS DOUBLE) / CAST(n_days AS DOUBLE)
      |      - (CAST(se AS DOUBLE) / CAST(n_days AS DOUBLE))
      |        * (CAST(se AS DOUBLE) / CAST(n_days AS DOUBLE)) AS var_e,
      |    CAST(sdd AS DOUBLE) / CAST(nd2 AS DOUBLE)
      |      - (CAST(sd AS DOUBLE) / CAST(nd2 AS DOUBLE))
      |        * (CAST(sd AS DOUBLE) / CAST(nd2 AS DOUBLE)) AS var_d
      |  FROM m2)
      |SELECT ua, ub, n_days,
      |  CAST(round(CAST(beta AS DECIMAL(28,12)), 6) AS DOUBLE) AS beta,
      |  CAST(round(CAST(rho AS DECIMAL(28,12)), 6) AS DOUBLE) AS rho,
      |  CAST(round(CAST(var_d / var_e AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS resid_vr
      |FROM f WHERE nd2 >= 10 AND var_e > 0.0""".stripMargin

  /** q208_lead_lag — pairwise lead-lag discovery over the top-50
    * universe's daily log-returns: for each pair (a < b), the
    * same-day correlation AND both one-day cross-correlations
    * corr(r_a(t), r_b(t−1)) (b leads a) vs corr(r_b(t), r_a(t−1))
    * (a leads b); their difference is the lead-lag score whose sign
    * names the leader — the price-discovery screen run next to q202's
    * cointegration scan. Trading-day alignment comes from a dense rank
    * over the (calendar-bounded) distinct day list, broadcast back —
    * never a global window over the tape. Each instrument's frame
    * carries (r, r_prev) from ONE keyed lag pass, so a single
    * rank-equi pair join feeds all three moment sets; moments are
    * exact decimal sums with per-pair conditional counts (the first
    * day's null lag drops per-moment, not per-row).
    */
  def q208LeadLag(spark: SparkSession, dir: String): DataFrame =
    leadLagFromCloses(dailyCloses(spark, dir))

  /** q208's lead-lag tail as a pure function of the closes spine —
    * shared verbatim by the batch query and the s67 differential spec
    * (one ledger, two pair-family twins).
    */
  def leadLagFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val universe = closes.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"))
      .orderBy($"n_days".desc, $"user_id".asc).limit(50)
      .select($"user_id")
    // calendar-bounded day rank (distinct days only — never a global
    // window over instrument×day rows)
    val days = closes.select($"day").distinct()
      .withColumn("rk", row_number().over(Window.orderBy($"day")).cast("long"))
    val c = closes.join(broadcast(universe), "user_id")
      .join(broadcast(days), "day")
    val wOrd = Window.partitionBy($"user_id").orderBy($"rk")
    val rets = c
      .withColumn("r", ($"x" - lag($"x", 1).over(wOrd))
        .cast(DecimalType(18, 12)))
      .withColumn("rp", lag($"r", 1).over(wOrd))
      .filter($"r".isNotNull)
      .select($"user_id", $"rk", $"r", $"rp")
    val pairs = rets.as("a").join(rets.as("b"),
        col("a.rk") === col("b.rk") && col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("ua"), col("b.user_id").as("ub"),
        col("a.r").as("ra"), col("b.r").as("rb"),
        col("a.rp").as("rap"), col("b.rp").as("rbp"))
    def moments(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
                tag: String) = Seq(
      count(when(x.isNotNull && y.isNotNull, 1)).as(s"n_$tag"),
      sum(when(y.isNotNull, x)).as(s"sx_$tag"),
      sum(when(x.isNotNull, y)).as(s"sy_$tag"),
      sum(x * y).as(s"sxy_$tag"),
      sum(when(y.isNotNull, x * x)).as(s"sxx_$tag"),
      sum(when(x.isNotNull, y * y)).as(s"syy_$tag"))
    val aggs = moments($"ra", $"rb", "c0") ++
      moments($"ra", $"rbp", "ab") ++ moments($"rb", $"rap", "ba")
    val m = pairs.groupBy($"ua", $"ub").agg(aggs.head, aggs.tail: _*)
    def corrOf(tag: String) = {
      val nD = col(s"n_$tag").cast("double")
      val (sx, sy, sxy, sxx, syy) = (col(s"sx_$tag").cast("double"),
        col(s"sy_$tag").cast("double"), col(s"sxy_$tag").cast("double"),
        col(s"sxx_$tag").cast("double"), col(s"syy_$tag").cast("double"))
      val vx = nD * sxx - sx * sx
      val vy = nD * syy - sy * sy
      when(col(s"n_$tag") >= 10L && vx > 0.0 && vy > 0.0,
        (nD * sxy - sx * sy) / (sqrt(vx) * sqrt(vy)))
    }
    m.select($"ua", $"ub", $"n_c0".as("n_days"),
        decRound(corrOf("c0"), 6).as("corr0"),
        decRound(corrOf("ab"), 6).as("lead_b"),
        decRound(corrOf("ba"), 6).as("lead_a"),
        decRound(corrOf("ab") - corrOf("ba"), 6).as("leadlag_score"))
      .filter($"corr0".isNotNull)
  }

  val q208Sql: String =
    """WITH c0 AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE value > 0.0),
      |c AS (
      |  SELECT user_id, day,
      |    CAST(round(CAST(ln(value) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS x
      |  FROM c0 WHERE rn = 1),
      |uni AS (
      |  SELECT user_id FROM c GROUP BY 1
      |  ORDER BY count(*) DESC, user_id ASC LIMIT 50),
      |days AS (
      |  SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk
      |  FROM (SELECT DISTINCT day FROM c)),
      |cu AS (
      |  SELECT c.user_id, days.rk, c.x
      |  FROM c JOIN uni USING (user_id) JOIN days USING (day)),
      |r AS (
      |  SELECT user_id, rk,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY rk)
      |      AS DECIMAL(18,12)) AS r
      |  FROM cu),
      |r2 AS (
      |  SELECT user_id, rk, r,
      |    lag(r) OVER (PARTITION BY user_id ORDER BY rk) AS rp
      |  FROM r WHERE r IS NOT NULL),
      |p AS (
      |  SELECT a.user_id AS ua, b.user_id AS ub,
      |    a.r AS ra, b.r AS rb, a.rp AS rap, b.rp AS rbp
      |  FROM r2 a JOIN r2 b ON a.rk = b.rk AND a.user_id < b.user_id),
      |m AS (
      |  SELECT ua, ub,
      |    CAST(count(CASE WHEN ra IS NOT NULL AND rb IS NOT NULL THEN 1 END) AS BIGINT) AS n_c0,
      |    sum(CASE WHEN rb IS NOT NULL THEN ra END) AS sx_c0,
      |    sum(CASE WHEN ra IS NOT NULL THEN rb END) AS sy_c0,
      |    sum(ra * rb) AS sxy_c0,
      |    sum(CASE WHEN rb IS NOT NULL THEN ra * ra END) AS sxx_c0,
      |    sum(CASE WHEN ra IS NOT NULL THEN rb * rb END) AS syy_c0,
      |    CAST(count(CASE WHEN ra IS NOT NULL AND rbp IS NOT NULL THEN 1 END) AS BIGINT) AS n_ab,
      |    sum(CASE WHEN rbp IS NOT NULL THEN ra END) AS sx_ab,
      |    sum(CASE WHEN ra IS NOT NULL THEN rbp END) AS sy_ab,
      |    sum(ra * rbp) AS sxy_ab,
      |    sum(CASE WHEN rbp IS NOT NULL THEN ra * ra END) AS sxx_ab,
      |    sum(CASE WHEN ra IS NOT NULL THEN rbp * rbp END) AS syy_ab,
      |    CAST(count(CASE WHEN rb IS NOT NULL AND rap IS NOT NULL THEN 1 END) AS BIGINT) AS n_ba,
      |    sum(CASE WHEN rap IS NOT NULL THEN rb END) AS sx_ba,
      |    sum(CASE WHEN rb IS NOT NULL THEN rap END) AS sy_ba,
      |    sum(rb * rap) AS sxy_ba,
      |    sum(CASE WHEN rap IS NOT NULL THEN rb * rb END) AS sxx_ba,
      |    sum(CASE WHEN rb IS NOT NULL THEN rap * rap END) AS syy_ba
      |  FROM p GROUP BY 1, 2),
      |f AS (
      |  SELECT ua, ub, n_c0,
      |    CASE WHEN n_c0 >= 10
      |        AND CAST(n_c0 AS DOUBLE) * CAST(sxx_c0 AS DOUBLE) - CAST(sx_c0 AS DOUBLE) * CAST(sx_c0 AS DOUBLE) > 0.0
      |        AND CAST(n_c0 AS DOUBLE) * CAST(syy_c0 AS DOUBLE) - CAST(sy_c0 AS DOUBLE) * CAST(sy_c0 AS DOUBLE) > 0.0
      |      THEN (CAST(n_c0 AS DOUBLE) * CAST(sxy_c0 AS DOUBLE) - CAST(sx_c0 AS DOUBLE) * CAST(sy_c0 AS DOUBLE))
      |        / (sqrt(CAST(n_c0 AS DOUBLE) * CAST(sxx_c0 AS DOUBLE) - CAST(sx_c0 AS DOUBLE) * CAST(sx_c0 AS DOUBLE))
      |          * sqrt(CAST(n_c0 AS DOUBLE) * CAST(syy_c0 AS DOUBLE) - CAST(sy_c0 AS DOUBLE) * CAST(sy_c0 AS DOUBLE))) END AS c0,
      |    CASE WHEN n_ab >= 10
      |        AND CAST(n_ab AS DOUBLE) * CAST(sxx_ab AS DOUBLE) - CAST(sx_ab AS DOUBLE) * CAST(sx_ab AS DOUBLE) > 0.0
      |        AND CAST(n_ab AS DOUBLE) * CAST(syy_ab AS DOUBLE) - CAST(sy_ab AS DOUBLE) * CAST(sy_ab AS DOUBLE) > 0.0
      |      THEN (CAST(n_ab AS DOUBLE) * CAST(sxy_ab AS DOUBLE) - CAST(sx_ab AS DOUBLE) * CAST(sy_ab AS DOUBLE))
      |        / (sqrt(CAST(n_ab AS DOUBLE) * CAST(sxx_ab AS DOUBLE) - CAST(sx_ab AS DOUBLE) * CAST(sx_ab AS DOUBLE))
      |          * sqrt(CAST(n_ab AS DOUBLE) * CAST(syy_ab AS DOUBLE) - CAST(sy_ab AS DOUBLE) * CAST(sy_ab AS DOUBLE))) END AS ab,
      |    CASE WHEN n_ba >= 10
      |        AND CAST(n_ba AS DOUBLE) * CAST(sxx_ba AS DOUBLE) - CAST(sx_ba AS DOUBLE) * CAST(sx_ba AS DOUBLE) > 0.0
      |        AND CAST(n_ba AS DOUBLE) * CAST(syy_ba AS DOUBLE) - CAST(sy_ba AS DOUBLE) * CAST(sy_ba AS DOUBLE) > 0.0
      |      THEN (CAST(n_ba AS DOUBLE) * CAST(sxy_ba AS DOUBLE) - CAST(sx_ba AS DOUBLE) * CAST(sy_ba AS DOUBLE))
      |        / (sqrt(CAST(n_ba AS DOUBLE) * CAST(sxx_ba AS DOUBLE) - CAST(sx_ba AS DOUBLE) * CAST(sx_ba AS DOUBLE))
      |          * sqrt(CAST(n_ba AS DOUBLE) * CAST(syy_ba AS DOUBLE) - CAST(sy_ba AS DOUBLE) * CAST(sy_ba AS DOUBLE))) END AS ba
      |  FROM m)
      |SELECT ua, ub, n_c0 AS n_days,
      |  CAST(round(CAST(c0 AS DECIMAL(28,12)), 6) AS DOUBLE) AS corr0,
      |  CAST(round(CAST(ab AS DECIMAL(28,12)), 6) AS DOUBLE) AS lead_b,
      |  CAST(round(CAST(ba AS DECIMAL(28,12)), 6) AS DOUBLE) AS lead_a,
      |  CAST(round(CAST(ab - ba AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS leadlag_score
      |FROM f WHERE c0 IS NOT NULL""".stripMargin

  /** q209_turnover — daily portfolio turnover of the volume-weighted
    * market portfolio: weight w(i,t) = instrument i's share of day t's
    * total traded size; turnover(t) = ½ Σᵢ |w(i,t) − w(i,t−1)| over
    * consecutive TRADING days (instruments absent one side carry
    * weight 0 — the full-outer union, not a gap-fill explosion). The
    * rebalance-cost / regime-shift diagnostic a PIT-universe backtest
    * (q142) prices its rebalances with. Weights lattice to 12dp
    * decimals so the cross-instrument |Δw| sum is exact in both
    * engines; day ranks come from the calendar-bounded distinct-day
    * list, never a global window over the tape.
    */
  def q209Turnover(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val vol = dailyVolume(spark, dir)
    val days = vol.select($"day").distinct()
      .withColumn("rk", row_number().over(Window.orderBy($"day")).cast("long"))
    val w = vol.join(broadcast(days), "day")
      .withColumn("tot", sum($"v").over(Window.partitionBy($"rk")))
      .select($"user_id", $"rk", $"day",
        decRound($"v".cast("double") / $"tot".cast("double"), 12)
          .cast(DecimalType(14, 12)).as("w"))
    val prev = w.select($"user_id", ($"rk" + 1L).as("rk"), $"w".as("wp"))
    val j = w.select($"user_id", $"rk", $"day", $"w")
      .join(prev, Seq("user_id", "rk"), "full_outer")
      .filter($"rk" >= 2L)
    val dayOf = j.groupBy($"rk")
      .agg(max($"day").as("day"),
        sum(abs(coalesce($"w", lit(BigDecimal(0)).cast(DecimalType(14, 12))) -
          coalesce($"wp", lit(BigDecimal(0)).cast(DecimalType(14, 12)))))
          .as("sad"),
        count(when($"w".isNotNull, 1)).as("n_inst"))
    // lazy scalar bound (drops the phantom rk = max+1 row the
    // full-outer shift manufactures): broadcast-cross-join the max
    // instead of an eager first() — an empty events table then yields
    // an empty frame rather than an NPE at construction time, and no
    // job runs unless the returned frame is executed
    val maxRk = days.agg(max($"rk").as("max_rk"))
    dayOf.join(broadcast(maxRk)).filter($"rk" <= $"max_rk")
      .select($"day", $"n_inst",
        decRound($"sad".cast("double") / 2.0, 6).as("turnover"))
  }

  val q209Sql: String =
    """WITH vol AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS v
      |  FROM events WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 0
      |  GROUP BY 1, 2),
      |days AS (
      |  SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk
      |  FROM (SELECT DISTINCT day FROM vol)),
      |w AS (
      |  SELECT user_id, rk, vol.day,
      |    CAST(round(CAST(CAST(v AS DOUBLE)
      |      / CAST(sum(v) OVER (PARTITION BY rk) AS DOUBLE)
      |      AS DECIMAL(28,12)), 12) AS DECIMAL(14,12)) AS w
      |  FROM vol JOIN days USING (day)),
      |j AS (
      |  SELECT coalesce(a.user_id, b.user_id) AS user_id,
      |    coalesce(a.rk, b.rk + 1) AS rk, a.day, a.w, b.w AS wp
      |  FROM w a FULL OUTER JOIN (SELECT user_id, rk, w FROM w) b
      |    ON a.user_id = b.user_id AND a.rk = b.rk + 1)
      |SELECT max(day) AS day,
      |  CAST(count(CASE WHEN w IS NOT NULL THEN 1 END) AS BIGINT) AS n_inst,
      |  CAST(round(CAST(CAST(sum(abs(coalesce(w, 0) - coalesce(wp, 0)))
      |    AS DOUBLE) / 2.0 AS DECIMAL(28,12)), 6) AS DOUBLE) AS turnover
      |FROM j
      |WHERE rk >= 2 AND rk <= (SELECT max(rk) FROM days)
      |GROUP BY rk""".stripMargin

  /** q214_decile_backtest — the engine eating its own cooking: a
    * daily-rebalanced momentum QUINTILE backtest over daily log
    * returns. Signal = trailing 5-day return sum ending YESTERDAY
    * (no lookahead by construction); each day instruments with a full
    * signal window sort into 5 equal buckets (explicit
    * floor((rank−1)·5/n) — ntile's remainder convention differs
    * between engines); the portfolio earns TODAY's equal-weight mean
    * return per bucket. Output per quintile: days, mean daily return,
    * annualized-free t-stat mean/σ·√n — monotone mean across
    * quintiles = the momentum premium, the final integration test of
    * closes → returns → ranks → portfolio math in one plan.
    * Determinism: returns and per-(day, quintile) means lattice to
    * 12dp decimals before every cross-row sum; ranks tie-break on
    * user_id; all divisions run on identical exact operands.
    */
  def q214DecileBacktest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val closes = dailyCloses(spark, dir)
    val wOrd = Window.partitionBy($"user_id").orderBy($"day")
    val wSig = wOrd.rowsBetween(-5, -1)
    val rets = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(wOrd))
        .cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
      .withColumn("sig", sum($"r").over(wSig))
      .withColumn("n_sig", count($"r").over(wSig))
      .filter($"n_sig" === 5L)
    val wRank = Window.partitionBy($"day")
      .orderBy($"sig".desc, $"user_id".asc)
    val wN = Window.partitionBy($"day")
    val bucketed = rets
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("n_day", count(lit(1)).over(wN))
      // `div`, not `/`: long/long is DOUBLE division in both engines
      .withColumn("quintile", expr("(rk - 1) * 5 div n_day") + 1L)
    val dayQ = bucketed.groupBy($"day", $"quintile")
      .agg(decRound(sum($"r").cast("double") /
        count(lit(1)).cast("double"), 12)
        .cast(DecimalType(18, 12)).as("pret"))
    val m = dayQ.groupBy($"quintile")
      .agg(count(lit(1)).as("n_days"),
        sum($"pret").as("s"), sum($"pret" * $"pret").as("s2"))
    val nD = $"n_days".cast("double")
    val mean = $"s".cast("double") / nD
    val varP = $"s2".cast("double") / nD - mean * mean
    m.select($"quintile", $"n_days",
        decRound(mean * 10000.0, 4).as("mean_ret_bps"),
        decRound(when(varP > 0.0, mean / sqrt(varP) * sqrt(nD)), 4)
          .as("t_stat"))
      .orderBy($"quintile")
  }

  val q214Sql: String =
    """WITH c0 AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE value > 0.0),
      |closes AS (
      |  SELECT user_id, day,
      |    CAST(round(CAST(ln(value) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS x
      |  FROM c0 WHERE rn = 1),
      |r0 AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM closes),
      |sig AS (
      |  SELECT user_id, day, r,
      |    sum(r) OVER w5 AS sig, count(r) OVER w5 AS n_sig
      |  FROM r0 WHERE r IS NOT NULL
      |  WINDOW w5 AS (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)),
      |b AS (
      |  SELECT day, r,
      |    (CAST(row_number() OVER (PARTITION BY day
      |        ORDER BY sig DESC, user_id ASC) AS BIGINT) - 1) * 5
      |      // CAST(count(*) OVER (PARTITION BY day) AS BIGINT) + 1
      |      AS quintile
      |  FROM sig WHERE n_sig = 5),
      |dq AS (
      |  SELECT day, quintile,
      |    CAST(round(CAST(CAST(sum(r) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |      AS DECIMAL(28,12)), 12) AS DECIMAL(18,12)) AS pret
      |  FROM b GROUP BY 1, 2),
      |m AS (
      |  SELECT quintile, CAST(count(*) AS BIGINT) AS n_days,
      |    sum(pret) AS s, sum(pret * pret) AS s2
      |  FROM dq GROUP BY 1),
      |f AS (
      |  SELECT quintile, n_days,
      |    CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean,
      |    CAST(s2 AS DOUBLE) / CAST(n_days AS DOUBLE)
      |      - (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))
      |        * (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)) AS varp
      |  FROM m)
      |SELECT quintile, n_days,
      |  CAST(round(CAST(mean * 10000.0 AS DECIMAL(28,12)), 4) AS DOUBLE)
      |    AS mean_ret_bps,
      |  CAST(round(CAST(CASE WHEN varp > 0.0
      |    THEN mean / sqrt(varp) * sqrt(CAST(n_days AS DOUBLE)) END
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS t_stat
      |FROM f""".stripMargin

  /** q222_hhi — daily market-concentration census: the Herfindahl–
    * Hirschman index of traded-size share per day, its effective
    * instrument count 1/HHI (the "how many names really trade" number
    * desks watch), and the top-instrument share — the concentration
    * companion to q209's turnover on the SAME daily-volume frame (the
    * s60 daily-volume ledger rebuilds it — see s66's differential
    * spec). Scale: one tape pass to
    * (instrument, day) integer volumes, one day-keyed window for the
    * denominators, one day agg — no self-joins. Determinism: shares
    * lattice to 12dp decimals (exact integer-ratio inputs), so the
    * Σw² reduction is an exact decimal sum in both engines.
    */
  /** The (instrument, day) integer traded-size frame — the
    * [[graft.sources.LedgerTable.Volume]] cell, served; shared by q209
    * (turnover), q222 (HHI) and q221 (OBV).
    */
  def dailyVolume(spark: SparkSession, dir: String): DataFrame =
    graft.sources.LedgerTable.Volume.fromTape(Tables.events(spark, dir))

  def q222Hhi(spark: SparkSession, dir: String): DataFrame =
    hhiFromDailyVol(dailyVolume(spark, dir))

  /** q222's concentration tail as a pure function of the daily-volume
    * frame (user_id, day, v) — shared verbatim by the batch query and
    * the s66 differential spec, which feeds it the CONVERGED s60
    * streaming volume ledger (one ledger, three batch twins: q209,
    * q212, q222).
    */
  def hhiFromDailyVol(vol: DataFrame): DataFrame = {
    val spark = vol.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = vol
      .withColumn("tot", sum($"v").over(Window.partitionBy($"day")))
      .withColumn("w",
        decRound($"v".cast("double") / $"tot".cast("double"), 12)
          .cast(DecimalType(14, 12)))
    val m = w.groupBy($"day")
      .agg(count(lit(1)).as("n_inst"),
        sum($"w" * $"w").cast(DecimalType(28, 10)).as("sww"),
        max($"w").as("wmax"))
    val hhi = $"sww".cast("double")
    m.select($"day", $"n_inst",
      decRound(hhi, 6).as("hhi"),
      decRound(when(hhi > 0.0, lit(1.0) / hhi), 4).as("eff_n"),
      decRound($"wmax".cast("double"), 6).as("top_share"))
  }

  val q222Sql: String =
    """WITH vol AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS v
      |  FROM events WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 0
      |  GROUP BY 1, 2),
      |w AS (
      |  SELECT day,
      |    CAST(round(CAST(CAST(v AS DOUBLE)
      |      / CAST(sum(v) OVER (PARTITION BY day) AS DOUBLE)
      |      AS DECIMAL(28,12)), 12) AS DECIMAL(14,12)) AS w
      |  FROM vol),
      |m AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS n_inst,
      |    CAST(round(sum(w * w), 10) AS DECIMAL(28,10)) AS sww,
      |    max(w) AS wmax
      |  FROM w GROUP BY 1)
      |SELECT day, n_inst,
      |  CAST(round(CAST(CAST(sww AS DOUBLE) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS hhi,
      |  CAST(round(CAST(CASE WHEN CAST(sww AS DOUBLE) > 0.0
      |    THEN 1.0 / CAST(sww AS DOUBLE) END AS DECIMAL(28,12)), 4)
      |    AS DOUBLE) AS eff_n,
      |  CAST(round(CAST(CAST(wmax AS DOUBLE) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS top_share
      |FROM m""".stripMargin

  /** q221_obv — on-balance volume per instrument over its trading
    * days: flow_t = sign(close_t − close_{t−1}) · volume_t, OBV the
    * running sum — the classic accumulation/distribution read, and
    * the first query COMPOSING two of the streaming ledgers (s67
    * closes × s60 volumes; the differential spec rebuilds it from
    * both). Sign compares the 12dp ln-close LATTICE (ln is monotone,
    * so the sign is the close-change sign; decimal compare = exact,
    * no FP tie hazard); flows and OBV are pure integers —
    * bit-deterministic at any scale. Day domain: days carrying BOTH a
    * positive print and positive traded size (inner join of the two
    * ledgers). First trading day has no prior close → flow 0.
    */
  def q221Obv(spark: SparkSession, dir: String): DataFrame =
    obvFromLedgers(dailyCloses(spark, dir), dailyVolume(spark, dir))

  /** q221's tail over the two ledger frames — shared by the batch
    * query and the s67×s60 composition spec.
    */
  def obvFromLedgers(closes: DataFrame, vol: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"day")
    closes.join(vol, Seq("user_id", "day"))
      .withColumn("xp", lag($"x", 1).over(w))
      .withColumn("flow",
        when($"xp".isNull || $"x" === $"xp", lit(0L))
          .when($"x" > $"xp", $"v")
          .otherwise(-$"v"))
      .withColumn("obv", sum($"flow").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"user_id", $"day", $"v".as("volume"), $"flow", $"obv")
  }

  val q221Sql: String =
    """WITH c0 AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE value > 0.0),
      |c AS (
      |  SELECT user_id, day,
      |    CAST(round(CAST(ln(value) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS x
      |  FROM c0 WHERE rn = 1),
      |vol AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS v
      |  FROM events WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 0
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT c.user_id, c.day, c.x, vol.v,
      |    lag(c.x) OVER (PARTITION BY c.user_id ORDER BY c.day) AS xp
      |  FROM c JOIN vol ON c.user_id = vol.user_id AND c.day = vol.day),
      |f AS (
      |  SELECT user_id, day, v,
      |    CAST(CASE WHEN xp IS NULL OR x = xp THEN 0
      |      WHEN x > xp THEN v ELSE -v END AS BIGINT) AS flow
      |  FROM j)
      |SELECT user_id, day, v AS volume, flow,
      |  CAST(sum(flow) OVER (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS obv
      |FROM f""".stripMargin

  /** The shared closes oracle prelude: the tape collapsed to the
    * (instrument, day) 12dp ln-close spine with the q221 total order
    * (close via row_number over (ts DESC, event_id DESC)). Prepended
    * to every round-14c return-statistics oracle so the SQL spine is
    * byte-identical across the family — and identical to the s67
    * streaming ledger's converged frame.
    */
  private val closesSqlPrelude: String =
    """WITH c0 AS (
      |  SELECT user_id, date_trunc('day', ts) AS day, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE value > 0.0),
      |c AS (
      |  SELECT user_id, day,
      |    CAST(round(CAST(ln(value) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS x
      |  FROM c0 WHERE rn = 1),""".stripMargin

  /** The shared volume-ledger oracle CTE (the s60 frame), for the
    * two-ledger compositions — matches dailyVolume verbatim.
    */
  private val volSqlCte: String =
    """vol AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |    CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS v
      |  FROM events WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 0
      |  GROUP BY 1, 2),""".stripMargin

  /** q239_amihud — the Amihud (2002) illiquidity ratio per instrument:
    * mean over trading days of |daily log return| / traded volume,
    * scaled ×1e6 — the price-impact-per-unit-flow read a desk uses to
    * rank instruments by how much a marginal order moves them (the
    * cross-sectional cousin of q241's Kyle lambda, which regresses
    * WITHIN the tape). Third two-ledger composition (s67 closes × s60
    * volumes, the q221/q228 discipline): returns are taken over
    * consecutive days carrying BOTH a positive print and positive
    * traded size, so the ratio's numerator and denominator describe
    * the same day domain. Scale: both ledger frames arrive
    * hash-partitioned on (user, day) from their collapses; the lag
    * window and the instrument rollup ride one hash(user) exchange.
    * Determinism: r is an exact decimal difference of the 12dp
    * ln-close lattice; the per-day ratio is an exact INTEGER half-up
    * division on the unscaled picounits — |r|/v with small integer v
    * terminates exactly on 12dp half-boundaries, where the engines'
    * double→decimal conversions round opposite ways (measured at
    * sf0.01), so no double quotient exists before the rollup; Σ and
    * max reduce as longs (associative), and only the final mean
    * divides in double.
    */
  def q239Amihud(spark: SparkSession, dir: String): DataFrame =
    amihudFromLedgers(dailyCloses(spark, dir), dailyVolume(spark, dir))

  /** q239's tail over the two ledger frames — shared by the batch
    * query and the s67×s60 composition spec.
    */
  def amihudFromLedgers(closes: DataFrame, vol: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val j = closes.join(vol, Seq("user_id", "day"))
      .withColumn("r",
        ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
      // |r|/v with small integer v lands EXACTLY on 12dp half
      // boundaries (terminating quotient), where the engines' double
      // →decimal conversions round opposite ways — so the per-day
      // ratio is an exact integer half-up division on the unscaled
      // picounits instead: iu = round(|r|·1e12 / v) at the ×1e6
      // output scale. No double quotient anywhere before the rollup.
      .withColumn("tu", (abs($"r") * lit(1000000000000L)).cast("long"))
      .withColumn("iu", expr("(2 * tu + v) DIV (2 * v)"))
    val m = j.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"iu").as("su"), max($"iu").as("mu"))
      .filter($"n_days" >= 10L)
    m.select($"user_id", $"n_days",
      decRound($"su".cast("double") / lit(1000000.0)
        / $"n_days".cast("double"), 6).as("amihud_e6"),
      ($"mu".cast("double") / lit(1000000.0)).as("max_illiq_e6"))
  }

  val q239Sql: String =
    closesSqlPrelude + "\n" + volSqlCte + "\n" +
    """j AS (
      |  SELECT c.user_id, c.day, vol.v,
      |    CAST(c.x - lag(c.x) OVER (PARTITION BY c.user_id
      |      ORDER BY c.day) AS DECIMAL(18,12)) AS r
      |  FROM c JOIN vol ON c.user_id = vol.user_id AND c.day = vol.day),
      |i AS (
      |  SELECT user_id,
      |    (2 * CAST(CAST(abs(r) AS DECIMAL(30,12)) * 1000000000000
      |      AS BIGINT) + v) // (2 * v) AS iu
      |  FROM j WHERE r IS NOT NULL),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(iu) AS BIGINT) AS su, max(iu) AS mu
      |  FROM i GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(CAST(su AS DOUBLE) / 1000000.0
      |    / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS amihud_e6,
      |  CAST(mu AS DOUBLE) / 1000000.0 AS max_illiq_e6
      |FROM m""".stripMargin

  /** q240_roll_spread — the Roll (1984) implied effective spread per
    * instrument: bid–ask bounce makes consecutive price changes
    * negatively autocovariant, so spread ≈ 2·√(−cov(Δp_t, Δp_{t−1}))
    * — the spread estimate a daily-bar shop gets from the TAPE ALONE,
    * read next to q219's Corwin–Schultz (which needs H/L) and q191's
    * effective spread (which needs a quote midpoint). Log-price
    * changes (the standard log-Roll variant) ⇒ the spread is in
    * return space, reported in basis points. Pure tail of the s67
    * closes ledger: lag window + instrument rollup on one hash(user)
    * exchange after the tape collapse — two exchanges. Determinism:
    * Δx and its lag are exact decimal differences of the 12dp
    * lattice; the three co-moment sums reduce exactly ((28,10)
    * re-narrow on the product sum); the covariance formula runs once
    * in IEEE double on the converged sums, mirrored token-for-token.
    * A positive autocovariance (momentum dominating the bounce) has
    * no spread interpretation — the √ clamps at 0 and the raw
    * autocovariance is reported alongside.
    */
  def q240RollSpread(spark: SparkSession, dir: String): DataFrame =
    rollFromCloses(dailyCloses(spark, dir))

  /** q240's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def rollFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val d = closes
      .withColumn("a", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .withColumn("b", lag($"a", 1).over(w))
      .filter($"a".isNotNull && $"b".isNotNull)
    val m = d.groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"a").cast(DecimalType(28, 12)).as("sa"),
        sum($"b").cast(DecimalType(28, 12)).as("sb"),
        sum($"a" * $"b").cast(DecimalType(28, 10)).as("sab"))
      .filter($"n_pairs" >= 10L)
    val nD = $"n_pairs".cast("double")
    val cov = $"sab".cast("double") / nD -
      ($"sa".cast("double") / nD) * ($"sb".cast("double") / nD)
    m.select($"user_id", $"n_pairs",
      decRound(cov * lit(1000000.0), 6).as("acov_e6"),
      decRound(lit(20000.0) * sqrt(greatest(-cov, lit(0.0))), 6)
        .as("roll_spread_bp"))
  }

  val q240Sql: String =
    closesSqlPrelude + "\n" +
    """d0 AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS a
      |  FROM c),
      |d1 AS (
      |  SELECT user_id, a,
      |    lag(a) OVER (PARTITION BY user_id ORDER BY day) AS b
      |  FROM d0),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(a) AS DECIMAL(28,12)) AS sa,
      |    CAST(sum(b) AS DECIMAL(28,12)) AS sb,
      |    CAST(round(sum(a * b), 10) AS DECIMAL(28,10)) AS sab
      |  FROM d1 WHERE a IS NOT NULL AND b IS NOT NULL
      |  GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_pairs,
      |  CAST(round(CAST((CAST(sab AS DOUBLE) / CAST(n_pairs AS DOUBLE)
      |    - (CAST(sa AS DOUBLE) / CAST(n_pairs AS DOUBLE))
      |      * (CAST(sb AS DOUBLE) / CAST(n_pairs AS DOUBLE)))
      |    * 1000000.0 AS DECIMAL(28,12)), 6) AS DOUBLE) AS acov_e6,
      |  CAST(round(CAST(20000.0 * sqrt(greatest(
      |    -(CAST(sab AS DOUBLE) / CAST(n_pairs AS DOUBLE)
      |      - (CAST(sa AS DOUBLE) / CAST(n_pairs AS DOUBLE))
      |        * (CAST(sb AS DOUBLE) / CAST(n_pairs AS DOUBLE))), 0.0))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS roll_spread_bp
      |FROM m""".stripMargin

  /** q245_weekday_effect — the day-of-week return anomaly census over
    * the whole tape: per weekday, pooled across instruments, the
    * count / mean / t-stat / positive share of daily ln returns — the
    * Monday-effect screen (French 1980) a desk runs before trusting a
    * calendar-agnostic backtest (q112 profiles ARRIVAL seasonality;
    * this profiles RETURN seasonality). Pure s67 closes-ledger tail:
    * the lag window rides hash(user) after the tape collapse, and the
    * weekday rollup reduces to ≤7 groups via map-side partials — the
    * second exchange carries seven rows per partition. Weekday is an
    * epoch-anchored integer (pmod(days since Monday 2020-01-06, 7) —
    * both engines' native dayofweek() disagree on numbering, an
    * integer datediff cannot). Determinism: r is an exact decimal
    * difference of the 12dp lattice; Σr and Σr² reduce exactly with
    * the (28,10) re-narrow; mean/t run once in IEEE on converged
    * sums, mirrored token-for-token.
    */
  def q245WeekdayEffect(spark: SparkSession, dir: String): DataFrame =
    weekdayFromCloses(dailyCloses(spark, dir))

  /** q245's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def weekdayFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val d = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
      .withColumn("dow",
        pmod(datediff($"day".cast("date"), to_date(lit("2020-01-06"))), lit(7)))
    val m = d.groupBy($"dow")
      .agg(count(lit(1)).as("n_obs"),
        sum($"r").cast(DecimalType(28, 10)).as("sr"),
        sum($"r" * $"r").cast(DecimalType(28, 10)).as("srr"),
        sum(when($"r" > 0, 1L).otherwise(0L)).as("n_pos"))
      .filter($"n_obs" >= 2L)
    val nD = $"n_obs".cast("double")
    val mean = $"sr".cast("double") / nD
    val varPop = ($"srr".cast("double") - $"sr".cast("double")
      * $"sr".cast("double") / nD) / (nD - lit(1.0))
    m.select($"dow", $"n_obs",
      decRound(mean * lit(10000.0), 6).as("mean_ret_bp"),
      decRound(mean / sqrt(varPop / nD), 6).as("t_stat"),
      decRound($"n_pos".cast("double") / nD, 6).as("pos_share"))
  }

  val q245Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |e AS (
      |  SELECT ((datediff('day', DATE '2020-01-06', CAST(day AS DATE))
      |      % 7) + 7) % 7 AS dow, r
      |  FROM d WHERE r IS NOT NULL),
      |m AS (
      |  SELECT dow, CAST(count(*) AS BIGINT) AS n_obs,
      |    CAST(round(sum(r), 10) AS DECIMAL(28,10)) AS sr,
      |    CAST(round(sum(r * r), 10) AS DECIMAL(28,10)) AS srr,
      |    CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_pos
      |  FROM e GROUP BY 1 HAVING count(*) >= 2)
      |SELECT dow, n_obs,
      |  CAST(round(CAST(CAST(sr AS DOUBLE) / CAST(n_obs AS DOUBLE)
      |    * 10000.0 AS DECIMAL(28,12)), 6) AS DOUBLE) AS mean_ret_bp,
      |  CAST(round(CAST((CAST(sr AS DOUBLE) / CAST(n_obs AS DOUBLE))
      |    / sqrt(((CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE)
      |      * CAST(sr AS DOUBLE) / CAST(n_obs AS DOUBLE))
      |      / (CAST(n_obs AS DOUBLE) - 1.0)) / CAST(n_obs AS DOUBLE))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS t_stat,
      |  CAST(round(CAST(CAST(n_pos AS DOUBLE) / CAST(n_obs AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS pos_share
      |FROM m""".stripMargin

  /** q246_kendall_ic — Kendall τ-b rank IC per day: yesterday's
    * cross-sectional return vs today's, over the q202 top-50
    * universe — the RANK-ROBUST momentum-persistence read next to
    * q176's Spearman IC (Kendall is the estimator a factor desk
    * trusts when the cross-section has fat tails: it counts pair
    * inversions instead of squaring rank gaps). Concordant /
    * discordant / tie counts are EXACT INTEGERS from comparisons of
    * exact 12dp decimals — the only FP is the final τ-b formula on
    * converged longs. Scale: the universe is a 50-row broadcast (the
    * q202 discipline), so the pair space is day × C(50,2) — bounded
    * by the UNIVERSE, not the instrument count, and the quadratic
    * join never grows with SF; the pair generation self-joins on day
    * after the hash(user) lag window. τ-b = (C−D)/√((P−Tx)(P−Ty)),
    * P = n(n−1)/2.
    *
    * Ref: Kendall (1938); τ-b tie correction per Agresti (2010).
    */
  def q246KendallIc(spark: SparkSession, dir: String): DataFrame =
    kendallFromCloses(dailyCloses(spark, dir))

  /** q246's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def kendallFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val universe = closes.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"))
      .orderBy($"n_days".desc, $"user_id".asc)
      .limit(50)
      .select($"user_id")
    val r = closes.join(broadcast(universe), "user_id")
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .withColumn("rp", lag($"r", 1).over(w))
      .filter($"r".isNotNull && $"rp".isNotNull)
      .select($"user_id", $"day", $"rp".as("fx"), $"r".as("fy"))
    val pairs = r.as("a").join(r.as("b"),
        col("a.day") === col("b.day") &&
          col("a.user_id") < col("b.user_id"))
      .select(col("a.day").as("day"),
        (col("a.fx") > col("b.fx")).cast("int").minus(
          (col("a.fx") < col("b.fx")).cast("int")).as("sx"),
        (col("a.fy") > col("b.fy")).cast("int").minus(
          (col("a.fy") < col("b.fy")).cast("int")).as("sy"))
    val m = pairs.groupBy($"day")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"sx" * $"sy" === 1, 1L).otherwise(0L)).as("conc"),
        sum(when($"sx" * $"sy" === -1, 1L).otherwise(0L)).as("disc"),
        sum(when($"sx" === 0, 1L).otherwise(0L)).as("tie_x"),
        sum(when($"sy" === 0, 1L).otherwise(0L)).as("tie_y"))
      .filter($"n_pairs" >= 10L)
    val p = $"n_pairs".cast("double")
    val denom = sqrt((p - $"tie_x".cast("double"))
      * (p - $"tie_y".cast("double")))
    m.select($"day", $"n_pairs", $"conc", $"disc",
      decRound(($"conc" - $"disc").cast("double") / denom, 6)
        .as("tau_b"))
  }

  val q246Sql: String =
    closesSqlPrelude + "\n" +
    """u AS (
      |  SELECT user_id FROM c GROUP BY 1
      |  ORDER BY count(*) DESC, user_id ASC LIMIT 50),
      |f00 AS (
      |  SELECT c.user_id, c.day,
      |    CAST(c.x - lag(c.x) OVER (PARTITION BY c.user_id
      |      ORDER BY c.day) AS DECIMAL(18,12)) AS r
      |  FROM c JOIN u ON c.user_id = u.user_id),
      |f0 AS (
      |  SELECT user_id, day, r,
      |    lag(r) OVER (PARTITION BY user_id ORDER BY day) AS rp
      |  FROM f00),
      |f AS (
      |  SELECT user_id, day, rp AS fx, r AS fy
      |  FROM f0 WHERE r IS NOT NULL AND rp IS NOT NULL),
      |pr AS (
      |  SELECT a.day,
      |    (CASE WHEN a.fx > b.fx THEN 1 WHEN a.fx < b.fx THEN -1
      |      ELSE 0 END) AS sx,
      |    (CASE WHEN a.fy > b.fy THEN 1 WHEN a.fy < b.fy THEN -1
      |      ELSE 0 END) AS sy
      |  FROM f a JOIN f b ON a.day = b.day AND a.user_id < b.user_id),
      |m AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS conc,
      |    CAST(sum(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS disc,
      |    CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS tie_x,
      |    CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS tie_y
      |  FROM pr GROUP BY 1 HAVING count(*) >= 10)
      |SELECT day, n_pairs, conc, disc,
      |  CAST(round(CAST(CAST(conc - disc AS DOUBLE)
      |    / sqrt((CAST(n_pairs AS DOUBLE) - CAST(tie_x AS DOUBLE))
      |      * (CAST(n_pairs AS DOUBLE) - CAST(tie_y AS DOUBLE)))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS tau_b
      |FROM m""".stripMargin

  /** q247_information_ratio — per-instrument information ratio
    * against the equal-weight tape index: active return = daily ln
    * return − same-day index mean, IR = mean(active)/sd(active)·√252
    * — the "did it beat the tape, risk-adjusted" read next to q118's
    * absolute Sharpe (q213 LEVELS the index; this benchmarks against
    * it). Scale: the day-pooled index mean is a ≤n_days-row frame
    * (map-side partials, broadcast back onto the day join — no
    * instrument-keyed shuffle is repeated); the lag window and the
    * instrument rollup ride one hash(user) exchange. Determinism: r
    * is an exact 12dp decimal diff; the index mean is ONE IEEE
    * division of exact converged sums, re-latticed to 12dp (the q227
    * per-day discipline — a generic quotient, not a terminating
    * ratio, so the lattice is cross-engine-stable); active is then an
    * exact decimal diff, Σ/Σ² reduce exactly with the (28,10)
    * re-narrow, and the IR formula runs once in IEEE on converged
    * sums.
    */
  def q247InformationRatio(spark: SparkSession, dir: String): DataFrame =
    infoRatioFromCloses(dailyCloses(spark, dir))

  /** q247's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def infoRatioFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val idx = r.groupBy($"day")
      .agg(sum($"r").cast(DecimalType(28, 12)).as("sr_day"),
        count(lit(1)).as("n_day"))
      .select($"day",
        decRound($"sr_day".cast("double") / $"n_day".cast("double"), 12)
          .cast(DecimalType(18, 12)).as("idx_r"))
    val a = r.join(broadcast(idx), "day")
      .withColumn("act", ($"r" - $"idx_r").cast(DecimalType(18, 12)))
    val m = a.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"act").cast(DecimalType(28, 10)).as("sa"),
        sum($"act" * $"act").cast(DecimalType(28, 10)).as("saa"))
      .filter($"n_days" >= 10L)
    val nD = $"n_days".cast("double")
    val mean = $"sa".cast("double") / nD
    val varS = ($"saa".cast("double") - $"sa".cast("double")
      * $"sa".cast("double") / nD) / (nD - lit(1.0))
    m.select($"user_id", $"n_days",
      decRound(mean * lit(10000.0), 6).as("mean_active_bp"),
      decRound(mean / sqrt(varS) * sqrt(lit(252.0)), 6).as("ir_ann"))
  }

  val q247Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (SELECT user_id, day, r FROM d WHERE r IS NOT NULL),
      |idx AS (
      |  SELECT day,
      |    CAST(CAST(round(CAST(CAST(CAST(sum(r) AS DECIMAL(28,12))
      |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS DECIMAL(28,12)), 12)
      |      AS DOUBLE) AS DECIMAL(18,12)) AS idx_r
      |  FROM r GROUP BY 1),
      |a AS (
      |  SELECT r.user_id,
      |    CAST(r.r - idx.idx_r AS DECIMAL(18,12)) AS act
      |  FROM r JOIN idx ON r.day = idx.day),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(act), 10) AS DECIMAL(28,10)) AS sa,
      |    CAST(round(sum(act * act), 10) AS DECIMAL(28,10)) AS saa
      |  FROM a GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(CAST(sa AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    * 10000.0 AS DECIMAL(28,12)), 6) AS DOUBLE) AS mean_active_bp,
      |  CAST(round(CAST((CAST(sa AS DOUBLE) / CAST(n_days AS DOUBLE))
      |    / sqrt((CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE)
      |      * CAST(sa AS DOUBLE) / CAST(n_days AS DOUBLE))
      |      / (CAST(n_days AS DOUBLE) - 1.0)) * sqrt(252.0)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS ir_ann
      |FROM m""".stripMargin

  /** q248_sortino — per-instrument Sortino ratio (Sortino & Price
    * 1994): mean daily ln return / downside deviation · √252, where
    * the downside deviation is the RMS of returns clipped above at 0
    * (√(Σ min(r,0)²/n), the full-n convention) — the "penalize only
    * losses" read next to q118's symmetric Sharpe and q230's
    * drawdown-shaped ulcer. s67 closes-ledger tail. Scale: one tape
    * collapse, then the lag window AND the instrument rollup ride one
    * hash(user) exchange (plan-pinned 2, the q240 shape).
    * Determinism: r is an exact 12dp decimal diff; the clip compares
    * a decimal to the exact literal 0 (no FP boundary); Σr and
    * Σmin(r,0)² reduce as exact decimal sums with the (28,10)
    * re-narrow; the ratio runs once in IEEE on converged sums.
    * Instruments with no downside day are excluded (denominator 0 —
    * mirrored HAVING).
    */
  def q248Sortino(spark: SparkSession, dir: String): DataFrame =
    sortinoFromCloses(dailyCloses(spark, dir))

  /** q248's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def sortinoFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
      .withColumn("d",
        when($"r" < lit(0).cast(DecimalType(18, 12)), $"r")
          .otherwise(lit(0).cast(DecimalType(18, 12))))
    val m = r.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum(when($"r" < lit(0).cast(DecimalType(18, 12)), 1L)
          .otherwise(0L)).as("n_down"),
        sum($"r").cast(DecimalType(28, 10)).as("sr"),
        sum($"d" * $"d").cast(DecimalType(28, 10)).as("sdd"))
      .filter($"n_days" >= 10L && $"n_down" >= 1L)
    val nD = $"n_days".cast("double")
    val mean = $"sr".cast("double") / nD
    val dd = sqrt($"sdd".cast("double") / nD)
    m.select($"user_id", $"n_days", $"n_down",
      decRound(mean * lit(10000.0), 6).as("mean_r_bp"),
      decRound(dd * lit(10000.0), 6).as("downside_dev_bp"),
      decRound(mean / dd * sqrt(lit(252.0)), 6).as("sortino_ann"))
  }

  val q248Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (
      |  SELECT user_id, r,
      |    CASE WHEN r < CAST(0 AS DECIMAL(18,12)) THEN r
      |      ELSE CAST(0 AS DECIMAL(18,12)) END AS dn
      |  FROM d WHERE r IS NOT NULL),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(CASE WHEN r < CAST(0 AS DECIMAL(18,12)) THEN 1
      |      ELSE 0 END) AS BIGINT) AS n_down,
      |    CAST(round(sum(r), 10) AS DECIMAL(28,10)) AS sr,
      |    CAST(round(sum(dn * dn), 10) AS DECIMAL(28,10)) AS sdd
      |  FROM r GROUP BY 1
      |  HAVING count(*) >= 10 AND
      |    sum(CASE WHEN r < CAST(0 AS DECIMAL(18,12)) THEN 1
      |      ELSE 0 END) >= 1)
      |SELECT user_id, n_days, n_down,
      |  CAST(round(CAST(CAST(sr AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    * 10000.0 AS DECIMAL(28,12)), 6) AS DOUBLE) AS mean_r_bp,
      |  CAST(round(CAST(sqrt(CAST(sdd AS DOUBLE) / CAST(n_days AS DOUBLE))
      |    * 10000.0 AS DECIMAL(28,12)), 6) AS DOUBLE) AS downside_dev_bp,
      |  CAST(round(CAST((CAST(sr AS DOUBLE) / CAST(n_days AS DOUBLE))
      |    / sqrt(CAST(sdd AS DOUBLE) / CAST(n_days AS DOUBLE))
      |    * sqrt(252.0) AS DECIMAL(28,12)), 6) AS DOUBLE) AS sortino_ann
      |FROM m""".stripMargin

  /** q249_expected_shortfall — historical 95% VaR and expected
    * shortfall per instrument from daily ln returns: the worst
    * k = max(1, ⌊0.05·n⌋) days define the tail, VaR95 = the k-th
    * worst return, ES95 = −mean of the k worst — the coherent tail
    * risk read next to q134's tick-level VaR (subadditive where VaR
    * is not; the Basel FRTB replacement). s67 closes-ledger tail.
    * Scale: tail selection is a rank window on the SAME hash(user)
    * exchange as the lag window (different sort, same partitioning —
    * no second shuffle), rollup rides it too (plan-pinned 2).
    * Determinism: k is PURE INTEGER (⌊5n/100⌋ exact in double for
    * any real n); ranks order by the exact decimal r with day as a
    * total tie-break, so the selected SET is engine-identical; Σ of
    * the k selected returns reduces exactly; VaR's bp shift runs IN
    * exact decimal (−rk×10⁴ has 8dp — an IEEE shift landed exactly
    * on a 6dp half boundary at sf0.01, where the engines'
    * double→decimal conversions round opposite ways — the r14
    * lesson-1 hazard, measured); ES = Σ/k is an exact INTEGER
    * half-away division on unscaled micro-bp units (Σ×10¹⁰ always
    * fits a long; Σ/k with small integer k terminates exactly on
    * half boundaries — the q239 lesson-2 rule), so no double
    * quotient exists anywhere. n ≥ 20 keeps the 5% tail
    * non-degenerate.
    */
  def q249ExpectedShortfall(spark: SparkSession, dir: String): DataFrame =
    esFromCloses(dailyCloses(spark, dir))

  /** q249's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def esFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val wAsc = Window.partitionBy($"user_id").orderBy($"r".asc, $"day".asc)
    val wAll = Window.partitionBy($"user_id")
    val ranked = r
      .withColumn("rn", row_number().over(wAsc))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter($"n" >= 20L)
      .withColumn("k",
        greatest(lit(1L), floor($"n".cast("double") * lit(5.0) / lit(100.0))
          .cast("long")))
    val m = ranked.filter($"rn" <= $"k")
      .groupBy($"user_id")
      .agg(max($"n").as("n_days"), max($"k").as("k_tail"),
        sum($"r").cast(DecimalType(18, 10)).as("st"),
        max(when($"rn" === $"k", $"r")).as("rk"))
    // Σ tail as exact micro-bp integer units (10dp × 10^10), then
    // half-away integer division by k — lesson-2: no double quotient.
    m.withColumn("a",
        (-$"st" * lit(10000000000L).cast(DecimalType(11, 0))).cast("long"))
      .withColumn("eu", expr(
        "CASE WHEN a >= 0 THEN (2*a + k_tail) DIV (2*k_tail) " +
        "ELSE -((2*(-a) + k_tail) DIV (2*k_tail)) END"))
      .select($"user_id", $"n_days", $"k_tail",
        round(-$"rk" * lit(10000), 6).cast("double").as("var95_bp"),
        ($"eu".cast("double") / lit(1000000.0)).as("es95_bp"))
  }

  val q249Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (SELECT user_id, day, r FROM d WHERE r IS NOT NULL),
      |rk AS (
      |  SELECT user_id, r,
      |    row_number() OVER (PARTITION BY user_id ORDER BY r ASC, day ASC)
      |      AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM r),
      |sel AS (
      |  SELECT user_id, r, rn, n,
      |    greatest(1, CAST(floor(CAST(n AS DOUBLE) * 5.0 / 100.0)
      |      AS BIGINT)) AS k
      |  FROM rk WHERE n >= 20),
      |m AS (
      |  SELECT user_id, CAST(max(n) AS BIGINT) AS n_days,
      |    CAST(max(k) AS BIGINT) AS k_tail,
      |    CAST(round(sum(r), 10) AS DECIMAL(18,10)) AS st,
      |    max(CASE WHEN rn = k THEN r END) AS rk
      |  FROM sel WHERE rn <= k GROUP BY 1),
      |u AS (
      |  SELECT user_id, n_days, k_tail, rk,
      |    CAST(CAST(-st AS DECIMAL(27,10))
      |      * CAST(10000000000 AS DECIMAL(11,0)) AS BIGINT) AS a
      |  FROM m)
      |SELECT user_id, n_days, k_tail,
      |  CAST(round(-rk * 10000, 6) AS DOUBLE) AS var95_bp,
      |  CAST(CASE WHEN a >= 0 THEN (2*a + k_tail) // (2*k_tail)
      |    ELSE -((2*(-a) + k_tail) // (2*k_tail)) END AS DOUBLE)
      |    / 1000000.0 AS es95_bp
      |FROM u""".stripMargin

  /** q250_capture — up/down capture ratios per instrument against
    * the equal-weight tape index (the q247 benchmark): capture_up =
    * Σr over index-up days / Σidx over those days (the ratio-of-sums
    * identity — mean ratios cancel the common n), capture_down
    * likewise over index-down days — the asymmetry read an allocator
    * runs next to q247's IR (did it ride rallies or amplify
    * selloffs?). s67 closes-ledger tail. Scale: the day-pooled index
    * frame is ≤n_days rows and BROADCASTS back onto the return frame
    * (plan-pinned — the instrument key never re-shuffles, the q247
    * discipline). Determinism: idx_r is the q247 12dp-latticed
    * quotient; up/down branches compare that exact decimal to the
    * exact literal 0; all four sums reduce exactly with the (28,10)
    * re-narrow; the two capture quotients run once in IEEE on
    * converged sums. Instruments need ≥5 days on each side; zero
    * index legs are excluded (mirrored HAVING).
    */
  def q250Capture(spark: SparkSession, dir: String): DataFrame =
    captureFromCloses(dailyCloses(spark, dir))

  /** q250's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def captureFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val idx = r.groupBy($"day")
      .agg(sum($"r").cast(DecimalType(28, 12)).as("sr_day"),
        count(lit(1)).as("n_day"))
      .select($"day",
        decRound($"sr_day".cast("double") / $"n_day".cast("double"), 12)
          .cast(DecimalType(18, 12)).as("idx_r"))
    val z = lit(0).cast(DecimalType(18, 12))
    val j = r.join(broadcast(idx), "day")
    val m = j.groupBy($"user_id")
      .agg(
        sum(when($"idx_r" > z, 1L).otherwise(0L)).as("n_up"),
        sum(when($"idx_r" < z, 1L).otherwise(0L)).as("n_down"),
        sum(when($"idx_r" > z, $"r").otherwise(z))
          .cast(DecimalType(28, 10)).as("su"),
        sum(when($"idx_r" > z, $"idx_r").otherwise(z))
          .cast(DecimalType(28, 10)).as("siu"),
        sum(when($"idx_r" < z, $"r").otherwise(z))
          .cast(DecimalType(28, 10)).as("sd"),
        sum(when($"idx_r" < z, $"idx_r").otherwise(z))
          .cast(DecimalType(28, 10)).as("sid"))
      .filter($"n_up" >= 5L && $"n_down" >= 5L &&
        $"siu" > lit(0).cast(DecimalType(28, 10)) &&
        $"sid" < lit(0).cast(DecimalType(28, 10)))
    val cu = $"su".cast("double") / $"siu".cast("double")
    val cd = $"sd".cast("double") / $"sid".cast("double")
    m.select($"user_id", $"n_up", $"n_down",
      decRound(cu, 6).as("capture_up"),
      decRound(cd, 6).as("capture_down"),
      decRound(cu - cd, 6).as("capture_spread"))
  }

  val q250Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (SELECT user_id, day, r FROM d WHERE r IS NOT NULL),
      |idx AS (
      |  SELECT day,
      |    CAST(CAST(round(CAST(CAST(CAST(sum(r) AS DECIMAL(28,12))
      |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS DECIMAL(28,12)), 12)
      |      AS DOUBLE) AS DECIMAL(18,12)) AS idx_r
      |  FROM r GROUP BY 1),
      |j AS (
      |  SELECT r.user_id, r.r, idx.idx_r
      |  FROM r JOIN idx ON r.day = idx.day),
      |m AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN idx_r > CAST(0 AS DECIMAL(18,12)) THEN 1
      |      ELSE 0 END) AS BIGINT) AS n_up,
      |    CAST(sum(CASE WHEN idx_r < CAST(0 AS DECIMAL(18,12)) THEN 1
      |      ELSE 0 END) AS BIGINT) AS n_down,
      |    CAST(round(sum(CASE WHEN idx_r > CAST(0 AS DECIMAL(18,12))
      |      THEN r ELSE CAST(0 AS DECIMAL(18,12)) END), 10)
      |      AS DECIMAL(28,10)) AS su,
      |    CAST(round(sum(CASE WHEN idx_r > CAST(0 AS DECIMAL(18,12))
      |      THEN idx_r ELSE CAST(0 AS DECIMAL(18,12)) END), 10)
      |      AS DECIMAL(28,10)) AS siu,
      |    CAST(round(sum(CASE WHEN idx_r < CAST(0 AS DECIMAL(18,12))
      |      THEN r ELSE CAST(0 AS DECIMAL(18,12)) END), 10)
      |      AS DECIMAL(28,10)) AS sd,
      |    CAST(round(sum(CASE WHEN idx_r < CAST(0 AS DECIMAL(18,12))
      |      THEN idx_r ELSE CAST(0 AS DECIMAL(18,12)) END), 10)
      |      AS DECIMAL(28,10)) AS sid
      |  FROM j GROUP BY 1
      |  HAVING sum(CASE WHEN idx_r > CAST(0 AS DECIMAL(18,12)) THEN 1
      |      ELSE 0 END) >= 5
      |    AND sum(CASE WHEN idx_r < CAST(0 AS DECIMAL(18,12)) THEN 1
      |      ELSE 0 END) >= 5
      |    AND sum(CASE WHEN idx_r > CAST(0 AS DECIMAL(18,12))
      |      THEN idx_r ELSE CAST(0 AS DECIMAL(18,12)) END) > 0
      |    AND sum(CASE WHEN idx_r < CAST(0 AS DECIMAL(18,12))
      |      THEN idx_r ELSE CAST(0 AS DECIMAL(18,12)) END) < 0)
      |SELECT user_id, n_up, n_down,
      |  CAST(round(CAST(CAST(su AS DOUBLE) / CAST(siu AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS capture_up,
      |  CAST(round(CAST(CAST(sd AS DOUBLE) / CAST(sid AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS capture_down,
      |  CAST(round(CAST(CAST(su AS DOUBLE) / CAST(siu AS DOUBLE)
      |    - CAST(sd AS DOUBLE) / CAST(sid AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS capture_spread
      |FROM m""".stripMargin

  /** q251_omega — Omega ratio per instrument at the zero threshold
    * (Keating & Shadwick 2002): Σ gains / Σ losses over daily ln
    * returns — the whole-distribution gain/loss read that needs no
    * moment assumption (q248 penalizes downside VARIANCE, this
    * weighs raw mass), plus the win share. s67 closes-ledger tail.
    * Scale: one tape collapse, lag window + rollup on one hash(user)
    * exchange (plan-pinned 2). Determinism: the gain/loss split
    * compares the exact 12dp decimal r to the exact literal 0; both
    * Σ reduce exactly with the (28,10) re-narrow; bp shifts happen
    * IN exact decimal (×10000 of a (28,10) is exact); the omega
    * quotient runs once in IEEE on converged sums. All-gain
    * instruments are excluded (denominator 0, mirrored HAVING).
    */
  def q251Omega(spark: SparkSession, dir: String): DataFrame =
    omegaFromCloses(dailyCloses(spark, dir))

  /** q251's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def omegaFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val z = lit(0).cast(DecimalType(18, 12))
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val m = r.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum(when($"r" > z, 1L).otherwise(0L)).as("n_win"),
        sum(when($"r" > z, $"r").otherwise(z))
          .cast(DecimalType(28, 10)).as("gain"),
        sum(when($"r" < z, -$"r").otherwise(z))
          .cast(DecimalType(28, 10)).as("loss"))
      .filter($"n_days" >= 10L &&
        $"loss" > lit(0).cast(DecimalType(28, 10)))
    m.select($"user_id", $"n_days", $"n_win",
      decRound(($"gain" * lit(10000)).cast("double"), 6).as("gain_bp"),
      decRound(($"loss" * lit(10000)).cast("double"), 6).as("loss_bp"),
      decRound($"gain".cast("double") / $"loss".cast("double"), 6)
        .as("omega"),
      decRound($"n_win".cast("double") / $"n_days".cast("double"), 6)
        .as("win_share"))
  }

  /** q260_index_beta — per-instrument market beta against the
    * equal-weight tape index, with Jensen's alpha and the Treynor
    * ratio: β = cov(r, idx)/var(idx), α = mean r − β·mean idx
    * (annualized, bp), Treynor = mean r·252/β — the systematic- vs
    * idiosyncratic-return split next to q247's IR (IR divides by
    * TOTAL active risk; Treynor by systematic exposure only; q141
    * rolls beta in a window, q76 regresses the tick tape — this is
    * the daily-bar single-number read). s67 closes-ledger tail.
    * Scale: the day-pooled index frame BROADCASTS back (the q247
    * discipline, plan-pinned — the instrument key never re-shuffles).
    * Determinism: r and idx_r are exact 12dp decimals (the index
    * mean re-latticed per q247); ALL five moment sums reduce as
    * exact decimal sums — products of two (18,12)s are (37,24),
    * summed at (38,24), no FP fold anywhere; the closed-form
    * β/α/Treynor runs once in IEEE on converged sums. var(idx)=0
    * and β=0 instruments are excluded (mirrored). Because every
    * instrument shares the same index leg, Σidx/Σidx² differ only
    * through each instrument's day coverage — the moments stay
    * per-group.
    */
  def q260IndexBeta(spark: SparkSession, dir: String): DataFrame =
    indexBetaFromCloses(dailyCloses(spark, dir))

  /** q260's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def indexBetaFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val idx = r.groupBy($"day")
      .agg(sum($"r").cast(DecimalType(28, 12)).as("sr_day"),
        count(lit(1)).as("n_day"))
      .select($"day",
        decRound($"sr_day".cast("double") / $"n_day".cast("double"), 12)
          .cast(DecimalType(18, 12)).as("idx_r"))
    val a = r.join(broadcast(idx), "day")
    val m = a.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"r").cast(DecimalType(28, 10)).as("sr"),
        sum($"idx_r").cast(DecimalType(28, 10)).as("si"),
        sum($"r" * $"idx_r").cast(DecimalType(38, 24)).as("sri"),
        sum($"idx_r" * $"idx_r").cast(DecimalType(38, 24)).as("sii"))
      .filter($"n_days" >= 10L)
    val nD = $"n_days".cast("double")
    val cov = $"sri".cast("double") -
      $"sr".cast("double") * $"si".cast("double") / nD
    val varI = $"sii".cast("double") -
      $"si".cast("double") * $"si".cast("double") / nD
    val beta = cov / varI
    val meanR = $"sr".cast("double") / nD
    val meanI = $"si".cast("double") / nD
    // alpha lattices at DAILY scale (~1e-4 → well inside the
    // double→decimal agreement zone) and the ×252·10⁴ shift runs IN
    // exact decimal — an IEEE shift first put the 2.7e5-scale value
    // at 18 significant digits under the 12dp lattice, where the
    // engines' conversions diverged (lesson-1, measured at sf0.01).
    val alphaD = decRound(meanR - beta * meanI, 12)
      .cast(DecimalType(18, 12))
    m.filter(varI > lit(0.0)).filter(cov / varI =!= lit(0.0))
      .select($"user_id", $"n_days",
        decRound(beta, 6).as("beta"),
        round(alphaD * lit(2520000).cast(DecimalType(7, 0)), 6)
          .cast("double").as("alpha_ann_bp"),
        decRound(meanR * lit(252.0) / beta, 6).as("treynor_ann"))
  }

  val q260Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (SELECT user_id, day, r FROM d WHERE r IS NOT NULL),
      |idx AS (
      |  SELECT day,
      |    CAST(CAST(round(CAST(CAST(CAST(sum(r) AS DECIMAL(28,12))
      |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS DECIMAL(28,12)), 12)
      |      AS DOUBLE) AS DECIMAL(18,12)) AS idx_r
      |  FROM r GROUP BY 1),
      |a AS (
      |  SELECT r.user_id, r.r, idx.idx_r
      |  FROM r JOIN idx ON r.day = idx.day),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(r), 10) AS DECIMAL(28,10)) AS sr,
      |    CAST(round(sum(idx_r), 10) AS DECIMAL(28,10)) AS si,
      |    CAST(sum(r * idx_r) AS DECIMAL(38,24)) AS sri,
      |    CAST(sum(idx_r * idx_r) AS DECIMAL(38,24)) AS sii
      |  FROM a GROUP BY 1 HAVING count(*) >= 10),
      |f AS (
      |  SELECT user_id, n_days,
      |    CAST(sr AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_r,
      |    CAST(si AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_i,
      |    (CAST(sri AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(si AS DOUBLE)
      |      / CAST(n_days AS DOUBLE)) AS cov,
      |    (CAST(sii AS DOUBLE) - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
      |      / CAST(n_days AS DOUBLE)) AS vari
      |  FROM m)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(cov / vari AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS beta,
      |  CAST(round(CAST(CAST(round(CAST(mean_r - (cov / vari) * mean_i
      |    AS DECIMAL(28,12)), 12) AS DOUBLE) AS DECIMAL(28,12))
      |    * CAST(2520000 AS DECIMAL(7,0)), 6) AS DOUBLE) AS alpha_ann_bp,
      |  CAST(round(CAST(mean_r * 252.0 / (cov / vari)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS treynor_ann
      |FROM f WHERE vari > 0 AND cov / vari <> 0""".stripMargin

  val q251Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (SELECT user_id, r FROM d WHERE r IS NOT NULL),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(CASE WHEN r > CAST(0 AS DECIMAL(18,12)) THEN 1
      |      ELSE 0 END) AS BIGINT) AS n_win,
      |    CAST(round(sum(CASE WHEN r > CAST(0 AS DECIMAL(18,12))
      |      THEN r ELSE CAST(0 AS DECIMAL(18,12)) END), 10)
      |      AS DECIMAL(28,10)) AS gain,
      |    CAST(round(sum(CASE WHEN r < CAST(0 AS DECIMAL(18,12))
      |      THEN -r ELSE CAST(0 AS DECIMAL(18,12)) END), 10)
      |      AS DECIMAL(28,10)) AS loss
      |  FROM r GROUP BY 1
      |  HAVING count(*) >= 10 AND
      |    sum(CASE WHEN r < CAST(0 AS DECIMAL(18,12))
      |      THEN -r ELSE CAST(0 AS DECIMAL(18,12)) END) > 0)
      |SELECT user_id, n_days, n_win,
      |  CAST(round(CAST(CAST(gain * 10000 AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS gain_bp,
      |  CAST(round(CAST(CAST(loss * 10000 AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS loss_bp,
      |  CAST(round(CAST(CAST(gain AS DOUBLE) / CAST(loss AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS omega,
      |  CAST(round(CAST(CAST(n_win AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS win_share
      |FROM m""".stripMargin

  /** q261_runs_test — Wald–Wolfowitz runs test on daily return signs
    * per instrument: R = observed sign runs, E[R] = 1 + 2n₁n₂/n,
    * Var[R] = 2n₁n₂(2n₁n₂−n)/(n²(n−1)), z = (R−E)/√Var — too FEW
    * runs = trending, too many = mean-reverting; the
    * distribution-free cousin of q218's sign autocorrelation (that
    * one sizes the dependence, this one tests it with no moment
    * assumption). Zero returns are dropped (the classic dichotomous
    * convention), comparing the exact decimal r to literal 0. s67
    * closes-ledger tail. Scale: the sign-lag window rides the SAME
    * hash(user) exchange as the return lag (filter preserves
    * partitioning), rollup too — plan-pinned 2 exchanges.
    * Determinism: R, n₁, n₂ are PURE INTEGERS; z is one fixed IEEE
    * expression on exact integers, latticed 6dp; the Var>0 guard is
    * the pure-integer 2n₁n₂>n (mirrored HAVING).
    */
  def q261RunsTest(spark: SparkSession, dir: String): DataFrame =
    runsTestFromCloses(dailyCloses(spark, dir))

  /** q261's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def runsTestFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val z12 = lit(0).cast(DecimalType(18, 12))
    val s = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull && $"r" =!= z12)
      .withColumn("s", when($"r" > z12, 1L).otherwise(0L))
      .withColumn("sp", lag($"s", 1).over(w))
    val m = s.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"s").as("n_pos"),
        sum(when($"sp".isNull || $"s" =!= $"sp", 1L).otherwise(0L))
          .as("runs"))
      .withColumn("n_neg", $"n" - $"n_pos")
      .filter($"n" >= 20L && $"n_pos" >= 1L && $"n_neg" >= 1L &&
        lit(2L) * $"n_pos" * $"n_neg" > $"n")
    val nD = $"n".cast("double")
    val p2 = lit(2.0) * $"n_pos".cast("double") * $"n_neg".cast("double")
    val eR = lit(1.0) + p2 / nD
    val vR = p2 * (p2 - nD) / (nD * nD * (nD - lit(1.0)))
    m.select($"user_id", $"n".as("n_days"), $"n_pos", $"n_neg",
      $"runs",
      decRound(($"runs".cast("double") - eR) / sqrt(vR), 6).as("z_runs"))
  }

  val q261Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |f AS (
      |  SELECT user_id, day,
      |    CASE WHEN r > CAST(0 AS DECIMAL(18,12)) THEN 1 ELSE 0 END AS s
      |  FROM d WHERE r IS NOT NULL AND r <> CAST(0 AS DECIMAL(18,12))),
      |g AS (
      |  SELECT user_id, s,
      |    lag(s) OVER (PARTITION BY user_id ORDER BY day) AS sp
      |  FROM f),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(s) AS BIGINT) AS n_pos,
      |    CAST(sum(CASE WHEN sp IS NULL OR s <> sp THEN 1 ELSE 0 END)
      |      AS BIGINT) AS runs
      |  FROM g GROUP BY 1),
      |k AS (
      |  SELECT user_id, n, n_pos, n - n_pos AS n_neg, runs
      |  FROM m
      |  WHERE n >= 20 AND n_pos >= 1 AND n - n_pos >= 1
      |    AND 2 * n_pos * (n - n_pos) > n)
      |SELECT user_id, n AS n_days, n_pos, n_neg, runs,
      |  CAST(round(CAST((CAST(runs AS DOUBLE)
      |    - (1.0 + 2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
      |      / CAST(n AS DOUBLE)))
      |    / sqrt(2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
      |      * (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
      |        - CAST(n AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |        * (CAST(n AS DOUBLE) - 1.0)))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS z_runs
      |FROM k""".stripMargin

  /** q262_ljung_box — Ljung–Box portmanteau test per instrument on
    * DEMEANED daily ln returns: Q(5) = n(n+2)·Σ_{k≤5} ρ̂²_k/(n−k),
    * rejected vs the χ²₅ 95% critical value 11.0705 — "is this tape
    * white noise at all" pooled across the first five lags, where
    * q115 reads raw per-lag ACFs and q261 tests signs only. s67
    * closes-ledger tail. Scale: the demeaning window, the five lag
    * columns AND the rollup all ride ONE hash(user) exchange (the
    * q115 one-sort-many-lags discipline; plan-pinned 2).
    * Determinism: the mean is one IEEE division of exact sums
    * re-latticed 12dp; e = r − mean is then an exact decimal;
    * all six moment sums (Σe², five Σe_t·e_{t−k}) reduce exactly at
    * (38,24); each ρ̂ and Q run once in IEEE on converged sums; the
    * reject flag compares the LATTICED Q to the exact critical-value
    * literal (engine-independent branch). n ≥ 30 so n−5 is
    * comfortable.
    */
  def q262LjungBox(spark: SparkSession, dir: String): DataFrame =
    ljungBoxFromCloses(dailyCloses(spark, dir))

  /** q262's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def ljungBoxFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val wAll = Window.partitionBy($"user_id")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val e = r
      .withColumn("mean12",
        decRound(sum($"r").over(wAll).cast("double") /
          count(lit(1)).over(wAll).cast("double"), 12)
          .cast(DecimalType(18, 12)))
      .withColumn("e", ($"r" - $"mean12").cast(DecimalType(18, 12)))
    val lagged = (1 to 5).foldLeft(e) { (df, k) =>
      df.withColumn(s"e$k", lag($"e", k).over(w))
    }
    val m = lagged.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"e" * $"e").cast(DecimalType(38, 24)).as("s0"),
        sum($"e" * $"e1").cast(DecimalType(38, 24)).as("s1"),
        sum($"e" * $"e2").cast(DecimalType(38, 24)).as("s2"),
        sum($"e" * $"e3").cast(DecimalType(38, 24)).as("s3"),
        sum($"e" * $"e4").cast(DecimalType(38, 24)).as("s4"),
        sum($"e" * $"e5").cast(DecimalType(38, 24)).as("s5"))
      .filter($"n" >= 20L && $"s0" > lit(0).cast(DecimalType(38, 24)))
    val nD = $"n".cast("double")
    def rho(k: Int) = col(s"s$k").cast("double") / $"s0".cast("double")
    val q5 = nD * (nD + lit(2.0)) * (1 to 5)
      .map(k => rho(k) * rho(k) / (nD - lit(k.toDouble)))
      .reduce(_ + _)
    val q5Lat = decRound(q5, 6)
    m.select($"user_id", $"n".as("n_days"),
      decRound(rho(1), 6).as("rho1"),
      q5Lat.as("q5"),
      (q5Lat > lit(11.0705)).as("reject_white_noise"))
  }

  val q262Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (SELECT user_id, day, r FROM d WHERE r IS NOT NULL),
      |e0 AS (
      |  SELECT user_id, day, r,
      |    CAST(CAST(round(CAST(
      |      CAST(sum(r) OVER (PARTITION BY user_id) AS DOUBLE)
      |      / CAST(count(*) OVER (PARTITION BY user_id) AS DOUBLE)
      |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS DECIMAL(18,12))
      |      AS mean12
      |  FROM r),
      |e AS (
      |  SELECT user_id, day,
      |    CAST(r - mean12 AS DECIMAL(18,12)) AS e
      |  FROM e0),
      |l AS (
      |  SELECT user_id, e,
      |    lag(e, 1) OVER (PARTITION BY user_id ORDER BY day) AS e1,
      |    lag(e, 2) OVER (PARTITION BY user_id ORDER BY day) AS e2,
      |    lag(e, 3) OVER (PARTITION BY user_id ORDER BY day) AS e3,
      |    lag(e, 4) OVER (PARTITION BY user_id ORDER BY day) AS e4,
      |    lag(e, 5) OVER (PARTITION BY user_id ORDER BY day) AS e5
      |  FROM e),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(e * e) AS DECIMAL(38,24)) AS s0,
      |    CAST(sum(e * e1) AS DECIMAL(38,24)) AS s1,
      |    CAST(sum(e * e2) AS DECIMAL(38,24)) AS s2,
      |    CAST(sum(e * e3) AS DECIMAL(38,24)) AS s3,
      |    CAST(sum(e * e4) AS DECIMAL(38,24)) AS s4,
      |    CAST(sum(e * e5) AS DECIMAL(38,24)) AS s5
      |  FROM l GROUP BY 1
      |  HAVING count(*) >= 20 AND sum(e * e) > 0)
      |SELECT user_id, n AS n_days,
      |  CAST(round(CAST(CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS rho1,
      |  CAST(round(CAST(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * (
      |      (CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        * (CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 1.0)
      |      + (CAST(s2 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        * (CAST(s2 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 2.0)
      |      + (CAST(s3 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        * (CAST(s3 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 3.0)
      |      + (CAST(s4 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        * (CAST(s4 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 4.0)
      |      + (CAST(s5 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        * (CAST(s5 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 5.0))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS q5,
      |  CAST(round(CAST(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * (
      |      (CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        * (CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 1.0)
      |      + (CAST(s2 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        * (CAST(s2 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 2.0)
      |      + (CAST(s3 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        * (CAST(s3 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 3.0)
      |      + (CAST(s4 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        * (CAST(s4 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 4.0)
      |      + (CAST(s5 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        * (CAST(s5 AS DOUBLE) / CAST(s0 AS DOUBLE))
      |        / (CAST(n AS DOUBLE) - 5.0))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) > 11.0705
      |    AS reject_white_noise
      |FROM m""".stripMargin

  /** q263_turn_of_month — turn-of-month effect census pooled across
    * the tape (Ariel 1987/Lakonishok–Smidt 1988): classify each
    * trading day within its (instrument, calendar month) as the
    * first two days, last two days, or middle (last-two wins the
    * overlap in degenerate short months — a total, engine-portable
    * rule), and report per class the pooled n, mean daily ln return
    * (bp), t-stat, and positive share — the month-boundary cousin of
    * q245's weekday census. s67 closes-ledger tail. Scale: the
    * month-rank windows partition by (user, month), which
    * hash(user) SATISFIES — both ranks, the return lag and the
    * ≤3-group rollup ride the closes collapse + ONE hash(user)
    * exchange (plan-pinned 3 like q245). Determinism: ranks are
    * integers over the unique (user, day) order; moment sums reduce
    * exactly with the (28,10) re-narrow; mean/t once in IEEE on
    * converged sums.
    */
  def q263TurnOfMonth(spark: SparkSession, dir: String): DataFrame =
    turnOfMonthFromCloses(dailyCloses(spark, dir))

  /** q263's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def turnOfMonthFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val withMonth = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
      .withColumn("mon", date_trunc("month", $"day"))
    val wAsc = Window.partitionBy($"user_id", $"mon").orderBy($"day".asc)
    val wDesc = Window.partitionBy($"user_id", $"mon").orderBy($"day".desc)
    val classed = withMonth
      .withColumn("rna", row_number().over(wAsc))
      .withColumn("rnd", row_number().over(wDesc))
      .withColumn("pos_class",
        when($"rnd" <= 2, lit("last2"))
          .when($"rna" <= 2, lit("first2"))
          .otherwise(lit("mid")))
    val m = classed.groupBy($"pos_class")
      .agg(count(lit(1)).as("n_obs"),
        sum($"r").cast(DecimalType(28, 10)).as("sr"),
        sum($"r" * $"r").cast(DecimalType(28, 10)).as("srr"),
        sum(when($"r" > lit(0).cast(DecimalType(18, 12)), 1L)
          .otherwise(0L)).as("n_pos"))
      .filter($"n_obs" >= 2L)
    val nD = $"n_obs".cast("double")
    val mean = $"sr".cast("double") / nD
    val varS = ($"srr".cast("double") - $"sr".cast("double")
      * $"sr".cast("double") / nD) / (nD - lit(1.0))
    m.select($"pos_class", $"n_obs",
      decRound(mean * lit(10000.0), 6).as("mean_ret_bp"),
      decRound(mean / sqrt(varS / nD), 6).as("t_stat"),
      decRound($"n_pos".cast("double") / nD, 6).as("pos_share"))
  }

  /** q264_pacf — partial autocorrelation of daily ln returns per
    * instrument at lags 1–3 by the Durbin–Levinson recursion:
    * φ₁₁ = ρ₁, φ₂₂ = (ρ₂−ρ₁²)/(1−ρ₁²), φ₃₃ from the level-2
    * coefficients — the AR-order identification read (q115 reads raw
    * ACFs which confound lag effects; PACF isolates each lag's
    * DIRECT contribution; q262 pools the same moments into one test
    * stat). s67 closes-ledger tail sharing q262's one-sort machinery
    * (demeaning window + three lags + rollup on one hash(user)
    * exchange, plan-pinned 2). Determinism: the ρ̂s are IEEE
    * quotients of exact (38,24) moment sums, EACH LATTICED 12dp
    * before entering the recursion, and every Durbin–Levinson level
    * re-lattices its outputs at 12dp — so both engines walk the
    * recursion on identical doubles end to end; denominators are
    * compared to 0 on those identical values (engine-independent
    * guard).
    */
  def q264Pacf(spark: SparkSession, dir: String): DataFrame =
    pacfFromCloses(dailyCloses(spark, dir))

  /** q264's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def pacfFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val wAll = Window.partitionBy($"user_id")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val e = r
      .withColumn("mean12",
        decRound(sum($"r").over(wAll).cast("double") /
          count(lit(1)).over(wAll).cast("double"), 12)
          .cast(DecimalType(18, 12)))
      .withColumn("e", ($"r" - $"mean12").cast(DecimalType(18, 12)))
    val lagged = (1 to 3).foldLeft(e) { (df, k) =>
      df.withColumn(s"e$k", lag($"e", k).over(w))
    }
    val m = lagged.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"e" * $"e").cast(DecimalType(38, 24)).as("s0"),
        sum($"e" * $"e1").cast(DecimalType(38, 24)).as("s1"),
        sum($"e" * $"e2").cast(DecimalType(38, 24)).as("s2"),
        sum($"e" * $"e3").cast(DecimalType(38, 24)).as("s3"))
      .filter($"n" >= 20L && $"s0" > lit(0).cast(DecimalType(38, 24)))
      .withColumn("r1", decRound($"s1".cast("double") / $"s0".cast("double"), 12))
      .withColumn("r2", decRound($"s2".cast("double") / $"s0".cast("double"), 12))
      .withColumn("r3", decRound($"s3".cast("double") / $"s0".cast("double"), 12))
      .filter(lit(1.0) - $"r1" * $"r1" =!= lit(0.0))
      .withColumn("p22",
        decRound(($"r2" - $"r1" * $"r1") / (lit(1.0) - $"r1" * $"r1"), 12))
      .withColumn("p21", decRound($"r1" * (lit(1.0) - $"p22"), 12))
      .withColumn("den3",
        lit(1.0) - $"p21" * $"r1" - $"p22" * $"r2")
      .filter($"den3" =!= lit(0.0))
    m.select($"user_id", $"n".as("n_days"),
      decRound($"r1", 6).as("pacf1"),
      decRound($"p22", 6).as("pacf2"),
      decRound(($"r3" - $"p21" * $"r2" - $"p22" * $"r1") / $"den3", 6)
        .as("pacf3"))
  }

  val q264Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (SELECT user_id, day, r FROM d WHERE r IS NOT NULL),
      |e0 AS (
      |  SELECT user_id, day, r,
      |    CAST(CAST(round(CAST(
      |      CAST(sum(r) OVER (PARTITION BY user_id) AS DOUBLE)
      |      / CAST(count(*) OVER (PARTITION BY user_id) AS DOUBLE)
      |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS DECIMAL(18,12))
      |      AS mean12
      |  FROM r),
      |e AS (
      |  SELECT user_id, day, CAST(r - mean12 AS DECIMAL(18,12)) AS e
      |  FROM e0),
      |l AS (
      |  SELECT user_id, e,
      |    lag(e, 1) OVER (PARTITION BY user_id ORDER BY day) AS e1,
      |    lag(e, 2) OVER (PARTITION BY user_id ORDER BY day) AS e2,
      |    lag(e, 3) OVER (PARTITION BY user_id ORDER BY day) AS e3
      |  FROM e),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(e * e) AS DECIMAL(38,24)) AS s0,
      |    CAST(sum(e * e1) AS DECIMAL(38,24)) AS s1,
      |    CAST(sum(e * e2) AS DECIMAL(38,24)) AS s2,
      |    CAST(sum(e * e3) AS DECIMAL(38,24)) AS s3
      |  FROM l GROUP BY 1
      |  HAVING count(*) >= 20 AND sum(e * e) > 0),
      |rr AS (
      |  SELECT user_id, n,
      |    CAST(round(CAST(CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE)
      |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS r1,
      |    CAST(round(CAST(CAST(s2 AS DOUBLE) / CAST(s0 AS DOUBLE)
      |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS r2,
      |    CAST(round(CAST(CAST(s3 AS DOUBLE) / CAST(s0 AS DOUBLE)
      |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS r3
      |  FROM m),
      |l2 AS (
      |  SELECT user_id, n, r1, r2, r3,
      |    CAST(round(CAST((r2 - r1 * r1) / (1.0 - r1 * r1)
      |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS p22
      |  FROM rr WHERE 1.0 - r1 * r1 <> 0.0),
      |l2b AS (
      |  SELECT user_id, n, r1, r2, r3, p22,
      |    CAST(round(CAST(r1 * (1.0 - p22) AS DECIMAL(28,12)), 12)
      |      AS DOUBLE) AS p21
      |  FROM l2),
      |l3 AS (
      |  SELECT user_id, n, r1, r2, r3, p22, p21,
      |    1.0 - p21 * r1 - p22 * r2 AS den3
      |  FROM l2b)
      |SELECT user_id, n AS n_days,
      |  CAST(round(CAST(r1 AS DECIMAL(28,12)), 6) AS DOUBLE) AS pacf1,
      |  CAST(round(CAST(p22 AS DECIMAL(28,12)), 6) AS DOUBLE) AS pacf2,
      |  CAST(round(CAST((r3 - p21 * r2 - p22 * r1) / den3
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS pacf3
      |FROM l3 WHERE den3 <> 0.0""".stripMargin

  /** q267_cross_dispersion — cross-sectional return dispersion per
    * day: std and mean absolute deviation of the day's ln returns
    * across instruments, plus the cross-sectional mean — the
    * "stock-picker's market" gauge (high dispersion = active
    * selection can pay; q247/q260 benchmark single instruments
    * AGAINST the day mean, this sizes the day's spread itself). s67
    * closes-ledger tail. Scale: after the per-instrument lag window,
    * ONE day-keyed rollup carries ≤n_days groups (map-side partials;
    * plan-pinned 3 exchanges, the q245 budget). Determinism: r is
    * the exact 12dp decimal diff; Σr/Σr² reduce exactly with the
    * (28,10) re-narrow; |r| sums exactly too (abs of a decimal is
    * exact); std/MAD run once in IEEE on converged sums, latticed
    * 6dp. Days with <10 instruments excluded (mirrored HAVING) —
    * dispersion over two names is noise.
    */
  def q267CrossDispersion(spark: SparkSession, dir: String): DataFrame =
    crossDispersionFromCloses(dailyCloses(spark, dir))

  /** q267's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def crossDispersionFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val m = r.groupBy($"day")
      .agg(count(lit(1)).as("n_names"),
        sum($"r").cast(DecimalType(28, 10)).as("sr"),
        sum($"r" * $"r").cast(DecimalType(28, 10)).as("srr"),
        sum(abs($"r")).cast(DecimalType(28, 10)).as("sar"))
      .filter($"n_names" >= 10L)
    val nD = $"n_names".cast("double")
    val mean = $"sr".cast("double") / nD
    val varX = ($"srr".cast("double") - $"sr".cast("double")
      * $"sr".cast("double") / nD) / (nD - lit(1.0))
    m.select($"day", $"n_names",
      decRound(mean * lit(10000.0), 6).as("mean_ret_bp"),
      decRound(sqrt(greatest(varX, lit(0.0))) * lit(10000.0), 6)
        .as("dispersion_bp"),
      decRound(($"sar".cast("double") / nD) * lit(10000.0), 6)
        .as("mad_bp"))
  }

  val q267Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (SELECT user_id, day, r FROM d WHERE r IS NOT NULL),
      |m AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS n_names,
      |    CAST(round(sum(r), 10) AS DECIMAL(28,10)) AS sr,
      |    CAST(round(sum(r * r), 10) AS DECIMAL(28,10)) AS srr,
      |    CAST(round(sum(abs(r)), 10) AS DECIMAL(28,10)) AS sar
      |  FROM r GROUP BY 1 HAVING count(*) >= 10)
      |SELECT day, n_names,
      |  CAST(round(CAST(CAST(sr AS DOUBLE) / CAST(n_names AS DOUBLE)
      |    * 10000.0 AS DECIMAL(28,12)), 6) AS DOUBLE) AS mean_ret_bp,
      |  CAST(round(CAST(sqrt(greatest((CAST(srr AS DOUBLE)
      |      - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)
      |        / CAST(n_names AS DOUBLE))
      |      / (CAST(n_names AS DOUBLE) - 1.0), 0.0)) * 10000.0
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS dispersion_bp,
      |  CAST(round(CAST(CAST(sar AS DOUBLE) / CAST(n_names AS DOUBLE)
      |    * 10000.0 AS DECIMAL(28,12)), 6) AS DOUBLE) AS mad_bp
      |FROM m""".stripMargin

  /** q268_market_breadth — per-day market breadth: advancer /
    * decliner / unchanged counts, the advance share, and the
    * cumulative advance–decline line — the participation read next
    * to q267's dispersion (a rally on shrinking breadth is carried
    * by few names; the index level q213 can mask it). s67
    * closes-ledger tail. Scale: the day rollup reduces to ≤n_days
    * rows BEFORE the cumulative window, so the single-partition
    * running sum crosses ten-of-thousands of days at most (the q254
    * reduced-frame discipline — never a tape-sized single
    * partition). Determinism: all counts PURE INTEGERS on exact
    * decimal sign compares; the AD line is an integer running sum
    * over the unique day order; the advance share is one IEEE
    * division latticed 6dp.
    */
  def q268MarketBreadth(spark: SparkSession, dir: String): DataFrame =
    breadthFromCloses(dailyCloses(spark, dir))

  /** q268's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def breadthFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val z = lit(0).cast(DecimalType(18, 12))
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val m = r.groupBy($"day")
      .agg(sum(when($"r" > z, 1L).otherwise(0L)).as("advancers"),
        sum(when($"r" < z, 1L).otherwise(0L)).as("decliners"),
        sum(when($"r" === z, 1L).otherwise(0L)).as("unchanged"))
    val wCum = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.withColumn("ad_line",
        sum($"advancers" - $"decliners").over(wCum))
      .select($"day", $"advancers", $"decliners", $"unchanged",
        decRound($"advancers".cast("double") /
          ($"advancers" + $"decliners" + $"unchanged").cast("double"), 6)
          .as("advance_share"),
        $"ad_line")
  }

  val q268Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (SELECT user_id, day, r FROM d WHERE r IS NOT NULL),
      |m AS (
      |  SELECT day,
      |    CAST(sum(CASE WHEN r > CAST(0 AS DECIMAL(18,12)) THEN 1
      |      ELSE 0 END) AS BIGINT) AS advancers,
      |    CAST(sum(CASE WHEN r < CAST(0 AS DECIMAL(18,12)) THEN 1
      |      ELSE 0 END) AS BIGINT) AS decliners,
      |    CAST(sum(CASE WHEN r = CAST(0 AS DECIMAL(18,12)) THEN 1
      |      ELSE 0 END) AS BIGINT) AS unchanged
      |  FROM r GROUP BY 1)
      |SELECT day, advancers, decliners, unchanged,
      |  CAST(round(CAST(CAST(advancers AS DOUBLE)
      |    / CAST(advancers + decliners + unchanged AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS advance_share,
      |  CAST(sum(advancers - decliners) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS ad_line
      |FROM m""".stripMargin

  /** q265_tail_dependence — pairwise lower-tail co-movement over the
    * 50-instrument broadcast universe (the q202/q246 discipline):
    * λ̂_L = 10·P(both in own bottom decile on the same day) — i.e.
    * P(B crashes | A crashes) — the crisis-correlation read a linear
    * β (q260) and rank IC (q246) both miss (diversification that
    * evaporates exactly when needed): independence gives λ ≈ 0.1,
    * perfect co-crash gives λ = 1; reported next to each pair's
    * joint day count so the reader can judge significance.
    * Scale: per-instrument decile thresholds are INTEGER rank picks
    * (the q249 order-statistic discipline) on the hash(user)
    * exchange; the quadratic stage is bounded by the BROADCAST
    * 50-row universe (plan-pinned BroadcastHashJoin, never
    * corpus-squared). Determinism: the low flag compares exact 12dp
    * decimals (r ≤ t, ties included — a total rule); n_both/n_pair
    * are PURE INTEGERS; λ is one IEEE expression latticed 6dp.
    */
  def q265TailDependence(spark: SparkSession, dir: String): DataFrame =
    tailDepFromCloses(dailyCloses(spark, dir))

  /** q265's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def tailDepFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val universe = closes.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"))
      .orderBy($"n_days".desc, $"user_id".asc)
      .limit(50)
      .select($"user_id")
    val r = closes.join(broadcast(universe), "user_id")
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val wAsc = Window.partitionBy($"user_id").orderBy($"r".asc, $"day".asc)
    val wAll = Window.partitionBy($"user_id")
    val flagged = r
      .withColumn("rn", row_number().over(wAsc))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter($"n" >= 20L)
      .withColumn("k", greatest(lit(1L),
        floor($"n".cast("double") / lit(10.0)).cast("long")))
      .withColumn("t", max(when($"rn" === $"k", $"r")).over(wAll))
      .select($"user_id", $"day",
        ($"r" <= $"t").cast("long").as("low"))
    val pairs = flagged.as("a").join(flagged.as("b"),
        col("a.day") === col("b.day") &&
          col("a.user_id") < col("b.user_id"))
      .groupBy(col("a.user_id").as("user_a"),
        col("b.user_id").as("user_b"))
      .agg(count(lit(1)).as("n_pair"),
        sum(col("a.low") * col("b.low")).as("n_both"))
      .filter($"n_pair" >= 20L)
    pairs.select($"user_a", $"user_b", $"n_pair", $"n_both",
      decRound(lit(10.0) * $"n_both".cast("double")
        / $"n_pair".cast("double"), 6).as("lambda_lower"))
  }

  val q265Sql: String =
    closesSqlPrelude + "\n" +
    """u AS (
      |  SELECT user_id FROM c GROUP BY 1
      |  ORDER BY count(*) DESC, user_id ASC LIMIT 50),
      |d AS (
      |  SELECT c.user_id, c.day,
      |    CAST(c.x - lag(c.x) OVER (PARTITION BY c.user_id
      |      ORDER BY c.day) AS DECIMAL(18,12)) AS r
      |  FROM c JOIN u ON c.user_id = u.user_id),
      |r AS (SELECT user_id, day, r FROM d WHERE r IS NOT NULL),
      |rk AS (
      |  SELECT user_id, day, r,
      |    row_number() OVER (PARTITION BY user_id ORDER BY r ASC, day ASC)
      |      AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM r),
      |kk AS (
      |  SELECT user_id, day, r, rn, n,
      |    greatest(1, CAST(floor(CAST(n AS DOUBLE) / 10.0) AS BIGINT))
      |      AS k
      |  FROM rk WHERE n >= 20),
      |fl AS (
      |  SELECT user_id, day,
      |    CASE WHEN r <= max(CASE WHEN rn = k THEN r END)
      |      OVER (PARTITION BY user_id) THEN 1 ELSE 0 END AS low
      |  FROM kk),
      |p AS (
      |  SELECT a.user_id AS user_a, b.user_id AS user_b,
      |    CAST(count(*) AS BIGINT) AS n_pair,
      |    CAST(sum(a.low * b.low) AS BIGINT) AS n_both
      |  FROM fl a JOIN fl b
      |    ON a.day = b.day AND a.user_id < b.user_id
      |  GROUP BY 1, 2 HAVING count(*) >= 20)
      |SELECT user_a, user_b, n_pair, n_both,
      |  CAST(round(CAST(10.0 * CAST(n_both AS DOUBLE)
      |    / CAST(n_pair AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS lambda_lower
      |FROM p""".stripMargin

  val q263Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (
      |  SELECT user_id, day, r, date_trunc('month', day) AS mon
      |  FROM d WHERE r IS NOT NULL),
      |cl AS (
      |  SELECT r,
      |    CASE WHEN row_number() OVER (PARTITION BY user_id, mon
      |        ORDER BY day DESC) <= 2 THEN 'last2'
      |      WHEN row_number() OVER (PARTITION BY user_id, mon
      |        ORDER BY day ASC) <= 2 THEN 'first2'
      |      ELSE 'mid' END AS pos_class
      |  FROM r),
      |m AS (
      |  SELECT pos_class, CAST(count(*) AS BIGINT) AS n_obs,
      |    CAST(round(sum(r), 10) AS DECIMAL(28,10)) AS sr,
      |    CAST(round(sum(r * r), 10) AS DECIMAL(28,10)) AS srr,
      |    CAST(sum(CASE WHEN r > CAST(0 AS DECIMAL(18,12)) THEN 1
      |      ELSE 0 END) AS BIGINT) AS n_pos
      |  FROM cl GROUP BY 1 HAVING count(*) >= 2)
      |SELECT pos_class, n_obs,
      |  CAST(round(CAST(CAST(sr AS DOUBLE) / CAST(n_obs AS DOUBLE)
      |    * 10000.0 AS DECIMAL(28,12)), 6) AS DOUBLE) AS mean_ret_bp,
      |  CAST(round(CAST((CAST(sr AS DOUBLE) / CAST(n_obs AS DOUBLE))
      |    / sqrt(((CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE)
      |      * CAST(sr AS DOUBLE) / CAST(n_obs AS DOUBLE))
      |      / (CAST(n_obs AS DOUBLE) - 1.0)) / CAST(n_obs AS DOUBLE))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS t_stat,
      |  CAST(round(CAST(CAST(n_pos AS DOUBLE) / CAST(n_obs AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS pos_share
      |FROM m""".stripMargin

  /** q269_jarque_bera — the Jarque–Bera (1980) normality test per
    * instrument from daily ln returns: sample skewness S, excess
    * kurtosis K−3, and JB = n/6·(S² + (K−3)²/4) — the "are these
    * returns even Gaussian" gate a desk runs BEFORE trusting q118's
    * Sharpe or q134's parametric VaR (both assume the moments it
    * tests; fat tails inflate JB quadratically). s67 closes-ledger
    * tail. Scale: one tape collapse, then the lag window AND the
    * instrument rollup ride one hash(user) exchange (plan-pinned 2,
    * the q248 shape) — all four moment sums reduce map-side in the
    * same aggregate. Determinism: r is an exact 12dp decimal diff;
    * r² is an exact decimal product DEFINITIONALLY re-latticed to
    * 12dp (r2 = round(r·r, 12), a pure decimal→decimal rounding with
    * no double anywhere — both engines agree exactly), so the third
    * and fourth moments Σr·r2 and Σr2·r2 stay inside the 38-digit
    * cap (a raw (18,12)³ product would trip Spark's silent
    * scale-dropping precision-loss mode — the r14 lesson-3 hazard);
    * all four sums reduce exactly with the (28,10) re-narrow; the
    * central-moment assembly runs once in IEEE on converged sums,
    * op-order mirrored token-for-token.
    */
  def q269JarqueBera(spark: SparkSession, dir: String): DataFrame =
    jarqueBeraFromCloses(dailyCloses(spark, dir))

  /** q269's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def jarqueBeraFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
      .withColumn("r2",
        decRound($"r" * $"r", 12).cast(DecimalType(18, 12)))
    val m = r.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"r").cast(DecimalType(28, 10)).as("s1"),
        sum($"r2").cast(DecimalType(28, 10)).as("s2"),
        sum($"r" * $"r2").cast(DecimalType(28, 10)).as("s3"),
        sum($"r2" * $"r2").cast(DecimalType(28, 10)).as("s4"))
      .filter($"n_days" >= 20L)
    val nD = $"n_days".cast("double")
    val mean = $"s1".cast("double") / nD
    val m2 = $"s2".cast("double") / nD - mean * mean
    val m3 = $"s3".cast("double") / nD -
      lit(3.0) * mean * ($"s2".cast("double") / nD) +
      lit(2.0) * mean * mean * mean
    val m4 = $"s4".cast("double") / nD -
      lit(4.0) * mean * ($"s3".cast("double") / nD) +
      lit(6.0) * mean * mean * ($"s2".cast("double") / nD) -
      lit(3.0) * mean * mean * mean * mean
    val skew = m3 / (m2 * sqrt(m2))
    val kurt = m4 / (m2 * m2)
    m.filter(m2 > 0.0)
      .select($"user_id", $"n_days",
        decRound(skew, 6).as("skew"),
        decRound(kurt - lit(3.0), 6).as("kurt_excess"),
        decRound(nD / lit(6.0) * (skew * skew
          + (kurt - lit(3.0)) * (kurt - lit(3.0)) / lit(4.0)), 6)
          .as("jb_stat"))
  }

  val q269Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (
      |  SELECT user_id, r,
      |    CAST(round(r * r, 12) AS DECIMAL(18,12)) AS r2
      |  FROM d WHERE r IS NOT NULL),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(r), 10) AS DECIMAL(28,10)) AS s1,
      |    CAST(round(sum(r2), 10) AS DECIMAL(28,10)) AS s2,
      |    CAST(round(sum(r * r2), 10) AS DECIMAL(28,10)) AS s3,
      |    CAST(round(sum(r2 * r2), 10) AS DECIMAL(28,10)) AS s4
      |  FROM r GROUP BY 1 HAVING count(*) >= 20),
      |f AS (
      |  SELECT user_id, n_days,
      |    CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean,
      |    CAST(s2 AS DOUBLE) / CAST(n_days AS DOUBLE) AS e2,
      |    CAST(s3 AS DOUBLE) / CAST(n_days AS DOUBLE) AS e3,
      |    CAST(s4 AS DOUBLE) / CAST(n_days AS DOUBLE) AS e4
      |  FROM m),
      |g AS (
      |  SELECT user_id, n_days,
      |    e2 - mean * mean AS m2,
      |    e3 - 3.0 * mean * e2 + 2.0 * mean * mean * mean AS m3,
      |    e4 - 4.0 * mean * e3 + 6.0 * mean * mean * e2
      |      - 3.0 * mean * mean * mean * mean AS m4
      |  FROM f),
      |h AS (
      |  SELECT user_id, n_days,
      |    m3 / (m2 * sqrt(m2)) AS skew,
      |    m4 / (m2 * m2) AS kurt
      |  FROM g WHERE m2 > 0.0)
      |SELECT user_id, n_days,
      |  CAST(round(CAST(skew AS DECIMAL(28,12)), 6) AS DOUBLE) AS skew,
      |  CAST(round(CAST(kurt - 3.0 AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS kurt_excess,
      |  CAST(round(CAST(CAST(n_days AS DOUBLE) / 6.0 * (skew * skew
      |    + (kurt - 3.0) * (kurt - 3.0) / 4.0) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS jb_stat
      |FROM h""".stripMargin

  /** q270_risk_parity — naive-risk-parity (inverse-volatility)
    * portfolio weights over the instrument universe: per instrument
    * the annualized return vol from its daily ln returns, then
    * w_i = (1/σ_i) / Σ_j(1/σ_j) — the equal-risk-contribution
    * first-order allocation (the naive tier of Maillard–Roncalli
    * 2010) that a desk rebalances from exactly this frame; reported
    * next to the vol so the reader sees WHY a name is
    * under/overweighted. s67 closes-ledger tail. Scale:
    * per-instrument moments reduce on the one hash(user) exchange;
    * the cross-sectional normalizer Σ(1/σ) is a single-partition
    * window over the ALREADY-REDUCED per-instrument frame
    * (≤|universe| rows — the q268 reduced-frame discipline, never a
    * tape-sized single partition). Determinism: Σr/Σr² reduce
    * exactly; σ and 1/σ are IEEE on converged sums; 1/σ is
    * DEFINITIONALLY latticed to 10dp decimal so the cross-instrument
    * normalizer reduces as an EXACT decimal sum (order-independent
    * across engines); the weight is one IEEE division of
    * exactly-converted operands, latticed 8dp.
    */
  def q270RiskParity(spark: SparkSession, dir: String): DataFrame =
    riskParityFromCloses(dailyCloses(spark, dir))

  /** q270's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def riskParityFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val m = r.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"r").cast(DecimalType(28, 10)).as("sr"),
        sum($"r" * $"r").cast(DecimalType(28, 10)).as("srr"))
      .filter($"n_days" >= 10L)
    val nD = $"n_days".cast("double")
    val varD = ($"srr".cast("double") - $"sr".cast("double")
      * $"sr".cast("double") / nD) / (nD - lit(1.0))
    val volAnn = sqrt(varD) * sqrt(lit(252.0))
    val iv = m.filter(varD > 0.0)
      .select($"user_id", $"n_days",
        decRound(volAnn * lit(10000.0), 4).as("vol_ann_bp"),
        decRound(lit(1.0) / volAnn, 10)
          .cast(DecimalType(18, 10)).as("iv"))
    val wAll = Window.partitionBy()
    iv.withColumn("total", sum($"iv").over(wAll))
      .select($"user_id", $"n_days", $"vol_ann_bp",
        decRound($"iv".cast("double") / $"total".cast("double"), 8)
          .as("weight"))
  }

  val q270Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (SELECT user_id, r FROM d WHERE r IS NOT NULL),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(r), 10) AS DECIMAL(28,10)) AS sr,
      |    CAST(round(sum(r * r), 10) AS DECIMAL(28,10)) AS srr
      |  FROM r GROUP BY 1 HAVING count(*) >= 10),
      |v AS (
      |  SELECT user_id, n_days,
      |    sqrt((CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE)
      |      * CAST(sr AS DOUBLE) / CAST(n_days AS DOUBLE))
      |      / (CAST(n_days AS DOUBLE) - 1.0)) * sqrt(252.0) AS vol_ann
      |  FROM m
      |  WHERE (CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE)
      |      * CAST(sr AS DOUBLE) / CAST(n_days AS DOUBLE))
      |      / (CAST(n_days AS DOUBLE) - 1.0) > 0.0),
      |iv AS (
      |  SELECT user_id, n_days,
      |    CAST(round(CAST(vol_ann * 10000.0 AS DECIMAL(28,12)), 4)
      |      AS DOUBLE) AS vol_ann_bp,
      |    CAST(round(CAST(1.0 / vol_ann AS DECIMAL(28,12)), 10)
      |      AS DECIMAL(18,10)) AS iv
      |  FROM v)
      |SELECT user_id, n_days, vol_ann_bp,
      |  CAST(round(CAST(CAST(iv AS DOUBLE)
      |    / CAST(sum(iv) OVER () AS DOUBLE) AS DECIMAL(28,12)), 8)
      |    AS DOUBLE) AS weight
      |FROM iv""".stripMargin

  /** q271_mann_kendall — the Mann–Kendall trend test with Sen's slope
    * per instrument over its latticed log-close series: S = Σ_{i<j}
    * sign(x_j − x_i), the tie-corrected variance Var(S) = (n(n−1)(2n+5)
    * − Σ_k t_k(t_k−1)(2t_k+5))/18, the continuity-corrected Z, and
    * Sen's slope = the lower median of all C(n,2) pairwise slopes
    * (x_j − x_i)/(j − i) — the non-parametric "is this drifting"
    * read that q201's AR(1) and q193's Hurst both miss when the
    * marginal is fat-tailed (q269 tells you it is). s67 closes-ledger
    * tail. Scale: the pair stage is quadratic in an instrument's OWN
    * trading days — calendar-bounded (≤C(366,2) per instrument-year)
    * and capped by the broadcast top-50 universe (the q202/q246/q265
    * discipline), NEVER tape-squared; the day-index window, the
    * tie-peer window (RANGE CURRENT ROW = peers, riding the same
    * hash(user) sort), the pair self-join, the slope-rank window, and
    * both rollups all live on hash(user) exchanges. Determinism:
    * sign compares exact 12dp decimals; S, n, and the tie sum are
    * PURE INTEGERS; Var(S) and Z are IEEE on integers (exactly
    * convertible); each pairwise slope is ONE IEEE division of an
    * exact decimal diff by an integer gap — bit-identical across
    * engines — and the median PICK orders by (slope, i, j), a total
    * order, so the selected element is engine-identical before its
    * 8dp lattice.
    */
  def q271MannKendall(spark: SparkSession, dir: String): DataFrame =
    mannKendallFromCloses(dailyCloses(spark, dir))

  /** q271's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def mannKendallFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    val universe = closes.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"))
      .orderBy($"n_days".desc, $"user_id".asc)
      .limit(50)
      .select($"user_id")
    val wIdx = Window.partitionBy($"user_id").orderBy($"day")
    val wPeer = Window.partitionBy($"user_id").orderBy($"x")
      .rangeBetween(Window.currentRow, Window.currentRow)
    val f = closes.join(broadcast(universe), "user_id")
      .withColumn("i", row_number().over(wIdx))
      .withColumn("t", count(lit(1)).over(wPeer))
    val stats = f.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum(($"t" - lit(1L)) * (lit(2L) * $"t" + lit(5L))).as("tie_sum"))
      .filter($"n_days" >= 20L)
    val pairs = f.as("a").join(f.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.i") < col("b.i"))
      .select(col("a.user_id").as("user_id"),
        col("a.i").as("ia"), col("b.i").as("ib"),
        when(col("b.x") > col("a.x"), 1L)
          .when(col("b.x") < col("a.x"), -1L).otherwise(0L).as("sgn"),
        ((col("b.x") - col("a.x")).cast("double")
          / (col("b.i") - col("a.i")).cast("double")).as("slope"))
    // ONE pass over the pair space serves both the S statistic and the
    // Sen median pick (rank + peer-count windows and the rollup all
    // ride the pair join's hash(user) partitioning) — a separate
    // median branch would recompute the whole spine: column pruning
    // differentiates the subtrees and defeats exchange reuse, the
    // q254 lesson.
    val wSlope = Window.partitionBy($"user_id")
      .orderBy($"slope".asc, $"ia".asc, $"ib".asc)
    val s = pairs
      .withColumn("rn", row_number().over(wSlope))
      .withColumn("m", count(lit(1)).over(Window.partitionBy($"user_id")))
      .groupBy($"user_id")
      .agg(sum($"sgn").as("s_stat"),
        max(when($"rn" ===
            floor(($"m" + lit(1L)).cast("double") / lit(2.0)).cast("long"),
          $"slope")).as("sen"))
    val j = stats.join(s, "user_id")
    val nD = $"n_days".cast("double")
    val varS = (nD * (nD - lit(1.0)) * (lit(2.0) * nD + lit(5.0))
      - $"tie_sum".cast("double")) / lit(18.0)
    val z = when($"s_stat" > 0L,
        ($"s_stat".cast("double") - lit(1.0)) / sqrt(varS))
      .when($"s_stat" < 0L,
        ($"s_stat".cast("double") + lit(1.0)) / sqrt(varS))
      .otherwise(lit(0.0))
    j.filter(varS > 0.0)
      .select($"user_id", $"n_days", $"s_stat",
        decRound(z, 6).as("z_stat"),
        decRound($"sen", 8).as("sen_slope"),
        when(z > lit(1.96), lit("up"))
          .when(z < lit(-1.96), lit("down"))
          .otherwise(lit("flat")).as("trend"))
  }

  val q271Sql: String =
    closesSqlPrelude + "\n" +
    """u AS (
      |  SELECT user_id FROM c GROUP BY 1
      |  ORDER BY count(*) DESC, user_id ASC LIMIT 50),
      |f AS (
      |  SELECT c.user_id, c.x,
      |    row_number() OVER (PARTITION BY c.user_id ORDER BY c.day)
      |      AS i,
      |    count(*) OVER (PARTITION BY c.user_id ORDER BY c.x
      |      RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS t
      |  FROM c JOIN u ON c.user_id = u.user_id),
      |st AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum((t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum
      |  FROM f GROUP BY 1 HAVING count(*) >= 20),
      |pr AS (
      |  SELECT a.user_id, a.i AS ia, b.i AS ib,
      |    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
      |      ELSE 0 END AS sgn,
      |    CAST(b.x - a.x AS DOUBLE) / CAST(b.i - a.i AS DOUBLE)
      |      AS slope
      |  FROM f a JOIN f b ON a.user_id = b.user_id AND a.i < b.i),
      |sen0 AS (
      |  SELECT user_id, sgn, slope,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY slope ASC, ia ASC, ib ASC) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS m
      |  FROM pr),
      |s AS (
      |  SELECT user_id, CAST(sum(sgn) AS BIGINT) AS s_stat,
      |    max(CASE WHEN rn = CAST(floor((m + 1) / 2.0) AS BIGINT)
      |      THEN slope END) AS sen
      |  FROM sen0 GROUP BY 1),
      |j AS (
      |  SELECT st.user_id, st.n_days, s.s_stat, s.sen,
      |    (CAST(st.n_days AS DOUBLE) * (CAST(st.n_days AS DOUBLE) - 1.0)
      |      * (2.0 * CAST(st.n_days AS DOUBLE) + 5.0)
      |      - CAST(st.tie_sum AS DOUBLE)) / 18.0 AS var_s
      |  FROM st JOIN s ON st.user_id = s.user_id),
      |k AS (
      |  SELECT user_id, n_days, s_stat, sen,
      |    CASE WHEN s_stat > 0
      |        THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
      |      WHEN s_stat < 0
      |        THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
      |      ELSE 0.0 END AS z
      |  FROM j WHERE var_s > 0.0)
      |SELECT user_id, n_days, s_stat,
      |  CAST(round(CAST(z AS DECIMAL(28,12)), 6) AS DOUBLE) AS z_stat,
      |  CAST(round(CAST(sen AS DECIMAL(28,12)), 8) AS DOUBLE)
      |    AS sen_slope,
      |  CASE WHEN z > 1.96 THEN 'up' WHEN z < -1.96 THEN 'down'
      |    ELSE 'flat' END AS trend
      |FROM k""".stripMargin

  /** q276_newey_west — HAC-robust mean-return inference per
    * instrument (Newey–West 1987, Bartlett kernel, L = 5): the naive
    * t-stat divides by √(γ₀/n) and OVERSTATES significance whenever
    * returns autocorrelate (q262 tests exactly that); the NW long-run
    * variance S = γ₀ + 2·Σₖ(1−k/6)·γₖ corrects it, and the Bartlett
    * weights keep S ≥ 0 by construction. Reports the mean in bp, the
    * HAC t-stat, and the variance inflation S/γ₀ (>1 = positive
    * autocorrelation was hiding in the naive test). s67 closes-ledger
    * tail on q262's one-sort machinery: the demeaning window, all
    * five lag columns, and the rollup share one hash(user) exchange
    * (plan-pinned 2). Determinism: the q262 lattice discipline
    * verbatim — mean latticed 12dp, demeaned e exact, co-moment sums
    * exact (38,24); Σr reduces exactly beside them; the NW assembly
    * runs once in IEEE on converged sums, op-order mirrored
    * token-for-token; the S > 0 guard compares identical doubles.
    */
  def q276NeweyWest(spark: SparkSession, dir: String): DataFrame =
    neweyWestFromCloses(dailyCloses(spark, dir))

  /** q276's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def neweyWestFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val wAll = Window.partitionBy($"user_id")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val e = r
      .withColumn("mean12",
        decRound(sum($"r").over(wAll).cast("double") /
          count(lit(1)).over(wAll).cast("double"), 12)
          .cast(DecimalType(18, 12)))
      .withColumn("e", ($"r" - $"mean12").cast(DecimalType(18, 12)))
    val lagged = (1 to 5).foldLeft(e) { (df, k) =>
      df.withColumn(s"e$k", lag($"e", k).over(w))
    }
    val m = lagged.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"r").cast(DecimalType(28, 10)).as("sr"),
        sum($"e" * $"e").cast(DecimalType(38, 24)).as("s0"),
        sum($"e" * $"e1").cast(DecimalType(38, 24)).as("s1"),
        sum($"e" * $"e2").cast(DecimalType(38, 24)).as("s2"),
        sum($"e" * $"e3").cast(DecimalType(38, 24)).as("s3"),
        sum($"e" * $"e4").cast(DecimalType(38, 24)).as("s4"),
        sum($"e" * $"e5").cast(DecimalType(38, 24)).as("s5"))
      .filter($"n" >= 20L && $"s0" > lit(0).cast(DecimalType(38, 24)))
    val nD = $"n".cast("double")
    val mean = $"sr".cast("double") / nD
    def g(k: Int) = col(s"s$k").cast("double") / nD
    val bigS = g(0) + lit(2.0) * ((1 to 5)
      .map(k => (lit(1.0) - lit(k.toDouble) / lit(6.0)) * g(k))
      .reduce(_ + _))
    val tNw = mean / sqrt(bigS / nD)
    m.filter(bigS > 0.0)
      .select($"user_id", $"n".as("n_days"),
        decRound(mean * lit(10000.0), 6).as("mean_ret_bp"),
        decRound(tNw, 6).as("t_nw"),
        decRound(bigS / g(0), 6).as("var_inflation"))
  }

  val q276Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (SELECT user_id, day, r FROM d WHERE r IS NOT NULL),
      |e0 AS (
      |  SELECT user_id, day, r,
      |    CAST(CAST(round(CAST(
      |      CAST(sum(r) OVER (PARTITION BY user_id) AS DOUBLE)
      |      / CAST(count(*) OVER (PARTITION BY user_id) AS DOUBLE)
      |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS DECIMAL(18,12))
      |      AS mean12
      |  FROM r),
      |e AS (
      |  SELECT user_id, day, r,
      |    CAST(r - mean12 AS DECIMAL(18,12)) AS e
      |  FROM e0),
      |l AS (
      |  SELECT user_id, r, e,
      |    lag(e, 1) OVER (PARTITION BY user_id ORDER BY day) AS e1,
      |    lag(e, 2) OVER (PARTITION BY user_id ORDER BY day) AS e2,
      |    lag(e, 3) OVER (PARTITION BY user_id ORDER BY day) AS e3,
      |    lag(e, 4) OVER (PARTITION BY user_id ORDER BY day) AS e4,
      |    lag(e, 5) OVER (PARTITION BY user_id ORDER BY day) AS e5
      |  FROM e),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(round(sum(r), 10) AS DECIMAL(28,10)) AS sr,
      |    CAST(sum(e * e) AS DECIMAL(38,24)) AS s0,
      |    CAST(sum(e * e1) AS DECIMAL(38,24)) AS s1,
      |    CAST(sum(e * e2) AS DECIMAL(38,24)) AS s2,
      |    CAST(sum(e * e3) AS DECIMAL(38,24)) AS s3,
      |    CAST(sum(e * e4) AS DECIMAL(38,24)) AS s4,
      |    CAST(sum(e * e5) AS DECIMAL(38,24)) AS s5
      |  FROM l GROUP BY 1
      |  HAVING count(*) >= 20 AND sum(e * e) > 0),
      |f AS (
      |  SELECT user_id, n,
      |    CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE) AS g0,
      |    CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE)
      |      + 2.0 * ((1.0 - 1.0 / 6.0) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |        + (1.0 - 2.0 / 6.0) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
      |        + (1.0 - 3.0 / 6.0) * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
      |        + (1.0 - 4.0 / 6.0) * (CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))
      |        + (1.0 - 5.0 / 6.0) * (CAST(s5 AS DOUBLE) / CAST(n AS DOUBLE)))
      |      AS s
      |  FROM m)
      |SELECT user_id, n AS n_days,
      |  CAST(round(CAST(mean * 10000.0 AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS mean_ret_bp,
      |  CAST(round(CAST(mean / sqrt(s / CAST(n AS DOUBLE))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS t_nw,
      |  CAST(round(CAST(s / g0 AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS var_inflation
      |FROM f WHERE s > 0.0""".stripMargin

  /** q278_fama_macbeth — the Fama–MacBeth (1973) two-stage regression
    * on the short-term-reversal factor: stage 1 runs a CROSS-SECTIONAL
    * OLS of today's return on yesterday's return each day (slope b_d);
    * stage 2 treats the daily slopes as a time series and tests
    * mean(b) with its own standard error — the methodology that
    * handles cross-sectional correlation by construction (every panel
    * regression here would overstate t otherwise), reported with the
    * negative-slope share (reversal: b < 0 on most days). s67
    * closes-ledger tail. Scale: one tape collapse, the lag window on
    * hash(user), per-day moments reduce map-side to ≤n_days rows,
    * and stage 2 is one aggregate over that reduced frame — the
    * (user→day→scalar) reduction ladder, never a panel-wide matrix.
    * Determinism: per-day Σx/Σy/Σxy/Σxx reduce as exact decimal sums
    * with the (28,10) re-narrow; each b_d is ONE IEEE expression of
    * converged sums, DEFINITIONALLY latticed 12dp so the stage-2
    * moments Σb/Σb² reduce exactly; the final mean/t run once in
    * IEEE; var(x) > 0 and n ≥ 10 guards mirrored on identical
    * operands.
    */
  def q278FamaMacbeth(spark: SparkSession, dir: String): DataFrame =
    famaMacbethFromCloses(dailyCloses(spark, dir))

  /** q278's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def famaMacbethFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val r = closes
      .withColumn("y", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .withColumn("xf", lag($"y", 1).over(w))
      .filter($"y".isNotNull && $"xf".isNotNull)
    val m = r.groupBy($"day")
      .agg(count(lit(1)).as("n_names"),
        sum($"xf").cast(DecimalType(28, 10)).as("sx"),
        sum($"y").cast(DecimalType(28, 10)).as("sy"),
        sum($"xf" * $"y").cast(DecimalType(28, 10)).as("sxy"),
        sum($"xf" * $"xf").cast(DecimalType(28, 10)).as("sxx"))
      .filter($"n_names" >= 10L)
    val nD = $"n_names".cast("double")
    val den = nD * $"sxx".cast("double") -
      $"sx".cast("double") * $"sx".cast("double")
    val bD = (nD * $"sxy".cast("double") -
      $"sx".cast("double") * $"sy".cast("double")) / den
    val slopes = m.filter(den > 0.0)
      .select($"day", decRound(bD, 12).cast(DecimalType(18, 12)).as("b"))
    val s2 = slopes.agg(count(lit(1)).as("n_days"),
        sum($"b").cast(DecimalType(28, 10)).as("sb"),
        sum($"b" * $"b").cast(DecimalType(28, 10)).as("sbb"),
        sum(when($"b" < lit(0).cast(DecimalType(18, 12)), 1L)
          .otherwise(0L)).as("n_neg"))
      .filter($"n_days" >= 10L)
    val nT = $"n_days".cast("double")
    val meanB = $"sb".cast("double") / nT
    val varB = ($"sbb".cast("double") - $"sb".cast("double")
      * $"sb".cast("double") / nT) / (nT - lit(1.0))
    s2.filter(varB > 0.0)
      .select($"n_days",
        decRound(meanB, 6).as("mean_slope"),
        decRound(meanB / sqrt(varB / nT), 6).as("t_fm"),
        decRound($"n_neg".cast("double") / nT, 6).as("neg_share"))
  }

  val q278Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS y
      |  FROM c),
      |r0 AS (
      |  SELECT user_id, day, y,
      |    lag(y) OVER (PARTITION BY user_id ORDER BY day) AS xf
      |  FROM d),
      |r AS (
      |  SELECT day, xf, y FROM r0
      |  WHERE y IS NOT NULL AND xf IS NOT NULL),
      |m AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS n_names,
      |    CAST(round(sum(xf), 10) AS DECIMAL(28,10)) AS sx,
      |    CAST(round(sum(y), 10) AS DECIMAL(28,10)) AS sy,
      |    CAST(round(sum(xf * y), 10) AS DECIMAL(28,10)) AS sxy,
      |    CAST(round(sum(xf * xf), 10) AS DECIMAL(28,10)) AS sxx
      |  FROM r GROUP BY 1 HAVING count(*) >= 10),
      |sl AS (
      |  SELECT day,
      |    CAST(CAST(round(CAST(
      |      (CAST(n_names AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (CAST(n_names AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS DECIMAL(18,12)) AS b
      |  FROM m
      |  WHERE CAST(n_names AS DOUBLE) * CAST(sxx AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0),
      |s2 AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(b), 10) AS DECIMAL(28,10)) AS sb,
      |    CAST(round(sum(b * b), 10) AS DECIMAL(28,10)) AS sbb,
      |    CAST(sum(CASE WHEN b < CAST(0 AS DECIMAL(18,12)) THEN 1
      |      ELSE 0 END) AS BIGINT) AS n_neg
      |  FROM sl HAVING count(*) >= 10),
      |f AS (
      |  SELECT n_days, n_neg,
      |    CAST(sb AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_b,
      |    (CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
      |      / CAST(n_days AS DOUBLE)) / (CAST(n_days AS DOUBLE) - 1.0)
      |      AS var_b
      |  FROM s2)
      |SELECT n_days,
      |  CAST(round(CAST(mean_b AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS mean_slope,
      |  CAST(round(CAST(mean_b / sqrt(var_b / CAST(n_days AS DOUBLE))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS t_fm,
      |  CAST(round(CAST(CAST(n_neg AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS neg_share
      |FROM f WHERE var_b > 0.0""".stripMargin

  /** q280_rank_persistence — day-over-day stability of the
    * cross-sectional return ranking: per day, the Pearson correlation
    * between each instrument's within-day return rank and its rank in
    * its previous cross-section — rank persistence ≈ +1 means the
    * same names lead every day (momentum-friendly tape), ≈ −1 means
    * systematic reversal (the factor q278 prices), ≈ 0 means daily
    * reshuffling; the regime read next to q246's same-day Kendall IC
    * (which correlates TODAY's signal with today — this correlates
    * today with YESTERDAY). s67 closes-ledger tail. Scale: the
    * within-day rank window rides hash(day), the previous-rank lag
    * rides hash(user), the day rollup returns to hash(day) — the
    * three-key ladder, each stage fully reduced before the next.
    * Determinism: ranks are row_number over the total (r, user) order
    * on exact 12dp decimals, so every moment is a PURE INTEGER sum
    * (Σrk ≤ n³ ≪ 2^63); the single Pearson expression runs once in
    * IEEE on exactly-converted integers, latticed 6dp; degenerate
    * days (n < 10 or zero variance) excluded by mirrored guards.
    */
  def q280RankPersistence(spark: SparkSession, dir: String): DataFrame =
    rankPersistenceFromCloses(dailyCloses(spark, dir))

  /** q280's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def rankPersistenceFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val wDay = Window.partitionBy($"day").orderBy($"r".asc, $"user_id".asc)
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
      .withColumn("rk", row_number().over(wDay))
    val paired = r
      .withColumn("rkp", lag($"rk", 1).over(w))
      .filter($"rkp".isNotNull)
      .select($"day", $"rkp".cast("long").as("x"), $"rk".cast("long").as("y"))
    val m = paired.groupBy($"day")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"),
        sum($"y" * $"y").as("syy"))
      .filter($"n" >= 10L)
    val nD = $"n".cast("double")
    val vx = nD * $"sxx".cast("double") -
      $"sx".cast("double") * $"sx".cast("double")
    val vy = nD * $"syy".cast("double") -
      $"sy".cast("double") * $"sy".cast("double")
    val rho = (nD * $"sxy".cast("double") -
      $"sx".cast("double") * $"sy".cast("double")) / (sqrt(vx) * sqrt(vy))
    m.filter(vx > 0.0 && vy > 0.0)
      .select($"day", $"n".as("n_matched"),
        decRound(rho, 6).as("rank_persistence"))
  }

  val q280Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (SELECT user_id, day, r FROM d WHERE r IS NOT NULL),
      |rk AS (
      |  SELECT user_id, day,
      |    CAST(row_number() OVER (PARTITION BY day
      |      ORDER BY r ASC, user_id ASC) AS BIGINT) AS rk
      |  FROM r),
      |p AS (
      |  SELECT day, rk AS y,
      |    lag(rk) OVER (PARTITION BY user_id ORDER BY day) AS x
      |  FROM rk),
      |pp AS (SELECT day, x, y FROM p WHERE x IS NOT NULL),
      |m AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM pp GROUP BY 1 HAVING count(*) >= 10),
      |f AS (
      |  SELECT day, n, sx, sy, sxy,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
      |  FROM m)
      |SELECT day, n AS n_matched,
      |  CAST(round(CAST((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(vx) * sqrt(vy)) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS rank_persistence
      |FROM f WHERE vx > 0.0 AND vy > 0.0""".stripMargin

  /** q282_drawdown_spells — drawdown SPELL census per instrument on
    * the daily close spine: number of distinct underwater spells,
    * longest spell (days), deepest ln drawdown (bp), and the share of
    * days spent below the running peak — the duration/shape companion
    * to q196 (tick prints, length only) and q230 (depth integral):
    * "how often and for how long" rather than "how bad on average".
    * Scale: ONE hash(user) exchange — the running-peak and spell-id
    * windows share the sort, per-instrument day count rides the same
    * partition, the (user, spell) rollup and the per-user census both
    * satisfy their distribution from hash(user) (plan-pinned 1, the
    * q196 grouping lesson). Determinism: peak/under/spell boundaries
    * are exact-decimal compares on the 12dp ln lattice; depth
    * (peak − x) and its ×10⁴ bp shift stay IN exact decimal to the
    * 6dp round (the q249 lesson-1 hazard — an IEEE shift can land on
    * a half boundary); the only IEEE op is the underwater-share
    * division, latticed 6dp. Instruments with no underwater day or
    * fewer than 10 closes are excluded (mirrored HAVING). s67
    * closes-ledger tail (shared drawdownSpellsFromCloses).
    */
  def q282DrawdownSpells(spark: SparkSession, dir: String): DataFrame =
    drawdownSpellsFromCloses(dailyCloses(spark, dir))

  /** q282's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def drawdownSpellsFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    val wUser = Window.partitionBy($"user_id")
    val wRun = wUser.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = closes
      .withColumn("n_days", count(lit(1)).over(wUser))
      .withColumn("peak", max($"x").over(wRun))
      .withColumn("under", when($"x" < $"peak", 1L).otherwise(0L))
      .withColumn("grp", sum(lit(1L) - $"under").over(wRun))
    val spells = runs.filter($"under" === 1L)
      .groupBy($"user_id", $"grp")
      .agg(max($"n_days").as("n_days"), count(lit(1)).as("dur"),
        max($"peak" - $"x").as("dep"))
    spells.groupBy($"user_id")
      .agg(max($"n_days").as("n_days"),
        count(lit(1)).as("n_spells"),
        max($"dur").as("max_dur_days"),
        round(max($"dep") * lit(10000), 6).cast("double")
          .as("max_depth_bp"),
        sum($"dur").as("uw"))
      .filter($"n_days" >= 10L)
      .select($"user_id", $"n_days", $"n_spells", $"max_dur_days",
        $"max_depth_bp",
        decRound($"uw".cast("double") / $"n_days".cast("double"), 6)
          .as("underwater_share"))
  }

  val q282Sql: String =
    closesSqlPrelude + "\n" +
    """p AS (
      |  SELECT user_id, day, x,
      |    count(*) OVER (PARTITION BY user_id) AS n_days,
      |    max(x) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM c),
      |g AS (
      |  SELECT user_id, n_days, x, peak,
      |    CASE WHEN x < peak THEN 1 ELSE 0 END AS under,
      |    sum(CASE WHEN x < peak THEN 0 ELSE 1 END) OVER (
      |      PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM p),
      |s AS (
      |  SELECT user_id, grp, max(n_days) AS n_days, count(*) AS dur,
      |    max(peak - x) AS dep
      |  FROM g WHERE under = 1 GROUP BY 1, 2)
      |SELECT user_id, CAST(max(n_days) AS BIGINT) AS n_days,
      |  CAST(count(*) AS BIGINT) AS n_spells,
      |  CAST(max(dur) AS BIGINT) AS max_dur_days,
      |  CAST(round(max(dep) * 10000, 6) AS DOUBLE) AS max_depth_bp,
      |  CAST(round(CAST(CAST(sum(dur) AS DOUBLE)
      |    / CAST(max(n_days) AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS underwater_share
      |FROM s GROUP BY 1 HAVING max(n_days) >= 10""".stripMargin

  /** q291_var_backtest — VaR model validation per instrument: a
    * truncated RiskMetrics EWMA variance forecast (λ = 0.8 over the
    * prior 10 squared returns — strictly BEFORE the day being
    * tested), the 95% one-sided VaR violation count, rate, and the
    * Kupiec (1995) POF likelihood ratio — the "is the risk model
    * honest" gate run before anyone trusts q134/q249's VaR numbers
    * (LR ≈ χ²(1); LR > 3.84 rejects correct coverage at 5%). Scale:
    * the q248 closes-tail shape — tape collapse + ONE hash(user)
    * exchange that the return lag, all ten r² lags (one sort), the
    * violation compare, and the rollup ride (plan-pinned 2).
    * Determinism: r/r² are exact decimals; the forecast is a FIXED-
    * ORDER weighted sum (the q193 fixed-weights precedent) whose
    * weights 0.8^i are written as full decimal literals — both
    * engines parse them to identical doubles, so σ, the −1.645·σ
    * threshold, and the violation compare run on identical bit
    * patterns; counts are pure integers; the Kupiec LR is IEEE on
    * integers with the x = 0 / x = n branches as explicit mirrored
    * CASEs; outputs latticed 6dp. Instruments with < 10 forecastable
    * days are excluded (mirrored HAVING). s67 closes-ledger tail
    * (shared varBacktestFromCloses).
    */
  def q291VarBacktest(spark: SparkSession, dir: String): DataFrame =
    varBacktestFromCloses(dailyCloses(spark, dir))

  /** q291's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def varBacktestFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    // 0.8^(i−1), i = 1..10, as exact decimal literals (identical
    // doubles in both engines); Σ = 4.463129088
    val wts = Seq(1.0, 0.8, 0.64, 0.512, 0.4096, 0.32768, 0.262144,
      0.2097152, 0.16777216, 0.134217728)
    var df = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
      .withColumn("r2", ($"r" * $"r").cast(DecimalType(38, 24)))
    for (i <- 1 to 10) df = df.withColumn(s"l$i", lag($"r2", i).over(w))
    val s = (1 to 10)
      .map(i => lit(wts(i - 1)) * col(s"l$i").cast("double"))
      .reduce(_ + _)
    val sigma = sqrt(s / lit(4.463129088))
    val m = df.filter($"l10".isNotNull)
      .withColumn("viol",
        when($"r".cast("double") < lit(-1.645) * sigma, 1L).otherwise(0L))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"), sum($"viol").as("n_viol"))
      .filter($"n_days" >= 10L)
    val nD = $"n_days".cast("double")
    val xD = $"n_viol".cast("double")
    val lr = lit(2.0) * (
      when($"n_viol" > 0L, xD * log(xD / nD)).otherwise(lit(0.0))
        + when($"n_viol" < $"n_days", (nD - xD) * log(lit(1.0) - xD / nD))
          .otherwise(lit(0.0))
        - xD * log(lit(0.05)) - (nD - xD) * log(lit(0.95)))
    m.select($"user_id", $"n_days", $"n_viol",
      decRound(xD / nD, 6).as("viol_rate"),
      decRound(lr, 6).as("kupiec_lr"))
  }

  val q291Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |rr AS (
      |  SELECT user_id, day, r, CAST(r * r AS DECIMAL(38,24)) AS r2
      |  FROM d WHERE r IS NOT NULL),
      |l AS (
      |  SELECT user_id, r,
      |    lag(r2, 1) OVER w AS l1, lag(r2, 2) OVER w AS l2,
      |    lag(r2, 3) OVER w AS l3, lag(r2, 4) OVER w AS l4,
      |    lag(r2, 5) OVER w AS l5, lag(r2, 6) OVER w AS l6,
      |    lag(r2, 7) OVER w AS l7, lag(r2, 8) OVER w AS l8,
      |    lag(r2, 9) OVER w AS l9, lag(r2, 10) OVER w AS l10
      |  FROM rr
      |  WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |v AS (
      |  SELECT user_id,
      |    CASE WHEN CAST(r AS DOUBLE) < -1.645 * sqrt(
      |      (1.0 * CAST(l1 AS DOUBLE) + 0.8 * CAST(l2 AS DOUBLE)
      |       + 0.64 * CAST(l3 AS DOUBLE) + 0.512 * CAST(l4 AS DOUBLE)
      |       + 0.4096 * CAST(l5 AS DOUBLE) + 0.32768 * CAST(l6 AS DOUBLE)
      |       + 0.262144 * CAST(l7 AS DOUBLE)
      |       + 0.2097152 * CAST(l8 AS DOUBLE)
      |       + 0.16777216 * CAST(l9 AS DOUBLE)
      |       + 0.134217728 * CAST(l10 AS DOUBLE)) / 4.463129088)
      |    THEN 1 ELSE 0 END AS viol
      |  FROM l WHERE l10 IS NOT NULL),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(viol) AS BIGINT) AS n_viol
      |  FROM v GROUP BY 1 HAVING count(*) >= 10)
      |SELECT user_id, n_days, n_viol,
      |  CAST(round(CAST(CAST(n_viol AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS viol_rate,
      |  CAST(round(CAST(2.0 * (
      |    (CASE WHEN n_viol > 0 THEN CAST(n_viol AS DOUBLE)
      |      * ln(CAST(n_viol AS DOUBLE) / CAST(n_days AS DOUBLE))
      |      ELSE 0.0 END)
      |    + (CASE WHEN n_viol < n_days
      |      THEN (CAST(n_days AS DOUBLE) - CAST(n_viol AS DOUBLE))
      |        * ln(1.0 - CAST(n_viol AS DOUBLE) / CAST(n_days AS DOUBLE))
      |      ELSE 0.0 END)
      |    - CAST(n_viol AS DOUBLE) * ln(0.05)
      |    - (CAST(n_days AS DOUBLE) - CAST(n_viol AS DOUBLE)) * ln(0.95))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS kupiec_lr
      |FROM m""".stripMargin

  /** q294_bs_greeks — a Black–Scholes pricing/greeks surface per
    * instrument at five moneyness points (K = m·S, m ∈ 0.8…1.2, 30-day
    * tenor, r = 2%): annualized σ from the instrument's own daily ln
    * returns, then Φ via the Abramowitz–Stegun 7.1.26 polynomial —
    * call delta, price/S, S·gamma, and vega/S, all UNITLESS in spot
    * (the strike grid is multiplicative, so ln(S/K) = −ln m and S
    * factors out of every output — no last-price pick needed). The
    * derivatives-desk read next to q291's VaR backtest (the same σ
    * drives both) and q97's rolling vol. Scale: the q248 closes-tail
    * shape — collapse + ONE hash(user) exchange (lag window + moment
    * rollup), then the 5-point grid explodes ROW-LOCALLY on the
    * per-instrument frame and every greek is pure columnar math
    * (plan-pinned 2 exchanges). Determinism: σ from exact decimal
    * moments (identical bit patterns), tenor written as the
    * EXPRESSION 30.0/365.0 in both engines (a decimal literal of the
    * quotient would round differently than the division), the A&S
    * polynomial in Horner form token-for-token mirrored, erf-free;
    * ln/exp are 1-ulp libm calls absorbed by the 6dp output lattice
    * (the q163/q276 precedent). Instruments with < 10 returns or
    * σ = 0 excluded (mirrored). s67 closes-ledger tail.
    */
  def q294BsGreeks(spark: SparkSession, dir: String): DataFrame =
    bsGreeksFromCloses(dailyCloses(spark, dir))

  /** q294's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def bsGreeksFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val nD = $"n".cast("double")
    val sig = sqrt(($"srr".cast("double") / nD
      - ($"sr".cast("double") / nD) * ($"sr".cast("double") / nD))
      * lit(252.0))
    val base = r.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"r").cast(DecimalType(28, 10)).as("sr"),
        sum($"r" * $"r").cast(DecimalType(38, 24)).as("srr"))
      .filter($"n" >= 10L)
      .select($"user_id", sig.as("sigma"))
      .filter($"sigma" > 0.0)
    val tEx = lit(30.0) / lit(365.0)
    val sqT = sqrt(lit(30.0) / lit(365.0))
    def phiPdf(xc: org.apache.spark.sql.Column) =
      exp(-(xc * xc) / lit(2.0)) / lit(2.5066282746310002)
    def phiCdf(xc: org.apache.spark.sql.Column) = {
      val ax = abs(xc)
      val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * ax)
      val poly = t * (lit(0.319381530)
        + t * (lit(-0.356563782)
        + t * (lit(1.781477937)
        + t * (lit(-1.821255978)
        + t * lit(1.330274429)))))
      val upper = lit(1.0) - phiPdf(ax) * poly
      when(xc >= 0.0, upper).otherwise(lit(1.0) - upper)
    }
    val d1 = (-log($"m") + (lit(0.02) + $"sigma" * $"sigma" / lit(2.0)) * tEx) /
      ($"sigma" * sqT)
    val d2 = d1 - $"sigma" * sqT
    base
      .withColumn("m", explode(typedLit(Seq(0.8, 0.9, 1.0, 1.1, 1.2))))
      .select($"user_id", $"m".as("moneyness"),
        decRound($"sigma", 6).as("sigma_ann"),
        decRound(phiCdf(d1), 6).as("call_delta"),
        decRound(phiCdf(d1) - $"m" * exp(lit(-0.02) * tEx) * phiCdf(d2), 6)
          .as("price_rel"),
        decRound(phiPdf(d1) / ($"sigma" * sqT), 6).as("gamma_s"),
        decRound(phiPdf(d1) * sqT, 6).as("vega_rel"))
  }

  val q294Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |rr AS (SELECT user_id, r FROM d WHERE r IS NOT NULL),
      |mo AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(round(sum(r), 10) AS DECIMAL(28,10)) AS sr,
      |    CAST(round(sum(r * r), 24) AS DECIMAL(38,24)) AS srr
      |  FROM rr GROUP BY 1 HAVING count(*) >= 10),
      |sg AS (
      |  SELECT user_id,
      |    sqrt((CAST(srr AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))) * 252.0)
      |      AS sigma
      |  FROM mo),
      |sx AS (
      |  SELECT user_id, sigma, m
      |  FROM sg, (VALUES (0.8), (0.9), (1.0), (1.1), (1.2)) t(m)
      |  WHERE sigma > 0.0),
      |g1 AS (
      |  SELECT user_id, sigma, m,
      |    (-ln(m) + (0.02 + sigma * sigma / 2.0) * (30.0 / 365.0))
      |      / (sigma * sqrt(30.0 / 365.0)) AS d1
      |  FROM sx),
      |g2 AS (
      |  SELECT *, d1 - sigma * sqrt(30.0 / 365.0) AS d2 FROM g1),
      |g3 AS (
      |  SELECT *,
      |    1.0 / (1.0 + 0.2316419 * abs(d1)) AS t1,
      |    exp(-(abs(d1) * abs(d1)) / 2.0) / 2.5066282746310002 AS pdf1a,
      |    exp(-(d1 * d1) / 2.0) / 2.5066282746310002 AS pdf1,
      |    1.0 / (1.0 + 0.2316419 * abs(d2)) AS t2,
      |    exp(-(abs(d2) * abs(d2)) / 2.0) / 2.5066282746310002 AS pdf2a
      |  FROM g2),
      |g4 AS (
      |  SELECT *,
      |    1.0 - pdf1a * (t1 * (0.319381530 + t1 * (-0.356563782
      |      + t1 * (1.781477937 + t1 * (-1.821255978
      |      + t1 * 1.330274429))))) AS up1,
      |    1.0 - pdf2a * (t2 * (0.319381530 + t2 * (-0.356563782
      |      + t2 * (1.781477937 + t2 * (-1.821255978
      |      + t2 * 1.330274429))))) AS up2
      |  FROM g3),
      |g5 AS (
      |  SELECT user_id, sigma, m, d1, pdf1,
      |    CASE WHEN d1 >= 0.0 THEN up1 ELSE 1.0 - up1 END AS cdf1,
      |    CASE WHEN d2 >= 0.0 THEN up2 ELSE 1.0 - up2 END AS cdf2
      |  FROM g4)
      |SELECT user_id, m AS moneyness,
      |  CAST(round(CAST(sigma AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS sigma_ann,
      |  CAST(round(CAST(cdf1 AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS call_delta,
      |  CAST(round(CAST(cdf1 - m * exp(-0.02 * (30.0 / 365.0)) * cdf2
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS price_rel,
      |  CAST(round(CAST(pdf1 / (sigma * sqrt(30.0 / 365.0))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS gamma_s,
      |  CAST(round(CAST(pdf1 * sqrt(30.0 / 365.0)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS vega_rel
      |FROM g5""".stripMargin

  /** q296_jackknife_sharpe — a RESAMPLING standard error with no
    * random numbers: the leave-one-day-out jackknife SE of each
    * instrument's annualized Sharpe ratio, plus the jackknife
    * t-statistic — the error bar q118/q248 never report (a Sharpe
    * without a SE is a point guess; bootstrap needs rand(), which the
    * engine bans, but the jackknife is DETERMINISTIC and, via
    * sufficient statistics, O(n): leaving day d out is three exact
    * decimal subtractions n−1, Σr−r_d, Σr²−r_d² from whole-partition
    * window totals — never a re-scan per replicate). Scale: the q248
    * closes-tail shape — collapse + ONE hash(user) exchange carrying
    * the lag window, the three running totals, the per-day replicate
    * expression, and the rollup (plan-pinned 2). Determinism: totals
    * and leave-one-out operands are exact decimals, each replicate
    * θ_d is one IEEE expression on those operands latticed 12dp so
    * Σθ/Σθ² reduce exactly; instruments where any replicate variance
    * is non-positive are excluded (mirrored — the IEEE positivity
    * branch runs on identical operands in both engines); a degenerate
    * instrument whose replicates are all identical (se = 0 — t_jack
    * would be ±∞, which the engines null/error DIFFERENTLY) is gated
    * out by se > 0 in both engines (the q300 vx/vy > 0 discipline);
    * outputs latticed 6/4dp. s67 closes-ledger tail.
    */
  def q296JackknifeSharpe(spark: SparkSession, dir: String): DataFrame =
    jackknifeSharpeFromCloses(dailyCloses(spark, dir))

  /** q296's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def jackknifeSharpeFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val wAll = Window.partitionBy($"user_id")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
      // r² re-narrowed to 16dp per TERM (deterministic half-up on the
      // exact 24dp product — the lesson-3 width-cap dodge: a (38,24)
      // running total could not be exactly subtracted from)
      .withColumn("r2", round($"r" * $"r", 16).cast(DecimalType(28, 16)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum($"r").over(wAll).cast(DecimalType(28, 10)))
      .withColumn("s2", sum($"r2").over(wAll).cast(DecimalType(30, 16)))
    // leave-one-out sufficient statistics: exact decimal subtractions
    val ni = ($"n" - 1L).cast("double")
    val si = ($"s" - $"r").cast("double")
    val s2i = ($"s2" - $"r2").cast("double")
    val vi = s2i / ni - (si / ni) * (si / ni)
    val thetaD = (si / ni) / sqrt(vi) * sqrt(lit(252.0))
    val rep = r
      .withColumn("ok", when(vi > 0.0, 1L).otherwise(0L))
      .withColumn("theta",
        when(vi > 0.0, decRound(thetaD, 12).cast(DecimalType(18, 12)))
          .otherwise(lit(0).cast(DecimalType(18, 12))))
    val m = rep.groupBy($"user_id")
      .agg(max($"n").as("n"), max($"s").as("s"), max($"s2").as("s2"),
        sum($"ok").as("n_ok"),
        sum($"theta").cast(DecimalType(28, 10)).as("st"),
        sum(($"theta" * $"theta").cast(DecimalType(38, 24)))
          .cast(DecimalType(38, 24)).as("st2"))
      .filter($"n" >= 10L && $"n_ok" === $"n")
    val nD = $"n".cast("double")
    val full = ($"s".cast("double") / nD) /
      sqrt($"s2".cast("double") / nD
        - ($"s".cast("double") / nD) * ($"s".cast("double") / nD)) *
      sqrt(lit(252.0))
    val ssq = $"st2".cast("double") -
      ($"st".cast("double") * $"st".cast("double")) / nD
    val se = sqrt((nD - lit(1.0)) / nD * ssq)
    // se = 0 (all replicates identical — a constant-return degenerate
    // that still passes vi > 0) would make t_jack = ±Inf, which the
    // decimal lattice NULLs here but ERRORS in the mirror: gate it out
    // identically in both engines instead.
    m.filter(se > 0.0).select($"user_id", $"n".as("n_days"),
      decRound(full, 6).as("sharpe_ann"),
      decRound(se, 6).as("jack_se"),
      decRound(full / se, 4).as("t_jack"))
  }

  val q296Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |rr AS (
      |  SELECT user_id, day, r,
      |    CAST(round(r * r, 16) AS DECIMAL(28,16)) AS r2
      |  FROM d WHERE r IS NOT NULL),
      |t AS (
      |  SELECT user_id, r, r2,
      |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
      |    CAST(round(sum(r) OVER (PARTITION BY user_id), 10)
      |      AS DECIMAL(28,10)) AS s,
      |    CAST(round(sum(r2) OVER (PARTITION BY user_id), 16)
      |      AS DECIMAL(30,16)) AS s2
      |  FROM rr),
      |rep AS (
      |  SELECT user_id, n, s, s2,
      |    CASE WHEN
      |      CAST(s2 - r2 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
      |      - (CAST(s - r AS DOUBLE) / CAST(n - 1 AS DOUBLE))
      |        * (CAST(s - r AS DOUBLE) / CAST(n - 1 AS DOUBLE)) > 0.0
      |      THEN 1 ELSE 0 END AS ok,
      |    CASE WHEN
      |      CAST(s2 - r2 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
      |      - (CAST(s - r AS DOUBLE) / CAST(n - 1 AS DOUBLE))
      |        * (CAST(s - r AS DOUBLE) / CAST(n - 1 AS DOUBLE)) > 0.0
      |      THEN CAST(CAST(round(CAST(
      |        (CAST(s - r AS DOUBLE) / CAST(n - 1 AS DOUBLE))
      |        / sqrt(CAST(s2 - r2 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
      |          - (CAST(s - r AS DOUBLE) / CAST(n - 1 AS DOUBLE))
      |            * (CAST(s - r AS DOUBLE) / CAST(n - 1 AS DOUBLE)))
      |        * sqrt(252.0) AS DECIMAL(28,12)), 12) AS DOUBLE)
      |        AS DECIMAL(18,12))
      |      ELSE CAST(0 AS DECIMAL(18,12)) END AS theta
      |  FROM t),
      |m AS (
      |  SELECT user_id, max(n) AS n, max(s) AS s, max(s2) AS s2,
      |    CAST(sum(ok) AS BIGINT) AS n_ok,
      |    CAST(round(sum(theta), 10) AS DECIMAL(28,10)) AS st,
      |    CAST(round(sum(CAST(theta * theta AS DECIMAL(38,24))), 24)
      |      AS DECIMAL(38,24)) AS st2
      |  FROM rep GROUP BY 1
      |  HAVING max(n) >= 10 AND CAST(sum(ok) AS BIGINT) = max(n)),
      |f AS (
      |  SELECT user_id, n,
      |    (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |      / sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
      |        - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |          * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
      |      * sqrt(252.0) AS full_sharpe,
      |    sqrt((CAST(n AS DOUBLE) - 1.0) / CAST(n AS DOUBLE)
      |      * (CAST(st2 AS DOUBLE)
      |        - (CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
      |          / CAST(n AS DOUBLE))) AS se
      |  FROM m)
      |SELECT user_id, CAST(n AS BIGINT) AS n_days,
      |  CAST(round(CAST(full_sharpe AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS sharpe_ann,
      |  CAST(round(CAST(se AS DECIMAL(28,12)), 6) AS DOUBLE) AS jack_se,
      |  CAST(round(CAST(full_sharpe / se AS DECIMAL(28,12)), 4) AS DOUBLE)
      |    AS t_jack
      |FROM f WHERE se > 0.0""".stripMargin

  /** q299_diversification_ratio — Choueifaty's diversification ratio
    * for the equal-weight tape portfolio: DR = (mean instrument σ) /
    * (portfolio σ) ≥ 1 — "how much vol does diversification actually
    * cancel" (DR → 1 = one-factor market, DR → √N = independent
    * bets), the portfolio-level companion to q284's per-pair-free
    * correlation regime and q270's inverse-vol weights. Scale: LINEAR
    * like q284 — per-day cross-sectional sums build the index series
    * (the q247 equal-weight convention), per-instrument σ from exact
    * moments; no pair join at any universe size. Determinism: idx_r
    * latticed 12dp so portfolio moments reduce exactly; each σ_i is
    * one IEEE sqrt on exact decimal moments latticed 12dp so the
    * cross-sectional Σσ reduces exactly; the two output divisions are
    * IEEE on converged operands latticed 6/4dp. Instruments and the
    * index both gate at ≥ 10 days (mirrored). s67 closes-ledger tail.
    */
  def q299DiversificationRatio(spark: SparkSession, dir: String): DataFrame =
    divRatioFromCloses(dailyCloses(spark, dir))

  /** q299's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def divRatioFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val idx = r.groupBy($"day")
      .agg(sum($"r").cast(DecimalType(28, 12)).as("sr_day"),
        count(lit(1)).as("n_day"))
      .select($"day",
        decRound($"sr_day".cast("double") / $"n_day".cast("double"), 12)
          .cast(DecimalType(18, 12)).as("idx_r"))
    val ndI = $"nd".cast("double")
    val pv = sqrt(($"sii".cast("double") / ndI
      - ($"si".cast("double") / ndI) * ($"si".cast("double") / ndI))
      * lit(252.0))
    val pm = idx.agg(count(lit(1)).as("nd"),
        sum($"idx_r").cast(DecimalType(28, 10)).as("si"),
        sum(($"idx_r" * $"idx_r").cast(DecimalType(38, 24)))
          .cast(DecimalType(38, 24)).as("sii"))
      .filter($"nd" >= 10L)
      .select($"nd", pv.as("sigma_port"))
      .filter($"sigma_port" > 0.0)
    val nI = $"n".cast("double")
    val sigI = sqrt(($"srr".cast("double") / nI
      - ($"sr".cast("double") / nI) * ($"sr".cast("double") / nI))
      * lit(252.0))
    val im = r.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"r").cast(DecimalType(28, 10)).as("sr"),
        sum(($"r" * $"r").cast(DecimalType(38, 24)))
          .cast(DecimalType(38, 24)).as("srr"))
      .filter($"n" >= 10L)
      .select(decRound(sigI, 12).cast(DecimalType(18, 12)).as("sig"))
    val sm = im.agg(count(lit(1)).as("n_inst"),
      sum($"sig").cast(DecimalType(28, 10)).as("ssig"))
    val meanSig = $"ssig".cast("double") / $"n_inst".cast("double")
    sm.crossJoin(broadcast(pm))
      .select($"n_inst", $"nd".as("n_days"),
        decRound($"sigma_port", 6).as("sigma_port_ann"),
        decRound(meanSig, 6).as("mean_sigma_ann"),
        decRound(meanSig / $"sigma_port", 4).as("div_ratio"))
  }

  val q299Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |rr AS (SELECT user_id, day, r FROM d WHERE r IS NOT NULL),
      |idx AS (
      |  SELECT day,
      |    CAST(CAST(round(CAST(CAST(
      |      CAST(round(sum(r), 12) AS DECIMAL(28,12)) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS DECIMAL(28,12)), 12) AS DOUBLE)
      |      AS DECIMAL(18,12)) AS idx_r
      |  FROM rr GROUP BY 1),
      |pm AS (
      |  SELECT CAST(count(*) AS BIGINT) AS nd,
      |    CAST(round(sum(idx_r), 10) AS DECIMAL(28,10)) AS si,
      |    CAST(round(sum(CAST(idx_r * idx_r AS DECIMAL(38,24))), 24)
      |      AS DECIMAL(38,24)) AS sii
      |  FROM idx HAVING count(*) >= 10),
      |pv AS (
      |  SELECT nd,
      |    sqrt((CAST(sii AS DOUBLE) / CAST(nd AS DOUBLE)
      |      - (CAST(si AS DOUBLE) / CAST(nd AS DOUBLE))
      |        * (CAST(si AS DOUBLE) / CAST(nd AS DOUBLE))) * 252.0)
      |      AS sigma_port
      |  FROM pm),
      |pvf AS (SELECT * FROM pv WHERE sigma_port > 0.0),
      |im AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(round(sum(r), 10) AS DECIMAL(28,10)) AS sr,
      |    CAST(round(sum(CAST(r * r AS DECIMAL(38,24))), 24)
      |      AS DECIMAL(38,24)) AS srr
      |  FROM rr GROUP BY 1 HAVING count(*) >= 10),
      |sg AS (
      |  SELECT CAST(CAST(round(CAST(
      |    sqrt((CAST(srr AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))) * 252.0)
      |    AS DECIMAL(28,12)), 12) AS DOUBLE) AS DECIMAL(18,12)) AS sig
      |  FROM im),
      |sm AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_inst,
      |    CAST(round(sum(sig), 10) AS DECIMAL(28,10)) AS ssig
      |  FROM sg)
      |SELECT n_inst, nd AS n_days,
      |  CAST(round(CAST(sigma_port AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS sigma_port_ann,
      |  CAST(round(CAST(CAST(ssig AS DOUBLE) / CAST(n_inst AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS mean_sigma_ann,
      |  CAST(round(CAST(CAST(ssig AS DOUBLE) / CAST(n_inst AS DOUBLE)
      |    / sigma_port AS DECIMAL(28,12)), 4) AS DOUBLE) AS div_ratio
      |FROM sm CROSS JOIN pvf""".stripMargin

  /** q300_sml_test — the security-market-line cross-sectional test of
    * CAPM on the tape's own data: stage 1 estimates each instrument's
    * β against the equal-weight index (q260's machinery verbatim),
    * stage 2 regresses mean daily returns on those βs ACROSS
    * instruments — the slope is the market price of risk (annualized
    * bp; CAPM says it equals the index premium and the intercept is
    * zero), with R² saying how much of the cross-section beta alone
    * explains. The two-stage complement to q278's Fama–MacBeth
    * (per-day slopes through time; this is one regression across the
    * universe) and q260 (per-name α/β; this tests them jointly).
    * Scale: the (user→scalar) reduction ladder — one tape collapse,
    * the broadcast index joined back (q247 discipline), stage-2
    * moments on the ≤|universe| frame. Determinism: β and mean_r
    * lattice at 12dp per instrument so every cross-sectional moment
    * reduces exactly ((38,24) product sums); the closed-form
    * slope/intercept/R² run once in IEEE on converged sums; the
    * ×252·10⁴ annualization shifts IN exact decimal (the q260
    * lesson-1 hazard); zero-variance legs excluded (mirrored). s67
    * closes-ledger tail.
    */
  def q300SmlTest(spark: SparkSession, dir: String): DataFrame =
    smlFromCloses(dailyCloses(spark, dir))

  /** q300's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def smlFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
    val idx = r.groupBy($"day")
      .agg(sum($"r").cast(DecimalType(28, 12)).as("sr_day"),
        count(lit(1)).as("n_day"))
      .select($"day",
        decRound($"sr_day".cast("double") / $"n_day".cast("double"), 12)
          .cast(DecimalType(18, 12)).as("idx_r"))
    val m = r.join(broadcast(idx), "day")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"),
        sum($"r").cast(DecimalType(28, 10)).as("sr"),
        sum($"idx_r").cast(DecimalType(28, 10)).as("si"),
        sum($"r" * $"idx_r").cast(DecimalType(38, 24)).as("sri"),
        sum($"idx_r" * $"idx_r").cast(DecimalType(38, 24)).as("sii"))
      .filter($"n_days" >= 10L)
    val nD = $"n_days".cast("double")
    val cov = $"sri".cast("double") -
      $"sr".cast("double") * $"si".cast("double") / nD
    val varI = $"sii".cast("double") -
      $"si".cast("double") * $"si".cast("double") / nD
    val bm = m.filter(varI > lit(0.0))
      .select(
        decRound(cov / varI, 12).cast(DecimalType(18, 12)).as("b"),
        decRound($"sr".cast("double") / nD, 12)
          .cast(DecimalType(18, 12)).as("mr"))
    val cs = bm.agg(count(lit(1)).as("n"),
        sum($"b").cast(DecimalType(28, 10)).as("sx"),
        sum($"mr").cast(DecimalType(28, 10)).as("sy"),
        sum($"b" * $"mr").cast(DecimalType(38, 24)).as("sxy"),
        sum($"b" * $"b").cast(DecimalType(38, 24)).as("sxx"),
        sum($"mr" * $"mr").cast(DecimalType(38, 24)).as("syy"))
      .filter($"n" >= 10L)
    val nI = $"n".cast("double")
    val num = nI * $"sxy".cast("double") -
      $"sx".cast("double") * $"sy".cast("double")
    val vx = nI * $"sxx".cast("double") -
      $"sx".cast("double") * $"sx".cast("double")
    val vy = nI * $"syy".cast("double") -
      $"sy".cast("double") * $"sy".cast("double")
    val gamma = num / vx
    val icept = ($"sy".cast("double") - gamma * $"sx".cast("double")) / nI
    cs.filter(vx > lit(0.0) && vy > lit(0.0))
      .select($"n".as("n_inst"),
        round(decRound(gamma, 12).cast(DecimalType(18, 12))
          * lit(2520000).cast(DecimalType(7, 0)), 4)
          .cast("double").as("gamma_ann_bp"),
        round(decRound(icept, 12).cast(DecimalType(18, 12))
          * lit(2520000).cast(DecimalType(7, 0)), 4)
          .cast("double").as("intercept_ann_bp"),
        decRound(num * num / (vx * vy), 6).as("r2"))
  }

  val q300Sql: String =
    closesSqlPrelude + "\n" +
    """d AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (SELECT user_id, day, r FROM d WHERE r IS NOT NULL),
      |idx AS (
      |  SELECT day,
      |    CAST(CAST(round(CAST(CAST(CAST(sum(r) AS DECIMAL(28,12))
      |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS DECIMAL(28,12)), 12)
      |      AS DOUBLE) AS DECIMAL(18,12)) AS idx_r
      |  FROM r GROUP BY 1),
      |a AS (
      |  SELECT r.user_id, r.r, idx.idx_r
      |  FROM r JOIN idx ON r.day = idx.day),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(r), 10) AS DECIMAL(28,10)) AS sr,
      |    CAST(round(sum(idx_r), 10) AS DECIMAL(28,10)) AS si,
      |    CAST(sum(r * idx_r) AS DECIMAL(38,24)) AS sri,
      |    CAST(sum(idx_r * idx_r) AS DECIMAL(38,24)) AS sii
      |  FROM a GROUP BY 1 HAVING count(*) >= 10),
      |bm AS (
      |  SELECT
      |    CAST(CAST(round(CAST(
      |      (CAST(sri AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(si AS DOUBLE)
      |        / CAST(n_days AS DOUBLE))
      |      / (CAST(sii AS DOUBLE) - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
      |        / CAST(n_days AS DOUBLE))
      |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS DECIMAL(18,12)) AS b,
      |    CAST(CAST(round(CAST(CAST(sr AS DOUBLE) / CAST(n_days AS DOUBLE)
      |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS DECIMAL(18,12)) AS mr
      |  FROM m
      |  WHERE CAST(sii AS DOUBLE) - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
      |    / CAST(n_days AS DOUBLE) > 0.0),
      |cs AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(round(sum(b), 10) AS DECIMAL(28,10)) AS sx,
      |    CAST(round(sum(mr), 10) AS DECIMAL(28,10)) AS sy,
      |    CAST(sum(b * mr) AS DECIMAL(38,24)) AS sxy,
      |    CAST(sum(b * b) AS DECIMAL(38,24)) AS sxx,
      |    CAST(sum(mr * mr) AS DECIMAL(38,24)) AS syy
      |  FROM bm HAVING count(*) >= 10),
      |f AS (
      |  SELECT n,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM cs)
      |SELECT n AS n_inst,
      |  CAST(round(CAST(CAST(round(CAST(num / vx AS DECIMAL(28,12)), 12)
      |    AS DOUBLE) AS DECIMAL(28,12)) * CAST(2520000 AS DECIMAL(7,0)), 4)
      |    AS DOUBLE) AS gamma_ann_bp,
      |  CAST(round(CAST(CAST(round(CAST(
      |    (syd - (num / vx) * sxd) / CAST(n AS DOUBLE)
      |    AS DECIMAL(28,12)), 12) AS DOUBLE) AS DECIMAL(28,12))
      |    * CAST(2520000 AS DECIMAL(7,0)), 4) AS DOUBLE)
      |    AS intercept_ann_bp,
      |  CAST(round(CAST(num * num / (vx * vy) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS r2
      |FROM f WHERE vx > 0.0 AND vy > 0.0""".stripMargin

  /** q284_corr_regime — the average pairwise correlation of the
    * universe's daily returns WITHOUT a pair join, via the dispersion
    * identity: standardize each instrument's return to z over the
    * balanced panel, then Var_time(Σᵢ z) = N + Σ_{i≠j} ρᵢⱼ, so
    * avg ρ = (Var(S) − N)/(N(N−1)) — the risk-on/risk-off regime
    * number (and its corollary, the effective number of independent
    * bets N/(1+(N−1)ρ̄)) read next to q267's dispersion and q202's
    * per-pair scan. THE SCALE PATTERN IS THE POINT: the q202/q246
    * pair family is quadratic in the universe and caps it at 50; this
    * plan is LINEAR — per-day cross-sectional sums replace all
    * C(N,2) pair passes, so the identical shape prices a 5,000-name
    * universe's correlation regime with no new machinery. Universe =
    * top-10 by return count (total (n desc, user) order), panel =
    * days where all 10 universe members trade — both broadcast
    * frames. Determinism:
    * returns and z live on 12dp lattices (z is ONE IEEE expression
    * on exact-decimal-derived μ/σ bit patterns), per-day S = Σz and
    * the day moments ΣS/ΣS² reduce exactly ((18,12) re-narrow keeps
    * S² inside the 38-digit cap — the lesson-3 hazard), the identity
    * runs once in IEEE on converged sums, op order mirrored. s67
    * closes-ledger tail (shared corrRegimeFromCloses).
    */
  def q284CorrRegime(spark: SparkSession, dir: String): DataFrame =
    corrRegimeFromCloses(dailyCloses(spark, dir))

  /** q284's tail over the closes spine — shared by the batch query
    * and the s67 ledger spec.
    */
  def corrRegimeFromCloses(closes: DataFrame): DataFrame = {
    val spark = closes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy($"user_id").orderBy($"day")
    // the tape collapses ONCE: the instrument-day returns frame is
    // vertex-sized (instruments × days), and six consumers hang off
    // it (universe, panel days, moments, z, and the two joins back) —
    // without the lineage cut each consumer re-scans the tape (no
    // exchange reuse across broadcast-join build sides, measured), so
    // the graph-family localCheckpoint discipline applies.
    val r = closes
      .withColumn("r", ($"x" - lag($"x", 1).over(w)).cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
      .select($"user_id", $"day", $"r")
      .localCheckpoint(true)
    val universe = r.groupBy($"user_id").agg(count(lit(1)).as("n_ret"))
      .orderBy($"n_ret".desc, $"user_id".asc).limit(10)
      .select($"user_id")
    // N is data-dependent (a thin tape carries < 20 names): the
    // universe size rides as a broadcast one-row frame, never an
    // eager driver scalar (the q209 lazy-bound lesson).
    val nU = universe.agg(count(lit(1)).as("n_u")).filter($"n_u" >= 2L)
    val ru = r.join(broadcast(universe), "user_id")
    val common = ru.groupBy($"day").agg(count(lit(1)).as("k"))
      .crossJoin(broadcast(nU))
      .filter($"k" === $"n_u").select($"day")
    val rc = ru.join(broadcast(common), "day")
      .select($"user_id", $"day", $"r")
    val nD = $"nd".cast("double")
    val stats = rc.groupBy($"user_id")
      .agg(count(lit(1)).as("nd"),
        sum($"r").cast(DecimalType(28, 10)).as("sr"),
        sum($"r" * $"r").cast(DecimalType(38, 24)).as("srr"))
      .select($"user_id",
        ($"sr".cast("double") / nD).as("mu"),
        sqrt($"srr".cast("double") / nD
          - ($"sr".cast("double") / nD) * ($"sr".cast("double") / nD))
          .as("sd"))
      .filter($"sd" > 0.0)
    val z = rc.join(broadcast(stats), "user_id")
      .select($"day",
        decRound(($"r".cast("double") - $"mu") / $"sd", 12)
          .cast(DecimalType(18, 12)).as("z"))
    val daily = z.groupBy($"day")
      .agg(count(lit(1)).as("n_inst"),
        sum($"z").cast(DecimalType(18, 12)).as("s"))
      .crossJoin(broadcast(nU))
      .filter($"n_inst" === $"n_u")
    val m = daily.agg(count(lit(1)).as("n_days"),
        sum($"s").cast(DecimalType(28, 10)).as("ss"),
        sum($"s" * $"s").cast(DecimalType(38, 24)).as("sss"),
        max($"n_u").as("n_u"))
      .filter($"n_days" >= 10L)
    val dD = $"n_days".cast("double")
    val nn = $"n_u".cast("double")
    val varS = $"sss".cast("double") / dD
      - ($"ss".cast("double") / dD) * ($"ss".cast("double") / dD)
    val avgCorr = (varS - nn) / (nn * (nn - lit(1.0)))
    m.select($"n_u".as("n_inst"), $"n_days",
      decRound(varS / (nn * nn), 8).as("var_zbar"),
      decRound(avgCorr, 6).as("avg_corr"),
      decRound(nn / (lit(1.0) + (nn - lit(1.0)) * avgCorr), 4)
        .as("eff_bets"))
  }

  val q284Sql: String =
    closesSqlPrelude + "\n" +
    """r0 AS (
      |  SELECT user_id, day,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(18,12)) AS r
      |  FROM c),
      |r AS (SELECT user_id, day, r FROM r0 WHERE r IS NOT NULL),
      |u AS (
      |  SELECT user_id FROM (
      |    SELECT user_id, count(*) AS n FROM r GROUP BY 1
      |    ORDER BY n DESC, user_id LIMIT 10)),
      |nu AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_u FROM u
      |  HAVING count(*) >= 2),
      |ru AS (SELECT r.user_id, r.day, r.r FROM r JOIN u USING (user_id)),
      |cd AS (
      |  SELECT day FROM (
      |    SELECT day, count(*) AS k FROM ru GROUP BY 1) CROSS JOIN nu
      |  WHERE k = n_u),
      |rc AS (SELECT ru.user_id, ru.day, ru.r FROM ru JOIN cd USING (day)),
      |mom AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS nd,
      |    CAST(round(sum(r), 10) AS DECIMAL(28,10)) AS sr,
      |    CAST(round(sum(r * r), 24) AS DECIMAL(38,24)) AS srr
      |  FROM rc GROUP BY 1),
      |st AS (
      |  SELECT user_id,
      |    CAST(sr AS DOUBLE) / CAST(nd AS DOUBLE) AS mu,
      |    sqrt(CAST(srr AS DOUBLE) / CAST(nd AS DOUBLE)
      |      - (CAST(sr AS DOUBLE) / CAST(nd AS DOUBLE))
      |        * (CAST(sr AS DOUBLE) / CAST(nd AS DOUBLE))) AS sd
      |  FROM mom),
      |z AS (
      |  SELECT rc.day,
      |    CAST(CAST(round(CAST((CAST(rc.r AS DOUBLE) - st.mu) / st.sd
      |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS DECIMAL(18,12)) AS z
      |  FROM rc JOIN st USING (user_id) WHERE st.sd > 0.0),
      |daily AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS n_inst,
      |    CAST(round(sum(z), 12) AS DECIMAL(18,12)) AS s
      |  FROM z GROUP BY 1),
      |d AS (SELECT s, n_u FROM daily CROSS JOIN nu WHERE n_inst = n_u),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(round(sum(s), 10) AS DECIMAL(28,10)) AS ss,
      |    CAST(round(sum(s * s), 24) AS DECIMAL(38,24)) AS sss,
      |    CAST(max(n_u) AS BIGINT) AS n_u
      |  FROM d HAVING count(*) >= 10),
      |f AS (
      |  SELECT n_days, n_u, CAST(n_u AS DOUBLE) AS nn,
      |    CAST(sss AS DOUBLE) / CAST(n_days AS DOUBLE)
      |      - (CAST(ss AS DOUBLE) / CAST(n_days AS DOUBLE))
      |        * (CAST(ss AS DOUBLE) / CAST(n_days AS DOUBLE)) AS vars
      |  FROM m)
      |SELECT n_u AS n_inst, n_days,
      |  CAST(round(CAST(vars / (nn * nn) AS DECIMAL(28,12)), 8) AS DOUBLE)
      |    AS var_zbar,
      |  CAST(round(CAST((vars - nn) / (nn * (nn - 1.0))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_corr,
      |  CAST(round(CAST(nn / (1.0 + (nn - 1.0)
      |    * ((vars - nn) / (nn * (nn - 1.0)))) AS DECIMAL(28,12)), 4)
      |    AS DOUBLE) AS eff_bets
      |FROM f""".stripMargin
}
