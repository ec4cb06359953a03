package graft.queries

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5c batch (SURVEY §2, q106–q114): technical indicators (RSI),
  * Markov transition matrices, inter-arrival statistics, feature
  * scaling, kNN classification, distribution-drift testing (KS),
  * seasonality profiling, purged temporal splits, and PMI collocations
  * — the statistical/ML-prep surface on top of the relational core.
  *
  * FP discipline (SURVEY §6): counts stay integral as long as possible;
  * divisions happen once, on identical operand bit patterns in both
  * engines (exact integer cums → one double division is bit-identical);
  * window-averaged doubles are decimal-rounded on both sides.
  */
object Metrics {

  private def decRound(c: org.apache.spark.sql.Column, scale: Int) =
    graft.functions.Num.decRound(c, scale)

  /** q106_rsi — 14-observation RSI (Cutler's form: simple averages, not
    * Wilder smoothing — the windowed-mean variant that parallelizes) per
    * user over the event value series: 100·avgGain/(avgGain+avgLoss)
    * over the trailing 14 diffs, emitted only for full windows. One
    * keyed sort-window pass — the q23/q51 shuffle shape, three frames
    * sharing one sort.
    */
  def q106Rsi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val w14 = wOrd.rowsBetween(-13, 0)
    Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"value")
      .withColumn("diff", $"value" - lag($"value", 1).over(wOrd))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("avg_gain", avg(when($"diff" > 0, $"diff").otherwise(0.0)).over(w14))
      .withColumn("avg_loss", avg(when($"diff" < 0, -$"diff").otherwise(0.0)).over(w14))
      .filter($"rn" >= 15)
      // all-flat window (gain+loss = 0) → neutral 50, not a divide error
      .select($"user_id", $"event_id",
        decRound(coalesce(lit(100.0) * $"avg_gain" /
          nullif($"avg_gain" + $"avg_loss", lit(0.0)), lit(50.0)), 4).as("rsi"))
  }

  val q106Sql: String =
    """WITH d AS (
      |  SELECT user_id, event_id,
      |    value - lag(value) OVER w AS diff,
      |    row_number() OVER w AS rn
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |a AS (
      |  SELECT user_id, event_id, rn,
      |    avg(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER f AS avg_gain,
      |    avg(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER f AS avg_loss
      |  FROM d
      |  WINDOW f AS (PARTITION BY user_id ORDER BY rn
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id,
      |  CAST(round(CAST(coalesce(100.0 * avg_gain /
      |    nullif(avg_gain + avg_loss, 0.0), 50.0) AS DECIMAL(28,12)), 4)
      |    AS DOUBLE) AS rsi
      |FROM a WHERE rn >= 15""".stripMargin

  /** q107_transition_matrix — first-order Markov transitions between
    * event types: per (prev, next) pair, count and row-conditional
    * probability. The lag window shuffles on user_id; the transition
    * aggregate is map-side combined down to |types|² rows, and the
    * per-prev normalizer is a window over that tiny frame. Counts are
    * integers; the probability is one exact division.
    */
  def q107TransitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wPrev = Window.partitionBy($"prev_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(wOrd))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type".as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob",
        decRound($"n".cast("double") / sum($"n").over(wPrev), 6))
  }

  val q107Sql: String =
    """WITH tr AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type,
      |    event_type AS next_type
      |  FROM events),
      |g AS (
      |  SELECT prev_type, next_type, count(*) AS n FROM tr
      |  WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type)
      |SELECT prev_type, next_type, n,
      |  CAST(round(CAST(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS prob
      |FROM g""".stripMargin

  /** q108_arrival_stats — inter-arrival statistics per user: gap count,
    * mean/stddev/max gap (seconds), and the coefficient of variation
    * (burstiness: CV ≫ 1 = bursty, ≈1 = Poisson). Gaps are exact
    * integer µs diffs; converting to seconds is a single exact division
    * before the moment aggregates, keeping magnitudes small enough that
    * decimal rounding at 4 digits is far outside FP noise.
    */
  def q108ArrivalStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", unix_micros($"ts").as("us"))
      .withColumn("gap_s",
        (($"us" - lag($"us", 1).over(wOrd)).cast("double")) / 1e6)
      .filter($"gap_s".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_gaps"),
        decRound(avg($"gap_s"), 4).as("mean_gap_s"),
        decRound(stddev_pop($"gap_s"), 4).as("sd_gap_s"),
        decRound(max($"gap_s"), 4).as("max_gap_s"),
        decRound(stddev_pop($"gap_s") / avg($"gap_s"), 4).as("cv"))
  }

  val q108Sql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS DOUBLE) / 1e6 AS gap_s
      |  FROM events)
      |SELECT user_id, count(*) AS n_gaps,
      |  CAST(round(CAST(avg(gap_s) AS DECIMAL(28,12)), 4) AS DOUBLE) AS mean_gap_s,
      |  CAST(round(CAST(stddev_pop(gap_s) AS DECIMAL(28,12)), 4) AS DOUBLE) AS sd_gap_s,
      |  CAST(round(CAST(max(gap_s) AS DECIMAL(28,12)), 4) AS DOUBLE) AS max_gap_s,
      |  CAST(round(CAST(stddev_pop(gap_s) / avg(gap_s) AS DECIMAL(28,12)), 4)
      |    AS DOUBLE) AS cv
      |FROM g WHERE gap_s IS NOT NULL GROUP BY user_id""".stripMargin

  /** q109_minmax_scale — per-type min-max feature scaling of the event
    * value onto [0,1]: the normalize step before any distance-based
    * model. The per-type stats frame is tiny → broadcast back onto the
    * fact scan (q101's shape); scaling is two exact FP ops on stored
    * doubles and exactly-selected extremes — bit-identical across
    * engines, rounding only for belt-and-braces.
    */
  def q109MinmaxScale(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"event_type", $"value")
    val stats = ev.groupBy($"event_type")
      .agg(min($"value").as("mn"), max($"value").as("mx"))
    ev.join(broadcast(stats), "event_type")
      .select($"event_id", $"event_type",
        decRound(($"value" - $"mn") / nullif($"mx" - $"mn", lit(0.0)), 6)
          .as("scaled"))
  }

  val q109Sql: String =
    """WITH s AS (
      |  SELECT event_type, min(value) AS mn, max(value) AS mx
      |  FROM events GROUP BY event_type)
      |SELECT e.event_id, e.event_type,
      |  CAST(round(CAST((e.value - s.mn) / nullif(s.mx - s.mn, 0.0)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS scaled
      |FROM events e JOIN s ON e.event_type = s.event_type""".stripMargin

  /** q110_knn_classify — k-nearest-neighbor label prediction over the
    * embeddings table: every 20th vector is a "query", its label is
    * predicted by majority vote of its 5 exact-cosine neighbors
    * (ties → smallest label). Reuses [[graft.operators.Ann
    * .bruteForceTopK]] (query set broadcast, corpus never shuffled);
    * the vote is a tiny two-stage aggregate. The evaluation harness
    * shape for any embedding-quality check.
    */
  def q110KnnClassify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val lbl = emb.select($"vec_id", $"label")
    val nn = graft.operators.Ann.bruteForceTopK(
      emb.filter($"vec_id" % 20 === 0), emb, k = 5)
    val wVote = Window.partitionBy($"query_id")
      .orderBy($"votes".desc, $"n_label")
    nn.join(broadcast(lbl.select($"vec_id".as("neighbor_id"),
        $"label".as("n_label"))), "neighbor_id")
      .groupBy($"query_id", $"n_label").agg(count(lit(1)).as("votes"))
      .withColumn("r", row_number().over(wVote))
      .filter($"r" === 1)
      .join(broadcast(lbl.select($"vec_id".as("query_id"),
        $"label".as("true_label"))), "query_id")
      .select($"query_id", $"true_label", $"n_label".as("pred_label"), $"votes")
  }

  val q110Sql: String =
    """WITH nn AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                        CAST(n.embedding AS DOUBLE[])) DESC,
      |                 n.vec_id) AS rnk
      |    FROM embeddings q, embeddings n
      |    WHERE q.vec_id % 20 = 0 AND n.vec_id <> q.vec_id)
      |  WHERE rnk <= 5),
      |v AS (
      |  SELECT nn.query_id, e.label AS n_label, count(*) AS votes
      |  FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id
      |  GROUP BY nn.query_id, e.label),
      |p AS (
      |  SELECT query_id, n_label AS pred_label, votes FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY votes DESC, n_label) AS r FROM v)
      |  WHERE r = 1)
      |SELECT p.query_id, q.label AS true_label, p.pred_label, p.votes
      |FROM p JOIN embeddings q ON q.vec_id = p.query_id""".stripMargin

  /** q111_ks_drift — two-sample Kolmogorov–Smirnov statistic between
    * the train cohort (user_id%10 ≤ 7) and the held-out cohort, per
    * event type: max |ECDF₁ − ECDF₂| over the pooled values. The drift
    * gate a feature pipeline runs before re-training.
    *
    * Exactness: values are grouped first (ties collapse), cumulative
    * counts are pure integers in one ordered window, and the ECDF
    * difference is computed from identical integer operands — the
    * division and subtraction are bit-identical across engines, so the
    * max needs no tolerance at all.
    */
  def q111KsDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wCum = Window.partitionBy($"event_type").orderBy($"value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .select($"event_type", $"value",
        when($"user_id" % 10 <= 7, 1L).otherwise(0L).as("is_train"))
      .groupBy($"event_type", $"value")
      .agg(sum($"is_train").as("n1"), sum(lit(1L) - $"is_train").as("n2"))
      .withColumn("c1", sum($"n1").over(wCum))
      .withColumn("c2", sum($"n2").over(wCum))
      .withColumn("t1", sum($"n1").over(wAll))
      .withColumn("t2", sum($"n2").over(wAll))
      .groupBy($"event_type")
      .agg(max($"t1").as("n_train"), max($"t2").as("n_val"),
        decRound(max(abs($"c1".cast("double") / $"t1" -
          $"c2".cast("double") / $"t2")), 6).as("ks"))
  }

  val q111Sql: String =
    """WITH s AS (
      |  SELECT event_type, value,
      |    CASE WHEN user_id % 10 <= 7 THEN 1 ELSE 0 END AS is_train
      |  FROM events),
      |g AS (
      |  SELECT event_type, value, sum(is_train) AS n1, sum(1 - is_train) AS n2
      |  FROM s GROUP BY event_type, value),
      |c AS (
      |  SELECT event_type,
      |    sum(n1) OVER w AS c1, sum(n2) OVER w AS c2,
      |    sum(n1) OVER p AS t1, sum(n2) OVER p AS t2
      |  FROM g
      |  WINDOW w AS (PARTITION BY event_type ORDER BY value
      |      ROWS UNBOUNDED PRECEDING),
      |    p AS (PARTITION BY event_type))
      |SELECT event_type,
      |  CAST(max(t1) AS BIGINT) AS n_train, CAST(max(t2) AS BIGINT) AS n_val,
      |  CAST(round(CAST(max(abs(CAST(c1 AS DOUBLE) / t1 - CAST(c2 AS DOUBLE) / t2))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS ks
      |FROM c GROUP BY event_type""".stripMargin

  /** q112_seasonal_profile — day-of-week × hour activity matrix per
    * event type with the within-type share: the seasonality baseline an
    * anomaly monitor compares against. Integer counts off one scan; the
    * share normalizer is a window over the ≤ |types|·168-row aggregate.
    * Spark's dayofweek is 1=Sunday; shifted to 0=Sunday to match
    * DuckDB's dow.
    */
  def q112SeasonalProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wType = Window.partitionBy($"event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .select($"event_type", (dayofweek($"ts") - 1).as("dow"),
        hour($"ts").as("hr"))
      .groupBy($"event_type", $"dow", $"hr")
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        decRound($"n".cast("double") / sum($"n").over(wType), 6))
  }

  val q112Sql: String =
    """WITH g AS (
      |  SELECT event_type, CAST(date_part('dow', ts) AS INT) AS dow,
      |    CAST(date_part('hour', ts) AS INT) AS hr, count(*) AS n
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT event_type, dow, hr, n,
      |  CAST(round(CAST(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY event_type)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS share
      |FROM g""".stripMargin

  /** q113_time_split — purged temporal train/val/test split: the first
    * 70% of DAYS train, next 15% validate, rest test, with the single
    * boundary day after each cut dropped (the embargo that stops
    * look-ahead leakage through boundary-straddling windows — the
    * standard financial-ML split discipline).
    *
    * Plan: ONE map-side-combined aggregate per day over the events scan
    * (event count, distinct-user set) is the day spine; a window over
    * those day rows (hundreds at any scale) gives rank and day count,
    * and the split rollup sums counts and unions user sets. The fact
    * table is scanned once and never sorted.
    */
  def q113TimeSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"d")
    Tables.events(spark, dir)
      .groupBy(date_trunc("day", $"ts").as("d"))
      .agg(count(lit(1)).as("n"), collect_set($"user_id").as("users"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_days", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("n70", expr("(n_days * 70) div 100"))
      .withColumn("n85", expr("(n_days * 85) div 100"))
      .withColumn("split",
        when($"rk" <= $"n70", "train")
          .when($"rk" === $"n70" + 1, "embargo")
          .when($"rk" <= $"n85", "val")
          .when($"rk" === $"n85" + 1, "embargo")
          .otherwise("test"))
      .filter($"split" =!= "embargo")
      .groupBy($"split")
      .agg(sum($"n").as("n_events"),
        size(array_distinct(flatten(collect_list($"users"))))
          .cast("long").as("n_users"),
        count(lit(1)).as("n_days"),
        min($"d").as("first_day"), max($"d").as("last_day"))
  }

  val q113Sql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, date_trunc('day', ts) AS d FROM events),
      |days AS (SELECT DISTINCT d FROM ev),
      |ranked AS (
      |  SELECT d, row_number() OVER (ORDER BY d) AS rk,
      |    (SELECT count(*) FROM days) AS n_days
      |  FROM days),
      |assign AS (
      |  SELECT d,
      |    CASE WHEN rk <= (n_days * 70) // 100 THEN 'train'
      |         WHEN rk = (n_days * 70) // 100 + 1 THEN 'embargo'
      |         WHEN rk <= (n_days * 85) // 100 THEN 'val'
      |         WHEN rk = (n_days * 85) // 100 + 1 THEN 'embargo'
      |         ELSE 'test' END AS split
      |  FROM ranked)
      |SELECT a.split, count(*) AS n_events,
      |  count(DISTINCT e.user_id) AS n_users,
      |  count(DISTINCT e.d) AS n_days,
      |  CAST(min(e.d) AS TIMESTAMP) AS first_day,
      |  CAST(max(e.d) AS TIMESTAMP) AS last_day
      |FROM ev e JOIN assign a ON e.d = a.d
      |WHERE a.split <> 'embargo'
      |GROUP BY a.split""".stripMargin

  /** q114_pmi — pointwise mutual information of adjacent token pairs
    * (collocation mining: high-PMI bigrams are the multi-word units a
    * tokenizer should learn). One tokenization feeds both the unigram
    * and bigram counts; totals ride in as a broadcast scalar and the
    * unigram table as two broadcast joins onto the (already count-
    * filtered, hence tiny) bigram frame. PMI's divisions and log are
    * performed on identical integer-derived operands in both engines —
    * bit-identical before the defensive rounding.
    */
  def q114Pmi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", Text.tokens($"text").as("toks"))
    val totals = toks.agg(
      sum(size($"toks")).cast("long").as("u_tot"),
      sum(greatest(size($"toks") - 1, lit(0))).cast("long").as("b_tot"))
    val uni = toks.select(explode($"toks").as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
    val bi = toks.filter(size($"toks") >= 2)
      .select(explode(Text.wordShingles($"toks", 2)).as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("c_ab"))
      .filter($"c_ab" >= 5)
      .select(element_at(split($"bigram", " "), 1).as("w1"),
        element_at(split($"bigram", " "), 2).as("w2"), $"c_ab")
    bi.join(broadcast(uni.select($"token".as("w1"), $"cnt".as("c_a"))), "w1")
      .join(broadcast(uni.select($"token".as("w2"), $"cnt".as("c_b"))), "w2")
      .crossJoin(broadcast(totals))
      .select($"w1", $"w2", $"c_ab",
        decRound(log(($"c_ab".cast("double") / $"b_tot") /
          (($"c_a".cast("double") / $"u_tot") *
           ($"c_b".cast("double") / $"u_tot"))), 4).as("pmi"))
  }

  val q114Sql: String =
    """WITH t AS (
      |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      |  FROM documents),
      |tot AS (
      |  SELECT CAST(sum(len(tk)) AS BIGINT) AS u_tot,
      |    CAST(sum(greatest(len(tk) - 1, 0)) AS BIGINT) AS b_tot
      |  FROM t),
      |uni AS (
      |  SELECT token, count(*) AS cnt FROM (SELECT unnest(tk) AS token FROM t)
      |  GROUP BY token),
      |bi AS (
      |  SELECT string_split(bigram, ' ')[1] AS w1,
      |    string_split(bigram, ' ')[2] AS w2, count(*) AS c_ab
      |  FROM (
      |    SELECT unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))])
      |      AS bigram
      |    FROM t WHERE len(tk) >= 2)
      |  GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT bi.w1, bi.w2, bi.c_ab,
      |  CAST(round(CAST(ln((CAST(bi.c_ab AS DOUBLE) / tot.b_tot) /
      |    ((CAST(ua.cnt AS DOUBLE) / tot.u_tot) *
      |     (CAST(ub.cnt AS DOUBLE) / tot.u_tot))) AS DECIMAL(28,12)), 4)
      |    AS DOUBLE) AS pmi
      |FROM bi JOIN uni ua ON ua.token = bi.w1
      |        JOIN uni ub ON ub.token = bi.w2
      |        CROSS JOIN tot""".stripMargin

  /** q174_psi_drift — Population Stability Index over document length
    * between the first and second ingest half (doc_id midpoint split):
    * the industry-standard drift score (banking model-monitoring
    * convention: <0.1 stable, >0.25 action) reported per bin so the
    * shifted mass is visible, complementing q111's KS (continuous,
    * two-sample) and q158's KL (token distribution). Bins are FIXED
    * 100-char buckets capped at 20 — deterministic on both engines
    * (integer division), where quantile-based bins would inherit
    * cross-engine percentile semantics. Counts smooth by +0.5 over the
    * OBSERVED bin count so an empty side never divides by zero
    * (Laplace, closed-form on both engines).
    *
    * Scale shape: one scan with a row-local bin + half flag, one
    * 20-row agg; the totals window runs over the CONSTANT-width bin
    * frame (≤20 rows at any corpus size), so the empty-partition
    * window is bounded by construction, not by data. The midpoint is
    * a 1-row broadcast scalar.
    */
  def q174PsiDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"doc_id", $"n_chars")
    val mid = d.agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
      .selectExpr("(mn + mx) div 2 AS mid")
    val wAll = Window.partitionBy()
    d.crossJoin(broadcast(mid))
      .select(expr("least(n_chars div 100, 19)").as("bin"),
        ($"doc_id" <= $"mid").as("is_ref"))
      .groupBy($"bin")
      .agg(sum(when($"is_ref", 1L).otherwise(0L)).as("n_ref"),
        sum(when(!$"is_ref", 1L).otherwise(0L)).as("n_cur"))
      .withColumn("tr", sum($"n_ref").over(wAll))
      .withColumn("tc", sum($"n_cur").over(wAll))
      .withColumn("nb", count(lit(1)).over(wAll))
      .withColumn("pr", ($"n_ref".cast("double") + 0.5) /
        ($"tr".cast("double") + lit(0.5) * $"nb".cast("double")))
      .withColumn("pc", ($"n_cur".cast("double") + 0.5) /
        ($"tc".cast("double") + lit(0.5) * $"nb".cast("double")))
      .select($"bin", $"n_ref", $"n_cur",
        graft.functions.Num.decRound(
          ($"pr" - $"pc") * log($"pr" / $"pc"), 6).as("psi_contrib"))
  }

  val q174Sql: String =
    """WITH s AS (
      |  SELECT (min(doc_id) + max(doc_id)) // 2 AS mid FROM documents),
      |b AS (
      |  SELECT least(n_chars // 100, 19) AS bin,
      |    CASE WHEN doc_id <= (SELECT mid FROM s) THEN 1 ELSE 0 END AS is_ref
      |  FROM documents),
      |c AS (
      |  SELECT bin, CAST(sum(is_ref) AS BIGINT) AS n_ref,
      |    CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
      |  FROM b GROUP BY 1),
      |t AS (
      |  SELECT bin, n_ref, n_cur,
      |    sum(n_ref) OVER () AS tr, sum(n_cur) OVER () AS tc,
      |    count(*) OVER () AS nb
      |  FROM c),
      |p AS (
      |  SELECT bin, n_ref, n_cur,
      |    (CAST(n_ref AS DOUBLE) + 0.5) /
      |      (CAST(tr AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)) AS pr,
      |    (CAST(n_cur AS DOUBLE) + 0.5) /
      |      (CAST(tc AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)) AS pc
      |  FROM t)
      |SELECT CAST(bin AS BIGINT) AS bin, n_ref, n_cur,
      |  CAST(round(CAST((pr - pc) * ln(pr / pc) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS psi_contrib
      |FROM p""".stripMargin

  /** q207_burstiness — clustered-arrival diagnostics per instrument
    * over the MINUTE-binned print counts: the Fano factor
    * var(c)/mean(c) (1 = Poisson, ≫1 = clustered/bursty arrivals —
    * the Hawkes-excitation screen) and the Goh–Barabási burstiness
    * coefficient (σ−μ)/(σ+μ) ∈ (−1, 1). Complements q108 (which
    * measures INTER-ARRIVAL gaps): count-binning sees the empty-minute
    * mass that gap statistics integrate away.
    * The empty-minute trick: zero-count minutes contribute nothing to
    * Σc or Σc², so the moments need NO calendar grid — bin, count,
    * and take n_mins = last−first+1 arithmetically. One
    * (user, minute) agg then one user agg, both exact integer sums;
    * hash(user_id) satisfies both clusterings, so the whole query is
    * ONE exchange and no grid explode exists to blow up on a
    * years-long span.
    */
  def q207Burstiness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perMin = Tables.events(spark, dir)
      // `div`, not `/`: Spark's `/` on longs is DOUBLE division, whose
      // rounding can cross a minute boundary on large µs values
      .select($"user_id", unix_micros($"ts").as("us"))
      .withColumn("minute", expr("us div 60000000"))
      // pin hash(user_id) BEFORE the first agg: it satisfies both the
      // (user_id, minute) and the user_id clustering (subset rule), so
      // both aggregations run on this ONE exchange
      .repartition($"user_id")
      .groupBy($"user_id", $"minute").agg(count(lit(1)).as("c"))
    val m = perMin
      .groupBy($"user_id")
      .agg(sum($"c").as("n_prints"),
        sum($"c" * $"c").as("sc2"),
        min($"minute").as("m0"), max($"minute").as("m1"))
      .withColumn("n_mins", $"m1" - $"m0" + lit(1L))
      .filter($"n_mins" >= 2L)
    val nM = $"n_mins".cast("double")
    val mu = $"n_prints".cast("double") / nM
    val varC = $"sc2".cast("double") / nM - mu * mu
    m.select($"user_id", $"n_prints", $"n_mins",
      decRound(varC / mu, 6).as("fano"),
      decRound((sqrt(varC) - mu) / (sqrt(varC) + mu), 6).as("burstiness"))
  }

  /** q211_seasonal_strength — how much of an instrument's print-return
    * variance is hour-of-day seasonality: the ANOVA decomposition
    * SS_between / SS_total over 24 hour-of-day cells, plus the peak
    * cell. Complements q112 (which PROFILES the seasonal shape): this
    * one scores how much the shape explains, the de-seasonalization
    * go/no-go. The hour key is pure integer µs arithmetic
    * ((us ÷ 3600s) mod 24 — no timezone/dow-convention drift between
    * engines).
    * Scale shape: the decomposition needs NO join-back of cell means
    * to the tape (the naive de-seasonalize-then-var plan): within-cell
    * moments reduce per (instrument, cell), and SS_between assembles
    * from Σ s_h²/n_h — every cross-cell sum runs on 12dp-latticed
    * decimals, every window rides hash(user_id), ONE tape exchange.
    */
  def q211SeasonalStrength(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val rets = Tables.events(spark, dir)
      .filter($"value" > 0.0)
      .select($"user_id", $"ts", $"event_id", unix_micros($"ts").as("us"),
        decRound(log($"value"), 12).cast(DecimalType(18, 12)).as("x"))
      .withColumn("r", ($"x" - lag($"x", 1).over(wOrd))
        .cast(DecimalType(18, 12)))
      .filter($"r".isNotNull)
      .withColumn("h", expr("(us div 3600000000) % 24"))
    val cells = rets.groupBy($"user_id", $"h")
      .agg(count(lit(1)).as("n_h"),
        sum($"r").as("s_h"), sum($"r" * $"r").as("q_h"))
      .withColumn("mean12",
        decRound($"s_h".cast("double") / $"n_h".cast("double"), 12))
      .withColumn("c_h",
        decRound($"s_h".cast("double") * $"s_h".cast("double") /
          $"n_h".cast("double"), 12).cast(DecimalType(18, 12)))
    val wU = Window.partitionBy($"user_id")
    val wRank = Window.partitionBy($"user_id")
      .orderBy($"mean12".desc, $"h".asc)
    val g = cells
      .withColumn("n", sum($"n_h").over(wU))
      .withColumn("s", sum($"s_h").over(wU))
      .withColumn("q", sum($"q_h").over(wU))
      .withColumn("c", sum($"c_h").over(wU))
      .withColumn("rk", row_number().over(wRank))
      .filter($"rk" === 1 && $"n" >= 50L)
    val nD = $"n".cast("double")
    val grand = $"s".cast("double") * $"s".cast("double") / nD
    val sst = $"q".cast("double") - grand
    val ssb = $"c".cast("double") - grand
    g.select($"user_id", $"n".as("n_rets"),
      decRound(when(sst > 0.0, ssb / sst), 6).as("seasonal_strength"),
      $"h".cast("long").as("peak_hour"),
      decRound($"mean12", 6).as("peak_mean_ret"))
  }

  val q211Sql: String =
    """WITH x0 AS (
      |  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
      |    CAST(round(CAST(ln(value) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS x
      |  FROM events WHERE value > 0.0),
      |r0 AS (
      |  SELECT user_id, us,
      |    CAST(x - lag(x) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS DECIMAL(18,12)) AS r
      |  FROM x0),
      |r AS (
      |  SELECT user_id, (us // 3600000000) % 24 AS h, r
      |  FROM r0 WHERE r IS NOT NULL),
      |cells AS (
      |  SELECT user_id, h, CAST(count(*) AS BIGINT) AS n_h,
      |    sum(r) AS s_h, sum(r * r) AS q_h
      |  FROM r GROUP BY 1, 2),
      |c2 AS (
      |  SELECT user_id, h, n_h, s_h, q_h,
      |    CAST(round(CAST(CAST(s_h AS DOUBLE) / CAST(n_h AS DOUBLE)
      |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS mean12,
      |    CAST(round(CAST(CAST(s_h AS DOUBLE) * CAST(s_h AS DOUBLE)
      |      / CAST(n_h AS DOUBLE) AS DECIMAL(28,12)), 12)
      |      AS DECIMAL(18,12)) AS c_h
      |  FROM cells),
      |g AS (
      |  SELECT user_id, h, mean12,
      |    sum(n_h) OVER (PARTITION BY user_id) AS n,
      |    sum(s_h) OVER (PARTITION BY user_id) AS s,
      |    sum(q_h) OVER (PARTITION BY user_id) AS q,
      |    sum(c_h) OVER (PARTITION BY user_id) AS c,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY mean12 DESC, h ASC) AS rk
      |  FROM c2),
      |f AS (
      |  SELECT user_id, CAST(n AS BIGINT) AS n_rets, h, mean12,
      |    CAST(q AS DOUBLE)
      |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS sst,
      |    CAST(c AS DOUBLE)
      |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS ssb
      |  FROM g WHERE rk = 1 AND n >= 50)
      |SELECT user_id, n_rets,
      |  CAST(round(CAST(CASE WHEN sst > 0.0 THEN ssb / sst END
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS seasonal_strength,
      |  CAST(h AS BIGINT) AS peak_hour,
      |  CAST(round(CAST(mean12 AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS peak_mean_ret
      |FROM f""".stripMargin

  val q207Sql: String =
    """WITH pm AS (
      |  SELECT user_id, epoch_us(ts) // 60000000 AS minute,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT user_id,
      |    CAST(sum(c) AS BIGINT) AS n_prints,
      |    CAST(sum(c * c) AS BIGINT) AS sc2,
      |    max(minute) - min(minute) + 1 AS n_mins
      |  FROM pm GROUP BY 1),
      |f AS (
      |  SELECT user_id, n_prints, CAST(n_mins AS BIGINT) AS n_mins,
      |    CAST(n_prints AS DOUBLE) / CAST(n_mins AS DOUBLE) AS mu,
      |    CAST(sc2 AS DOUBLE) / CAST(n_mins AS DOUBLE)
      |      - (CAST(n_prints AS DOUBLE) / CAST(n_mins AS DOUBLE))
      |        * (CAST(n_prints AS DOUBLE) / CAST(n_mins AS DOUBLE))
      |      AS var_c
      |  FROM m WHERE n_mins >= 2)
      |SELECT user_id, n_prints, n_mins,
      |  CAST(round(CAST(var_c / mu AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS fano,
      |  CAST(round(CAST((sqrt(var_c) - mu) / (sqrt(var_c) + mu)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS burstiness
      |FROM f""".stripMargin
}
