package graft.queries

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation text operators (SURVEY §2 round 5b, q92–q96):
  * normalization impact, chunking, eval-set contamination, inverted
  * index, within-document repetition.
  *
  * All five are single-scan, row-local transforms followed by one keyed
  * aggregation — the shapes that scale to a 100 TB corpus by adding
  * partitions. The only self-join (q94) goes through a df-capped
  * inverted index, never a cross product.
  */
object TextOps {

  private def decRound(c: org.apache.spark.sql.Column, scale: Int) =
    graft.functions.Num.decRound(c, scale)

  /** Stopwords removed by the q92 normalization pass — the SAME set the
    * language-ID markers and the s9 quality gate use, so the
    * normalization and the gate can't silently desynchronize.
    */
  private val stop = Text.stopwordMarkers("en")

  /** q92_stopword_normalize — dedup impact of a normalization pass:
    * per source, distinct-document counts before vs after stopword
    * stripping, plus the token reduction. The standard pre-dedup
    * normalize step (C4/Gopher pipelines); the aggregation is
    * map-side combined, so the shuffle carries one row per source.
    */
  def q92StopwordNormalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"source", $"text", Text.tokens($"text").as("toks"))
      .select($"source", $"text", $"toks",
        filter($"toks", t => !t.isin(stop: _*)).as("kept"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5($"text")).as("n_distinct_raw"),
        countDistinct(md5(concat_ws(" ", $"kept"))).as("n_distinct_norm"),
        sum(size($"toks")).cast("long").as("tokens_raw"),
        sum(size($"kept")).cast("long").as("tokens_kept"))
  }

  val q92Sql: String =
    """WITH t AS (
      |  SELECT source, text,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |k AS (
      |  SELECT source, text, toks,
      |    list_filter(toks, x -> x NOT IN
      |      ('a','the','and','of','to','in','is','that')) AS kept
      |  FROM t)
      |SELECT source, count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_distinct_raw,
      |  count(DISTINCT md5(array_to_string(kept, ' '))) AS n_distinct_norm,
      |  CAST(sum(len(toks)) AS BIGINT) AS tokens_raw,
      |  CAST(sum(len(kept)) AS BIGINT) AS tokens_kept
      |FROM k GROUP BY source""".stripMargin

  /** q93_chunking — overlapping fixed-size token chunks (size 30,
    * stride 20), the training-example splitter. Chunk starts come from
    * a row-local sequence + explode; no shuffle at all until a
    * downstream consumer asks for one. The token array is materialized
    * in its OWN select before size()/explode() touch it (CollapseProject
    * re-evaluates expensive exprs planted next to a Generate otherwise).
    */
  def q93Chunking(spark: SparkSession, dir: String): DataFrame =
    chunks(Tables.documents(spark, dir))

  /** Shared chunker over any (doc_id, text, …) frame — used by batch
    * q93 and the s9 ingest stream, so ingest-time chunking equals
    * offline chunking by construction (every transform here is
    * stateless/row-local, hence streaming-safe unchanged).
    */
  def chunks(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
          lit(20))).as("start"))
      .select(col("doc_id"), (col("start") / 20).cast("long").as("chunk_idx"),
        slice(col("toks"), col("start") + 1, lit(30)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"), size(col("chunk")).as("n_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))

  val q93Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      |  FROM documents),
      |s AS (SELECT doc_id, tk, unnest(range(0, len(tk), 20)) AS start FROM t)
      |SELECT doc_id, start // 20 AS chunk_idx,
      |  len(tk[start + 1 : start + 30]) AS n_tokens,
      |  md5(array_to_string(tk[start + 1 : start + 30], ' ')) AS chunk_hash
      |FROM s""".stripMargin

  /** q94_contamination — eval-set leakage scan: documents sharing >= 3
    * distinct 3-token shingles with a held-out eval doc (doc_id % 97).
    *
    * One scan, one shuffle: the inverted index is grouped by shingle
    * ONCE, with the eval/corpus split carried as two posting arrays
    * inside the same aggregate; candidate pairs come from exploding
    * the (tiny) per-gram cross of those arrays. The document-frequency
    * cap bounds every posting list, so the explosion is ≤ df² per gram
    * — no window pass, no self-join, no recomputation of the shingle
    * scan per side. Shingling itself is the native ShingleSet
    * expression (one pass, one hash-set per row) — the HOF
    * slice+concat_ws formulation re-slices per position and was 10×
    * slower at sf0.1 (same lesson as q34/q40).
    */
  def q94Contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ex = Tables.documents(spark, dir)
      .select($"doc_id",
        graft.functions.TextExpressions.shingleSet($"text", 3).as("grams"))
      .select($"doc_id", explode($"grams").as("gram"))
    ex.groupBy($"gram")
      .agg(count(lit(1)).as("df"),
        collect_list(when($"doc_id" % 97 === 0, $"doc_id")).as("eval_ids"),
        collect_list(when($"doc_id" % 97 =!= 0, $"doc_id")).as("corpus_ids"))
      .filter($"df" <= 20 && size($"eval_ids") > 0 && size($"corpus_ids") > 0)
      .select(explode($"eval_ids").as("eval_id"), $"corpus_ids")
      .select($"eval_id", explode($"corpus_ids").as("corpus_id"))
      .groupBy($"eval_id", $"corpus_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 3)
  }

  val q94Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
      |         ELSE list_distinct([array_to_string(tk[i : i + 2], ' ')
      |           for i in range(1, len(tk) - 1)])
      |    END AS g
      |  FROM t),
      |ex AS (SELECT doc_id, unnest(g) AS gram FROM sh),
      |f AS (
      |  SELECT doc_id, gram FROM (
      |    SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df FROM ex)
      |  WHERE df <= 20)
      |SELECT a.doc_id AS eval_id, b.doc_id AS corpus_id, count(*) AS n_shared
      |FROM f a JOIN f b ON a.gram = b.gram
      |WHERE a.doc_id % 97 = 0 AND b.doc_id % 97 <> 0
      |GROUP BY a.doc_id, b.doc_id
      |HAVING count(*) >= 3""".stripMargin

  /** q95_posting_lists — inverted-index build: per token, document
    * frequency and the head (first 15 sorted doc_ids) of the posting
    * list. One explode + one map-side-combined aggregation. The csv
    * head keeps the oracle comparable; a full-scale index would write
    * the complete postings bucketed by token instead — and at 100 TB
    * stop-token postings must be banded or df-capped (q34's trick)
    * before anything collects them.
    */
  def q95PostingLists(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", Text.tokens($"text").as("toks"))
      .select($"doc_id", explode(array_distinct($"toks")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list($"doc_id")).as("ps"))
      .filter($"df" >= 5)
      .select($"token", $"df",
        array_join(transform(slice($"ps", 1, 15), _.cast("string")), ",")
          .as("postings_head"))
  }

  val q95Sql: String =
    """WITH ex AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(
      |      regexp_split_to_array(lower(trim(text)), '\s+'))) AS token
      |  FROM documents)
      |SELECT token, count(*) AS df,
      |  array_to_string(list(doc_id ORDER BY doc_id)[1:15], ',') AS postings_head
      |FROM ex GROUP BY token HAVING count(*) >= 5""".stripMargin

  /** q96_repetition — degenerate-text detector: distinct-bigram ratio
    * per document (low ratio = the doc repeats itself; the Gopher
    * repetition filters' core signal). Entirely row-local — scales as
    * a pure map.
    */
  def q96Repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", Text.tokens($"text").as("toks"))
      .filter(size($"toks") >= 2)
      .select($"doc_id", Text.wordShingles($"toks", 2).as("bi"))
      .select($"doc_id", size($"bi").as("n_bigrams"),
        size(array_distinct($"bi")).as("n_distinct"))
      .select($"doc_id", $"n_bigrams", $"n_distinct",
        decRound($"n_distinct" / $"n_bigrams", 4).as("distinct_ratio"))
      .withColumn("flag_repetitive", $"distinct_ratio" < 0.6)
  }

  /** q100_unigram_logprob — language-model-style quality score: the
    * per-document mean log-probability of its tokens under the
    * corpus's own unigram distribution (the cheap proxy for "does this
    * read like the corpus" used before real LM perplexity filters).
    * Two passes over one tokenization: frequency build (map-side
    * combined) and per-doc scoring; the corpus total rides in via a
    * broadcast scalar, the frequency table via a broadcast join — the
    * fact explode never reshuffles except for the final per-doc
    * aggregation.
    */
  def q100UnigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", Text.tokens($"text").as("toks"))
      .select($"doc_id", explode($"toks").as("token"))
    val freq = toks.groupBy($"token").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum($"cnt").as("total"))
    val lp = freq.crossJoin(broadcast(total))
      .select($"token",
        log($"cnt".cast("double") / $"total".cast("double")).as("lp"))
    toks.join(broadcast(lp), "token")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        decRound(avg($"lp"), 4).as("avg_logprob"))
  }

  val q100Sql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      |  FROM documents),
      |freq AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token),
      |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
      |lp AS (
      |  SELECT token, ln(CAST(cnt AS DOUBLE) / total) AS lp
      |  FROM freq, tot)
      |SELECT tk.doc_id, count(*) AS n_tokens,
      |  CAST(round(CAST(avg(lp.lp) AS DECIMAL(28,12)), 4) AS DOUBLE)
      |    AS avg_logprob
      |FROM tk JOIN lp ON tk.token = lp.token
      |GROUP BY tk.doc_id""".stripMargin

  /** q158_source_kl — corpus drift per source: KL(source ‖ corpus)
    * over add-one-smoothed unigram distributions. The textbook
    * formulation sums over the WHOLE vocabulary for every source — a
    * source×vocab cross product. This plan never builds it: the sum
    * over tokens ABSENT from a source collapses in closed form
    * (p_s is the constant 1/(n_s+V) there), so
    *   KL = Σ_present p_s·(ln p_s − ln p_g)
    *      + (1/(n_s+V))·((V−V_s)·ln(1/(n_s+V)) − (S_all − S_present)),
    * with S = Σ ln p_g. One token-keyed join (present terms) + one
    * broadcast of three corpus scalars — linear in corpus tokens at
    * any vocabulary size. The standard curation screen for "which
    * source stopped looking like the rest of the corpus".
    */
  def q158SourceKl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tk = Tables.documents(spark, dir)
      .select($"source", Text.tokens($"text").as("toks"))
      .select($"source", explode($"toks").as("token"))
    val g = tk.groupBy($"token").agg(count(lit(1)).as("cg"))
    // S_all = Σ ln p_g = Σ ln cg − V·ln N; carrying Σ ln cg instead of
    // Σ ln(cg/N) keeps the scalar pass independent of N's own agg
    val scal = g.agg(sum($"cg").as("ng"), count(lit(1)).as("v"),
      sum(log($"cg")).as("s_lncg_all"))
    val sc = tk.groupBy($"source", $"token").agg(count(lit(1)).as("cs"))
      .withColumn("ns", sum($"cs").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")))
    val present = sc.join(g, "token").crossJoin(broadcast(scal))
      .withColumn("ps", ($"cs" + 1).cast("double") /
        ($"ns" + $"v").cast("double"))
      .withColumn("lpg", log($"cg".cast("double") / $"ng".cast("double")))
      .groupBy($"source")
      .agg(first($"ns").as("n_tokens"), first($"v").as("v"),
        first($"ng").as("ng"), first($"s_lncg_all").as("s_lncg_all"),
        count(lit(1)).as("vs"),
        sum($"ps" * (log($"ps") - $"lpg")).as("kl_present"),
        sum(log($"cg")).as("s_lncg_present"))
    present
      .withColumn("q", lit(1.0) / ($"n_tokens" + $"v").cast("double"))
      // S_abs = S_all − S_present, each Σ ln cg − (count)·ln N
      .withColumn("s_abs", ($"s_lncg_all" - $"s_lncg_present") -
        ($"v" - $"vs").cast("double") * log($"ng".cast("double")))
      .select($"source", $"n_tokens",
        decRound($"kl_present" +
          $"q" * (($"v" - $"vs").cast("double") * log($"q") - $"s_abs"), 6)
          .as("kl"))
  }

  val q158Sql: String =
    """WITH tk AS (
      |  SELECT source,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      |  FROM documents),
      |g AS (SELECT token, count(*) AS cg FROM tk GROUP BY token),
      |scal AS (
      |  SELECT CAST(sum(cg) AS BIGINT) AS ng, count(*) AS v,
      |    sum(ln(cg)) AS s_lncg_all
      |  FROM g),
      |sc AS (
      |  SELECT source, token, count(*) AS cs FROM tk GROUP BY 1, 2),
      |scn AS (
      |  SELECT source, token, cs,
      |    CAST(sum(cs) OVER (PARTITION BY source) AS BIGINT) AS ns
      |  FROM sc),
      |pres AS (
      |  SELECT s.source, any_value(s.ns) AS n_tokens, any_value(c.v) AS v,
      |    any_value(c.ng) AS ng, any_value(c.s_lncg_all) AS s_lncg_all,
      |    count(*) AS vs,
      |    sum(((s.cs + 1) / CAST(s.ns + c.v AS DOUBLE)) *
      |        (ln((s.cs + 1) / CAST(s.ns + c.v AS DOUBLE)) -
      |         ln(g.cg / CAST(c.ng AS DOUBLE)))) AS kl_present,
      |    sum(ln(g.cg)) AS s_lncg_present
      |  FROM scn s JOIN g ON s.token = g.token CROSS JOIN scal c
      |  GROUP BY s.source)
      |SELECT source, n_tokens,
      |  CAST(round(CAST(kl_present +
      |    (1.0 / (n_tokens + v)) * ((v - vs) * ln(1.0 / (n_tokens + v)) -
      |      ((s_lncg_all - s_lncg_present) - (v - vs) * ln(CAST(ng AS DOUBLE))))
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS kl
      |FROM pres""".stripMargin

  /** q159_mixture_temperature — temperature-flattened sampling mixture
    * (the Pile/Gopher τ-scaling convention): per-source token shares
    * are raised to τ=0.7 and renormalized, up-weighting small sources
    * without letting any source dominate; `epochs` = temp_share /
    * raw_share is how many passes over each source one mixture epoch
    * implies (the oversampling-risk column reviewers actually read).
    * One scan → per-source agg → one broadcast scalar join; the
    * mixture table is source-cardinality-sized however big the corpus.
    */
  def q159MixtureTemperature(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.documents(spark, dir)
      .select($"source", size(Text.tokens($"text")).as("n"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n").cast("long").as("n_tokens"))
    // two scalar passes over the tiny per-source frame: total tokens,
    // then the τ-power normalizer (a single pass would nest aggregates)
    val tot = {
      val t = per.agg(sum($"n_tokens").cast("double").as("tot"))
      per.crossJoin(broadcast(t))
        .agg(first($"tot").as("tot"),
          sum(pow($"n_tokens".cast("double") / $"tot", lit(0.7))).as("z"))
    }
    per.crossJoin(broadcast(tot))
      .withColumn("share", $"n_tokens".cast("double") / $"tot")
      .withColumn("temp_share", pow($"share", lit(0.7)) / $"z")
      .select($"source", $"n_docs", $"n_tokens",
        decRound($"share", 6).as("share"),
        decRound($"temp_share", 6).as("temp_share"),
        decRound($"temp_share" / $"share", 4).as("epochs"))
  }

  val q159Sql: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\s+')))
      |      AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot FROM per),
      |z AS (
      |  SELECT sum(power(n_tokens / tot, 0.7)) AS z
      |  FROM per, tot)
      |SELECT source, n_docs, n_tokens,
      |  CAST(round(CAST(n_tokens / tot AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS share,
      |  CAST(round(CAST(power(n_tokens / tot, 0.7) / z AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS temp_share,
      |  CAST(round(CAST((power(n_tokens / tot, 0.7) / z) / (n_tokens / tot)
      |    AS DECIMAL(28,12)), 4) AS DOUBLE) AS epochs
      |FROM per, tot, z""".stripMargin

  /** q163_bm25_search — ranked keyword retrieval over the corpus: BM25
    * (Lucene's non-negative idf variant, k1=1.2, b=0.75) for a fixed
    * 3-term query, global top-10. The search-engine face of the q95
    * inverted index: term postings filter BEFORE any shuffle (only
    * docs containing a query term are ever scored — at 100 TB the
    * scored set is postings-sized, not corpus-sized), corpus scalars
    * (N, avgdl from an exact integer token-count sum) broadcast, and
    * the top-10 plans as TakeOrderedAndProject, never a full sort.
    * Ranking key is the 6dp-rounded score with doc_id tie-break, so
    * the emitted SET is deterministic across engines even where the
    * 3-term FP sum differs in the last ulp.
    */
  def q163Bm25Search(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Seq("spark", "window", "join")
    val base = Tables.documents(spark, dir)
      .select($"doc_id", Text.tokens($"text").as("toks"))
      .select($"doc_id", size($"toks").as("dl"), $"toks")
    val scal = base.agg(count(lit(1)).as("n_docs"),
      (sum($"dl").cast("double") / count(lit(1))).as("avgdl"))
    // the tf frame feeds BOTH the scorer and the df derivation: pin a
    // repartition on the (tiny, term-filtered) postings so the second
    // consumer replays the shuffle files (ReusedExchange, PlanSpec) —
    // the corpus tokenize+explode runs once, not once per consumer
    val tf = base
      .select($"doc_id", $"dl", explode($"toks").as("token"))
      .filter($"token".isin(terms: _*))
      .repartition(spark.sessionState.conf.numShufflePartitions,
        $"doc_id", $"dl", $"token")
      .groupBy($"doc_id", $"dl", $"token")
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfT = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfT), "token")
      .crossJoin(broadcast(scal))
      .withColumn("idf",
        log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0))
      .withColumn("contrib", $"idf" * $"tf" /
        ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"),
        decRound(sum($"contrib"), 6).as("bm25"))
      .orderBy($"bm25".desc, $"doc_id")
      .limit(10)
  }

  val q163Sql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |d AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
      |scal AS (
      |  SELECT count(*) AS n_docs,
      |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      |  FROM d),
      |tf AS (
      |  SELECT doc_id, dl, token, CAST(count(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM d)
      |  WHERE token IN ('spark', 'window', 'join')
      |  GROUP BY 1, 2, 3),
      |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |sc AS (
      |  SELECT tf.doc_id, count(*) AS n_terms,
      |    CAST(round(CAST(sum(
      |      ln((c.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0) * tf.tf /
      |      (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / c.avgdl)))
      |      AS DECIMAL(28,12)), 6) AS DOUBLE) AS bm25
      |  FROM tf JOIN dft ON tf.token = dft.token CROSS JOIN scal c
      |  GROUP BY tf.doc_id)
      |SELECT doc_id, n_terms, bm25 FROM sc
      |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  val q96Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))] AS bi
      |  FROM t WHERE len(tk) >= 2),
      |m AS (
      |  SELECT doc_id, len(bi) AS n_bigrams, len(list_distinct(bi)) AS n_distinct
      |  FROM b)
      |SELECT doc_id, n_bigrams, n_distinct,
      |  CAST(round(CAST(n_distinct / n_bigrams AS DECIMAL(28,12)), 4) AS DOUBLE)
      |    AS distinct_ratio,
      |  CAST(round(CAST(n_distinct / n_bigrams AS DECIMAL(28,12)), 4) AS DOUBLE)
      |    < 0.6 AS flag_repetitive
      |FROM m""".stripMargin

  /** q172_zipf_fit — per-source Zipf exponent: the OLS slope of
    * ln(freq) on ln(rank) over each source's top-100 tokens (natural
    * text sits near −1; a flat or broken slope flags templated /
    * machine-generated feeds before they pollute a training mix).
    * Tokenization is the SHARED q56 tokenizer (one convention across
    * the corpus family). Ranks are row_number by (freq DESC, token) —
    * deterministic on both engines, and the (rank, freq) pairs are
    * invariant under tie reordering, so the regression inputs are
    * bit-identical; the slope's co-moment accumulation drift is
    * absorbed by the 6dp round.
    *
    * Scale shape: token counting is the q56 vocab agg (linear,
    * one shuffle on token); the per-source rank window sorts
    * VOCABULARY-sized data per source partition, never the corpus;
    * everything after `rk <= 100` is constant-sized per source.
    */
  def q172ZipfFit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wr = Window.partitionBy($"source").orderBy($"n".desc, $"token")
    Tables.documents(spark, dir)
      .select($"source", explode(Text.tokens($"text")).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"source", $"token").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(wr))
      .filter($"rk" <= 100)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_ranks"),
        graft.functions.Num.decRound(
          regr_slope(log($"n".cast("double")), log($"rk".cast("double"))), 6)
          .as("zipf_slope"))
  }

  val q172Sql: String =
    """WITH t AS (
      |  SELECT source,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      |  FROM documents),
      |c AS (
      |  SELECT source, token, count(*) AS n
      |  FROM t WHERE token <> '' GROUP BY 1, 2),
      |r AS (
      |  SELECT source, token, n,
      |    row_number() OVER (PARTITION BY source ORDER BY n DESC, token) AS rk
      |  FROM c)
      |SELECT source, count(*) AS n_ranks,
      |  CAST(round(CAST(regr_slope(ln(CAST(n AS DOUBLE)),
      |    ln(CAST(rk AS DOUBLE))) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS zipf_slope
      |FROM r WHERE rk <= 100 GROUP BY 1""".stripMargin

  /** q177_heaps_curve — vocabulary growth in ingest order: the corpus
    * is cut into 10 fixed doc_id-range buckets, and each bucket
    * reports its token volume, its NEW type count (tokens whose first
    * corpus occurrence falls in the bucket), and the cumulative
    * totals — the Heaps-law curve that answers "is more crawl still
    * buying vocabulary?" (a flattening curve says no; its log-log
    * slope is Heaps' β). Pure INTEGER pipeline end to end: bucket
    * boundaries are integer arithmetic on doc_id (deterministic where
    * quantile bucketing would inherit engine percentile semantics),
    * first occurrence is min(doc_id) per token, and the cumulative
    * window runs over the CONSTANT 10-row bucket frame.
    *
    * Scale shape: one tokenize pass (the shared q56 tokenizer), one
    * (token) agg for first-docs, one (bucket) agg each for volumes
    * and new types, a 10-row cumulative window. Nothing downstream
    * of the token agg is corpus-sized.
    */
  def q177HeapsCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
    val bounds = d.agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
    // integer div (SQL `div`), not floor-of-double: exact at any id scale
    def bucket(idCol: String) =
      expr(s"least((($idCol - mn) * 10) div (mx - mn + 1), 9)")
    val toks = d.crossJoin(broadcast(bounds))
      .select(bucket("doc_id").as("bucket"), $"doc_id",
        explode(Text.tokens($"text")).as("token"))
      .filter(length($"token") > 0)
    val vol = toks.groupBy($"bucket").agg(count(lit(1)).as("n_tokens"))
    val novel = toks.groupBy($"token").agg(min($"doc_id").as("first_doc"))
      .crossJoin(broadcast(bounds))
      .groupBy(bucket("first_doc").as("bucket"))
      .agg(count(lit(1)).as("n_new_types"))
    val wCum = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vol.join(novel, Seq("bucket"), "full_outer")
      .select($"bucket", coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        coalesce($"n_new_types", lit(0L)).as("n_new_types"))
      .withColumn("cum_tokens", sum($"n_tokens").over(wCum))
      .withColumn("cum_types", sum($"n_new_types").over(wCum))
  }

  val q177Sql: String =
    """WITH s AS (
      |  SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
      |t AS (
      |  SELECT least((doc_id - (SELECT mn FROM s)) * 10 //
      |      ((SELECT mx FROM s) - (SELECT mn FROM s) + 1), 9) AS bucket,
      |    doc_id,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      |  FROM documents),
      |tk AS (SELECT * FROM t WHERE token <> ''),
      |vol AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
      |  FROM tk GROUP BY 1),
      |fd AS (
      |  SELECT token, min(doc_id) AS first_doc FROM tk GROUP BY 1),
      |nv AS (
      |  SELECT least((first_doc - (SELECT mn FROM s)) * 10 //
      |      ((SELECT mx FROM s) - (SELECT mn FROM s) + 1), 9) AS bucket,
      |    CAST(count(*) AS BIGINT) AS n_new_types
      |  FROM fd GROUP BY 1),
      |j AS (
      |  SELECT coalesce(v.bucket, n.bucket) AS bucket,
      |    coalesce(v.n_tokens, 0) AS n_tokens,
      |    coalesce(n.n_new_types, 0) AS n_new_types
      |  FROM vol v FULL OUTER JOIN nv n ON v.bucket = n.bucket)
      |SELECT CAST(bucket AS BIGINT) AS bucket, n_tokens, n_new_types,
      |  CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
      |  CAST(sum(n_new_types) OVER w AS BIGINT) AS cum_types
      |FROM j
      |WINDOW w AS (ORDER BY bucket
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** q192_tokenizer_fertility — per-language tokenizer cost profile:
    * whitespace tokens AND BPE-ish lexical tokens (letter runs / digit
    * runs / single symbols — the [[Text.lexTokens]] scheme q39 counts
    * with) per character, plus mean lexical-token length — the
    * fertility table that decides per-language sampling budgets before
    * pretraining (a language whose tokenizer explodes into 3× the
    * tokens per char eats 3× the context window for the same text).
    * EVERYTHING reduces as INTEGER sums (token counts, char counts,
    * token chars); the three ratios divide exact longs — deterministic
    * doubles on both engines, 6dp for presentation only.
    *
    * Scale shape: one row-local tokenize pass, one lang-keyed agg of
    * four longs — map-side combine, shuffle is |langs| rows.
    */
  def q192TokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"lang", length($"text").cast("long").as("n_chars"),
        size(filter(Text.tokens($"text"), t => length(t) > 0))
          .cast("long").as("n_ws"),
        Text.lexTokens($"text").as("lex"))
      .select($"lang", $"n_chars", $"n_ws",
        size($"lex").cast("long").as("n_lex"),
        aggregate($"lex", lit(0L), (acc, t) => acc + length(t))
          .as("lex_chars"))
    toks.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("chars"),
        sum($"n_ws").as("ws_tokens"),
        sum($"n_lex").as("lex_tokens"),
        sum($"lex_chars").as("lex_chars"))
      .filter($"chars" > 0L)
      .select($"lang", $"n_docs",
        graft.functions.Num.decRound(
          $"ws_tokens".cast("double") / $"chars".cast("double"), 6)
          .as("ws_per_char"),
        graft.functions.Num.decRound(
          $"lex_tokens".cast("double") / $"chars".cast("double"), 6)
          .as("lex_per_char"),
        graft.functions.Num.decRound(
          $"lex_chars".cast("double") /
            nullif($"lex_tokens", lit(0L)).cast("double"), 6)
          .as("avg_lex_len"))
  }

  val q192Sql: String =
    """WITH t AS (
      |  SELECT lang, CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)),
      |      '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_ws,
      |    regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')
      |      AS lex
      |  FROM documents),
      |s AS (
      |  SELECT lang, count(*) AS n_docs, sum(n_chars) AS chars,
      |    sum(n_ws) AS ws_tokens,
      |    sum(CAST(len(lex) AS BIGINT)) AS lex_tokens,
      |    sum(CAST(list_sum(list_transform(lex, x -> len(x)))
      |      AS BIGINT)) AS lex_chars
      |  FROM t GROUP BY 1)
      |SELECT lang, n_docs,
      |  CAST(round(CAST(CAST(ws_tokens AS DOUBLE) / CAST(chars AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS ws_per_char,
      |  CAST(round(CAST(CAST(lex_tokens AS DOUBLE) / CAST(chars AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS lex_per_char,
      |  CAST(round(CAST(CAST(lex_chars AS DOUBLE) /
      |    CAST(nullif(lex_tokens, 0) AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_lex_len
      |FROM s WHERE chars > 0""".stripMargin

  /** q185_bigram_perplexity — per-document perplexity under an add-½
    * smoothed corpus BIGRAM language model (the CCNet-style
    * perplexity filter, one modeling step past q100's corpus unigram
    * logprob): P(w₂|w₁) = (c(w₁w₂)+0.5)/(c(w₁)+0.5·V), per-doc
    * ppl = 2^(−mean log₂ P), flagged against a fixed threshold — the
    * standard screen that drops both gibberish (high ppl) and
    * degenerate repetition (anomalously low ppl) before pretraining.
    *
    * Scale shape: ONE tokenization pass feeds doc bigrams; the corpus
    * bigram/unigram count tables and the vocab scalar reduce from the
    * same pass and join back token-keyed (vocabulary-sized, never
    * corpus-sized); the per-doc agg is one doc-keyed reduction. The
    * only FP is the per-doc log₂ sum — 4dp-rounded on both engines.
    */
  /** (doc_id, w1, w2) bigram INSTANCES of a documents frame — the one
    * tokenization pass q185 and its streaming ledger twin (s46) share,
    * so the LM's event definition can never drift between them.
    */
  def docBigrams(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", Text.tokens($"text").as("ts"))
      .select($"doc_id", posexplode($"ts"))
      .select($"doc_id", $"col".as("w2"),
        lag($"col", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"pos")).as("w1"))
      .filter($"w1".isNotNull && length($"w1") > 0 && length($"w2") > 0)
      .select($"doc_id", $"w1", $"w2")
  }

  def q185BigramPerplexity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the bigram frame feeds four consumers; a hash(w1) pin was
    // MEASURED against the unpinned plan (the q175 suspicion) and
    // lost — the doc_id window exchange already anchors reuse and the
    // extra corpus-wide repartition costs more than the tokenize it
    // saves (1.4s vs 1.9s median warm at sf0.1) — so no pin here.
    // The doc scan is spread first (discovery-4, r16): documents.parquet
    // arrives as ONE split at bench scale, so the tokenize+posexplode
    // below it ran as a single task feeding the doc_id window exchange
    // (r17 QBench: warm 1.46 s ≈ the serial tokenize). One doc-sized
    // round-robin exchange buys full-width tokenization; no-op once the
    // scan has a split per core.
    val bi = docBigrams(graft.operators.Ann.spreadForCompute(
      Tables.documents(spark, dir)))
    val uniCnt = bi.groupBy($"w1").agg(count(lit(1)).as("c1"))
    val biCnt = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val vocab = bi.select($"w2").union(bi.select($"w1")).distinct()
      .agg(count(lit(1)).as("v"))
    bi.join(biCnt, Seq("w1", "w2"))
      .join(uniCnt, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("bits", -log(2.0,
        ($"c12".cast("double") + 0.5) /
          ($"c1".cast("double") + lit(0.5) * $"v".cast("double"))))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        graft.functions.Num.decRound(
          pow(lit(2.0), avg($"bits")), 4).as("ppl"))
      .withColumn("flag_outlier", $"ppl" > 10000.0 || $"ppl" < 10.0)
  }

  val q185Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w,
      |    unnest(generate_series(1, len(
      |      regexp_split_to_array(lower(trim(text)), '\s+')))) AS pos
      |  FROM documents),
      |bi AS (
      |  SELECT doc_id, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
      |    w AS w2
      |  FROM t WHERE w <> ''),
      |bf AS (SELECT * FROM bi WHERE w1 IS NOT NULL AND w1 <> ''),
      |uni AS (SELECT w1, count(*) AS c1 FROM bf GROUP BY 1),
      |bic AS (SELECT w1, w2, count(*) AS c12 FROM bf GROUP BY 1, 2),
      |vc AS (
      |  SELECT count(*) AS v FROM (
      |    SELECT w2 FROM bf UNION SELECT w1 FROM bf)),
      |sc AS (
      |  SELECT b.doc_id,
      |    -log2((CAST(c.c12 AS DOUBLE) + 0.5) /
      |      (CAST(u.c1 AS DOUBLE) + 0.5 * CAST(vc.v AS DOUBLE))) AS bits
      |  FROM bf b JOIN bic c ON c.w1 = b.w1 AND c.w2 = b.w2
      |       JOIN uni u ON u.w1 = b.w1 CROSS JOIN vc),
      |d AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(round(CAST(pow(2.0, avg(bits)) AS DECIMAL(28,12)), 4)
      |      AS DOUBLE) AS ppl
      |  FROM sc GROUP BY 1)
      |SELECT doc_id, n_bigrams, ppl,
      |  ppl > 10000.0 OR ppl < 10.0 AS flag_outlier
      |FROM d""".stripMargin

  /** q206_mixture_epochs — token-budget allocation with epoch caps
    * (two-pass water-filling): given per-source whitespace-token
    * counts T_i, target weights w_i ∝ √T_i (the α=0.5 flattening of
    * q159's temperature family), a budget B = 2 × ΣT_i and a TIGHT
    * 2.1-epoch repetition cap (the "never repeat a source much past
    * twice" rule — small sources hit it first since √T upweights them
    * per-token), allocate epochs e_i = min(cap, B·w_i/T_i), then
    * redistribute the leftover budget over the UNCAPPED sources
    * proportionally to their weights (one redistribution round — the
    * closed-form core of iterative water-filling). This is the
    * training-mixture planner that q140 (proportional counts) and
    * q159 (temperature) stop short of: it answers "how many epochs of
    * each source fit the budget without over-repeating any source".
    * Determinism: token counts are exact longs; √T lattices to 6dp
    * decimal and every cross-source sum runs on decimals (the 5-term
    * double sums an `over ()` window would otherwise accumulate in
    * engine-dependent order); the remaining arithmetic is identical
    * double ops on identical operands. Scale shape: one tokenization
    * pass (the one-pass discipline), then all logic on ≤|sources| rows.
    */
  def q206MixtureEpochs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"source",
        size(graft.functions.Text.tokens($"text")).cast("long").as("n_tok"))
      .groupBy($"source").agg(sum($"n_tok").as("t"))
    waterFill(tok, capEpochs = 2.1)
  }

  /** The allocation core of q206 over any (source, t: long) frame —
    * extracted so the cap/redistribute/re-cap branches can be pinned
    * on synthetic skew the organic corpus doesn't exhibit.
    */
  def waterFill(tok: DataFrame, capEpochs: Double): DataFrame = {
    import tok.sparkSession.implicits._
    import org.apache.spark.sql.types.DecimalType
    val cap = lit(capEpochs)
    val wAll = Window.partitionBy()
    val base = tok
      .withColumn("s6", decRound(sqrt($"t".cast("double")), 6)
        .cast(DecimalType(18, 6)))
      .withColumn("sw", sum($"s6").over(wAll))
      .withColumn("btot", sum($"t").over(wAll) * lit(2L))
      .withColumn("w", $"s6".cast("double") / $"sw".cast("double"))
      .withColumn("w12", decRound($"w", 12).cast(DecimalType(14, 12)))
      .withColumn("ideal",
        $"btot".cast("double") * $"w" / $"t".cast("double"))
      .withColumn("e1", least(cap, $"ideal"))
      .withColumn("a6", decRound($"e1" * $"t".cast("double"), 6)
        .cast(DecimalType(28, 6)))
    val redist = base
      .withColumn("leftover",
        $"btot".cast("double") - sum($"a6").over(wAll).cast("double"))
      .withColumn("uw",
        sum(when($"e1" < cap, $"w12")).over(wAll).cast("double"))
      .withColumn("e2",
        when($"e1" < cap && $"uw" > 0.0 && $"leftover" > 0.0,
          least(cap, $"e1" +
            $"leftover" * ($"w12".cast("double") / $"uw") /
              $"t".cast("double")))
          .otherwise($"e1"))
    redist.select($"source", $"t".as("tokens"),
      decRound($"w", 6).as("weight"),
      decRound($"e1", 6).as("epochs_pass1"),
      decRound($"e2", 6).as("epochs_final"),
      decRound($"e2" * $"t".cast("double"), 2).as("alloc_tokens"))
  }

  val q206Sql: String =
    """WITH tok AS (
      |  SELECT source,
      |    CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\s+')))
      |      AS BIGINT) AS t
      |  FROM documents GROUP BY 1),
      |b AS (
      |  SELECT source, t,
      |    CAST(round(CAST(sqrt(CAST(t AS DOUBLE)) AS DECIMAL(28,12)), 6)
      |      AS DECIMAL(18,6)) AS s6
      |  FROM tok),
      |b2 AS (
      |  SELECT source, t, s6,
      |    sum(s6) OVER () AS sw,
      |    (sum(t) OVER ()) * 2 AS btot
      |  FROM b),
      |b3 AS (
      |  SELECT source, t, btot,
      |    CAST(s6 AS DOUBLE) / CAST(sw AS DOUBLE) AS w
      |  FROM b2),
      |b4 AS (
      |  SELECT source, t, btot, w,
      |    CAST(round(CAST(w AS DECIMAL(28,12)), 12) AS DECIMAL(14,12))
      |      AS w12,
      |    least(2.1, CAST(btot AS DOUBLE) * w / CAST(t AS DOUBLE)) AS e1
      |  FROM b3),
      |b5 AS (
      |  SELECT source, t, btot, w, w12, e1,
      |    CAST(round(CAST(e1 * CAST(t AS DOUBLE) AS DECIMAL(28,12)), 6)
      |      AS DECIMAL(28,6)) AS a6
      |  FROM b4),
      |b6 AS (
      |  SELECT source, t, w, w12, e1,
      |    CAST(btot AS DOUBLE) - CAST(sum(a6) OVER () AS DOUBLE)
      |      AS leftover,
      |    CAST(sum(CASE WHEN e1 < 2.1 THEN w12 END) OVER () AS DOUBLE)
      |      AS uw
      |  FROM b5),
      |b7 AS (
      |  SELECT source, t, w, e1,
      |    CASE WHEN e1 < 2.1 AND uw > 0.0 AND leftover > 0.0
      |      THEN least(2.1, e1 + leftover * (CAST(w12 AS DOUBLE) / uw)
      |        / CAST(t AS DOUBLE))
      |      ELSE e1 END AS e2
      |  FROM b6)
      |SELECT source, t AS tokens,
      |  CAST(round(CAST(w AS DECIMAL(28,12)), 6) AS DOUBLE) AS weight,
      |  CAST(round(CAST(e1 AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS epochs_pass1,
      |  CAST(round(CAST(e2 AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS epochs_final,
      |  CAST(round(CAST(e2 * CAST(t AS DOUBLE) AS DECIMAL(28,12)), 2)
      |    AS DOUBLE) AS alloc_tokens
      |FROM b7""".stripMargin

  /** q234_boilerplate — template/boilerplate detection per source: a
    * word-bigram shingle is BOILERPLATE within its source when its
    * document frequency reaches 16% of the source's docs (and ≥ 2
    * absolute) — navigation chrome, license headers, footer templates
    * repeat across a crawl source while body text doesn't; each doc's
    * boilerplate ratio is the boilerplate share of its DISTINCT
    * shingles, rolled up per source with the high-boilerplate doc
    * share (ratio > 0.3) — the crawl-curation signal that decides
    * which sources need template-stripping before training (df-based
    * boilerplate is the C4/CCNet-family heuristic; q161 measures
    * cross-corpus novelty, q94 eval contamination — this measures
    * WITHIN-source repetition structure). One tokenization pass;
    * the df count rides a (source, gram) window and the per-doc
    * rollup a (source, doc) aggregation — the token stream is
    * exchanged twice and never joined against itself; the df table is
    * vocabulary-bounded at any corpus size. Determinism: counts and
    * the 16% threshold are pure integer arithmetic, ratios are one
    * exact division latticed at 6dp (DECIMAL(18,6)), the >0.3 flag
    * compares the lattice against an exact decimal literal, means
    * are exact decimal sums divided once in IEEE double.
    */
  def q234Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val docs = Tables.documents(spark, dir)
    // spread the single-split doc scan before the shingle explode
    // (discovery-4, r16): the whole shingling pass otherwise runs as
    // one task under the (source, gram) window exchange — no-op once
    // the scan has a split per core
    val grams = graft.operators.Ann.spreadForCompute(docs)
      .select($"doc_id", $"source",
        graft.functions.TextExpressions.shingleSet($"text", 2).as("g"))
      .select($"doc_id", $"source", size($"g").as("n_g"),
        explode($"g").as("gram"))
    val nDocs = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val wG = Window.partitionBy($"source", $"gram")
    val flagged = grams
      .join(broadcast(nDocs), Seq("source"))
      .withColumn("df", count(lit(1)).over(wG))
      .withColumn("is_bp", $"df" * 100 >= $"n_docs" * 16 && $"df" >= 2)
    val perDoc = flagged
      .groupBy($"source", $"doc_id", $"n_g")
      .agg(sum(when($"is_bp", 1L).otherwise(0L)).as("n_bp"))
      .withColumn("ratio6",
        decRound($"n_bp".cast("double") / $"n_g".cast("double"), 6)
          .cast(DecimalType(18, 6)))
    val bpGrams = flagged.groupBy($"source")
      .agg(countDistinct(when($"is_bp", $"gram")).as("n_bp_grams"))
    perDoc.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"ratio6" > lit(new java.math.BigDecimal("0.3")), 1L)
          .otherwise(0L)).as("n_hi"),
        sum($"ratio6").as("sratio"))
      .join(bpGrams, Seq("source"))
      .select($"source", $"n_docs", $"n_bp_grams",
        decRound($"sratio".cast("double") / $"n_docs".cast("double"), 6)
          .as("mean_bp_ratio"),
        decRound($"n_hi".cast("double") / $"n_docs".cast("double"), 6)
          .as("hi_share"))
  }

  val q234Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, source,
      |    CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
      |         ELSE list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))])
      |    END AS g
      |  FROM toks),
      |ex AS (
      |  SELECT doc_id, source, len(g) AS n_g, unnest(g) AS gram
      |  FROM grams),
      |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      |f AS (
      |  SELECT ex.doc_id, ex.source, ex.n_g, ex.gram, nd.n_docs,
      |    count(*) OVER (PARTITION BY ex.source, ex.gram) AS df
      |  FROM ex JOIN nd ON nd.source = ex.source),
      |fb AS (
      |  SELECT *, (df * 100 >= n_docs * 16 AND df >= 2) AS is_bp FROM f),
      |pd AS (
      |  SELECT source, doc_id, n_g,
      |    sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS n_bp
      |  FROM fb GROUP BY 1, 2, 3),
      |pr AS (
      |  SELECT source, doc_id,
      |    CAST(round(CAST(CAST(n_bp AS DOUBLE) / CAST(n_g AS DOUBLE)
      |      AS DECIMAL(28,12)), 6) AS DECIMAL(18,6)) AS ratio6
      |  FROM pd),
      |bg AS (
      |  SELECT source,
      |    CAST(count(DISTINCT CASE WHEN is_bp THEN gram END) AS BIGINT)
      |      AS n_bp_grams
      |  FROM fb GROUP BY 1),
      |r AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN ratio6 > 0.3 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_hi,
      |    sum(ratio6) AS sratio
      |  FROM pr GROUP BY 1)
      |SELECT r.source, r.n_docs, bg.n_bp_grams,
      |  CAST(round(CAST(CAST(sratio AS DOUBLE) / CAST(r.n_docs AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS mean_bp_ratio,
      |  CAST(round(CAST(CAST(n_hi AS DOUBLE) / CAST(r.n_docs AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS hi_share
      |FROM r JOIN bg ON bg.source = r.source""".stripMargin

  /** q238_gopher_rules — the Gopher/MassiveText document-quality rule
    * census per source (Rae et al. 2021 §A.1.1, the filter battery
    * most LLM corpus pipelines start from), restricted to the rules
    * this token-level corpus can express: word count ∈ [50, 100k],
    * mean word length ∈ [3, 10], ≥ 80% of words contain an alphabetic
    * character, ≥ 2 stopwords from the 8-marker set (the same
    * markers q37/q38/q92 share — one definition engine-wide). Emits
    * the per-source pass share plus the per-rule failure counts — the
    * tuning view that says WHICH rule is doing the filtering before
    * anyone ships a threshold change (q38 scores documents; this
    * turns the scores into the curation DECISION census). One
    * tokenization pass, one map-side-combined rollup: the shuffle
    * carries one row per source. Determinism: every rule compares
    * INTEGERS (mean word length as 3·n ≤ Σlen ≤ 10·n, the alpha share
    * as 10·n_alpha ≥ 8·n — no FP division anywhere near a threshold);
    * the pass share is one exact division latticed at 6dp.
    */
  def q238GopherRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val markers = Seq("the", "a", "of", "and", "to", "in", "is", "that")
    val toks = split(lower(trim($"text")), "\\s+")
    val n = size(toks).cast("long")
    val sumLen = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val nAlpha = size(filter(toks, t => t.rlike("[a-z]"))).cast("long")
    val nStop = size(filter(toks, t => t.isin(markers: _*))).cast("long")
    val d = Tables.documents(spark, dir)
      .select($"source",
        (n >= 50L && n <= 100000L).as("r_wordcount"),
        (sumLen >= lit(3L) * n && sumLen <= lit(10L) * n)
          .as("r_wordlen"),
        (lit(10L) * nAlpha >= lit(8L) * n).as("r_alpha"),
        (nStop >= 2L).as("r_stopwords"))
      .withColumn("pass",
        $"r_wordcount" && $"r_wordlen" && $"r_alpha" && $"r_stopwords")
    d.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"pass", 1L).otherwise(0L)).as("n_pass"),
        sum(when(!$"r_wordcount", 1L).otherwise(0L)).as("fail_wordcount"),
        sum(when(!$"r_wordlen", 1L).otherwise(0L)).as("fail_wordlen"),
        sum(when(!$"r_alpha", 1L).otherwise(0L)).as("fail_alpha"),
        sum(when(!$"r_stopwords", 1L).otherwise(0L)).as("fail_stopwords"))
      .withColumn("pass_share",
        decRound($"n_pass".cast("double") / $"n_docs".cast("double"), 6))
  }

  val q238Sql: String =
    """WITH t AS (
      |  SELECT source,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |m AS (
      |  SELECT source,
      |    CAST(len(toks) AS BIGINT) AS n,
      |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
      |      AS sumlen,
      |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
      |      AS BIGINT) AS n_alpha,
      |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and',
      |      'to','in','is','that'))) AS BIGINT) AS n_stop
      |  FROM t),
      |r AS (
      |  SELECT source,
      |    (n >= 50 AND n <= 100000) AS r_wordcount,
      |    (sumlen >= 3 * n AND sumlen <= 10 * n) AS r_wordlen,
      |    (10 * n_alpha >= 8 * n) AS r_alpha,
      |    (n_stop >= 2) AS r_stopwords
      |  FROM m),
      |g AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN r_wordcount AND r_wordlen AND r_alpha
      |      AND r_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |    CAST(sum(CASE WHEN NOT r_wordcount THEN 1 ELSE 0 END)
      |      AS BIGINT) AS fail_wordcount,
      |    CAST(sum(CASE WHEN NOT r_wordlen THEN 1 ELSE 0 END)
      |      AS BIGINT) AS fail_wordlen,
      |    CAST(sum(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END)
      |      AS BIGINT) AS fail_alpha,
      |    CAST(sum(CASE WHEN NOT r_stopwords THEN 1 ELSE 0 END)
      |      AS BIGINT) AS fail_stopwords
      |  FROM r GROUP BY 1)
      |SELECT source, n_docs, n_pass, fail_wordcount, fail_wordlen,
      |  fail_alpha, fail_stopwords,
      |  CAST(round(CAST(CAST(n_pass AS DOUBLE)
      |    / CAST(n_docs AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS pass_share
      |FROM g""".stripMargin

  /** q244_flesch — Flesch readability census per source: per doc,
    * words (the q238 whitespace tokenization), sentences (runs of
    * [.!?], min 1 — the synthetic corpus carries no terminal
    * punctuation, so every doc reads as one sentence and the census
    * degenerates gracefully), syllables (vowel-group heuristic
    * [aeiouy]+ per word, min 1 — the standard cheap estimator);
    * Flesch reading ease = 206.835 − 1.015·(w/s) − 84.6·(syll/w) and
    * Flesch–Kincaid grade = 0.39·(w/s) + 11.8·(syll/w) − 15.59,
    * averaged per source — the readability tier a curation pipeline
    * buckets by before mixing (q238 gates on structure, this scores
    * reading level). Scale: one row-local tokenize pass (higher-order
    * array ops, NO explode — the corpus never shuffles at token
    * grain), one map-side-combined source rollup — 1 exchange.
    * Determinism: w/s/syll are INTEGER sums; each per-doc score is a
    * fixed IEEE expression over two integer ratios, latticed to 6dp
    * decimal; source means reduce exact decimal sums and divide once.
    *
    * Ref: Flesch (1948); Kincaid et al. (1975).
    */
  def q244Flesch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val toks = split(lower(trim($"text")), "\\s+")
    val w = size(toks).cast("long")
    val sent = greatest(lit(1L),
      regexp_count($"text", lit("[.!?]+")).cast("long"))
    val syll = aggregate(transform(toks,
        t => greatest(lit(1L), regexp_count(t, lit("[aeiouy]+")).cast("long"))),
      lit(0L), (acc, x) => acc + x)
    val d = Tables.documents(spark, dir)
      .select($"source", w.as("w"), sent.as("s"), syll.as("y"))
      .withColumn("wps", $"w".cast("double") / $"s".cast("double"))
      .withColumn("ypw", $"y".cast("double") / $"w".cast("double"))
      .withColumn("ease",
        decRound(lit(206.835) - lit(1.015) * $"wps"
          - lit(84.6) * $"ypw", 6).cast(DecimalType(18, 6)))
      .withColumn("grade",
        decRound(lit(0.39) * $"wps" + lit(11.8) * $"ypw"
          - lit(15.59), 6).cast(DecimalType(18, 6)))
    val m = d.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"w").as("sw"), sum($"s").as("ss"), sum($"y").as("sy"),
        sum($"ease").cast(DecimalType(28, 6)).as("se"),
        sum($"grade").cast(DecimalType(28, 6)).as("sg"))
    val nD = $"n_docs".cast("double")
    m.select($"source", $"n_docs",
      decRound($"se".cast("double") / nD, 6).as("avg_ease"),
      decRound($"sg".cast("double") / nD, 6).as("avg_grade"),
      decRound($"sy".cast("double") / $"sw".cast("double"), 6)
        .as("syll_per_word"),
      decRound($"sw".cast("double") / $"ss".cast("double"), 6)
        .as("words_per_sentence"))
  }

  val q244Sql: String =
    """WITH t AS (
      |  SELECT source, text,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |m0 AS (
      |  SELECT source,
      |    CAST(len(toks) AS BIGINT) AS w,
      |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
      |      AS BIGINT)) AS s,
      |    CAST(list_sum(list_transform(toks, x ->
      |      greatest(1, len(regexp_extract_all(x, '[aeiouy]+')))))
      |      AS BIGINT) AS y
      |  FROM t),
      |d AS (
      |  SELECT source, w, s, y,
      |    CAST(w AS DOUBLE) / CAST(s AS DOUBLE) AS wps,
      |    CAST(y AS DOUBLE) / CAST(w AS DOUBLE) AS ypw
      |  FROM m0),
      |e AS (
      |  SELECT source, w, s, y,
      |    CAST(CAST(round(CAST(206.835 - 1.015 * wps - 84.6 * ypw
      |      AS DECIMAL(28,12)), 6) AS DOUBLE) AS DECIMAL(18,6)) AS ease,
      |    CAST(CAST(round(CAST(0.39 * wps + 11.8 * ypw - 15.59
      |      AS DECIMAL(28,12)), 6) AS DOUBLE) AS DECIMAL(18,6)) AS grade
      |  FROM d),
      |g AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(w) AS BIGINT) AS sw, CAST(sum(s) AS BIGINT) AS ss,
      |    CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(ease) AS DECIMAL(28,6)) AS se,
      |    CAST(sum(grade) AS DECIMAL(28,6)) AS sg
      |  FROM e GROUP BY 1)
      |SELECT source, n_docs,
      |  CAST(round(CAST(CAST(se AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_ease,
      |  CAST(round(CAST(CAST(sg AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_grade,
      |  CAST(round(CAST(CAST(sy AS DOUBLE) / CAST(sw AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS syll_per_word,
      |  CAST(round(CAST(CAST(sw AS DOUBLE) / CAST(ss AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS words_per_sentence
      |FROM g""".stripMargin

  /** q252_ari_cli — Automated Readability Index (Senter & Smith
    * 1967) + Coleman–Liau (1975) census per source: both estimate a
    * grade level from CHARACTER counts instead of q244's syllable
    * heuristic (the reason they exist — characters are
    * tokenizer-stable): ARI = 4.71·(C/W) + 0.5·(W/S) − 21.43,
    * CLI = 0.0588·L − 0.296·S₁₀₀ − 15.8 with L = 100·C/W and S₁₀₀ =
    * 100·S/W, C = alphanumeric chars. Scale: row-local tokenize (the
    * q244 discipline — NO explode, the corpus never shuffles at token
    * grain), one map-side-combined source rollup (plan-pinned 1
    * exchange, Generate-free). Determinism: C/W/S are PURE INTEGERS
    * (sentences floor at 1, the q244 degenerate-corpus rule); each
    * per-doc score is a fixed IEEE affine over two integer ratios,
    * latticed 6dp into DECIMAL(18,6); source means reduce as exact
    * decimal sums with ONE final IEEE division.
    */
  def q252AriCli(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val toks = Text.tokens($"text")
    val w = size(toks).cast("long")
    val sent = greatest(lit(1L),
      regexp_count($"text", lit("[.!?]+")).cast("long"))
    val chars = aggregate(transform(toks,
        t => length(regexp_replace(t, "[^a-z0-9]", "")).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val d = Tables.documents(spark, dir)
      .select($"source", w.as("w"), sent.as("s"), chars.as("ch"))
      .filter($"w" > 0L)
      .withColumn("cpw", $"ch".cast("double") / $"w".cast("double"))
      .withColumn("wps", $"w".cast("double") / $"s".cast("double"))
      .withColumn("ari",
        decRound(lit(4.71) * $"cpw" + lit(0.5) * $"wps" - lit(21.43), 6)
          .cast(DecimalType(18, 6)))
      .withColumn("cli",
        decRound(lit(0.0588) * (lit(100.0) * $"cpw")
          - lit(0.296) * (lit(100.0) * $"s".cast("double")
            / $"w".cast("double")) - lit(15.8), 6)
          .cast(DecimalType(18, 6)))
    val m = d.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"ch").as("sc"), sum($"w").as("sw"),
        sum($"ari").cast(DecimalType(28, 6)).as("sa"),
        sum($"cli").cast(DecimalType(28, 6)).as("sl"))
    val nD = $"n_docs".cast("double")
    m.select($"source", $"n_docs",
      decRound($"sa".cast("double") / nD, 6).as("avg_ari"),
      decRound($"sl".cast("double") / nD, 6).as("avg_cli"),
      decRound($"sc".cast("double") / $"sw".cast("double"), 6)
        .as("chars_per_word"))
  }

  val q252Sql: String =
    """WITH t AS (
      |  SELECT source, text,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |m0 AS (
      |  SELECT source,
      |    CAST(len(toks) AS BIGINT) AS w,
      |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
      |      AS BIGINT)) AS s,
      |    CAST(list_sum(list_transform(toks, x ->
      |      len(regexp_replace(x, '[^a-z0-9]', '', 'g')))) AS BIGINT)
      |      AS ch
      |  FROM t),
      |d AS (
      |  SELECT source, w, s, ch,
      |    CAST(ch AS DOUBLE) / CAST(w AS DOUBLE) AS cpw,
      |    CAST(w AS DOUBLE) / CAST(s AS DOUBLE) AS wps
      |  FROM m0 WHERE w > 0),
      |e AS (
      |  SELECT source, w, s, ch,
      |    CAST(CAST(round(CAST(4.71 * cpw + 0.5 * wps - 21.43
      |      AS DECIMAL(28,12)), 6) AS DOUBLE) AS DECIMAL(18,6)) AS ari,
      |    CAST(CAST(round(CAST(0.0588 * (100.0 * cpw)
      |      - 0.296 * (100.0 * CAST(s AS DOUBLE) / CAST(w AS DOUBLE))
      |      - 15.8 AS DECIMAL(28,12)), 6) AS DOUBLE) AS DECIMAL(18,6))
      |      AS cli
      |  FROM d),
      |g AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(ch) AS BIGINT) AS sc, CAST(sum(w) AS BIGINT) AS sw,
      |    CAST(sum(ari) AS DECIMAL(28,6)) AS sa,
      |    CAST(sum(cli) AS DECIMAL(28,6)) AS sl
      |  FROM e GROUP BY 1)
      |SELECT source, n_docs,
      |  CAST(round(CAST(CAST(sa AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_ari,
      |  CAST(round(CAST(CAST(sl AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS avg_cli,
      |  CAST(round(CAST(CAST(sc AS DOUBLE) / CAST(sw AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS chars_per_word
      |FROM g""".stripMargin

  /** q253_ttr — lexical-diversity census per source: type–token
    * ratio V/N, hapax share (types seen ONCE — the Zipf tail mass
    * q172 fits a slope through), and mean type frequency N/V — the
    * vocabulary-health read next to q177's growth curve (repetitive
    * or templated sources show depressed TTR and hapax share long
    * before a dedup rule fires; q96 measures WITHIN-doc repetition,
    * this measures cross-corpus lexical spread). Scale: one
    * tokenization pass, then the (source, token) count rides ONE
    * map-side-combined exchange and the per-source rollup a second —
    * the token stream is never self-joined and never re-shuffled at
    * doc grain (the q56/q172 discipline). Determinism: N, V, H are
    * PURE INTEGERS; the three ratios are single IEEE divisions on
    * converged integers, latticed 6dp.
    */
  def q253Ttr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Tables.documents(spark, dir)
      .select($"source", explode(Text.tokens($"text")).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"source", $"token").agg(count(lit(1)).as("n"))
      .groupBy($"source")
      .agg(sum($"n").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when($"n" === 1L, 1L).otherwise(0L)).as("n_hapax"))
    m.select($"source", $"n_tokens", $"n_types", $"n_hapax",
      decRound($"n_types".cast("double") / $"n_tokens".cast("double"), 6)
        .as("ttr"),
      decRound($"n_hapax".cast("double") / $"n_types".cast("double"), 6)
        .as("hapax_share"),
      decRound($"n_tokens".cast("double") / $"n_types".cast("double"), 6)
        .as("mean_type_freq"))
  }

  val q253Sql: String =
    """WITH t AS (
      |  SELECT source,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      |  FROM documents),
      |c AS (
      |  SELECT source, token, count(*) AS n
      |  FROM t WHERE token <> '' GROUP BY 1, 2),
      |m AS (
      |  SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
      |    CAST(count(*) AS BIGINT) AS n_types,
      |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_hapax
      |  FROM c GROUP BY 1)
      |SELECT source, n_tokens, n_types, n_hapax,
      |  CAST(round(CAST(CAST(n_types AS DOUBLE)
      |    / CAST(n_tokens AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS ttr,
      |  CAST(round(CAST(CAST(n_hapax AS DOUBLE)
      |    / CAST(n_types AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS hapax_share,
      |  CAST(round(CAST(CAST(n_tokens AS DOUBLE)
      |    / CAST(n_types AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS mean_type_freq
      |FROM m""".stripMargin

  /** q275_perplexity_filter — the CCNet/Wenzek-style perplexity-filter
    * census: score every document by its mean unigram log-probability
    * under the corpus's own LM (the cheap proxy for a KenLM
    * perplexity), cut the corpus into ten VALUE-BASED deciles, and
    * report per (source, decile) what a filter keeping the best k
    * deciles would retain — doc counts, share of the source, mean
    * score, and total chars. The curation read that q100 (per-doc
    * score) and q238 (rule census) both stop short of: WHERE the
    * threshold would actually cut, per source. Scale — the decile
    * machinery is the new pattern: a global exact quantile normally
    * needs a tape-wide sort, so the score LATTICES to 6dp and the
    * thresholds come from a TWO-PASS HISTOGRAM — groupBy(score) to a
    * ≤|lattice-cardinality| frame, ONE single-partition cumulative
    * window over that reduced frame (the q254/q268 discipline, never
    * the corpus), ceil-rank picks via pure integer arithmetic, and a
    * 9-row broadcast back onto the docs (decile = 10 − #thresholds ≥
    * score — order-independent). Determinism: token logprobs lattice
    * 12dp so per-doc sums reduce exactly; the per-doc mean is one
    * IEEE division latticed 6dp (|m| ≤ ~15 → 8 significant digits,
    * deep inside the agreement zone); threshold ranks are exact
    * integer ceil divisions ((d·N+9) div 10); group means reduce as
    * exact decimal sums of the latticed scores.
    *
    * Ref: Wenzek et al. (2020) CCNet, §4.2 perplexity bucketing.
    */
  def q275PerplexityFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"n_chars", Text.tokens($"text").as("toks"))
    val toks = docs.select($"doc_id", explode($"toks").as("token"))
    val freq = toks.groupBy($"token").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum($"cnt").as("total"))
    val lp = freq.crossJoin(broadcast(total))
      .select($"token",
        decRound(log($"cnt".cast("double") / $"total".cast("double")), 12)
          .cast(DecimalType(18, 12)).as("lp"))
    val perdoc = toks.join(broadcast(lp), "token")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum($"lp").cast(DecimalType(28, 10)).as("slp"))
      .join(docs.select($"doc_id", $"source", $"n_chars"), "doc_id")
      .select($"doc_id", $"source", $"n_chars",
        decRound($"slp".cast("double") / $"n_tokens".cast("double"), 6)
          .cast(DecimalType(18, 6)).as("m"))
    // two-pass histogram quantiles: the cumulative window runs over
    // the REDUCED distinct-score frame, never the corpus
    val hist = perdoc.groupBy($"m").agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy($"m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum($"c").over(wCum))
      .withColumn("n", sum($"c").over(Window.partitionBy()))
    val ds = spark.range(1, 10).select($"id".as("d"))
    val th = cum.crossJoin(broadcast(ds))
      .filter($"cum" >= expr("(d * n + 9) div 10"))
      .groupBy($"d").agg(min($"m").as("t"))
    val assigned = perdoc.crossJoin(broadcast(th))
      .groupBy($"doc_id", $"source", $"n_chars", $"m")
      .agg((lit(10L) - sum(when($"m" <= $"t", 1L).otherwise(0L)))
        .as("decile"))
    val g = assigned.groupBy($"source", $"decile")
      .agg(count(lit(1)).as("n_docs"),
        sum($"m").cast(DecimalType(28, 6)).as("sm"),
        sum($"n_chars").as("total_chars"))
    val wSrc = Window.partitionBy($"source")
    g.withColumn("src_docs", sum($"n_docs").over(wSrc))
      .select($"source", $"decile", $"n_docs",
        decRound($"n_docs".cast("double") / $"src_docs".cast("double"), 6)
          .as("share_of_source"),
        decRound($"sm".cast("double") / $"n_docs".cast("double"), 6)
          .as("mean_logprob"),
        $"total_chars")
  }

  val q275Sql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      |  FROM documents),
      |freq AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token),
      |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
      |lp AS (
      |  SELECT token,
      |    CAST(round(CAST(ln(CAST(cnt AS DOUBLE) / total)
      |      AS DECIMAL(28,12)), 12) AS DECIMAL(18,12)) AS lp
      |  FROM freq, tot),
      |pd0 AS (
      |  SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(round(sum(lp.lp), 10) AS DECIMAL(28,10)) AS slp
      |  FROM tk JOIN lp ON tk.token = lp.token
      |  GROUP BY tk.doc_id),
      |pd AS (
      |  SELECT d.doc_id, d.source, d.n_chars,
      |    CAST(CAST(round(CAST(CAST(slp AS DOUBLE)
      |      / CAST(n_tokens AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |      AS DECIMAL(18,6)) AS m
      |  FROM pd0 JOIN documents d ON pd0.doc_id = d.doc_id),
      |hist AS (SELECT m, count(*) AS c FROM pd GROUP BY m),
      |cum AS (
      |  SELECT m,
      |    sum(c) OVER (ORDER BY m
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(c) OVER () AS n
      |  FROM hist),
      |ds AS (SELECT unnest(range(1, 10)) AS d),
      |th AS (
      |  SELECT d, min(m) AS t
      |  FROM cum CROSS JOIN ds
      |  WHERE cum >= (d * n + 9) // 10
      |  GROUP BY d),
      |asn AS (
      |  SELECT pd.doc_id, pd.source, pd.n_chars, pd.m,
      |    10 - sum(CASE WHEN pd.m <= th.t THEN 1 ELSE 0 END) AS decile
      |  FROM pd CROSS JOIN th
      |  GROUP BY 1, 2, 3, 4),
      |g AS (
      |  SELECT source, CAST(decile AS BIGINT) AS decile,
      |    CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(m) AS DECIMAL(28,6)) AS sm,
      |    CAST(sum(n_chars) AS BIGINT) AS total_chars
      |  FROM asn GROUP BY 1, 2)
      |SELECT source, decile, n_docs,
      |  CAST(round(CAST(CAST(n_docs AS DOUBLE)
      |    / CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS share_of_source,
      |  CAST(round(CAST(CAST(sm AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS mean_logprob,
      |  total_chars
      |FROM g""".stripMargin

  /** q286_padding_waste — the sequence-assembly cost census per
    * source at max_seq_len = 512: how many training sequences and how
    * much pad waste the corpus costs under the two ends of the
    * packing spectrum — PER-DOC PADDING (each document chunked to
    * ⌈tok/512⌉ sequences, last one padded: zero cross-doc attention
    * contamination, maximal waste) vs CONCAT-AND-CHUNK (documents
    * span boundaries: ⌈Σtok/512⌉ sequences, waste only in the final
    * chunk — q123's greedy bins sit between the two). The padded-vs-
    * concat waste gap IS the budget argument for packing; read next
    * to q123 (bin census) and q206 (epoch water-filling). Scale: one
    * tokenization pass, one map-side-combined rollup — the shuffle
    * carries one row per source (the q238 shape, plan-pinned 1).
    * Determinism: every sequence count and waste column is PURE
    * INTEGER (⌈n/512⌉ = (n+511) div 512 — no FP near a boundary);
    * the two waste shares are one IEEE division each, latticed 6dp.
    */
  def q286PaddingWaste(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nTok = size(Text.tokens($"text")).cast("long")
    val d = Tables.documents(spark, dir)
      .select($"source", nTok.as("n_tok"))
      .withColumn("seqs_pad", expr("(n_tok + 511) div 512"))
    val m = d.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("total_tok"),
        sum($"seqs_pad").as("seqs_padded"))
      .withColumn("waste_padded", $"seqs_padded" * 512L - $"total_tok")
      .withColumn("seqs_concat", expr("(total_tok + 511) div 512"))
      .withColumn("waste_concat", $"seqs_concat" * 512L - $"total_tok")
    m.select($"source", $"n_docs", $"total_tok",
      $"seqs_padded", $"waste_padded",
      decRound($"waste_padded".cast("double")
        / ($"seqs_padded" * 512L).cast("double"), 6).as("pad_waste_share"),
      $"seqs_concat", $"waste_concat",
      decRound($"waste_concat".cast("double")
        / ($"seqs_concat" * 512L).cast("double"), 6)
        .as("concat_waste_share"))
  }

  val q286Sql: String =
    """WITH t AS (
      |  SELECT source,
      |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+'))
      |      AS BIGINT) AS n_tok
      |  FROM documents),
      |d AS (
      |  SELECT source, n_tok, (n_tok + 511) // 512 AS seqs_pad FROM t),
      |m AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_tok) AS BIGINT) AS total_tok,
      |    CAST(sum(seqs_pad) AS BIGINT) AS seqs_padded
      |  FROM d GROUP BY 1),
      |f AS (
      |  SELECT source, n_docs, total_tok, seqs_padded,
      |    seqs_padded * 512 - total_tok AS waste_padded,
      |    (total_tok + 511) // 512 AS seqs_concat
      |  FROM m)
      |SELECT source, n_docs, total_tok, seqs_padded,
      |  CAST(waste_padded AS BIGINT) AS waste_padded,
      |  CAST(round(CAST(CAST(waste_padded AS DOUBLE)
      |    / CAST(seqs_padded * 512 AS DOUBLE) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS pad_waste_share,
      |  CAST(seqs_concat AS BIGINT) AS seqs_concat,
      |  CAST(seqs_concat * 512 - total_tok AS BIGINT) AS waste_concat,
      |  CAST(round(CAST(CAST(seqs_concat * 512 - total_tok AS DOUBLE)
      |    / CAST(seqs_concat * 512 AS DOUBLE) AS DECIMAL(28,12)), 6)
      |    AS DOUBLE) AS concat_waste_share
      |FROM f""".stripMargin

  /** q293_ir_eval — search-quality evaluation of the q163 BM25 ranker
    * against an EXACT relevance oracle: for five single-term queries,
    * rank the corpus by BM25 (q163's formula), take the top-10, and
    * score precision@10, MRR@10, and binary-gain NDCG@10 against
    * relevance defined as term frequency ≥ 3 (prominence — exact and
    * SQL-expressible, so the whole evaluation is oracle-gated, unlike
    * vendor IR harnesses that certify only themselves). The missing
    * piece between q163 (produces rankings) and the curation loop
    * (needs to know if rankings are any good). Scale: one
    * tokenize+explode pass term-filtered at the scan, per-term
    * postings are df-bounded, the rank window partitions by term
    * (5 partitions × corpus-bounded postings), metrics reduce on the
    * ≤5-row frame. Determinism: single-term BM25 is ONE IEEE
    * expression per (term, doc) on exact integer tf/df/dl operands
    * (identical bit patterns both engines) latticed 6dp BEFORE the
    * rank window, ranks total-ordered on (score desc, doc_id); each
    * 1/log₂(rank+1) DCG/IDCG term lattices at 12dp so the ≤10-term
    * sums reduce exactly (q277 discipline); MRR/NDCG divisions are
    * IEEE on converged operands latticed 6dp, no-relevant cases
    * mirrored as explicit zeros.
    */
  def q293IrEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val terms = Seq("spark", "window", "join", "hash", "table")
    val base = Tables.documents(spark, dir)
      .select($"doc_id", Text.tokens($"text").as("toks"))
      .select($"doc_id", size($"toks").as("dl"), $"toks")
    val scal = base.agg(count(lit(1)).as("n_docs"),
      (sum($"dl").cast("double") / count(lit(1))).as("avgdl"))
    val tf = base
      .select($"doc_id", $"dl", explode($"toks").as("token"))
      .filter($"token".isin(terms: _*))
      .groupBy($"doc_id", $"dl", $"token")
      .agg(count(lit(1)).as("tf"))
      .withColumn("rel", ($"tf" >= 3L).cast("long"))
    val dfT = tf.groupBy($"token").agg(count(lit(1)).as("df"),
      sum($"rel").as("n_relevant"))
    val scored = tf.join(broadcast(dfT.select($"token", $"df")), "token")
      .crossJoin(broadcast(scal))
      .withColumn("bm25",
        decRound(
          log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0)
            * $"tf".cast("double")
            / ($"tf".cast("double")
              + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")), 6)
          .cast(DecimalType(18, 6)))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"token").orderBy($"bm25".desc, $"doc_id")))
      .filter($"rank" <= 10)
    val perTerm = scored.groupBy($"token")
      .agg(count(lit(1)).as("n_ranked"),
        sum($"rel").as("hits_10"),
        min(when($"rel" === 1L, $"rank")).as("first_rel"),
        sum(when($"rel" === 1L,
          decRound(lit(1.0) / log2($"rank".cast("double") + lit(1.0)), 12)
            .cast(DecimalType(18, 12))).otherwise(
          lit(0).cast(DecimalType(18, 12)))).as("dcg"))
    val idcg = dfT.select($"token", $"n_relevant")
      .withColumn("i", explode(sequence(lit(1L), least(lit(10L),
        greatest($"n_relevant", lit(1L))))))
      .filter($"i" <= $"n_relevant")
      .groupBy($"token", $"n_relevant")
      .agg(sum(
        decRound(lit(1.0) / log2($"i".cast("double") + lit(1.0)), 12)
          .cast(DecimalType(18, 12))).as("idcg"))
    perTerm.join(idcg.select($"token", $"n_relevant",
        $"idcg"), Seq("token"), "left")
      .select($"token",
        coalesce($"n_relevant", lit(0L)).as("n_relevant"),
        decRound($"hits_10".cast("double") / lit(10.0), 6).as("p_at_10"),
        when($"first_rel".isNotNull,
          decRound(lit(1.0) / $"first_rel".cast("double"), 6))
          .otherwise(lit(0.0)).as("mrr_10"),
        when($"idcg".isNotNull && $"hits_10" > 0L,
          decRound($"dcg".cast("double") / $"idcg".cast("double"), 6))
          .otherwise(lit(0.0)).as("ndcg_10"))
  }

  val q293Sql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |b AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
      |scal AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      |  FROM b),
      |tf AS (
      |  SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf,
      |    CASE WHEN count(*) >= 3 THEN 1 ELSE 0 END AS rel
      |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM b)
      |  WHERE token IN ('spark', 'window', 'join', 'hash', 'table')
      |  GROUP BY 1, 2, 3),
      |dft AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS df,
      |    CAST(sum(rel) AS BIGINT) AS n_relevant
      |  FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT tf.token, tf.doc_id, tf.rel,
      |    CAST(CAST(round(CAST(
      |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |        * CAST(tf AS DOUBLE)
      |        / (CAST(tf AS DOUBLE)
      |          + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |      AS DECIMAL(28,12)), 6) AS DOUBLE) AS DECIMAL(18,6)) AS bm25
      |  FROM tf JOIN dft USING (token) CROSS JOIN scal),
      |rk AS (
      |  SELECT token, rel,
      |    row_number() OVER (PARTITION BY token
      |      ORDER BY bm25 DESC, doc_id) AS rank
      |  FROM sc),
      |top AS (SELECT * FROM rk WHERE rank <= 10),
      |pt AS (
      |  SELECT token, CAST(sum(rel) AS BIGINT) AS hits_10,
      |    min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
      |    sum(CASE WHEN rel = 1 THEN
      |      CAST(CAST(round(CAST(1.0 / log2(CAST(rank AS DOUBLE) + 1.0)
      |        AS DECIMAL(28,12)), 12) AS DOUBLE) AS DECIMAL(18,12))
      |      ELSE CAST(0 AS DECIMAL(18,12)) END) AS dcg
      |  FROM top GROUP BY 1),
      |ic AS (
      |  SELECT dft.token, dft.n_relevant,
      |    sum(CAST(CAST(round(CAST(1.0 / log2(CAST(i AS DOUBLE) + 1.0)
      |      AS DECIMAL(28,12)), 12) AS DOUBLE) AS DECIMAL(18,12))) AS idcg
      |  FROM dft, unnest(generate_series(1,
      |    CASE WHEN n_relevant < 10 THEN n_relevant ELSE 10 END)) t(i)
      |  WHERE n_relevant >= 1
      |  GROUP BY 1, 2)
      |SELECT pt.token,
      |  CAST(coalesce(ic.n_relevant, 0) AS BIGINT) AS n_relevant,
      |  CAST(round(CAST(CAST(pt.hits_10 AS DOUBLE) / 10.0
      |    AS DECIMAL(28,12)), 6) AS DOUBLE) AS p_at_10,
      |  CASE WHEN pt.first_rel IS NOT NULL THEN
      |    CAST(round(CAST(1.0 / CAST(pt.first_rel AS DOUBLE)
      |      AS DECIMAL(28,12)), 6) AS DOUBLE) ELSE 0.0 END AS mrr_10,
      |  CASE WHEN ic.idcg IS NOT NULL AND pt.hits_10 > 0 THEN
      |    CAST(round(CAST(CAST(pt.dcg AS DOUBLE) / CAST(ic.idcg AS DOUBLE)
      |      AS DECIMAL(28,12)), 6) AS DOUBLE) ELSE 0.0 END AS ndcg_10
      |FROM pt LEFT JOIN ic USING (token)""".stripMargin

  /** q285_bloom_decontaminate — benchmark decontamination AT SCALE
    * through the Bloom runtime filter: the held-out eval set's
    * (doc_id % 97 = 0, the q94 convention) distinct 3-gram shingles
    * fold into a 128 KB Bloom bitmap
    * ([[graft.functions.SizedBloomFilter]] at `MinBits`); the training
    * side's gram stream is pruned by the broadcast bitmap's column-native getbit
    * test BEFORE the exact semi-join, so the confirm join's exchange
    * carries only might-overlap grams (~1–2% here) instead of the
    * whole corpus's gram stream — the q273 pattern moved to the LLM
    * pipeline, where the eval set outgrows any broadcast hash join
    * but its bitmap never does. A doc is contaminated at ≥ 3 eval
    * grams (the q94 threshold); the census reports per-source flagged
    * counts and overlap mass. The bitmap is a SUPERSET test, so the
    * exact semi-join keeps the result identical to the plain join —
    * the oracle has no Bloom anywhere. Determinism: counts and flags
    * are pure integers; the per-doc hit share lattices at 12dp before
    * the flagged-mean sum; the two output divisions are IEEE on
    * converged operands, latticed 6dp, with the no-flagged-docs case
    * mirrored as an explicit CASE.
    */
  def q285BloomDecontaminate(spark: SparkSession, dir: String): DataFrame =
    bloomDecontaminate(spark, dir, useBloom = true)

  /** Shared body for q285 and its x_decontam_nobloom forced twin. */
  def bloomDecontaminate(spark: SparkSession, dir: String,
      useBloom: Boolean): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    import graft.functions.{SizedBloomFilter => Bloom}
    val ex = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        graft.functions.TextExpressions.shingleSet($"text", 3).as("grams"))
      .select($"doc_id", $"source", explode($"grams").as("gram"))
    val evalGrams = ex.filter($"doc_id" % 97 === 0)
      .select($"gram").distinct()
    val train = ex.filter($"doc_id" % 97 =!= 0)
    val pruned =
      if (!useBloom) train
      else {
        val bloom = evalGrams
          .agg(Bloom.build(Bloom.MinBits, xxhash64($"gram")).as("bf"))
        train.crossJoin(broadcast(bloom))
          .filter(Bloom.mightContain(Bloom.MinBits, $"bf", xxhash64($"gram")))
          .drop("bf")
      }
    val hits = pruned
      .join(evalGrams.hint("merge"), Seq("gram"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hit"))
    val perDoc = train.groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce($"n_hit", lit(0L)))
      .withColumn("flagged", ($"n_hit" >= 3L).cast("long"))
      .withColumn("hs",
        when($"flagged" === 1L,
          decRound($"n_hit".cast("double") / $"n_grams".cast("double"), 12)
            .cast(DecimalType(18, 12))))
    perDoc.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"flagged").as("n_flagged"),
        sum($"n_hit").as("total_hits"),
        sum($"hs").as("shs"))
      .select($"source", $"n_docs", $"n_flagged",
        decRound($"n_flagged".cast("double") / $"n_docs".cast("double"), 6)
          .as("flagged_share"),
        $"total_hits",
        when($"n_flagged" > 0L,
          decRound($"shs".cast("double") / $"n_flagged".cast("double"), 6))
          .as("mean_hit_share"))
  }

  val q285Sql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, source,
      |    CASE WHEN len(tk) <= 3 THEN [array_to_string(tk, ' ')]
      |         ELSE list_distinct([array_to_string(tk[i : i + 2], ' ')
      |           for i in range(1, len(tk) - 1)])
      |    END AS g
      |  FROM t),
      |ex AS (SELECT doc_id, source, unnest(g) AS gram FROM sh),
      |ev AS (SELECT DISTINCT gram FROM ex WHERE doc_id % 97 = 0),
      |tr AS (SELECT doc_id, source, gram FROM ex WHERE doc_id % 97 <> 0),
      |h AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
      |  FROM tr WHERE gram IN (SELECT gram FROM ev) GROUP BY 1),
      |pd AS (
      |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_grams
      |  FROM tr GROUP BY 1, 2),
      |j AS (
      |  SELECT pd.source, pd.n_grams, coalesce(h.n_hit, 0) AS n_hit,
      |    CASE WHEN coalesce(h.n_hit, 0) >= 3 THEN 1 ELSE 0 END AS flagged
      |  FROM pd LEFT JOIN h USING (doc_id)),
      |js AS (
      |  SELECT source, n_grams, n_hit, flagged,
      |    CASE WHEN flagged = 1 THEN
      |      CAST(CAST(round(CAST(CAST(n_hit AS DOUBLE)
      |        / CAST(n_grams AS DOUBLE) AS DECIMAL(28,12)), 12) AS DOUBLE)
      |        AS DECIMAL(18,12)) END AS hs
      |  FROM j)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(flagged) AS BIGINT) AS n_flagged,
      |  CAST(round(CAST(CAST(sum(flagged) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS flagged_share,
      |  CAST(sum(n_hit) AS BIGINT) AS total_hits,
      |  CASE WHEN sum(flagged) > 0 THEN
      |    CAST(round(CAST(CAST(sum(hs) AS DOUBLE)
      |      / CAST(sum(flagged) AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |  END AS mean_hit_share
      |FROM js GROUP BY 1""".stripMargin
}
