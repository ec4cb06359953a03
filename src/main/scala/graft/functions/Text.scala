package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for the training-data pipeline: tokenization,
  * shingling, quality metrics, heuristic language ID, winnowing
  * fingerprints. Pure column expressions (higher-order functions) —
  * everything runs inside the executors with no UDF boundary.
  */
object Text {

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** BPE-ish lexical tokens: letter runs, digit runs, single symbols. */
  def lexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Sliding word k-grams joined by a single space. */
  def wordShingles(toks: Column, k: Int): Column =
    transform(sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(k))))

  /** Winnowing fingerprints (Schleimer et al., SIGMOD 2003): the
    * distinct per-window minima of the rolling k-gram hashes. Robust
    * document fingerprint for near-dup detection / provenance.
    * Delegates to the native O(n) expression — the HOF formulation
    * (slice+array_min per window) re-evaluates the hash array per
    * window and was the q40 bottleneck at sf0.1.
    */
  def winnowFingerprints(text: Column, k: Int, window: Int): Column =
    TextExpressions.winnowFp(text, k, window)

  /** Tiny per-language stopword marker sets for heuristic language ID.
    * (The container has no NLP libs; this is the classic closed-class
    * word heuristic, which is also how fastText's fallback behaves on
    * very short inputs.)
    */
  val stopwordMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "en", "para", "que"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我"))

  /** Count of tokens belonging to `words`. */
  def markerHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*)))

  /** Highest-scoring language among the marker sets; 'und' when no
    * marker hits at all.
    */
  def langId(toks: Column): Column = {
    val scored = stopwordMarkers.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(markerHits(toks, words).as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Quality metrics à la Gopher/C4 filters: lengths, ratios. */
  def qualityMetrics(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nChars = length(text)
    val nTokens = size(toks)
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTokens,
      "avg_token_len" -> round((nChars - nTokens + 1).cast("double") / nTokens, 4),
      // nullif guard: an empty document must yield NULL, not abort the
      // job with DIVIDE_BY_ZERO under Spark 4's default ANSI mode
      "punct_ratio" -> round(
        (nChars - length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))).cast("double") /
          nullif(nChars, lit(0)), 6),
      "stopword_ratio" -> round(
        markerHits(toks, stopwordMarkers("en")).cast("double") / nTokens, 6))
  }
}
