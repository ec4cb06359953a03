package graft.plans

import graft.functions.{ByteStride, CosineSim, LshSig, MinHashSig, ShingleSet, SimHash64, WinnowFP}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session extension registering the graft native expressions as SQL
  * functions, so the engine's text/vector primitives are reachable from
  * pure `spark.sql(...)` (and thus from JDBC/thrift front-ends), not
  * only from the Scala DSL:
  *
  *   spark.sql("SELECT graft_simhash64(split(text, ' ')) FROM docs")
  *
  * Install via
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * or `SparkSession.builder().withExtensions(new GraftExtensions()(_))`.
  *
  * Static parameters (k, n, window sizes) arrive as SQL literals and
  * are extracted at resolution time — the resulting expression is the
  * same constant-folded native operator the DSL builds.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => LevenshteinPrefilter)
    ext.injectOptimizerRule(_ => RangeJoinBinning)
  }
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "")

  /** The full SQL function surface (shared by the session-extension
    * path and [[install]]).
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "graft_simhash64(tokens) - 64-bit SimHash of a token array"),
      (children: Seq[Expression]) => SimHash64(children.head)),
    (FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(a, b) - cosine similarity of two vectors"),
      (children: Seq[Expression]) => CosineSim(children(0), children(1))),
    (FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(text, k, shingle_n) - k-slot MinHash signature"),
      (children: Seq[Expression]) => MinHashSig(children.head,
        intLit(children(1), "k"), intLit(children(2), "shingle_n"))),
    (FunctionIdentifier("graft_shingles"),
      info("graft_shingles", "graft_shingles(text, n) - distinct word n-gram shingles"),
      (children: Seq[Expression]) => ShingleSet(children.head,
        intLit(children(1), "n"))),
    (FunctionIdentifier("graft_winnow"),
      info("graft_winnow", "graft_winnow(text, k, window) - winnowing fingerprints"),
      (children: Seq[Expression]) => WinnowFP(children.head,
        intLit(children(1), "k"), intLit(children(2), "window"))),
    (FunctionIdentifier("graft_lsh_sig"),
      info("graft_lsh_sig",
        "graft_lsh_sig(vec, tables, bits, dim, seed) - per-table LSH bucket ids"),
      (children: Seq[Expression]) => {
        val (tables, bits, dim) = (intLit(children(1), "tables"),
          intLit(children(2), "bits"), intLit(children(3), "dim"))
        val seed = intLit(children(4), "seed").toLong
        val rnd = new scala.util.Random(seed)
        val planes: Seq[Seq[Seq[Double]]] = Seq.fill(tables, bits, dim)(
          if (rnd.nextBoolean()) 1.0 else -1.0)
        LshSig(children.head, planes)
      }),
    (FunctionIdentifier("graft_byte_stride"),
      info("graft_byte_stride",
        "graft_byte_stride(payload, stride) - every stride-th byte of a binary"),
      (children: Seq[Expression]) => ByteStride(children.head,
        intLit(children(1), "stride"))),
    (FunctionIdentifier("graft_jaro_winkler"),
      info("graft_jaro_winkler",
        "graft_jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1]"),
      (children: Seq[Expression]) =>
        graft.functions.JaroWinklerExpr(children(0), children(1))),
    (FunctionIdentifier("graft_image_meta"),
      info("graft_image_meta",
        "graft_image_meta(payload) - struct(format, width, height, " +
          "bit_depth, channels) parsed from a PNG/JPEG/GIF/BMP " +
          "container header; NULL for non-image payloads"),
      (children: Seq[Expression]) =>
        graft.functions.ImageMetaExpr(children.head)),
    (FunctionIdentifier("graft_audio_meta"),
      info("graft_audio_meta",
        "graft_audio_meta(payload) - struct(format, channels, " +
          "sample_rate, bits_per_sample, duration_ms) parsed from a " +
          "WAV/FLAC/MP3 container header; NULL for non-audio " +
          "payloads; duration_ms -1 when the header alone can't " +
          "derive it"),
      (children: Seq[Expression]) =>
        graft.functions.AudioMetaExpr(children.head)),
    (FunctionIdentifier("graft_video_meta"),
      info("graft_video_meta",
        "graft_video_meta(payload) - struct(format, width, height, " +
          "duration_ms, n_tracks) parsed from an MP4 (ISO-BMFF) or " +
          "AVI container header; NULL for non-video payloads; " +
          "duration_ms -1 when the header alone can't derive it"),
      (children: Seq[Expression]) =>
        graft.functions.VideoMetaExpr(children.head)))

  /** Register the functions on a live session (for sessions created
    * without the extension config — notebooks, REPLs, test harnesses).
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (id, inf, b) =>
      org.apache.spark.sql.GraftRegistryBridge.registerFunction(spark, id, inf, b)
    }
    // the optimizer rules ride the experimental hook on live sessions
    // (the extension-config path injects them at session build instead);
    // dedupe so repeated installs don't stack copies
    val rules = Seq(LevenshteinPrefilter, RangeJoinBinning)
    spark.experimental.extraOptimizations =
      (spark.experimental.extraOptimizations ++ rules).distinct
    // typed Aggregators go through the session UDF registry (they wrap
    // an encoder pair, not a Catalyst Expression builder, so the
    // injectFunction path above doesn't apply). Distinct counts,
    // heavy hitters and quantile sketches are Spark built-ins
    // (bitmap_count/bitmap_construct_agg, approx_top_k,
    // kll_sketch_agg_double); top-3/top-5 are the SQL-surface spots,
    // other k via the Scala DSL
    spark.udf.register("graft_top3",
      org.apache.spark.sql.functions.udaf(new graft.functions.TopKAgg(3),
        org.apache.spark.sql.Encoders.product[(Double, Long)]))
    spark.udf.register("graft_top5",
      org.apache.spark.sql.functions.udaf(new graft.functions.TopKAgg(5),
        org.apache.spark.sql.Encoders.product[(Double, Long)]))
    ()
  }
}
