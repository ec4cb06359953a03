package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-once / serve-many resolution of the persisted ANN indexes
  * ([[LshIndex]], [[AnnIndex]]) for a fixture directory — the piece
  * that makes the persisted lifecycle SERVABLE from a board query
  * (q302/q303) instead of only from the bench's forced entries.
  *
  * A production deployment points probes at a long-lived index
  * location maintained by its ingest pipeline; this catalog models
  * that against the round's read-only fixtures: the index for a
  * corpus lives under a PER-PROCESS temp root (deleted on JVM exit),
  * keyed by the canonical corpus path plus its row count (a
  * regenerated fixture with a different census can never serve a
  * stale index), built on FIRST touch in the process and REOPENED —
  * planes/centroids from the persisted MODEL, signatures/cells from
  * the live published version, nothing re-derived — on every later
  * one. Scoping the artifact to the process is deliberate: every
  * bench/verify invocation pays the build from the parquet inputs
  * exactly once (nothing precomputed survives a run to flatter a
  * later one), while the amortized open→probe lifecycle the query
  * exists to demonstrate still carries every probe after the first.
  * The build cost is priced separately (x_lshidx_build /
  * x_annidx_build), and the cross-restart reopen path keeps its own
  * coverage in the LshIndex/AnnIndex restart specs.
  */
object IndexCatalog {

  /** JVM-level memos: each corpus is censused once and each index
    * resolved once per session.
    */
  private val opened =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private val roots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-process artifact root, removed on exit (a failed delete is
    * logged): served indexes never outlive the invocation that built
    * them.
    */
  private lazy val processRoot: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_served_idx").toString
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.Tables.deleteTree(dir)))
    dir
  }

  private def indexRoot(spark: SparkSession, sfDir: String): String = {
    val canonical = new java.io.File(sfDir).getCanonicalPath
    roots.computeIfAbsent(canonical, { _ =>
      val nRows = graft.Tables.embeddings(spark, sfDir).count()
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(canonical.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      s"$processRoot/${key}_$nRows"
    })
  }

  private def hasModel(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/MODEL")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The servable LSH index for `sfDir`'s embeddings corpus (q36's
    * 16×4 geometry). First touch builds and publishes; later touches
    * (including other JVMs) reopen the persisted artifact.
    */
  def lshFor(spark: SparkSession, sfDir: String): LshIndex =
    opened.computeIfAbsent(s"lsh:${indexRoot(spark, sfDir)}", { _ =>
      val dir = s"${indexRoot(spark, sfDir)}/lsh"
      if (hasModel(spark, dir)) {
        val idx = LshIndex.open(spark, dir)
        // a crash between MODEL write and publish leaves no version;
        // the batch-1 merge is idempotent, so re-ingest heals it
        if (idx.versions.isEmpty)
          idx.ingest(1L, graft.Tables.embeddings(spark, sfDir))
        idx
      } else LshIndex.build(graft.Tables.embeddings(spark, sfDir), dir)
    }).asInstanceOf[LshIndex]

  /** The servable IVF index for `sfDir`'s embeddings corpus (q44's
    * 16-centroid quantizer). Same lifecycle as [[lshFor]].
    */
  def ivfFor(spark: SparkSession, sfDir: String): AnnIndex =
    opened.computeIfAbsent(s"ivf:${indexRoot(spark, sfDir)}", { _ =>
      val dir = s"${indexRoot(spark, sfDir)}/ivf"
      if (hasModel(spark, dir)) {
        val idx = AnnIndex.open(spark, dir)
        if (idx.versions.isEmpty)
          idx.ingest(1L, graft.Tables.embeddings(spark, sfDir))
        idx
      } else AnnIndex.build(graft.Tables.embeddings(spark, sfDir), dir)
    }).asInstanceOf[AnnIndex]
}
