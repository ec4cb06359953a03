package graft

import org.apache.spark.sql.functions._

/** End-to-end composition: the library's pieces chained the way a real
  * deployment chains them — land raw feed files, ingest exactly-once,
  * re-cluster the layout, compact, query through the standard registry,
  * and reconcile a corrected re-feed. Each unit is tested on its own
  * elsewhere; this spec pins that they COMPOSE (schemas, layouts, and
  * path conventions line up across module boundaries).
  */
class E2ESpec extends SparkTestBase {
  import spark.implicits._

  test("ingest → cluster → compact → query → reconcile pipeline composes") {
    val root = java.nio.file.Files.createTempDirectory("graft_e2e")
    val src = Tables.documents(spark, sf)

    // 1) two feed drops land; manifest-tracked ingest is exactly-once
    val landing = root.resolve("landing")
    java.nio.file.Files.createDirectories(landing)
    def drop(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmpd = root.resolve(s"tmp_$name").toString
      df.coalesce(1).write.parquet(tmpd)
      val part = new java.io.File(tmpd).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      java.nio.file.Files.copy(part, landing.resolve(s"$name.parquet"))
    }
    drop("feed0", src.filter($"doc_id" % 2 === 0))
    drop("feed1", src.filter($"doc_id" % 2 === 1))
    val table = root.resolve("table").toString
    val r = sources.Ingest.incrementalIngest(spark, landing.toString,
      table, root.resolve("MANIFEST").toString, Tables.documentsSchema)
    assert(r.rowsIngested == src.count())

    // 2) re-cluster the ingested table by doc_id into an sfDir layout
    //    the query registry can read (flat dir named documents.parquet)
    val sfDir = root.resolve("warehouse")
    val docsDir = s"$sfDir/documents.parquet"
    val ingested = spark.read.schema(Tables.documentsSchema).parquet(table)
    sources.Layout.clusteredWrite(ingested, docsDir, numFiles = 4, "doc_id")
    val ranges = sources.Layout.rowGroupStats(spark, docsDir, "doc_id")
    assert(ranges.nonEmpty)

    // 3) compact the clustered dir (legal: flat layout) — row-preserving
    val stats = sources.Compact.compact(spark, docsDir)
    assert(stats.rows == src.count())

    // 4) registry queries over the rebuilt warehouse match the original
    for (q <- Seq("q31_dedup_exact", "q38_quality_score", "q119_entropy")) {
      val a = SparkEntry.queries(q)(spark, sfDir.toString)
      val b = SparkEntry.queries(q)(spark, sf)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$q diverged after ingest+cluster+compact")
    }

    // 5) a corrected re-feed arrives: reconcile classifies exactly the
    //    touched keys as CHANGED, everything else UNCHANGED
    val corrected = src.withColumn("lang",
      when($"doc_id" % 10 === 0, lit("xx")).otherwise($"lang"))
    val diff = operators.Reconcile.snapshotDiff(
        spark.read.schema(Tables.documentsSchema)
          .parquet(docsDir).select(src.columns.toSeq.map(col): _*),
        corrected, "doc_id", Seq("text", "lang", "source", "n_chars"))
      .groupBy($"diff_class").count()
      .as[(String, Long)].collect().toMap
    val changed = src.filter($"doc_id" % 10 === 0 && $"lang" =!= "xx").count()
    assert(diff.getOrElse("CHANGED", 0L) == changed, diff.toString)
    assert(diff.getOrElse("UNCHANGED", 0L) == src.count() - changed)
    assert(!diff.contains("ADDED") && !diff.contains("REMOVED"))
  }
}
