package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Pin a derived fixture to a content manifest
  * (`FixtureManifest <dir> <outJson>`): per table, the row count and
  * an ORDER-INDEPENDENT content hash (sum of `xxhash64` over the full
  * row struct — commutative, so file layout / partitioning / task
  * scheduling can't move it) plus the schema. [[ScaleUp]] is fully
  * deterministic (no RNG, no clock), so `(source sfDir, factor,
  * ScaleUp version)` IS the fixture's seed; this manifest is the
  * verifiable receipt: a future round re-derives the fixture, re-runs
  * this tool, and byte-compares manifests — any drift (source data,
  * perturbation code, engine hashing) fails loudly instead of
  * silently benchmarking different data.
  */
object FixtureManifest {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: FixtureManifest <dir> <outJson>")
    val (dir, out) = (args(0), args(1))
    val spark = SparkSession.builder()
      .master("local[32]").appName("graft-fixture-manifest")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val entries = tables.map { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet")
      val row = df.select(count(lit(1)).as("n"),
        // sum in DECIMAL so 64-bit wraparound can't alias two corpora
        sum(xxhash64(struct(df.columns.toSeq.map(col): _*))
          .cast("decimal(30,0)")).as("h")).collect()(0)
      val h = Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0")
      s"""  "$t": {"rows": ${row.getLong(0)}, "xxhash64_sum": "$h", """ +
        s""""schema": "${df.schema.simpleString.replace("\"", "'")}"}"""
    }
    val json = "{\n" + entries.mkString(",\n") + "\n}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(s"[manifest] wrote $out")
    spark.stop()
  }
}
