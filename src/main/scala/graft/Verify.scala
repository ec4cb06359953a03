package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Dev loop: SPARK_GRAFT_ONLY=q62_json_extract,q24_returns narrows the
    // dump to named queries (unset → full run); an unknown name fails
    // before the session starts.
    val only = Bench.onlyNames(sys.env.get("SPARK_GRAFT_ONLY"),
      SparkEntry.queries.keys)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    // A filtered run writes to a distinct subdir so stale dumps of
    // unselected queries can never be mistaken for current output, and
    // the active filter is logged for the human driving the dev loop.
    val effOut = if (only.isDefined) s"$outDir/only" else outDir
    only.foreach { names =>
      System.err.println(
        s"[verify] SPARK_GRAFT_ONLY active: ${selected.size}/${SparkEntry.queries.size} " +
        s"queries (${names.toSeq.sorted.mkString(",")}) -> $effOut")
      new java.io.File(effOut).mkdirs()
    }
    selected.foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce merges the final
      // stage back to one partition WITHOUT a shuffle boundary, which
      // serializes every post-shuffle operator of the query into a
      // single task — q70's 51M-pair expansion ran 9 minutes that way
      // at sf1 (vs ~30s computed in parallel). The repartition shuffle
      // keeps the query's own parallelism and only single-tasks the
      // final file write, which is what the one-file dump contract
      // actually needs.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$effOut/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
