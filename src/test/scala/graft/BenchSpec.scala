package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

/** The bench's measuring loop and line builders, driven with small
  * registries on the sf0.001 fixture.
  */
class BenchSpec extends SparkTestBase {
  private def json(s: String) = new ObjectMapper().readTree(s)

  private def shuffleEntry = Bench.Entry("q_shuffle", () =>
    spark.range(0, 20000, 1, 4).groupBy((col("id") % 97).as("k")).count()
      .write.format("noop").mode("overwrite").save())

  test("a throwing entry lands in errors and n_failed with no time sample") {
    val boom = Bench.Entry("x_boom", () => throw new IllegalStateException("boom"))
    val records = Bench.measure(spark, Seq(shuffleEntry, boom))
    assert(records.map(_.name) == Seq("q_shuffle", "x_boom"))
    assert(records(1).outcome == Left("boom"))
    assert(records(0).outcome.isRight)
    val detail = json(Bench.detailJson(records, "0.001", "d.json"))
    assert(detail.get("n_failed").asInt == 1)
    assert(detail.get("errors").get("x_boom").asText == "boom")
    assert(!detail.get("entries").has("x_boom"))
    val e = detail.get("entries").get("q_shuffle")
    Seq("cold_s", "warm_min_s", "spread_s", "shuffle_write_bytes",
      "shuffle_write_records", "cpu_s", "jobs", "stages")
      .foreach(k => assert(e.has(k), k))
    val last = json(Bench.lastLine(records, "0.001", "d.json"))
    assert(last.get("n_failed").asInt == 1 && last.get("n_queries").asInt == 1)
    assert(last.get("failed").get(0).asText == "x_boom")
  }

  test("two runs of a deterministic shuffle entry count identical shuffle bytes and records") {
    def counters() = Bench.measure(spark, Seq(shuffleEntry))
      .head.outcome.toOption.get.counters
    val a = counters()
    val b = counters()
    assert(a.shuffleRecords > 0 && a.shuffleBytes > 0, a)
    assert((a.shuffleBytes, a.shuffleRecords) == (b.shuffleBytes, b.shuffleRecords))
    assert(a.jobs >= 1 && a.stages >= 1, a)
  }

  test("the last line parses and fits 1,900 chars when every registry entry fails") {
    val tmp = java.nio.file.Files.createTempDirectory("bench_spec")
    val names = try Bench.registry(spark, sf, tmp).map(_.name)
      finally Tables.deleteTree(tmp.toString)
    assert(names.size == SparkEntry.queries.size + 22)
    assert(names.distinct.size == names.size)
    val records = names.map(Bench.Record(_, Left("failed")))
    val line = Bench.lastLine(records, "0.1", "results/bench_sf0.1_latest.json")
    assert(line.length <= 1900, line.length)
    val last = json(line)
    assert(last.get("n_failed").asInt == names.size)
    assert(last.get("n_queries").asInt == 0)
    val failed = (0 until last.get("failed").size).map(last.get("failed").get(_).asText)
    assert(failed.nonEmpty && failed == names.take(failed.size))
  }

  test("SPARK_GRAFT_ONLY: an unknown name fails, naming it; known names select") {
    val known = Seq("q1_pricing_summary", "q74_vwap", "x_topk_agg")
    val e = intercept[IllegalArgumentException](
      Bench.onlyNames(Some("q74_vwap, q74_vwapp"), known))
    assert(e.getMessage.contains("q74_vwapp"), e.getMessage)
    assert(!e.getMessage.contains("q74_vwap,"), e.getMessage)
    assert(Bench.onlyNames(Some(" q74_vwap,,x_topk_agg "), known) ==
      Some(Set("q74_vwap", "x_topk_agg")))
    assert(Bench.onlyNames(None, known).isEmpty)
  }
}
