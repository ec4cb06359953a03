package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.functions._

/** SQL-surface spec: the graft native expressions registered as SQL
  * functions (extension/install path) and used from pure spark.sql.
  */
class ExtensionsSpec extends SparkTestBase {

  test("graft functions are callable from pure SQL after install") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT
        |  graft_simhash64(array('alpha', 'beta')) AS sh,
        |  graft_cosine(array(3.0D, 4.0D), array(4.0D, 3.0D)) AS cos,
        |  size(graft_minhash('a b c d e', 16, 2)) AS mh_k,
        |  graft_shingles('a b c', 2) AS sh2,
        |  size(graft_winnow('the quick brown fox jumps', 4, 3)) AS wn
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) == spark.sql(
      "SELECT graft_simhash64(array('alpha', 'beta'))").collect()(0).getLong(0))
    assert(math.abs(r.getDouble(1) - 24.0 / 25.0) < 1e-12)
    assert(r.getInt(2) == 16)
    assert(r.getSeq[String](3).toSet == Set("a b", "b c"))
    assert(r.getInt(4) > 0)
    val r2 = spark.sql(
      """SELECT size(graft_lsh_sig(array(1.0D, -2.0D, 0.5D), 4, 8, 3, 42)) AS nt,
        |  graft_byte_stride(CAST('abcdefgh' AS BINARY), 3) AS bs
        |""".stripMargin).collect()(0)
    assert(r2.getInt(0) == 4)
    assert(new String(r2.getAs[Array[Byte]](1), "UTF-8") == "adg")
  }

  test("SQL and DSL paths produce identical simhashes over real docs") {
    GraftExtensions.install(spark)
    import spark.implicits._
    Tables.documents(spark, sf).createOrReplaceTempView("docs_ext")
    val viaSql = spark.sql(
      """SELECT doc_id, graft_simhash64(split(lower(trim(text)), '\\s+')) AS h
        |FROM docs_ext""".stripMargin)
    val viaDsl = Tables.documents(spark, sf).select($"doc_id",
      graft.functions.SimHash.simhash64(
        graft.functions.Text.tokens($"text")).as("h"))
    assert(viaSql.except(viaDsl).count() == 0 && viaDsl.except(viaSql).count() == 0)
  }

  test("levenshtein prefilter rule injects the length bound once") {
    import spark.implicits._
    import graft.plans.LevenshteinPrefilter
    val df = Tables.part(spark, sf)
      .filter(levenshtein($"p_name", lit("small ring")) <= 2)
    val once = LevenshteinPrefilter(df.queryExecution.analyzed)
    val twice = LevenshteinPrefilter(once)
    assert(once.toString.contains("abs((length(p_name"), once.toString)
    assert(once.toString == twice.toString) // idempotent
    // soundness: the guard is implied by the predicate it guards, so the
    // guarded filter must keep exactly the rows the plain filter keeps
    val plain = df.count()
    val guarded = Tables.part(spark, sf)
      .filter(abs(length($"p_name") - length(lit("small ring"))) <= 2 &&
        levenshtein($"p_name", lit("small ring")) <= 2).count()
    assert(guarded == plain)
  }

  test("bitmap distinct aggregator equals count(distinct) from SQL and DSL") {
    Tables.events(spark, sf).createOrReplaceTempView("ev_bitmap")
    val viaSql = spark.sql(
      """SELECT event_type, sum(n) AS n FROM (
        |  SELECT event_type, bitmap_bucket_number(user_id) AS bucket,
        |    bitmap_count(bitmap_construct_agg(bitmap_bit_position(user_id))) AS n
        |  FROM ev_bitmap GROUP BY 1, 2)
        |GROUP BY event_type""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaDsl = SparkEntry.queries("q99_bitmap_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql == exact && viaDsl == exact)
    // NULL ids are skipped, same as count(DISTINCT ...)
    import spark.implicits._
    val withNulls = Seq(Some(1L), None, Some(2L), Some(1L), None)
      .toDF("id")
      .groupBy(bitmap_bucket_number($"id"))
      .agg(bitmap_count(bitmap_construct_agg(bitmap_bit_position($"id"))).as("n"))
      .agg(sum($"n")).collect()(0).getLong(0)
    assert(withNulls == 2L)
  }

  test("graft_top3 from pure SQL equals the window top-3") {
    GraftExtensions.install(spark)
    Tables.events(spark, sf).createOrReplaceTempView("ev_topk")
    val viaSql = spark.sql(
      """SELECT event_type, t.col._2 AS event_id FROM (
        |  SELECT event_type, graft_top3(value, event_id) AS top
        |  FROM ev_topk GROUP BY event_type) LATERAL VIEW explode(top) t"""
        .stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val viaWindow = Tables.events(spark, sf)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
          .orderBy(col("value").desc, col("event_id"))))
      .filter(col("rnk") <= 3)
      .select(col("event_type"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaSql == viaWindow && viaSql.nonEmpty)
  }

  test("approx_top_k from pure SQL keeps every over-threshold event type") {
    Tables.events(spark, sf).createOrReplaceTempView("ev_freq")
    // 5 event types over any n/11 threshold -> the k=10 summary must
    // hold ALL of them (MG guarantee), with counts never overcounting
    val got = spark.sql(
      """SELECT t.col.item AS item, t.col.count AS cnt FROM (
        |  SELECT approx_top_k(event_type, 10) AS s FROM ev_freq
        |  WHERE event_type IS NOT NULL)
        |LATERAL VIEW explode(s) t""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val truth = Tables.events(spark, sf).groupBy(col("event_type")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(truth.keySet.subsetOf(got.keySet)) // 5 types, all heavy
    got.foreach { case (i, c) => assert(c <= truth(i)) }
  }

  test("non-literal static parameter fails with a clear message") {
    GraftExtensions.install(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash('x', cast(rand() * 4 AS INT) + 1, 2)").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("graft_jaro_winkler from pure SQL matches the Scala expression") {
    GraftExtensions.install(spark)
    val got = spark.sql(
      """SELECT graft_jaro_winkler('martha', 'marhta') AS a,
        |       graft_jaro_winkler('abcdefgh', 'abzzzzzz') AS b""".stripMargin)
      .collect()(0)
    assert(math.abs(got.getDouble(0) - 0.9611111111111111) < 1e-12)
    assert(got.getDouble(1) == 0.5) // the 0.7 boost gate holds via SQL too
  }
}
