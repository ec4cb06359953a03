package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types._

/** Typed loaders for the driver-generated test tables.
  *
  * Schemas are declared explicitly (schema-on-read): at 100 TB, parquet
  * footer-based inference over millions of files is a driver-side
  * bottleneck, and an explicit StructType also pins column types against
  * provider drift — the same reason a securities master normalizes feed
  * schemas on ingest.
  */
object Tables {

  val regionSchema = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** `events.ts` has shipped in two physical encodings across testdata
    * re-materializations: parquet TIMESTAMP(NANOS) — unmappable to Spark's
    * µs TimestampType, readable only as raw long nanos via
    * `spark.sql.legacy.parquet.nanosAsLong` and truncated to µs with
    * integer `div` (float division loses precision above 2^53 ns) — and
    * TIMESTAMP_MICROS (naive → TimestampNTZ; UTC-adjusted after our own
    * round-trips). Hard-coding either unit corrupts the other by 1000×,
    * so [[eventsReadPlan]] branches on the footer's declared type, and
    * [[events]] asserts the loaded range lands in years [2000, 2100] so
    * a future silent unit/epoch flip fails loudly at load time instead
    * of as dozens of downstream hash mismatches. This schema is the
    * raw-nanos read schema (the LongType branch).
    */
  val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The trade size: `props`' JSON `k` read as a long. A payload with
    * no `k`, or a `k` that is not a JSON integer ({"k": 5.5},
    * {"k": "7"}), gives NULL; every batch query and streaming twin
    * that reads a size parses it here.
    */
  def tradeSize(props: Column): Column =
    F.from_json(props, StructType(Seq(StructField("k", LongType))))
      .getField("k")

  val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val schemas: Map[String, StructType] = Map(
    "region" -> regionSchema, "nation" -> nationSchema,
    "customer" -> customerSchema, "supplier" -> supplierSchema,
    "part" -> partSchema, "orders" -> ordersSchema,
    "lineitem" -> lineitemSchema, "events" -> eventsSchema,
    "documents" -> documentsSchema, "embeddings" -> embeddingsSchema)

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** Footer-declared ts type per path, memoized: one FS metadata
    * round-trip per path per JVM instead of one per load call (paths
    * are immutable for a process lifetime here — testdata dirs and
    * write-once temp fixtures). */
  private val tsTypeCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataType]()

  private def eventsPlanFor(tsType: DataType): (StructType, DataFrame => DataFrame) =
    tsType match {
      case LongType => // TIMESTAMP(NANOS) or raw BIGINT nanos
        (eventsSchema,
          df => df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
      case t => // TIMESTAMP_MICROS/_MILLIS, naive (NTZ) or UTC-adjusted
        (StructType(eventsSchema.fields.map {
          case f if f.name == "ts" => StructField("ts", t)
          case f => f
        }),
          df => df.withColumn("ts", F.col("ts").cast(TimestampType)))
    }

  /** Read schema + ts-normalizer for an events parquet, chosen from the
    * footer's declared type of `ts`. Output contract either way:
    * `ts: TimestampType` holding the original instant at µs precision
    * (entry points pin the session to UTC, so the NTZ cast is
    * instant-preserving). The footer sniff is one driver-side metadata
    * read per path per JVM — not a data scan.
    */
  def eventsReadPlan(s: SparkSession,
                     path: String): (StructType, DataFrame => DataFrame) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsPlanFor(tsTypeCache.computeIfAbsent(path,
      p => s.read.parquet(p).schema("ts").dataType))
  }

  /** Fallback read plan for a directory with no footer to sniff yet (an
    * empty streaming landing dir): assume the current TIMESTAMP_MICROS
    * era, which is what every producer in this harness writes today. */
  def eventsMicrosPlan: (StructType, DataFrame => DataFrame) =
    eventsPlanFor(TimestampNTZType)

  /** Paths whose ts range has already passed the contract check (per JVM). */
  private val tsContractOk =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Data-contract guard: loaded min/max(ts) must land in years
    * [2000, 2100]. Runs once per path per JVM — a single-column scan of
    * the normalized ts (the agg is over a derived expression, so parquet
    * stats can't answer it; the one-time cost buys every later load a
    * loud failure instead of silent 1000×-off timestamps). An EMPTY
    * table passes: the guard is about unit drift, not emptiness.
    */
  private[graft] def assertTsContract(path: String, df: DataFrame): Unit =
    if (!tsContractOk.contains(path)) {
      val r = df.agg(F.min("ts"), F.max("ts")).collect()(0)
      def year(i: Int) = r.getTimestamp(i).toInstant
        .atOffset(java.time.ZoneOffset.UTC).getYear
      require(r.isNullAt(0) || (year(0) >= 2000 && year(1) <= 2100),
        s"events.ts data contract violated for $path: loaded range " +
          s"[${r.get(0)}, ${r.get(1)}] is outside years [2000, 2100] — " +
          "probable timestamp unit/epoch drift in the source parquet " +
          "(e.g. nanos decoded as micros or vice versa)")
      tsContractOk.add(path)
    }

  def events(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    val (schema, normalize) = eventsReadPlan(s, path)
    val df = normalize(s.read.schema(schema).parquet(path))
    assertTsContract(path, df)
    df
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  val documentsPayloadSchema = StructType(
    documentsSchema.fields :+ StructField("payload", BinaryType))

  /** Paths whose documents.parquet footer declares a stored payload
    * column (one driver-side metadata sniff per path per JVM — the
    * eventsReadPlan convention).
    */
  private val docPayloadCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** The multimodal documents frame: doc columns plus the container
    * `payload` binary. Derived fixtures (ScaleUp) STORE the column —
    * real PNG/JPEG/GIF/BMP/WAV/MP4 payload bytes read straight from
    * parquet; the driver's read-only base fixtures predate it, so the
    * loader attaches the identical bytes via the shared synthesis
    * ([[graft.operators.Multimodal.containerPayload]] — one row-local
    * codegen'd expression). Either way every consumer sees the same
    * schema and the same bytes, which is what lets one oracle SQL
    * (recomputing the transcript from doc_id/text) serve both.
    */
  def documentsWithPayload(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/documents.parquet"
    val stored = docPayloadCache.computeIfAbsent(path,
      p => s.read.parquet(p).schema.fieldNames.contains("payload"))
    if (stored) s.read.schema(documentsPayloadSchema).parquet(path)
    else documents(s, d).withColumn("payload",
      graft.operators.Multimodal.containerPayload(
        F.col("doc_id"), F.col("text")))
  }

  /** Deletes a local directory tree (temp artifacts). A failed delete
    * is logged to stderr, not thrown: it leaves a stray temp file, not
    * a wrong result.
    */
  def deleteTree(root: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] could not delete $root: ${e.getMessage}") }
}
