package graft

import graft.streaming.Streams
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming smoke: the sf0.001 events parquet replayed through the
  * file source drives both the watermarked window agg and the stateful
  * sessionizer synchronously (memory sink + processAllAvailable).
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  /** The file stream source needs a directory, not a single file. */
  private lazy val streamDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("kafka-shaped envelope source: s60 ledger converges to the batch frame through the bus transport") {
    import graft.streaming.KafkaShapedEvents
    // producer side: wrap the batch events in the Kafka connector's
    // envelope (3 user-keyed partitions, per-partition offsets), land
    // it as two time-sliced files, and replay file-by-file — the same
    // micro-batch discipline as every file-source twin, but the twin
    // consumes the NON-FILE transport: envelope stream → normalize →
    // dailyVolStream, no twin-side changes.
    val ev = Tables.events(spark, sf)
    val env = KafkaShapedEvents.envelopeFrom(ev, "events", nPartitions = 3)
    assert(env.schema.fieldNames.toSet ==
      KafkaShapedEvents.EnvelopeSchema.fieldNames.toSet)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_kafka").toString
    val envTs = env.withColumn("__us", unix_micros($"timestamp"))
    envTs.filter($"__us" <= mid).drop("__us")
      .coalesce(1).write.parquet(s"$dir/slice_a")
    Thread.sleep(1100)
    envTs.filter($"__us" > mid).drop("__us")
      .coalesce(1).write.parquet(s"$dir/slice_b")
    val envStream = spark.readStream
      .schema(KafkaShapedEvents.EnvelopeSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/slice_*")
    val events = Streams.normalize(spark, KafkaShapedEvents(envStream))
    // the normalized frame must wear the canonical schema exactly
    assert(events.schema.fieldNames.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    val q = Streams.dailyVolStream(events)
      .writeStream.outputMode("update").format("memory")
      .queryName("kafka_dvol").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val vol = spark.table("kafka_dvol")
      .groupBy($"user_id", $"day").agg(max($"v").as("v"))
    val batchVol = ev
      .select($"user_id", date_trunc("day", $"ts").as("day"),
        get_json_object($"props", "$.k").cast("long").as("k"))
      .filter($"k" > 0L)
      .groupBy($"user_id", $"day").agg(sum($"k").as("v"))
    assert(vol.count() > 0)
    assert(vol.exceptAll(batchVol).isEmpty && batchVol.exceptAll(vol).isEmpty)
    // malformed payloads drop instead of poisoning the stream
    val bad = Seq(("junk".getBytes, "junk{".getBytes, "events", 0,
        99L, new java.sql.Timestamp(1700000000000L), 0))
      .toDF("key", "value", "topic", "partition", "offset",
        "timestamp", "timestampType")
    assert(KafkaShapedEvents(bad).normalized(spark).count() == 0)
  }

  test("kafka-shaped envelope source: mixed good/corrupt payloads split exactly into the twin and the dead-letter frame") {
    import graft.streaming.KafkaShapedEvents
    // the r14 verdict's #5 ask: feed CORRUPT envelopes through a LIVE
    // twin mixed with good traffic — the twin must converge to batch
    // on the good subset (no poison, no skew from the drops) and the
    // dead-letter frame must carry the corrupt envelopes VERBATIM,
    // partitioning the input exactly with the normalized frame.
    val ev = Tables.events(spark, sf).limit(2000).localCheckpoint()
    val good = KafkaShapedEvents.envelopeFrom(ev, "events", nPartitions = 3)
    // three corruption classes: unparseable JSON, a parsed object
    // missing event_id, and a NULL payload
    val corrupt = Seq(
      ("k1", "junk{not-json".getBytes, "events", 0, 900001L,
        new java.sql.Timestamp(1700000000000L), 0),
      ("k2", """{"ts":1700000000000000,"user_id":7}""".getBytes,
        "events", 1, 900002L, new java.sql.Timestamp(1700000000000L), 0),
      ("k3", null.asInstanceOf[Array[Byte]], "events", 2, 900003L,
        new java.sql.Timestamp(1700000000000L), 0))
      .toDF("key", "value", "topic", "partition", "offset",
        "timestamp", "timestampType")
      .select($"key".cast("binary").as("key"), $"value", $"topic",
        $"partition", $"offset", $"timestamp", $"timestampType")
    val env = good.unionByName(corrupt).localCheckpoint()

    // batch-side split: normalized ∪ deadLetter partitions the input
    val src = KafkaShapedEvents(env)
    val nGood = src.normalized(spark).count()
    val dead = src.deadLetter(spark).localCheckpoint()
    assert(nGood == ev.count(), s"good rows lost: $nGood")
    assert(dead.count() == 3, s"dead letters: ${dead.count()}")
    assert(nGood + dead.count() == env.count()) // exact partition
    // dead letters arrive IN ENVELOPE FORM, replayable: offsets intact
    assert(dead.select($"offset").orderBy($"offset").collect()
      .map(_.getLong(0)).toSeq == Seq(900001L, 900002L, 900003L))

    // stream side: the corrupt rows ride the SAME micro-batches as
    // good traffic; the twin must still converge to the batch frame
    // computed on the good subset only
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kafka_dead").toString
    env.filter($"offset" % 2 === 0 || $"offset" >= 900001L)
      .coalesce(1).write.parquet(s"$dir/slice_a")
    Thread.sleep(1100)
    env.filter($"offset" % 2 === 1 && $"offset" < 900001L)
      .coalesce(1).write.parquet(s"$dir/slice_b")
    val envStream = spark.readStream
      .schema(KafkaShapedEvents.EnvelopeSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/slice_*")
    val events = Streams.normalize(spark, KafkaShapedEvents(envStream))
    val q = Streams.dailyVolStream(events)
      .writeStream.outputMode("update").format("memory")
      .queryName("kafka_dead_dvol").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val vol = spark.table("kafka_dead_dvol")
      .groupBy($"user_id", $"day").agg(max($"v").as("v"))
    val batchVol = ev
      .select($"user_id", date_trunc("day", $"ts").as("day"),
        get_json_object($"props", "$.k").cast("long").as("k"))
      .filter($"k" > 0L)
      .groupBy($"user_id", $"day").agg(sum($"k").as("v"))
    assert(vol.count() > 0)
    assert(vol.exceptAll(batchVol).isEmpty && batchVol.exceptAll(vol).isEmpty)
  }

  test("kafka-shaped envelope source: the s68 OHLC ledger converges through the bus and serves batch q220") {
    import graft.streaming.KafkaShapedEvents
    // second twin through the NON-FILE transport, structurally
    // different state: s60 proves integer-sum ledger convergence over
    // the bus; this proves the struct-extreme (lexicographic min/max)
    // ledger converges too, and that a production batch tail
    // (gkFromDailyOhlc = q220) is served from the bus-fed ledger with
    // zero twin-side changes.
    val ev = Tables.events(spark, sf)
    val env = KafkaShapedEvents.envelopeFrom(ev, "events", nPartitions = 3)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_kafka_ohlc").toString
    val envTs = env.withColumn("__us", unix_micros($"timestamp"))
    envTs.filter($"__us" <= mid).drop("__us")
      .coalesce(1).write.parquet(s"$dir/slice_a")
    Thread.sleep(1100)
    envTs.filter($"__us" > mid).drop("__us")
      .coalesce(1).write.parquet(s"$dir/slice_b")
    val envStream = spark.readStream
      .schema(KafkaShapedEvents.EnvelopeSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/slice_*")
    val events = Streams.normalize(spark, KafkaShapedEvents(envStream))
    val q = Streams.dailyOhlcStream(events)
      .writeStream.outputMode("update").format("memory")
      .queryName("kafka_ohlc").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val ohlc = spark.table("kafka_ohlc")
      .groupBy($"user_id", $"day")
      .agg(min(struct($"o_ts", $"o_eid", $"o")).as("of"),
        max(struct($"c_ts", $"c_eid", $"c")).as("cf"),
        max($"h").as("h"), min($"l").as("l"))
      .select($"user_id", $"day", $"of.o".as("o"), $"h", $"l",
        $"cf.c".as("c"))
      .localCheckpoint()
    assert(ohlc.count() > 0)
    val batchOhlc = queries.Microstructure.dailyOhlc(spark, sf)
    assert(ohlc.exceptAll(batchOhlc).isEmpty &&
      batchOhlc.exceptAll(ohlc).isEmpty)
    val gk = queries.Microstructure.gkFromDailyOhlc(ohlc)
    val batch220 = SparkEntry.queries("q220_garman_klass")(spark, sf)
    assert(batch220.count() > 0)
    assert(gk.exceptAll(batch220).isEmpty && batch220.exceptAll(gk).isEmpty)
  }

  test("watermarked windowed aggregation over the events stream") {
    val stream = Streams.eventsStream(spark, streamDir)
    val q = Streams.windowedCounts(stream).writeStream
      .outputMode("append").format("memory").queryName("win_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // append mode only emits windows the watermark has passed; replaying a
    // bounded file advances the watermark to max(ts)-1h, so most windows close.
    val out = spark.table("win_out")
    assert(out.count() > 0)
    assert(out.agg(sum("n")).collect()(0).getLong(0) > 0)
  }

  test("stateful sessionization emits gap-closed sessions") {
    val stream = Streams.eventsStream(spark, streamDir)
    val q = Streams.sessionize(spark, stream).writeStream
      .outputMode("append").format("memory").queryName("sess_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val out = spark.table("sess_out")
    assert(out.count() > 0)
    // invariant: session_end >= session_start, n_events >= 1
    assert(out.filter($"session_end" < $"session_start").count() == 0)
    assert(out.filter($"n_events" < 1).count() == 0)
  }

  test("streamed window aggregates equal the batch plan on closed windows") {
    val stream = Streams.eventsStream(spark, streamDir)
    val q = Streams.windowedCounts(stream).writeStream
      .outputMode("append").format("memory").queryName("win_cmp").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("win_cmp")
    val batch = Streams.windowedCounts(Tables.events(spark, sf))
    // append mode emits only watermark-closed windows; every emitted row
    // must match the batch aggregation exactly
    assert(streamed.count() > 0)
    assert(streamed.join(batch,
      Seq("window", "event_type", "n", "total"), "left_anti").count() == 0)
  }

  test("stream-stream interval join attributes purchases to recent clicks") {
    val stream = Streams.eventsStream(spark, streamDir)
    val q = Streams.clickPurchaseJoin(stream).writeStream
      .outputMode("append").format("memory").queryName("attr_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val out = spark.table("attr_out")
    assert(out.count() > 0)
    // interval contract: purchase inside (click_ts, click_ts + 1h]
    assert(out.filter($"p_ts" < $"click_ts" ||
      $"p_ts" > $"click_ts" + expr("interval 1 hour")).count() == 0)
    // agrees with the equivalent batch join on the same data
    val ev = Tables.events(spark, sf)
    val batch = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", $"ts".as("click_ts"))
      .join(ev.filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"value".as("p_value")),
        expr("user_id = p_user AND p_ts >= click_ts AND p_ts <= click_ts + interval 1 hour"))
      .select($"click_id", $"p_ts")
    assert(out.select($"click_id", $"p_ts").except(batch).count() == 0)
  }

  test("streaming ohlcv bars equal the batch q22 resample on closed windows") {
    val stream = Streams.eventsStream(spark, streamDir)
    val q = Streams.ohlcvStream(stream).writeStream
      .outputMode("append").format("memory").queryName("ohlcv_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("ohlcv_out")
    assert(streamed.count() > 0)
    val batch = SparkEntry.queries("q22_ohlcv_resample")(spark, sf)
      .withColumnRenamed("open", "b_open").withColumnRenamed("high", "b_high")
      .withColumnRenamed("low", "b_low").withColumnRenamed("close", "b_close")
      .withColumnRenamed("volume", "b_volume")
      .withColumnRenamed("n_trades", "b_n")
    val j = streamed.join(batch, Seq("bucket", "event_type"), "inner").cache()
    // every emitted bar has a batch counterpart
    assert(j.count() == streamed.count())
    // selection aggregates are order-insensitive → exact; the FP volume
    // sum folds in micro-batch order → tolerance
    assert(j.filter($"open" =!= $"b_open" || $"high" =!= $"b_high" ||
      $"low" =!= $"b_low" || $"close" =!= $"b_close" ||
      $"n_trades" =!= $"b_n").count() == 0)
    assert(j.filter(abs($"volume" - $"b_volume") > 1e-6).count() == 0)
    j.unpersist()
  }

  test("streaming dedup drops replayed events within the watermark") {
    // replay the same file twice: every event_id arrives twice
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("b.parquet"))
    val stream = Streams.eventsStream(spark, dir.toString)
    val q = Streams.dedupedEvents(stream).writeStream
      .outputMode("append").format("memory").queryName("dedup_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val out = spark.table("dedup_out")
    val distinctIds = Tables.events(spark, sf).select("event_id").distinct().count()
    assert(out.count() == distinctIds)
    assert(out.select("event_id").distinct().count() == distinctIds)
  }

  test("streaming EWMA state equals the batch EWMA's final value per user") {
    val stream = Streams.eventsStream(spark, streamDir)
    val q = Streams.ewmaState(spark, stream, alpha = 0.2).toDF("user_id", "ewma")
      .writeStream.outputMode("update").format("memory")
      .queryName("ewma_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // last emitted value per user (single static batch → one row each,
    // but guard against multi-batch replay by keeping the last)
    val streamed = spark.table("ewma_out")
      .groupBy($"user_id").agg(last($"ewma").as("ewma"))
    val batch = graft.queries.TimeSeries.ewma(spark, sf, alpha = 0.2).toDF()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
          .orderBy($"ts_us".desc, $"event_id".desc)))
      .filter($"rn" === 1).select($"user_id", $"ewma")
    assert(streamed.count() > 0)
    assert(streamed.join(batch, Seq("user_id", "ewma"), "left_anti").count() == 0)
  }

  test("incremental PIT upsert sink converges to the batch q29 result") {
    val tableDir = java.nio.file.Files.createTempDirectory("graft_pit").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pit_ck").toString
    val stream = Streams.eventsStream(spark, streamDir)
    val q = Streams.pitUpsertSink(stream, tableDir, ckpt)
    try { q.processAllAvailable() } finally { q.stop() }
    val snapshot = Streams.currentSnapshot(spark, tableDir).get
      .select($"user_id", $"event_type", $"ts".as("latest_ts"),
        $"value".as("latest_value"))
    val batch = SparkEntry.queries("q29_pit_latest")(spark, sf)
    assert(snapshot.except(batch).count() == 0 && batch.except(snapshot).count() == 0)
  }

  test("streaming ingest dedup emits exactly the batch pair set") {
    val docs = Tables.documents(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_ingest")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    // two ingest generations as two separate file drops
    Seq(0, 1).foreach { gen =>
      val tmp = root.resolve(s"tmp$gen").toString
      docs.filter($"doc_id" % 2 === gen).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      java.nio.file.Files.copy(part, inDir.resolve(s"gen$gen.parquet"))
    }
    val stream = spark.readStream.schema(Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = Streams.dedupIngestSink(stream,
      baseDir = root.resolve("base").toString,
      pairsDir = root.resolve("pairs").toString,
      checkpointDir = root.resolve("ckpt").toString)
    try { q.processAllAvailable() } finally { q.stop() }
    // pairs land in batchId-keyed subdirs (exactly-once overwrite keys)
    val streamed = spark.read.option("recursiveFileLookup", "true")
      .parquet(root.resolve("pairs").toString)
      .as[(Long, Long, Double)].collect().toSet
    // uncapped df on both sides: min-df=2 only excludes grams that
    // cannot form a pair yet, so streamed union == one-shot batch run
    val full = graft.operators.Dedup
      .ngramJaccardPairs(docs, maxDf = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == full,
      s"extra=${streamed.diff(full).size} missing=${full.diff(streamed).size}")
    assert(streamed.nonEmpty)
  }

  test("streaming span flagging scores each batch against the corpus so far") {
    // synthetic corpus with a 48-char boilerplate block shared across
    // the generation split: per-doc-unique filler prevents accidental
    // 16-gram collisions, even ids carry the boilerplate
    val boiler = "TERMS-OF-SERVICE-BOILERPLATE-BLOCK-SHARED-BY-ALL"
    def filler(id: Long, tag: String) =
      (0 until 3).map(i => f"$tag$id%03d$i").mkString("")
    val rows = (1L to 20L).map { id =>
      val mid = if (id % 2 == 0) boiler else filler(id, "u")
      (id, filler(id, "a") + mid + filler(id, "z"))
    }
    def asDocs(rs: Seq[(Long, String)]) = rs.toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"),
        lit("synth").as("source"), length($"text").cast("long").as("n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_spans")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    Seq(0, 1).foreach { gen =>
      val tmp = root.resolve(s"tmp$gen").toString
      asDocs(rows.filter { case (id, _) => (if (id <= 10) 0 else 1) == gen })
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      java.nio.file.Files.copy(part, inDir.resolve(s"gen$gen.parquet"))
    }
    val stream = spark.readStream.schema(Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = Streams.spansIngestSink(stream,
      baseDir = root.resolve("base").toString,
      spansDir = root.resolve("spans").toString,
      checkpointDir = root.resolve("ckpt").toString, k = 16)
    try { q.processAllAvailable() } finally { q.stop() }
    // per-batch differential: batch b's emission equals the batch
    // operator over the corpus visible at b, restricted to b's docs
    def spansOf(dir: java.nio.file.Path) = spark.read.parquet(dir.toString)
      .as[(Long, Long, Long, Long)].collect().toSet
    val allDocs = asDocs(rows)
    var seen = Set.empty[Long]
    for (b <- 0 to 1) {
      val ids = spark.read.parquet(root.resolve(s"base/b$b").toString)
        .select("doc_id").as[Long].collect().toSet
      seen ++= ids
      val visible = allDocs.filter($"doc_id".isin(seen.toSeq: _*))
      val expected = graft.operators.Dedup.duplicateSpans(visible, k = 16)
        .as[(Long, Long, Long, Long)].collect().toSet
        .filter(r => ids(r._1))
      assert(spansOf(root.resolve(s"spans/b$b")) == expected, s"batch $b")
    }
    // the cross-generation boilerplate is actually exercised: gen-1
    // even docs must flag their boiler block against gen-0 docs
    assert(spansOf(root.resolve("spans/b1")).nonEmpty)
  }

  test("events stream starts on an empty landing dir and picks up later files") {
    // kappa start-then-produce: no footer exists at stream construction,
    // so eventsStream must fall back to the micros-era plan, not throw
    val dir = java.nio.file.Files.createTempDirectory("graft_empty")
    val stream = Streams.eventsStream(spark, dir.toString)
    val q = Streams.windowedCounts(stream).writeStream
      .outputMode("append").format("memory").queryName("empty_start").start()
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        dir.resolve("events.parquet"))
      q.processAllAvailable()
    } finally { q.stop() }
    assert(spark.table("empty_start").count() > 0)
  }

  test("streaming saturated dedup emits exactly the batch saturated pair set at dup-saturation") {
    // the sf3 stress shape: 20 distinct texts, each verbatim ×30 — every
    // shared gram's document frequency is ≥ 30 > the cap, so the PLAIN
    // capped tier (what dedupIngestSink would score with a finite cap)
    // sees nothing; the saturated twin must recover the full pair set
    val rnd = new scala.util.Random(42)
    val vocab = Vector("red", "blue", "fox", "dog", "runs", "jumps", "high", "low")
    val base = (0L until 20L).map { id =>
      (id, Seq.fill(1 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val corpus = for { (id, t) <- base; c <- 0 until 30 } yield (id + 1000L * c, t)
    def asDocs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"),
        lit("synth").as("source"), length($"text").cast("long").as("n_chars"))
    val cDf = asDocs(corpus)
    assert(graft.operators.Dedup.ngramJaccardPairs(cDf, maxDf = 25,
        threshold = 0.3).count() == 0,
      "saturation premise broken — the plain capped tier found pairs")
    // split by COPY index so each text group straddles the two
    // micro-batches: intra-group 1.0 pairs must cross batches
    val root = java.nio.file.Files.createTempDirectory("graft_sat")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    Seq(0, 1).foreach { gen =>
      val tmp = root.resolve(s"tmp$gen").toString
      asDocs(corpus.filter { case (id, _) => (id / 1000L) % 2 == gen })
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      java.nio.file.Files.copy(part, inDir.resolve(s"gen$gen.parquet"))
    }
    val stream = spark.readStream.schema(Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = Streams.dedupIngestSaturatedSink(stream,
      baseDir = root.resolve("base").toString,
      pairsDir = root.resolve("pairs").toString,
      checkpointDir = root.resolve("ckpt").toString,
      maxDf = 25, threshold = 0.3)
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.read.option("recursiveFileLookup", "true")
      .parquet(root.resolve("pairs").toString)
      .as[(Long, Long, Double)].collect().toSet
    // rep-level dfs (≤ 20 distinct texts) stay under the cap, so the
    // per-batch df lag never bites and the union is EXACTLY the batch run
    val full = graft.operators.Dedup
      .ngramJaccardPairsSaturated(cDf, maxDf = 25, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == full,
      s"extra=${streamed.diff(full).take(3)} missing=${full.diff(streamed).take(3)}")
    // the verbatim-dup mass is present as 1.0 cliques
    assert(streamed.count(_._3 == 1.0) >= 20 * 30 * 29 / 2)
  }

  test("posting-state ingest dedup emits exactly the batch pair set") {
    // same differential as the re-tokenizing sink, but the base side is
    // scored from STORED (id, grams) postings — stored grams must be
    // exactly the recomputed grams, so the pair set is identical
    val docs = Tables.documents(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_post")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    Seq(0, 1).foreach { gen =>
      val tmp = root.resolve(s"tmp$gen").toString
      docs.filter($"doc_id" % 2 === gen).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      java.nio.file.Files.copy(part, inDir.resolve(s"gen$gen.parquet"))
    }
    val stream = spark.readStream.schema(Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = Streams.dedupIngestPostingsSink(stream,
      postingsDir = root.resolve("post").toString,
      pairsDir = root.resolve("pairs").toString,
      checkpointDir = root.resolve("ckpt").toString)
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.read.option("recursiveFileLookup", "true")
      .parquet(root.resolve("pairs").toString)
      .as[(Long, Long, Double)].collect().toSet
    val full = graft.operators.Dedup
      .ngramJaccardPairs(docs, maxDf = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == full,
      s"extra=${streamed.diff(full).size} missing=${full.diff(streamed).size}")
    assert(streamed.nonEmpty)
  }

  test("streaming corpus-prep gate equals the same plan run in batch") {
    val docs = Tables.documents(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_prep")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    Seq(0, 1).foreach { gen =>
      val tmp = root.resolve(s"tmp$gen").toString
      docs.filter($"doc_id" % 2 === gen).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      java.nio.file.Files.copy(part, inDir.resolve(s"gen$gen.parquet"))
    }
    val stream = spark.readStream.schema(Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = Streams.corpusPrepStream(stream).writeStream
      .format("memory").queryName("s9_prep").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("s9_prep")
      .as[(Long, Long, Int, String)].collect().toSet
    val batch = Streams.corpusPrepStream(docs)
      .as[(Long, Long, Int, String)].collect().toSet
    assert(streamed == batch,
      s"extra=${streamed.diff(batch).size} missing=${batch.diff(streamed).size}")
    assert(streamed.nonEmpty)
    // the gate must actually gate: fewer docs chunked than ingested
    assert(streamed.map(_._1).size < docs.count())
  }

  test("stream-static factor apply equals the batch q98 result") {
    // stream the events files; the factor table stays a STATIC frame —
    // re-broadcast per micro-batch, no state, no watermark
    val root = java.nio.file.Files.createTempDirectory("graft_s10")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val src = new java.io.File(s"$sf/events.parquet")
    java.nio.file.Files.copy(src.toPath, inDir.resolve("events.parquet"))
    val stream = Streams.eventsStream(spark, inDir.toString)
    val rates = graft.queries.TimeSeries.dailyFactors(spark, sf)
    val q = Streams.factorAdjustStream(stream, rates).writeStream
      .format("memory").queryName("s10_factor").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("s10_factor")
      .as[(Long, Double, Double, Double)].collect().toSet
    val batch = SparkEntry.queries("q98_factor_adjust")(spark, sf)
      .as[(Long, Double, Double, Double)].collect().toSet
    assert(streamed == batch,
      s"extra=${streamed.diff(batch).size} missing=${batch.diff(streamed).size}")
    assert(streamed.nonEmpty)
  }

  test("streaming bitmap-distinct aggregation converges to batch q99") {
    // the custom typed Aggregator drops into a streaming groupBy
    // unchanged: the state store holds one bitmap per group, each
    // micro-batch ORs into it — exact distinct counts over a stream
    // without a shuffle-per-(group,id) expansion
    val root = java.nio.file.Files.createTempDirectory("graft_s11")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    java.nio.file.Files.copy(new java.io.File(s"$sf/events.parquet").toPath,
      inDir.resolve("events.parquet"))
    val stream = Streams.eventsStream(spark, inDir.toString)
      .groupBy($"event_type")
      .agg(graft.functions.BitmapDistinct.distinctCount($"user_id").as("n_users"))
    val q = stream.writeStream.format("memory").queryName("s11_bitmap")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("s11_bitmap")
      .as[(String, Long)].collect().toSet
    val batch = SparkEntry.queries("q99_bitmap_distinct")(spark, sf)
      .as[(String, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming Misra-Gries aggregation keeps its guarantee over the stream (s44)") {
    // FreqItemsAgg drops into a streaming groupBy unchanged: the state
    // store holds <= k counters per group, each micro-batch folds in
    // via the mergeable-summaries merge — the MG guarantee (every item
    // with freq > n/(k+1) present, counts never over) must hold on the
    // final summary regardless of how the stream was sliced
    val root = java.nio.file.Files.createTempDirectory("graft_s44")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    java.nio.file.Files.copy(new java.io.File(s"$sf/events.parquet").toPath,
      inDir.resolve("events.parquet"))
    val stream = Streams.eventsStream(spark, inDir.toString)
      .groupBy($"user_id" % 10)
      .agg(graft.functions.FreqItems.freqItems($"event_type", 3).as("hh"))
    val q = stream.writeStream.format("memory").queryName("s44_freq")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("s44_freq")
      .select($"(user_id % 10)".as("g"), explode($"hh").as("e"))
      .select($"g", $"e._1".as("item"), $"e._2".as("cnt"))
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val truth = Tables.events(spark, sf)
      .groupBy(($"user_id" % 10).as("g"), $"event_type")
      .count().as[(Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    assert(got.nonEmpty)
    truth.foreach { case (g, tr) =>
      val n = tr.values.sum
      val summary = got.getOrElse(g, Map.empty)
      tr.filter(_._2 > n / 4).keys.foreach { hh => // k=3 -> n/(k+1)
        assert(summary.contains(hh), s"group $g lost heavy hitter $hh")
      }
      summary.foreach { case (i, c) =>
        assert(c <= tr(i) && tr(i) - c <= n / 4, s"group $g bound broken for $i")
      }
    }
  }

  test("one streaming volume ledger rebuilds batch q209 AND q212 (s60/s61)") {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_dvol").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.dailyVolStream(stream)
      .writeStream.outputMode("update").format("memory")
      .queryName("dvol_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // integer sums are monotone: latest emission per cell = max
    val vol = spark.table("dvol_out")
      .groupBy($"user_id", $"day").agg(max($"v").as("v")).cache()
    assert(vol.count() > 0)
    // s60: batch q209's turnover tail on the converged ledger
    // (day spine rebuilt from a calendar-bounded collect — joining a
    // child of `vol` back onto `vol` through the memory-sink view
    // trips conflicting-reference resolution)
    val days = vol.select($"day").distinct().orderBy($"day")
      .collect().map(_.getTimestamp(0)).zipWithIndex
      .map { case (d, i) => (d, i + 1L) }.toSeq.toDF("day", "rk")
    val w = vol.join(broadcast(days), "day")
      .withColumn("tot", sum($"v").over(Window.partitionBy($"rk")))
      .select($"user_id", $"rk", $"day",
        graft.functions.Num.decRound(
          $"v".cast("double") / $"tot".cast("double"), 12)
          .cast(DecimalType(14, 12)).as("w"))
    val wMat = w.localCheckpoint() // self-join below: break the view lineage
    val prev = wMat.select($"user_id", ($"rk" + 1L).as("rk"), $"w".as("wp"))
    val maxRk = days.agg(max($"rk")).first().getLong(0)
    val zero = lit(BigDecimal(0)).cast(DecimalType(14, 12))
    val turnover = wMat.select($"user_id", $"rk", $"day", $"w")
      .join(prev, Seq("user_id", "rk"), "full_outer")
      .filter($"rk" >= 2L && $"rk" <= maxRk)
      .groupBy($"rk")
      .agg(max($"day").as("day"),
        sum(abs(coalesce($"w", zero) - coalesce($"wp", zero))).as("sad"),
        count(when($"w".isNotNull, 1)).as("n_inst"))
      .select($"day", $"n_inst",
        graft.functions.Num.decRound($"sad".cast("double") / 2.0, 6)
          .as("turnover"))
    val batch209 = SparkEntry.queries("q209_turnover")(spark, sf)
    assert(turnover.exceptAll(batch209).isEmpty &&
      batch209.exceptAll(turnover).isEmpty)
    // s61: batch q212's participation tail on the same ledger
    val wTrail = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(-20, -1)
    val part = vol.withColumnRenamed("v", "vol")
      .withColumn("hist_days", count(lit(1)).over(wTrail))
      .withColumn("hist_vol", sum($"vol").over(wTrail))
      .filter($"hist_days" >= 5L)
      .withColumn("adv",
        $"hist_vol".cast("double") / $"hist_days".cast("double"))
      .withColumn("participation",
        graft.functions.Num.decRound($"vol".cast("double") / $"adv", 6))
      .select($"user_id", $"day", $"vol", $"hist_days",
        graft.functions.Num.decRound($"adv", 4).as("adv"),
        $"participation", ($"participation" > 1.5).as("flag_spike"))
    val batch212 = SparkEntry.queries("q212_adv_participation")(spark, sf)
    assert(part.exceptAll(batch212).isEmpty &&
      batch212.exceptAll(part).isEmpty)
  }

  /** Slice the sf events tape into two time-halves under `tag` and
    * return a file stream replaying them one file per micro-batch —
    * the shared harness for the ledger twins below.
    */
  private def slicedEventsStream(tag: String): org.apache.spark.sql.DataFrame = {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
  }

  test("streaming digit-census ledger rebuilds batch q254 price clustering (s69)") {
    val q = Streams.digitCensusStream(slicedEventsStream("digits"))
      .writeStream.outputMode("update").format("memory")
      .queryName("digit_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // all three counts are monotone sums: converged = max emission
    val g = spark.table("digit_out")
      .groupBy($"digit")
      .agg(max($"n").as("n"), max($"n_dollar").as("n_dollar"),
        max($"n_nickel").as("n_nickel"))
      .localCheckpoint()
    assert(g.count() > 0)
    val batchCounts = queries.Microstructure.digitCounts(
      Tables.events(spark, sf))
    assert(g.exceptAll(batchCounts).isEmpty &&
      batchCounts.exceptAll(g).isEmpty)
    val census = queries.Microstructure.clusteringFromDigitCounts(g)
    val batch254 = SparkEntry.queries("q254_price_clustering")(spark, sf)
    assert(batch254.count() > 0)
    assert(census.exceptAll(batch254).isEmpty &&
      batch254.exceptAll(census).isEmpty)
  }

  test("streaming last-touch attribution rebuilds batch q289 (s70)") {
    // ORDER-DEPENDENT state (not a monoid ledger): each purchase must
    // attribute against the last non-purchase touch as of its OWN
    // event time — purchases in batch_b attribute against state
    // carried from batch_a, exactly as the batch carry window does.
    val q = Streams.attributionStream(spark, slicedEventsStream("attr"))
      .toDF("user_id", "event_id", "channel", "cents")
      .writeStream.outputMode("update").format("memory")
      .queryName("attr_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val per = spark.table("attr_out")
      .dropDuplicates("user_id", "event_id") // update-mode re-emissions
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_purchases"), sum($"cents").as("revenue_cents"))
      .withColumn("revenue_share",
        graft.functions.Num.decRound(
          $"revenue_cents".cast("double")
            / sum($"revenue_cents")
              .over(org.apache.spark.sql.expressions.Window.partitionBy())
              .cast("double"), 6))
      .localCheckpoint()
    assert(per.count() > 0)
    val batch289 = SparkEntry.queries("q289_attribution")(spark, sf)
    assert(batch289.count() > 0)
    assert(per.exceptAll(batch289).isEmpty &&
      batch289.exceptAll(per).isEmpty)
  }

  test("kafka-shaped envelope source: s70 attribution holds ORDER-DEPENDENT state through the bus transport") {
    import graft.streaming.KafkaShapedEvents
    // the ledger bus specs prove monoid state converges through the
    // envelope; this one proves the harder property — s70's state is
    // order-dependent (last touch AS OF each purchase), so the bus
    // path must preserve per-key event-time folding across slices.
    val ev = Tables.events(spark, sf)
    val env = KafkaShapedEvents.envelopeFrom(ev, "events", nPartitions = 3)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_kattr").toString
    val envTs = env.withColumn("__us", unix_micros($"timestamp"))
    envTs.filter($"__us" <= mid).drop("__us")
      .coalesce(1).write.parquet(s"$dir/slice_a")
    Thread.sleep(1100)
    envTs.filter($"__us" > mid).drop("__us")
      .coalesce(1).write.parquet(s"$dir/slice_b")
    val envStream = spark.readStream
      .schema(KafkaShapedEvents.EnvelopeSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/slice_*")
    val events = Streams.normalize(spark, KafkaShapedEvents(envStream))
    val q = Streams.attributionStream(spark, events)
      .toDF("user_id", "event_id", "channel", "cents")
      .writeStream.outputMode("update").format("memory")
      .queryName("kattr_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val per = spark.table("kattr_out")
      .dropDuplicates("user_id", "event_id")
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_purchases"), sum($"cents").as("revenue_cents"))
      .withColumn("revenue_share",
        graft.functions.Num.decRound(
          $"revenue_cents".cast("double")
            / sum($"revenue_cents")
              .over(org.apache.spark.sql.expressions.Window.partitionBy())
              .cast("double"), 6))
      .localCheckpoint()
    assert(per.count() > 0)
    val batch289 = SparkEntry.queries("q289_attribution")(spark, sf)
    assert(per.exceptAll(batch289).isEmpty &&
      batch289.exceptAll(per).isEmpty)
  }

  test("streaming H/L ledger rebuilds batch q219 Corwin-Schultz (s65)") {
    val q = Streams.dailyOhlcStream(slicedEventsStream("hl"))
      .writeStream.outputMode("update").format("memory")
      .queryName("hl_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // the (h, l) projection of the OHLC ledger: h is a running max, l a
    // running min, so converged = extremes of the emissions per cell
    val hl = spark.table("hl_out")
      .groupBy($"user_id", $"day")
      .agg(max($"h").as("h"), min($"l").as("l"))
    assert(hl.count() > 0)
    // the ledger must equal the batch H/L frame exactly...
    val ev = Tables.events(spark, sf)
    val batchHl = ev.filter($"value" > 0.0)
      .groupBy($"user_id", date_trunc("day", $"ts").as("day"))
      .agg(max($"value").as("h"), min($"value").as("l"))
    assert(hl.exceptAll(batchHl).isEmpty && batchHl.exceptAll(hl).isEmpty)
    // ...and q219 is ITS OWN batch tail on the converged ledger (the
    // shared csSpreadFromDaily, not a spec-local copy)
    val streamed = queries.Microstructure.csSpreadFromDaily(
      hl.localCheckpoint())
    val batch = SparkEntry.queries("q219_corwin_schultz")(spark, sf)
    assert(batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("s60 volume ledger also rebuilds batch q222 HHI (s66)") {
    val q = Streams.dailyVolStream(slicedEventsStream("hhi"))
      .writeStream.outputMode("update").format("memory")
      .queryName("hhi_vol_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val vol = spark.table("hhi_vol_out")
      .groupBy($"user_id", $"day").agg(max($"v").as("v"))
    assert(vol.count() > 0)
    val streamed = queries.Quant.hhiFromDailyVol(vol.localCheckpoint())
    val batch = SparkEntry.queries("q222_hhi")(spark, sf)
    assert(batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("one streaming close ledger rebuilds BOTH pair-family twins q202 and q208 (s67)") {
    val q = Streams.dailyOhlcStream(slicedEventsStream("close"))
      .writeStream.outputMode("update").format("memory")
      .queryName("close_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // the close projection of the OHLC ledger: lexicographic struct max
    // is monotone, so converged = max emission
    val closes = spark.table("close_out")
      .groupBy($"user_id", $"day")
      .agg(max(struct($"c_ts", $"c_eid", $"c")).as("last"))
      .select($"user_id", $"day",
        graft.functions.Num.decRound(log($"last.c"), 12)
          .cast(org.apache.spark.sql.types.DecimalType(18, 12)).as("x"))
      .localCheckpoint()
    assert(closes.count() > 0)
    val batchCloses = queries.Quant.dailyCloses(spark, sf)
    assert(closes.exceptAll(batchCloses).isEmpty &&
      batchCloses.exceptAll(closes).isEmpty)
    val coint = queries.Quant.cointFromCloses(closes)
    val batch202 = SparkEntry.queries("q202_pairs_coint")(spark, sf)
    assert(batch202.count() > 0)
    assert(coint.exceptAll(batch202).isEmpty &&
      batch202.exceptAll(coint).isEmpty)
    val ll = queries.Quant.leadLagFromCloses(closes)
    val batch208 = SparkEntry.queries("q208_lead_lag")(spark, sf)
    assert(batch208.count() > 0)
    assert(ll.exceptAll(batch208).isEmpty && batch208.exceptAll(ll).isEmpty)
    // the weekday-effect census is a third tail of the same ledger
    val wd = queries.Quant.weekdayFromCloses(closes)
    val batch245 = SparkEntry.queries("q245_weekday_effect")(spark, sf)
    assert(batch245.count() > 0)
    assert(wd.exceptAll(batch245).isEmpty && batch245.exceptAll(wd).isEmpty)
    // ...and the Kendall IC + information-ratio tails make five
    val kt = queries.Quant.kendallFromCloses(closes)
    val batch246 = SparkEntry.queries("q246_kendall_ic")(spark, sf)
    assert(batch246.count() > 0)
    assert(kt.exceptAll(batch246).isEmpty && batch246.exceptAll(kt).isEmpty)
    val ir = queries.Quant.infoRatioFromCloses(closes)
    val batch247 = SparkEntry.queries("q247_information_ratio")(spark, sf)
    assert(batch247.count() > 0)
    assert(ir.exceptAll(batch247).isEmpty && batch247.exceptAll(ir).isEmpty)
    // ...and the r14e risk-ratio family makes nine tails of the same
    // converged ledger: Sortino, expected shortfall, capture, omega
    val so = queries.Quant.sortinoFromCloses(closes)
    val batch248 = SparkEntry.queries("q248_sortino")(spark, sf)
    assert(batch248.count() > 0)
    assert(so.exceptAll(batch248).isEmpty && batch248.exceptAll(so).isEmpty)
    val es = queries.Quant.esFromCloses(closes)
    val batch249 = SparkEntry.queries("q249_expected_shortfall")(spark, sf)
    assert(batch249.count() > 0)
    assert(es.exceptAll(batch249).isEmpty && batch249.exceptAll(es).isEmpty)
    val cap = queries.Quant.captureFromCloses(closes)
    val batch250 = SparkEntry.queries("q250_capture")(spark, sf)
    assert(batch250.count() > 0)
    assert(cap.exceptAll(batch250).isEmpty &&
      batch250.exceptAll(cap).isEmpty)
    val om = queries.Quant.omegaFromCloses(closes)
    val batch251 = SparkEntry.queries("q251_omega")(spark, sf)
    assert(batch251.count() > 0)
    assert(om.exceptAll(batch251).isEmpty && batch251.exceptAll(om).isEmpty)
    val ib = queries.Quant.indexBetaFromCloses(closes)
    val batch260 = SparkEntry.queries("q260_index_beta")(spark, sf)
    assert(batch260.count() > 0)
    assert(ib.exceptAll(batch260).isEmpty && batch260.exceptAll(ib).isEmpty)
    val rt = queries.Quant.runsTestFromCloses(closes)
    val batch261 = SparkEntry.queries("q261_runs_test")(spark, sf)
    assert(batch261.count() > 0)
    assert(rt.exceptAll(batch261).isEmpty && batch261.exceptAll(rt).isEmpty)
    val lb = queries.Quant.ljungBoxFromCloses(closes)
    val batch262 = SparkEntry.queries("q262_ljung_box")(spark, sf)
    assert(batch262.count() > 0)
    assert(lb.exceptAll(batch262).isEmpty && batch262.exceptAll(lb).isEmpty)
    val tm = queries.Quant.turnOfMonthFromCloses(closes)
    val batch263 = SparkEntry.queries("q263_turn_of_month")(spark, sf)
    assert(batch263.count() > 0)
    assert(tm.exceptAll(batch263).isEmpty && batch263.exceptAll(tm).isEmpty)
    val pf = queries.Quant.pacfFromCloses(closes)
    val batch264 = SparkEntry.queries("q264_pacf")(spark, sf)
    assert(batch264.count() > 0)
    assert(pf.exceptAll(batch264).isEmpty && batch264.exceptAll(pf).isEmpty)
    val td = queries.Quant.tailDepFromCloses(closes)
    val batch265 = SparkEntry.queries("q265_tail_dependence")(spark, sf)
    assert(batch265.count() > 0)
    assert(td.exceptAll(batch265).isEmpty && batch265.exceptAll(td).isEmpty)
    val cd = queries.Quant.crossDispersionFromCloses(closes)
    val batch267 = SparkEntry.queries("q267_cross_dispersion")(spark, sf)
    assert(batch267.count() > 0)
    assert(cd.exceptAll(batch267).isEmpty && batch267.exceptAll(cd).isEmpty)
    val br = queries.Quant.breadthFromCloses(closes)
    val batch268 = SparkEntry.queries("q268_market_breadth")(spark, sf)
    assert(batch268.count() > 0)
    assert(br.exceptAll(batch268).isEmpty && batch268.exceptAll(br).isEmpty)
    // ...and the r14j trio makes twenty tails of the same converged
    // ledger: Jarque–Bera, risk-parity weights, Mann–Kendall
    val jb = queries.Quant.jarqueBeraFromCloses(closes)
    val batch269 = SparkEntry.queries("q269_jarque_bera")(spark, sf)
    assert(batch269.count() > 0)
    assert(jb.exceptAll(batch269).isEmpty && batch269.exceptAll(jb).isEmpty)
    val rp = queries.Quant.riskParityFromCloses(closes)
    val batch270 = SparkEntry.queries("q270_risk_parity")(spark, sf)
    assert(batch270.count() > 0)
    assert(rp.exceptAll(batch270).isEmpty && batch270.exceptAll(rp).isEmpty)
    val mk = queries.Quant.mannKendallFromCloses(closes)
    val batch271 = SparkEntry.queries("q271_mann_kendall")(spark, sf)
    assert(batch271.count() > 0)
    assert(mk.exceptAll(batch271).isEmpty && batch271.exceptAll(mk).isEmpty)
    val nw = queries.Quant.neweyWestFromCloses(closes)
    val batch276 = SparkEntry.queries("q276_newey_west")(spark, sf)
    assert(batch276.count() > 0)
    assert(nw.exceptAll(batch276).isEmpty && batch276.exceptAll(nw).isEmpty)
    val fm = queries.Quant.famaMacbethFromCloses(closes)
    val batch278 = SparkEntry.queries("q278_fama_macbeth")(spark, sf)
    assert(batch278.count() > 0)
    assert(fm.exceptAll(batch278).isEmpty && batch278.exceptAll(fm).isEmpty)
    val rp2 = queries.Quant.rankPersistenceFromCloses(closes)
    val batch280 = SparkEntry.queries("q280_rank_persistence")(spark, sf)
    assert(batch280.count() > 0)
    assert(rp2.exceptAll(batch280).isEmpty &&
      batch280.exceptAll(rp2).isEmpty)
    // ...and the r14n pair: drawdown spells + the no-pair-join
    // correlation regime make twenty-four tails of one ledger
    val ds = queries.Quant.drawdownSpellsFromCloses(closes)
    val batch282 = SparkEntry.queries("q282_drawdown_spells")(spark, sf)
    assert(batch282.count() > 0)
    assert(ds.exceptAll(batch282).isEmpty && batch282.exceptAll(ds).isEmpty)
    val cr = queries.Quant.corrRegimeFromCloses(closes)
    val batch284 = SparkEntry.queries("q284_corr_regime")(spark, sf)
    assert(batch284.count() > 0)
    assert(cr.exceptAll(batch284).isEmpty && batch284.exceptAll(cr).isEmpty)
    val vb = queries.Quant.varBacktestFromCloses(closes)
    val batch291 = SparkEntry.queries("q291_var_backtest")(spark, sf)
    assert(batch291.count() > 0)
    assert(vb.exceptAll(batch291).isEmpty && batch291.exceptAll(vb).isEmpty)
    val bs = queries.Quant.bsGreeksFromCloses(closes)
    val batch294 = SparkEntry.queries("q294_bs_greeks")(spark, sf)
    assert(batch294.count() > 0)
    assert(bs.exceptAll(batch294).isEmpty && batch294.exceptAll(bs).isEmpty)
    val jk = queries.Quant.jackknifeSharpeFromCloses(closes)
    val batch296 = SparkEntry.queries("q296_jackknife_sharpe")(spark, sf)
    assert(batch296.count() > 0)
    assert(jk.exceptAll(batch296).isEmpty && batch296.exceptAll(jk).isEmpty)
    // ...and the round-closing pair: the board's 299th and 300th
    // queries are tails twenty-seven and twenty-eight of this ledger
    val dr = queries.Quant.divRatioFromCloses(closes)
    val batch299 = SparkEntry.queries("q299_diversification_ratio")(spark, sf)
    assert(batch299.count() > 0)
    assert(dr.exceptAll(batch299).isEmpty && batch299.exceptAll(dr).isEmpty)
    val sml = queries.Quant.smlFromCloses(closes)
    val batch300 = SparkEntry.queries("q300_sml_test")(spark, sf)
    assert(batch300.count() > 0)
    assert(sml.exceptAll(batch300).isEmpty && batch300.exceptAll(sml).isEmpty)
  }

  test("streaming OHLC ledger rebuilds the volatility family q220 + q223 (s68)") {
    val q = Streams.dailyOhlcStream(slicedEventsStream("ohlcled"))
      .writeStream.outputMode("update").format("memory")
      .queryName("ohlc_led").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // all four components monotone: open = min struct, close = max
    // struct, high = max, low = min of the emissions per cell
    val ohlc = spark.table("ohlc_led")
      .groupBy($"user_id", $"day")
      .agg(min(struct($"o_ts", $"o_eid", $"o")).as("of"),
        max(struct($"c_ts", $"c_eid", $"c")).as("cf"),
        max($"h").as("h"), min($"l").as("l"))
      .select($"user_id", $"day", $"of.o".as("o"), $"h", $"l",
        $"cf.c".as("c"))
      .localCheckpoint()
    assert(ohlc.count() > 0)
    val batchOhlc = queries.Microstructure.dailyOhlc(spark, sf)
    assert(ohlc.exceptAll(batchOhlc).isEmpty &&
      batchOhlc.exceptAll(ohlc).isEmpty)
    val gk = queries.Microstructure.gkFromDailyOhlc(ohlc)
    val batch220 = SparkEntry.queries("q220_garman_klass")(spark, sf)
    assert(batch220.count() > 0)
    assert(gk.exceptAll(batch220).isEmpty && batch220.exceptAll(gk).isEmpty)
    val park = queries.Microstructure.parkFromDailyHl(
      ohlc.select($"user_id", $"day", $"h", $"l"))
    val batch223 = SparkEntry.queries("q223_parkinson")(spark, sf)
    assert(batch223.count() > 0)
    assert(park.exceptAll(batch223).isEmpty &&
      batch223.exceptAll(park).isEmpty)
  }

  test("s68 OHLC ledger serves the whole r14b volatility family: q225-q227/q229-q232 tails + the s68 x s60 CMF composition") {
    // one streaming OHLC ledger, eight more batch tails: the converged
    // ledger (all four components monotone under accumulation) must
    // rebuild Rogers-Satchell, Yang-Zhang, the stochastic oscillator,
    // ATR, the ulcer index, Donchian breakouts and the overnight-gap
    // census exactly — and, joined with the converged s60 volume
    // ledger, Chaikin money flow (the second two-ledger composition
    // after q221). Every tail is the SHARED production function, not
    // a spec-local copy.
    val q = Streams.dailyOhlcStream(slicedEventsStream("ohlcfam"))
      .writeStream.outputMode("update").format("memory")
      .queryName("ohlc_fam").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val ohlc = spark.table("ohlc_fam")
      .groupBy($"user_id", $"day")
      .agg(min(struct($"o_ts", $"o_eid", $"o")).as("of"),
        max(struct($"c_ts", $"c_eid", $"c")).as("cf"),
        max($"h").as("h"), min($"l").as("l"))
      .select($"user_id", $"day", $"of.o".as("o"), $"h", $"l",
        $"cf.c".as("c"))
      .localCheckpoint()
    assert(ohlc.count() > 0)
    val tails = Seq[(String, org.apache.spark.sql.DataFrame)](
      "q225_rogers_satchell" -> queries.Microstructure.rsFromDailyOhlc(ohlc),
      "q226_yang_zhang" -> queries.Microstructure.yzFromDailyOhlc(ohlc),
      "q227_stochastic" -> queries.Microstructure.stochFromDailyOhlc(ohlc),
      "q229_atr" -> queries.Microstructure.atrFromDailyOhlc(ohlc),
      "q230_ulcer" -> queries.Microstructure.ulcerFromDailyOhlc(ohlc),
      "q231_donchian" -> queries.Microstructure.donchianFromDailyOhlc(ohlc),
      "q232_overnight_gap" -> queries.Microstructure.gapFromDailyOhlc(ohlc),
      "q236_calmar" -> queries.Microstructure.calmarFromDailyOhlc(ohlc),
      "q241_aroon" -> queries.Microstructure.aroonFromDailyOhlc(ohlc),
      "q243_vortex" -> queries.Microstructure.vortexFromDailyOhlc(ohlc))
    for ((name, streamed) <- tails) {
      val batch = SparkEntry.queries(name)(spark, sf)
      assert(batch.count() > 0, name)
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty, name)
    }
    val qv = Streams.dailyVolStream(slicedEventsStream("ohlcfamvol"))
      .writeStream.outputMode("update").format("memory")
      .queryName("ohlc_fam_vol").start()
    try { qv.processAllAvailable() } finally { qv.stop() }
    val vol = spark.table("ohlc_fam_vol")
      .groupBy($"user_id", $"day").agg(max($"v").as("v"))
      .localCheckpoint()
    val cmf = queries.Microstructure.cmfFromLedgers(ohlc, vol)
    val batch228 = SparkEntry.queries("q228_cmf")(spark, sf)
    assert(batch228.count() > 0)
    assert(cmf.exceptAll(batch228).isEmpty &&
      batch228.exceptAll(cmf).isEmpty)
    // the same converged s68×s60 pair also serves MFI (the fourth
    // two-ledger composition) — shared production tail, no copy
    val mfi = queries.Microstructure.mfiFromLedgers(ohlc, vol)
    val batch242 = SparkEntry.queries("q242_mfi")(spark, sf)
    assert(batch242.count() > 0)
    assert(mfi.exceptAll(batch242).isEmpty &&
      batch242.exceptAll(mfi).isEmpty)
    // ...and Ease of Movement (the fifth two-ledger composition) —
    // shared production tail on the same converged pair
    val eom = queries.Microstructure.eomFromLedgers(ohlc, vol)
    val batch272 = SparkEntry.queries("q272_eom")(spark, sf)
    assert(batch272.count() > 0)
    assert(eom.exceptAll(batch272).isEmpty &&
      batch272.exceptAll(eom).isEmpty)
  }

  test("OBV composes TWO ledgers: s67 closes x s60 volumes rebuild batch q221") {
    val stream = slicedEventsStream("obv")
    val qc = Streams.dailyOhlcStream(stream)
      .writeStream.outputMode("update").format("memory")
      .queryName("obv_closes").start()
    try { qc.processAllAvailable() } finally { qc.stop() }
    val qv = Streams.dailyVolStream(slicedEventsStream("obvvol"))
      .writeStream.outputMode("update").format("memory")
      .queryName("obv_vol").start()
    try { qv.processAllAvailable() } finally { qv.stop() }
    val closes = spark.table("obv_closes")
      .groupBy($"user_id", $"day")
      .agg(max(struct($"c_ts", $"c_eid", $"c")).as("last"))
      .select($"user_id", $"day",
        graft.functions.Num.decRound(log($"last.c"), 12)
          .cast(org.apache.spark.sql.types.DecimalType(18, 12)).as("x"))
      .localCheckpoint()
    val vol = spark.table("obv_vol")
      .groupBy($"user_id", $"day").agg(max($"v").as("v"))
      .localCheckpoint()
    val obv = queries.Quant.obvFromLedgers(closes, vol)
    val batch = SparkEntry.queries("q221_obv")(spark, sf)
    assert(batch.count() > 0)
    assert(obv.exceptAll(batch).isEmpty && batch.exceptAll(obv).isEmpty)
    // same two converged ledgers serve the Amihud illiquidity tail
    // (third two-ledger composition) and the Roll implied spread
    // (closes-only tail) — shared production functions, no copies
    val amihud = queries.Quant.amihudFromLedgers(closes, vol)
    val batch239 = SparkEntry.queries("q239_amihud_daily")(spark, sf)
    assert(batch239.count() > 0)
    assert(amihud.exceptAll(batch239).isEmpty &&
      batch239.exceptAll(amihud).isEmpty)
    val roll = queries.Quant.rollFromCloses(closes)
    val batch240 = SparkEntry.queries("q240_roll_spread_daily")(spark, sf)
    assert(batch240.count() > 0)
    assert(roll.exceptAll(batch240).isEmpty &&
      batch240.exceptAll(roll).isEmpty)
  }

  test("streaming ES weighted sample via bounded TopK state equals batch q205 (s64)") {
    // the A-ES key is a stateless per-row function (deterministic hash
    // uniform), so weighted-sampling-without-replacement streams as a
    // bounded top-k: TopKAgg in a streaming groupBy holds <= k entries
    // per source and converges to the batch sample under any slicing
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_s64").toString
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(s"$dir/batch_b")
    val keyed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
      .filter($"n_chars" > 0L)
      .select($"doc_id", $"source", $"n_chars",
        ((($"doc_id" * lit(2654435761L)) % lit(4294967296L)).cast("double") +
          lit(0.5)).as("h"))
      .withColumn("es_key",
        log($"h" / lit(4294967296.0)) / $"n_chars".cast("double"))
      .withColumn("key8", graft.functions.Num.decRound($"es_key", 8))
      .groupBy($"source")
      // rank on (key8 DESC, doc_id ASC) == TopKAgg's (metric DESC,
      // id ASC) contract — the batch q205 ordering exactly
      .agg(graft.functions.TopK.topK($"key8", $"doc_id", 10).as("top"))
    val q = keyed.writeStream.outputMode("complete").format("memory")
      .queryName("s64_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("s64_out")
      .select($"source", posexplode($"top"))
      .select($"source", ($"pos" + 1).cast("long").as("rk"),
        $"col._2".as("doc_id"))
    val batch = SparkEntry.queries("q205_weighted_sample")(spark, sf)
      .select($"source", $"rk", $"doc_id")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming sign-ACF ledger increments reduce to the batch q218 result (s63)") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_sacf").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.signAcfStream(spark, stream)
      .toDF("user_id", "n", "mo")
      .writeStream.outputMode("update").format("memory")
      .queryName("sacf_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // integer increments reduce exactly — fold them driver-side (the
    // reduced frame is one row per instrument) and run batch q218's
    // closed-form rho on identical operands
    val folded = spark.table("sacf_out")
      .as[(Long, Long, Seq[Long])].collect()
      .groupBy(_._1).map { case (u, rows) =>
        val n = rows.map(_._2).sum
        val mo = rows.map(_._3).reduce((a, b) => a.zip(b).map(t => t._1 + t._2))
        (u, n, mo)
      }.toSeq
    def rho(mo: Seq[Long], k: Int): Option[Double] = {
      val o = (k - 1) * 6
      val (n, sx, sy, sxy, sxx, syy) =
        (mo(o), mo(o + 1), mo(o + 2), mo(o + 3), mo(o + 4), mo(o + 5))
      val nD = n.toDouble
      val vx = nD * sxx - sx.toDouble * sx
      val vy = nD * syy - sy.toDouble * sy
      if (n >= 10 && vx > 0.0 && vy > 0.0)
        Some(BigDecimal((nD * sxy - sx.toDouble * sy) /
            (math.sqrt(vx) * math.sqrt(vy)))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
    }
    val streamed = folded.filter(_._2 >= 20L).map { case (u, n, mo) =>
      (u, n, rho(mo, 1), rho(mo, 2), rho(mo, 3))
    }.toDF("user_id", "n_signs", "rho1", "rho2", "rho3")
    val batch = SparkEntry.queries("q218_sign_autocorr")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming jump ledger increments reduce to the batch q215 result (s62)") {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_jmp").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.jumpStream(spark, stream)
      .toDF("user_id", "n", "rv", "bp", "n_bp")
      .writeStream.outputMode("update").format("memory")
      .queryName("jmp_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val m = spark.table("jmp_out")
      .groupBy($"user_id")
      .agg(sum($"n").as("n_rets"),
        sum($"rv".cast(DecimalType(38, 24))).cast(DecimalType(28, 10))
          .as("rv"),
        sum($"bp".cast(DecimalType(38, 24))).cast(DecimalType(28, 10))
          .as("bp"),
        sum($"n_bp").as("n_bp"))
      .filter($"n_rets" >= 20L)
    val rvD = $"rv".cast("double")
    val bvD = $"bp".cast("double") * (math.Pi / 2.0)
    val jump = graft.functions.Num.decRound(
      when(rvD > 0.0, greatest(lit(0.0), lit(1.0) - bvD / rvD)), 6)
    val streamed = m.select($"user_id", $"n_rets",
      graft.functions.Num.decRound(rvD, 6).as("rv"),
      graft.functions.Num.decRound(bvD, 6).as("bv"),
      jump.as("jump_ratio"), (jump > 0.5).as("flag_jump"))
    val batch = SparkEntry.queries("q215_jump_detect")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming quantile sketch keeps its rank-error contract over the stream (s59)") {
    // QuantileSketchAgg drops into a streaming groupBy unchanged (the
    // s44 mergeable-summaries convention): each micro-batch folds into
    // the bounded level summary in the state store, and the final
    // estimate must satisfy the closed-form rank-error bound no matter
    // how the stream was sliced
    val ev = Tables.events(spark, sf).filter($"value".isNotNull)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_s59").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
      .groupBy($"event_type")
      .agg(graft.functions.QuantileSketch
        .quantiles($"value", Seq(0.5, 0.9), k = 64).as("q"))
    val q = stream.writeStream.format("memory").queryName("s59_pctl")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("s59_pctl")
      .as[(String, Seq[Double])].collect().toMap
    val truth = ev.groupBy($"event_type")
      .agg(collect_list($"value").as("vs")).as[(String, Seq[Double])]
      .collect().map { case (t, vs) => t -> vs.toArray.sorted }.toMap
    assert(got.nonEmpty && got.keySet == truth.keySet)
    truth.foreach { case (t, sorted) =>
      val n = sorted.length
      val bound = graft.functions.QuantileSketch.rankErrorBound(n, 64)
      Seq(0.5, 0.9).zip(got(t)).foreach { case (p, est) =>
        val err = math.abs(sorted.count(_ <= est).toLong -
          math.ceil(p * n).toLong)
        assert(err <= bound, s"$t p=$p: rank error $err > $bound (n=$n)")
      }
    }
  }

  test("streaming transition counts sum to the batch q107 matrix across micro-batches") {
    // two files split at the global ts midpoint -> per-user in-order
    // delivery across TWO micro-batches (maxFilesPerTrigger=1), so the
    // carried last-type state must stitch boundary-straddling transitions
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_trans").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100) // distinct mtimes: file source replays in mtime order
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.transitionStream(spark, stream)
      .toDF("user_id", "prev_type", "next_type", "n")
      .writeStream.outputMode("update").format("memory")
      .queryName("trans_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("trans_out")
      .groupBy($"prev_type", $"next_type").agg(sum($"n").as("n"))
      .as[(String, String, Long)].collect().toSet
    val batch = SparkEntry.queries("q107_transition_matrix")(spark, sf)
      .select($"prev_type", $"next_type", $"n")
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming Bollinger breaks aggregate to the batch q124 counts across micro-batches") {
    // two mtime-ordered files -> the carried 19-value tail must stitch
    // windows straddling the micro-batch boundary for the counts to match
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_boll").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.bollingerStream(spark, stream)
      .toDF("user_id", "ts", "event_id", "above", "below")
      .writeStream.outputMode("update").format("memory")
      .queryName("boll_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("boll_out")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_obs"), sum($"above").as("n_above"),
        sum($"below").as("n_below"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("q124_bollinger")(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // the per-event signal is genuinely exercised: some breaks exist
    assert(spark.table("boll_out").agg(sum($"above" + $"below"))
      .as[Long].collect()(0) > 0)
  }

  test("streaming rolling vol (s18) equals batch q97 bit-for-bit across micro-batches") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_vol").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.rollingVolStream(spark, stream)
      .toDF("user_id", "event_id", "vol20")
      .writeStream.outputMode("update").format("memory")
      .queryName("vol_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("vol_out").select($"event_id", $"vol20")
      .as[(Long, Option[Double])].collect().toSet
    val batch = SparkEntry.queries("q97_rolling_vol")(spark, sf)
      .as[(Long, Option[Double])].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming RSI (s19) equals batch q106 bit-for-bit across micro-batches") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_rsi").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.rsiStream(spark, stream)
      .toDF("user_id", "event_id", "rsi")
      .writeStream.outputMode("update").format("memory")
      .queryName("rsi_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("rsi_out")
      .select($"user_id", $"event_id", $"rsi")
      .as[(Long, Long, Double)].collect().toSet
    val batch = SparkEntry.queries("q106_rsi")(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // both RSI regimes genuinely occur (not all neutral)
    assert(streamed.exists(_._3 > 50.0) && streamed.exists(_._3 < 50.0))
  }

  test("stream-stream interval join (s22) rebuilds batch q47 across micro-batches") {
    val ev = Tables.events(spark, sf)
    // split BETWEEN a real click→purchase pair (click strictly inside
    // the purchase's 1h lookback) so a cross-batch match is guaranteed
    // — a blind midpoint split found zero such pairs in this small
    // dataset and left the state assertion vacuous
    val mid = ev.filter($"event_type" === "purchase").alias("p")
      .join(ev.filter($"event_type" === "click").alias("c"), "user_id")
      .filter(unix_micros($"c.ts") >= unix_micros($"p.ts") - 3600000000L &&
        unix_micros($"c.ts") < unix_micros($"p.ts"))
      .select(((unix_micros($"c.ts") + unix_micros($"p.ts")) / 2)
        .cast("long").as("m"))
      .orderBy($"m").limit(1).collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    // both sides read the same file stream; the type filter splits it —
    // cross-batch pairs (purchase in b, click in a) MUST come from the
    // engine's watermark-bounded join state
    def side(t: String) = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
      .filter($"event_type" === t)
    val q = Streams.intervalJoinStream(spark, side("purchase"), side("click"))
      .writeStream.outputMode("append").format("memory")
      .queryName("ssj_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // rebuild q47's per-purchase counts: pairs + zero-fill for
    // clickless purchases
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id")
    val counts = purchases
      .join(spark.table("ssj_out").groupBy($"p_id".as("event_id"))
        .agg(count(lit(1)).as("n_clicks")), Seq("event_id"), "left")
      .select($"event_id", coalesce($"n_clicks", lit(0L)).as("n_clicks"))
      .as[(Long, Long)].collect().toSet
    val batch = SparkEntry.queries("q47_range_join")(spark, sf)
      .as[(Long, Long)].collect().toSet
    assert(counts == batch && counts.nonEmpty)
    // the join genuinely matched across the micro-batch boundary:
    // at least one purchase after the split paired with a click before it
    val crossPairs = spark.table("ssj_out")
      .join(ev.select($"event_id".as("p_id"), unix_micros($"ts").as("pm")), "p_id")
      .join(ev.select($"event_id".as("c_id"), unix_micros($"ts").as("cm")), "c_id")
      .filter($"pm" > mid && $"cm" <= mid).count()
    assert(crossPairs > 0, "no cross-batch pairs — the state test is vacuous")
  }

  test("streaming moving stats (s21) equals batch q23 bit-for-bit across micro-batches") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ma").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.movingStatsStream(spark, stream)
      .toDF("user_id", "event_id", "ma7", "vol7")
      .writeStream.outputMode("update").format("memory")
      .queryName("ma_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("ma_out")
      .select($"user_id", $"event_id", $"ma7", $"vol7")
      .as[(Long, Long, Option[Double], Option[Double])].collect().toSet
    val batch = SparkEntry.queries("q23_moving_avg")(spark, sf)
      .as[(Long, Long, Option[Double], Option[Double])].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // partial windows (n=1 null stddev) and full 7-row windows both occur
    assert(streamed.exists(_._4.isEmpty) && streamed.exists(_._4.isDefined))
  }

  test("streaming drawdown (s20) equals batch q73 bit-for-bit across micro-batches") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_dd").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.drawdownStream(spark, stream)
      .toDF("user_id", "event_id", "dd", "peak")
      .writeStream.outputMode("update").format("memory")
      .queryName("dd_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // both emitted series are nondecreasing per user, so the per-user
    // max over ALL emissions equals the final state equals batch q73
    val streamed = spark.table("dd_out").groupBy($"user_id")
      .agg(max($"dd").as("max_drawdown"), max($"peak").as("peak_value"))
      .as[(Long, Double, Double)].collect().toSet
    val batch = SparkEntry.queries("q73_drawdown")(spark, sf)
      .as[(Long, Double, Double)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // drawdowns are genuinely exercised (some user dipped below peak)
    assert(streamed.exists(_._2 > 0.0))
  }

  test("streaming VWAP (s23) converges to batch q74 across micro-batches") {
    val li = Tables.lineitem(spark, sf)
      .select($"l_returnflag", $"l_shipdate", $"l_extendedprice", $"l_quantity")
    val mid = li.agg(
      ((min(unix_micros($"l_shipdate")) + max(unix_micros($"l_shipdate"))) / 2)
        .cast("long")).collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_vwap").toString
    li.filter(unix_micros($"l_shipdate") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    li.filter(unix_micros($"l_shipdate") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(li.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.vwapStream(spark, stream)
      .toDF("l_returnflag", "mo_us", "n", "vwap", "volume")
      .writeStream.outputMode("update").format("memory")
      .queryName("vwap_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // update mode re-emits each key per touching micro-batch; n is
    // monotone per key, so max-n row = the drained answer
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_returnflag", $"mo_us").orderBy($"n".desc)
    val streamed = spark.table("vwap_out")
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"l_returnflag", timestamp_micros($"mo_us").as("mo"),
        $"vwap", $"volume")
      .as[(String, java.sql.Timestamp, Double, Double)].collect().toSet
    val batch = SparkEntry.queries("q74_vwap")(spark, sf)
      .select($"l_returnflag", $"mo", $"vwap", $"volume")
      .as[(String, java.sql.Timestamp, Double, Double)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // the state genuinely stitched across the boundary: some (flag,
    // month) has rows in both halves (months straddle the date split)
    val straddling = li
      .groupBy($"l_returnflag", date_trunc("month", $"l_shipdate"))
      .agg(sum(when(unix_micros($"l_shipdate") <= mid, 1).otherwise(0)).as("a"),
        sum(when(unix_micros($"l_shipdate") > mid, 1).otherwise(0)).as("b"))
      .filter($"a" > 0 && $"b" > 0).count()
    assert(straddling > 0, "no key straddles the split — stitch untested")
  }

  test("streaming retention marks (s24) rebuild batch q84 across micro-batches") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ret").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.retentionMarksStream(spark, stream)
      .toDF("cohort_us", "weeks_since", "user_id")
      .writeStream.outputMode("update").format("memory")
      .queryName("ret_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // marks are exactly-once per (user, offset): the batch
    // count(DISTINCT user_id) is a stateless count of marks
    val streamed = spark.table("ret_out")
      .groupBy(timestamp_micros($"cohort_us").as("cohort_week"),
        $"weeks_since")
      .agg(count(lit(1)).as("n_users"))
      .as[(java.sql.Timestamp, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("q84_retention")(spark, sf)
      .as[(java.sql.Timestamp, Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // cohort state genuinely carried across the boundary: a mark whose
    // cohort week was pinned before the split fired for a week after it
    val weekUs = 604800000000L
    val crossed = spark.table("ret_out")
      .filter($"cohort_us" <= mid &&
        ($"cohort_us" + $"weeks_since" * weekUs) > mid).count()
    assert(crossed > 0, "no cross-batch retention mark — state untested")
  }

  test("streaming BBO (s25) equals batch q151 bit-for-bit across micro-batches") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_bbo").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.bboStream(spark, stream)
      .toDF("user_id", "event_id", "best_bid", "best_ask", "spread", "crossed")
      .writeStream.outputMode("update").format("memory")
      .queryName("bbo_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("bbo_out")
      .select($"user_id", $"event_id", $"best_bid", $"best_ask",
        $"spread", $"crossed")
      .as[(Long, Long, Option[Double], Option[Double],
           Option[Double], Option[Int])].collect().toSet
    val batch = SparkEntry.queries("q151_bbo")(spark, sf)
      .select($"user_id", $"event_id", $"best_bid", $"best_ask",
        $"spread", $"crossed")
      .as[(Long, Long, Option[Double], Option[Double],
           Option[Double], Option[Int])].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // the carried book genuinely straddled the boundary: some user's
    // FIRST post-mid quote is an ask whose emission still carries a
    // best_bid — that bid can only come from pre-mid state
    val wPost = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val carried = SparkEntry.queries("q151_bbo")(spark, sf)
      .filter(unix_micros($"ts") > mid)
      .withColumn("rn", row_number().over(wPost)).filter($"rn" === 1)
      .filter($"event_id" % 2 =!= 0 && $"best_bid".isNotNull).count()
    assert(carried > 0, "no pre-mid bid survives past the split")
    // both book regimes occur
    assert(streamed.exists(_._6.contains(1)) && streamed.exists(_._6.contains(0)))
  }

  test("streaming depth ladder (s26) equals batch q152 bit-for-bit across micro-batches") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_depth").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.depthStream(spark, stream)
      .toDF("user_id", "event_id", "bid1", "bid2", "bid3",
        "ask1", "ask2", "ask3", "depth_bid", "depth_ask")
      .writeStream.outputMode("update").format("memory")
      .queryName("depth_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val cols = Seq($"user_id", $"event_id", $"bid1", $"bid2", $"bid3",
      $"ask1", $"ask2", $"ask3", $"depth_bid", $"depth_ask")
    val streamed = spark.table("depth_out").select(cols: _*)
      .as[(Long, Long, Option[Double], Option[Double], Option[Double],
           Option[Double], Option[Double], Option[Double], Int, Int)]
      .collect().toSet
    val batch = SparkEntry.queries("q152_book_depth")(spark, sf)
      .select(cols: _*)
      .as[(Long, Long, Option[Double], Option[Double], Option[Double],
           Option[Double], Option[Double], Option[Double], Int, Int)]
      .collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // the ladder genuinely fills: some event carries all three levels
    // on both sides, and partial ladders occur too
    assert(streamed.exists(r => r._5.isDefined && r._8.isDefined))
    assert(streamed.exists(r => r._4.isEmpty || r._7.isEmpty))
  }

  test("streaming trade signs (s27) equal batch q153 per-trade across micro-batches") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_sign").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.tradeSignStream(spark, stream)
      .toDF("user_id", "event_id", "sign")
      .writeStream.outputMode("update").format("memory")
      .queryName("sign_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("sign_out")
      .select($"user_id", $"event_id", $"sign")
      .as[(Long, Long, Int)].collect().toSet
    val batch = graft.queries.SecurityMaster.q153TradeSigns(spark, sf)
      .select($"user_id", $"event_id", $"sign".cast("int"))
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // every classification regime genuinely occurs
    val signs = streamed.map(_._3)
    assert(signs.contains(1) && signs.contains(-1))
    // the carried book genuinely classified across the boundary: some
    // post-split trade has a quote-test mid whose user saw no
    // post-split quote before it (its book state is pre-split)
    val firstPost = ev.filter($"value" > 0 && unix_micros($"ts") > mid)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts", $"event_id")))
      .filter($"rn" === 1 && $"event_type" === "purchase")
      .select($"event_id")
    val carried = graft.queries.SecurityMaster.q153TradeSigns(spark, sf)
      .join(firstPost, Seq("event_id"))
      .filter($"mid".isNotNull).count()
    assert(carried > 0, "no cross-batch quote-test trade — state untested")
  }

  test("streaming SCD2 maintenance converges to the from-scratch batch build") {
    // two mtime-ordered micro-batches of signup records: the second
    // interleaves in event time with the first, so applyDelta must
    // reopen and re-split already-closed intervals — the live
    // symbology-maintenance path, checked against build(H ∪ D)
    val ev = Tables.events(spark, sf).filter($"event_type" === "signup")
      .select($"user_id", $"event_type", $"ts", $"value", $"event_id")
    // split by event_id parity, NOT time: both halves span the whole
    // period, forcing genuine late-arrival interval splits in batch 2
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2s").toString
    ev.filter($"event_id" % 2 === 0).coalesce(1).write.parquet(s"$dir/in/batch_a")
    Thread.sleep(1100)
    ev.filter($"event_id" % 2 === 1).coalesce(1).write.parquet(s"$dir/in/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/batch_*")
    val q = Streams.scd2Sink(stream, keys = Seq("user_id", "event_type"),
      ts = "ts", rid = "event_id",
      tableDir = s"$dir/dim", checkpointDir = s"$dir/ckpt")
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = Streams.currentSnapshot(spark, s"$dir/dim").get
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")
    val batch = ev.withColumn("valid_to", lead($"ts", 1).over(w))
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    val cols = batch.columns.map(col).toIndexedSeq
    assert(streamed.select(cols: _*).exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed.select(cols: _*)).isEmpty)
  }

  test("versioned publish is idempotent under foreachBatch replay and never loses the dim") {
    // foreachBatch is at-least-once: simulate a crash between the
    // pointer swap and the checkpoint commit by re-running the SAME
    // batches from a FRESH checkpoint against the already-published
    // dim — every batch replays, and the dim must come out unchanged
    // (the old delete-then-rename + blind re-apply would duplicate
    // every delta row and mint zero-length intervals)
    val ev = Tables.events(spark, sf).filter($"event_type" === "signup")
      .select($"user_id", $"event_type", $"ts", $"value", $"event_id")
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2r").toString
    ev.filter($"event_id" % 2 === 0).coalesce(1).write.parquet(s"$dir/in/batch_a")
    Thread.sleep(1100)
    ev.filter($"event_id" % 2 === 1).coalesce(1).write.parquet(s"$dir/in/batch_b")
    def run(ckpt: String): Unit = {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/batch_*")
      val q = Streams.scd2Sink(stream, keys = Seq("user_id", "event_type"),
        ts = "ts", rid = "event_id",
        tableDir = s"$dir/dim", checkpointDir = ckpt)
      try { q.processAllAvailable() } finally { q.stop() }
    }
    run(s"$dir/ckpt1")
    val first = Streams.currentSnapshot(spark, s"$dir/dim").get.collect().toSet
    run(s"$dir/ckpt2") // full replay: same batch ids, same data
    val second = Streams.currentSnapshot(spark, s"$dir/dim").get.collect().toSet
    assert(first.nonEmpty && second == first,
      s"replay changed the dim: ${second.size} vs ${first.size} rows")
    // and the publish never leaves the table without a readable dim
    assert(Streams.currentSnapshot(spark, s"$dir/dim").get.count() > 0)
  }

  test("streaming symbology resolution equals the batch as-of rollup (q135)") {
    // build the SCD2 identifier dim once (the s16-maintained shape,
    // with symbols minted per epoch), stream the purchases against it
    val ev = Tables.events(spark, sf)
    val wDedup = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id", $"ts").orderBy($"event_id".desc)
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val dir = java.nio.file.Files.createTempDirectory("graft_sym").toString
    ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"event_id")
      .withColumn("dup", row_number().over(wDedup)).filter($"dup" === 1)
      .withColumn("seq", row_number().over(wSeq))
      .select($"user_id", $"ts".as("eff_from"),
        concat(lit("SYM-"), $"user_id", lit("-"), $"seq").as("symbol"))
      .withColumn("valid_to", lead($"eff_from", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"eff_from")))
      .write.parquet(s"$dir/dim")
    ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
      .coalesce(1).write.parquet(s"$dir/trades")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/trades").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/trades")
    val q = Streams.symbologyResolveStream(stream,
        spark.read.parquet(s"$dir/dim"))
      .writeStream.outputMode("append").format("memory")
      .queryName("sym_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("sym_out")
      .groupBy($"user_id", $"symbol")
      .agg(count(lit(1)).as("n_trades"),
        round(sum($"value"), 2).as("total_value"))
    val batch = SparkEntry.queries("q135_symbology")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming gap detection equals batch q26 including cross-batch gaps") {
    // reuse the two-file mtime-ordered split so gaps straddling the
    // micro-batch boundary must come from the carried last-ts state
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_gap").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.gapDetectStream(spark, stream)
      .toDF("user_id", "gap_start", "gap_end", "gap_sec")
      .writeStream.outputMode("update").format("memory")
      .queryName("gap_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("gap_out")
    val batch = SparkEntry.queries("q26_gap_detect")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("batch and streaming sessionization agree on closed sessions") {
    val batch = SparkEntry.queries("q27_sessionize")(spark, sf)
    val stream = Streams.eventsStream(spark, streamDir)
    val q = Streams.sessionize(spark, stream).writeStream
      .outputMode("append").format("memory").queryName("sess_cmp").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("sess_cmp")
      .select($"user_id", $"session_start", $"n_events")
    // every streamed (closed) session appears in the batch result
    val missing = streamed.join(
      batch.select($"user_id", $"session_start", $"n_events"),
      Seq("user_id", "session_start", "n_events"), "left_anti")
    assert(missing.count() == 0)
  }

  test("aggregate MV snapshot equals the one-shot batch aggregate exactly") {
    val tableDir = java.nio.file.Files.createTempDirectory("graft_mv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mv_ck").toString
    val stream = Streams.eventsStream(spark, streamDir)
    val q = Streams.aggMvSink(stream, tableDir, ckpt)
    try { q.processAllAvailable() } finally { q.stop() }
    val snapshot = Streams.currentSnapshot(spark, tableDir).get
    val batch = Streams.aggMv(Tables.events(spark, sf))
    // decimal lattice ⇒ merge-order-independent totals: exact equality
    assert(snapshot.count() > 0)
    assert(snapshot.exceptAll(batch).isEmpty && batch.exceptAll(snapshot).isEmpty)
  }

  test("top-k MV snapshot equals the one-shot batch leaderboard exactly") {
    val tableDir = java.nio.file.Files.createTempDirectory("graft_tkmv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tkmv_ck").toString
    val stream = Streams.eventsStream(spark, streamDir)
    val q = Streams.topKMvSink(stream, tableDir, ckpt)
    try { q.processAllAvailable() } finally { q.stop() }
    val snapshot = Streams.currentSnapshot(spark, tableDir).get
    val batch = Streams.topKMv(Tables.events(spark, sf))
    // bounded selection is arithmetic-free: exact equality, ranks included
    assert(snapshot.count() > 0)
    assert(snapshot.exceptAll(batch).isEmpty && batch.exceptAll(snapshot).isEmpty)
  }

  test("streaming conflation census increments sum to the batch q160 census") {
    // two-file mtime-ordered split: unchanged-tick runs straddling the
    // micro-batch boundary must come from the carried (price, ts) state
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_confl").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.conflateStream(spark, stream)
      .toDF("user_id", "n_events", "n_suppressed")
      .writeStream.outputMode("update").format("memory")
      .queryName("confl_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("confl_out")
      .groupBy($"user_id")
      .agg(sum($"n_events").as("n_events"),
        sum($"n_suppressed").as("n_suppressed"))
    val batch = SparkEntry.queries("q160_conflate")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("replay twins sort each user's micro-batch: a reversed (ts, event_id) feed equals the in-order feed") {
    // the same tape as ONE micro-batch, written once ascending and once
    // descending in (ts, event_id): only the replay's per-user sort can
    // make the order-dependent folds (carried last price/ts, carried
    // last type) agree
    val ev = Tables.events(spark, sf)
    def feed(tag: String, descending: Boolean) = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_$tag")
        .toString
      val key = Seq($"ts", $"event_id")
      ev.orderBy((if (descending) key.map(_.desc) else key.map(_.asc)): _*)
        .coalesce(1).write.parquet(s"$dir/batch")
      // the file really holds the tape in the requested order
      val us = spark.read.parquet(s"$dir/batch")
        .select(unix_micros($"ts")).as[Long].collect().toSeq
      assert(us.head != us.last)
      assert(us == (if (descending) us.sorted.reverse else us.sorted))
      spark.readStream.schema(ev.schema).parquet(s"$dir/batch")
    }
    val asc = feed("order_asc", descending = false)
    val desc = feed("order_desc", descending = true)
    def drain(out: org.apache.spark.sql.DataFrame, name: String) = {
      val q = out.writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try { q.processAllAvailable() } finally { q.stop() }
      spark.table(name)
    }
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      a.count() > 0 && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(same(
      drain(Streams.conflateStream(spark, asc).toDF(), "order_confl_asc"),
      drain(Streams.conflateStream(spark, desc).toDF(), "order_confl_desc")))
    assert(same(
      drain(Streams.transitionStream(spark, asc).toDF(), "order_trans_asc"),
      drain(Streams.transitionStream(spark, desc).toDF(), "order_trans_desc")))
  }

  test("streaming OFI increments reduce to the batch q156 result") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ofi").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.ofiStream(spark, stream)
      .toDF("user_id", "day", "n_signed", "num", "den")
      .writeStream.outputMode("update").format("memory")
      .queryName("ofi_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("ofi_out")
      .groupBy($"user_id", $"day")
      .agg(sum($"n_signed").as("n_signed"),
        graft.functions.Num.decRound(sum($"num") / sum($"den"), 4).as("ofi"))
    val batch = SparkEntry.queries("q156_order_imbalance")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming markout increments reduce to the batch q155 result") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_mark").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.markoutStream(spark, stream)
      .toDF("user_id", "h_sec", "n", "s")
      .writeStream.outputMode("update").format("memory")
      .queryName("mark_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("mark_out")
      .groupBy($"h_sec")
      .agg(sum($"n").as("n_trades"),
        graft.functions.Num.decRound(sum($"s") / sum($"n"), 4)
          .as("avg_markout"))
    val batch = SparkEntry.queries("q155_markout")(spark, sf)
    assert(streamed.count() == 3)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // deadlines must actually straddle the split for the carried book
    // to be exercised: at least one horizon's deadline from batch_a
    // settles in batch_b (900s past a tick in the last 15 minutes of
    // batch_a) — guaranteed by construction on a 30-day tape split at
    // the midpoint with ~150 events/user; sanity-check totals instead
    assert(streamed.agg(sum($"n_trades")).collect()(0).getLong(0) > 0)
  }

  test("gram-index-state ingest dedup emits exactly the batch pair set") {
    // probe-bounded state sink: pairs must still match the one-shot
    // batch run — the stored exploded index + summed df ledgers are
    // semantically identical to re-deriving both from text
    val docs = Tables.documents(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_gidx")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    Seq(0, 1).foreach { gen =>
      val tmp = root.resolve(s"tmp$gen").toString
      docs.filter($"doc_id" % 2 === gen).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      java.nio.file.Files.copy(part, inDir.resolve(s"gen$gen.parquet"))
    }
    val stream = spark.readStream.schema(Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = Streams.dedupIngestGramIndexSink(stream,
      indexDir = root.resolve("idx").toString,
      pairsDir = root.resolve("pairs").toString,
      checkpointDir = root.resolve("ckpt").toString)
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.read.option("recursiveFileLookup", "true")
      .parquet(root.resolve("pairs").toString)
      .as[(Long, Long, Double)].collect().toSet
    val full = graft.operators.Dedup
      .ngramJaccardPairs(docs, maxDf = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == full,
      s"extra=${streamed.diff(full).size} missing=${full.diff(streamed).size}")
    assert(streamed.nonEmpty)
  }

  test("gram-index compaction preserves scoring across a sink restart") {
    // lifecycle: ingest two generations, stop, compact the state,
    // ingest a third — batch 2 must score against the c-dir alone and
    // the full pair union must still equal the one-shot batch run
    val docs = Tables.documents(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_gcompact")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    def drop(gen: Int): Unit = {
      val tmp = root.resolve(s"tmp$gen").toString
      docs.filter($"doc_id" % 3 === gen).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      java.nio.file.Files.copy(part, inDir.resolve(s"gen$gen.parquet"))
    }
    drop(0); drop(1)
    def startSink() = Streams.dedupIngestGramIndexSink(
      spark.readStream.schema(Tables.documentsSchema)
        .option("maxFilesPerTrigger", "1").parquet(inDir.toString),
      indexDir = root.resolve("idx").toString,
      pairsDir = root.resolve("pairs").toString,
      checkpointDir = root.resolve("ckpt").toString)
    val q1 = startSink()
    try { q1.processAllAvailable() } finally { q1.stop() }
    Streams.compactGramIndex(spark, root.resolve("idx").toString, upTo = 1L)
    // the replaced delta dirs are gone, the covering dir is in place,
    // and the merged df ledger is one row per distinct gram
    assert(java.nio.file.Files.exists(root.resolve("idx/grams/c1")))
    assert(!java.nio.file.Files.exists(root.resolve("idx/grams/b0")))
    assert(!java.nio.file.Files.exists(root.resolve("idx/dfs/b1")))
    val ledger = spark.read.parquet(root.resolve("idx/dfs/c1").toString)
    assert(ledger.count() == ledger.select("gram").distinct().count())
    drop(2)
    val q2 = startSink()
    try { q2.processAllAvailable() } finally { q2.stop() }
    val streamed = spark.read.option("recursiveFileLookup", "true")
      .parquet(root.resolve("pairs").toString)
      .as[(Long, Long, Double)].collect().toSet
    val full = graft.operators.Dedup
      .ngramJaccardPairs(docs, maxDf = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == full,
      s"extra=${streamed.diff(full).size} missing=${full.diff(streamed).size}")
    // batch 2's pairs include cross-compaction matches (vs gens 0/1)
    val b2 = spark.read.parquet(root.resolve("pairs/b2").toString)
      .as[(Long, Long, Double)].collect().toSet
    assert(b2.exists { case (a, b, _) => a % 3 != 2 || b % 3 != 2 })
  }

  test("streaming name-match ingest emits exactly the batch pair set") {
    // fuzzy-match each arriving generation of parts against the master
    // so far: the per-batch union must equal the one-shot batch self-
    // join (both plans recall-complete by the segment lemma)
    val parts = Tables.part(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_nm")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    Seq(0, 1).foreach { gen =>
      val tmp = root.resolve(s"tmp$gen").toString
      parts.filter($"p_partkey" % 2 === gen).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      java.nio.file.Files.copy(part, inDir.resolve(s"gen$gen.parquet"))
    }
    val stream = spark.readStream.schema(Tables.partSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = Streams.nameMatchIngestSink(stream,
      baseDir = root.resolve("base").toString,
      pairsDir = root.resolve("pairs").toString,
      checkpointDir = root.resolve("ckpt").toString, maxDist = 3)
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.read.option("recursiveFileLookup", "true")
      .parquet(root.resolve("pairs").toString)
      .as[(Long, Long, Int)].collect().toSet
    val full = graft.operators.EditDistance.pairs(parts,
        keyCol = "p_partkey", nameCol = "p_name", blockCol = "p_brand",
        maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed == full,
      s"extra=${streamed.diff(full).size} missing=${full.diff(streamed).size}")
    assert(streamed.nonEmpty)
    // the cross-generation requirement is real: some pair must straddle
    // the even/odd split (guards the test itself against a degenerate
    // all-within-one-batch corpus)
    assert(streamed.exists { case (a, b, _) => a % 2 != b % 2 })
  }

  test("streaming realized-variance increments reduce to the batch q157 result") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_rv").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.rvStream(spark, stream)
      .toDF("user_id", "day", "n", "ss")
      .writeStream.outputMode("update").format("memory")
      .queryName("rv_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // n=0 days reduce back to the batch NULL-rv convention
    val streamed = spark.table("rv_out")
      .groupBy($"user_id", $"day")
      .agg(sum($"n").as("n_rets"),
        when(sum($"n") > 0L,
          graft.functions.Num.decRound(sum($"ss"), 6)).as("rv"))
    val batch = SparkEntry.queries("q157_realized_variance")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming staleness increments rebuild the batch q166 SLA audit exactly") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_stale").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.stalenessStream(spark, stream)
      .toDF("user_id", "day", "stale_inc", "max_gap", "lo_us", "hi_us")
      .writeStream.outputMode("update").format("memory")
      .queryName("stale_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // sum / max / min+max reductions — integer µs end to end, so the
    // rebuilt aggregates are bit-identical to batch q166, including the
    // NULL max-gap and NULL share of single-print days
    val streamed = spark.table("stale_out")
      .groupBy($"user_id", $"day")
      .agg(sum($"stale_inc").as("stale_us"),
        max($"max_gap").as("max_gap_us"),
        (max($"hi_us") - min($"lo_us")).as("span_us"))
      .select($"user_id", $"day", $"stale_us", $"max_gap_us",
        graft.functions.Num.decRound($"stale_us".cast("double") /
          nullif($"span_us", lit(0L)).cast("double"), 6).as("stale_share"))
    val batch = SparkEntry.queries("q166_staleness")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming Kyle-lambda moment increments reduce to the batch q170 result") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_kyle").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.kyleStream(spark, stream)
      .toDF("user_id", "n", "sdp", "sq", "sxy", "sq2")
      .writeStream.outputMode("update").format("memory")
      .queryName("kyle_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // closed-form moments from the reduced sums; FP noise vs batch
    // covar_pop/var_pop sits far below the 6dp round
    val streamed = spark.table("kyle_out")
      .groupBy($"user_id")
      .agg(sum($"n").as("n_obs"), sum($"sdp").as("sdp"),
        sum($"sq").as("sq"), sum($"sxy").as("sxy"), sum($"sq2").as("sq2"))
      .select($"user_id", $"n_obs",
        graft.functions.Num.decRound(
          (($"sxy" / $"n_obs") - ($"sdp" / $"n_obs") * ($"sq" / $"n_obs")) /
            nullif(($"sq2" / $"n_obs") - ($"sq" / $"n_obs") * ($"sq" / $"n_obs"),
              lit(0.0)) * lit(1000000.0), 6).as("kyle_lambda"))
    val batch = SparkEntry.queries("q170_kyle_lambda")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming time-weighted spread increments reduce to the batch q173 result") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_tws").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.quotedSpreadStream(spark, stream)
      .toDF("user_id", "day", "n", "qus", "sw")
      .writeStream.outputMode("update").format("memory")
      .queryName("tws_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("tws_out")
      .groupBy($"user_id", $"day")
      .agg(sum($"n").as("n_quoted"), sum($"qus").as("quoted_us"),
        graft.functions.Num.decRound(sum($"sw") /
          nullif(sum($"qus"), lit(0L)).cast("double"), 6).as("tw_spread"))
    val batch = SparkEntry.queries("q173_quoted_spread_tw")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming VPIN bucket increments reduce to the batch q179 result") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_vpin").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.vpinStream(spark, stream)
      .toDF("user_id", "bucket", "vol", "net")
      .writeStream.outputMode("update").format("memory")
      .queryName("vpin_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // integer bucket increments reduce bit-exactly; the carried cum
    // keeps bucket ids stable across the batch split
    val streamed = spark.table("vpin_out")
      .groupBy($"user_id", $"bucket")
      .agg(sum($"vol").as("vol"), sum($"net").as("net"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_buckets"),
        graft.functions.Num.decRound(avg(abs($"net").cast("double") /
          nullif($"vol", lit(0L)).cast("double")), 6).as("vpin"))
    val batch = SparkEntry.queries("q179_vpin")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming PIT publish through the JDBC upsert sink converges to batch q29 (s45)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_s45").toString
    val url = s"jdbc:derby:$tmp/derby45;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      """CREATE TABLE pit (user_id BIGINT, event_type VARCHAR(40),
        |latest_ts TIMESTAMP, latest_value DOUBLE,
        |PRIMARY KEY (user_id, event_type))""".stripMargin.replace("\n", " "))
    finally conn.close()
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$tmp/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$tmp/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/batch_*")
    val q = Streams.pitJdbcSink(stream, url, "pit")
    try { q.processAllAvailable() } finally { q.stop() }
    // the relational store now IS the PIT snapshot: keyed SELECT ≡ q29
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val served = spark.read.jdbc(url, "pit", props)
      .select($"USER_ID".as("user_id"), $"EVENT_TYPE".as("event_type"),
        $"LATEST_TS".as("latest_ts"), $"LATEST_VALUE".as("latest_value"))
    val batch = SparkEntry.queries("q29_pit_latest")(spark, sf)
    assert(served.count() > 0)
    assert(served.exceptAll(batch).isEmpty && batch.exceptAll(served).isEmpty)
    // restart with a FRESH checkpoint: the entire tape replays into
    // the SAME table — upsertWrite's convergence means the re-merged
    // state is exactly what was already there (the crash-recovery
    // path a production deployment actually exercises)
    val q2 = Streams.pitJdbcSink(spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/batch_*"),
      url, "pit")
    try { q2.processAllAvailable() } finally { q2.stop() }
    val replayed = spark.read.jdbc(url, "pit", props)
      .select($"USER_ID".as("user_id"), $"EVENT_TYPE".as("event_type"),
        $"LATEST_TS".as("latest_ts"), $"LATEST_VALUE".as("latest_value"))
    assert(replayed.exceptAll(batch).isEmpty &&
      batch.exceptAll(replayed).isEmpty,
      "full-tape replay into the live table must converge to the same state")
  }

  test("streaming conversion latencies rebuild the batch q180 percentiles") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_conv").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.conversionStream(spark, stream)
      .toDF("user_id", "cohort_week", "latency_s")
      .writeStream.outputMode("update").format("memory")
      .queryName("conv_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // each user converts at most once; the emitted latency multiset is
    // the batch latency frame, so the same percentile agg matches
    val emitted = spark.table("conv_out")
    assert(emitted.select($"user_id").distinct().count() == emitted.count())
    val streamed = emitted.groupBy($"cohort_week")
      .agg(count(lit(1)).as("n_converters"),
        graft.functions.Num.decRound(
          percentile($"latency_s", lit(0.5)), 4).as("p50_s"),
        graft.functions.Num.decRound(
          percentile($"latency_s", lit(0.9)), 4).as("p90_s"))
    val batch = SparkEntry.queries("q180_conversion_latency")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming realized-moment increments reduce to the batch q188 result (s48)") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_mom").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.momentsStream(spark, stream)
      .toDF("user_id", "n", "s2", "s3", "s4", "sv")
      .writeStream.outputMode("update").format("memory")
      .queryName("mom_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // power-sum increments reduce exactly; the consumer forms the
    // moments from the reduced sums once, like batch q188
    val streamed = spark.table("mom_out")
      .groupBy($"user_id")
      .agg(sum($"n").as("n_rets"), sum($"s2").as("rv2"),
        sum($"s3").as("rv3"), sum($"s4").as("rv4"),
        sum($"sv").as("svs"))
      .filter($"rv2" > 0.0)
      .select($"user_id", $"n_rets",
        graft.functions.Num.decRound($"rv2", 6).as("rv"),
        graft.functions.Num.decRound($"svs", 6).as("downside_sv"),
        graft.functions.Num.decRound(sqrt($"n_rets".cast("double")) *
          $"rv3" / pow($"rv2", 1.5), 6).as("rskew"),
        graft.functions.Num.decRound($"n_rets".cast("double") * $"rv4" /
          ($"rv2" * $"rv2"), 6).as("rkurt"))
    val batch = SparkEntry.queries("q188_realized_moments")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming effective-spread increments reduce to the batch q191 result (s49)") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_eff").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.effSpreadStream(spark, stream)
      .toDF("user_id", "day", "n", "se", "sq", "si")
      .writeStream.outputMode("update").format("memory")
      .queryName("eff_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("eff_out")
      .groupBy($"user_id", $"day")
      .agg(sum($"n").as("n_trades"), sum($"se").as("se"),
        sum($"sq").as("sq"), sum($"si").as("si"))
      .select($"user_id", $"day", $"n_trades",
        graft.functions.Num.decRound(
          $"se" / $"n_trades".cast("double"), 6).as("eff_spread"),
        graft.functions.Num.decRound(
          $"sq" / $"n_trades".cast("double"), 6).as("quoted_at_trade"),
        graft.functions.Num.decRound(
          $"si".cast("double") / $"n_trades".cast("double"), 6)
          .as("improve_share"))
    val batch = SparkEntry.queries("q191_effective_spread")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming Hurst bucket ledger reduces to the batch q193 result (s50)") {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_hurst").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.hurstLedgerStream(spark, stream)
      .toDF("user_id", "k", "s_long")
      .writeStream.outputMode("update").format("memory")
      .queryName("hurst_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // exact decimal recovery (12dp lattice point -> the roundtrip is
    // exact), then the batch's own moment/variance/slope tail
    val s = spark.table("hurst_out")
      .select($"user_id", $"k",
        round($"s_long".cast("double") * lit(1e-12), 12)
          .cast(DecimalType(18, 12)).as("s"))
    val vark = s.groupBy($"user_id", $"k")
      .agg(count(lit(1)).as("n"),
        sum($"s").as("ss"), sum($"s" * $"s").as("ss2"))
      .select($"user_id", $"k", $"n",
        ($"ss2".cast("double") / $"n".cast("double") -
          ($"ss".cast("double") / $"n".cast("double")) *
            ($"ss".cast("double") / $"n".cast("double"))).as("vark"))
      .filter($"vark" > 0.0 && $"n" >= 2L)
    val streamed = vark.groupBy($"user_id")
      .agg(count(lit(1)).as("nk"),
        sum(when($"k" === 1, log($"vark"))).as("y1"),
        sum(when($"k" === 2, log($"vark"))).as("y2"),
        sum(when($"k" === 4, log($"vark"))).as("y4"),
        sum(when($"k" === 8, log($"vark"))).as("y8"))
      .filter($"nk" === 4L)
      .select($"user_id",
        graft.functions.Num.decRound((lit(-1.5) * $"y1" - lit(0.5) * $"y2" +
          lit(0.5) * $"y4" + lit(1.5) * $"y8") /
          (lit(10.0) * log(lit(2.0))), 4).as("hurst"))
    val batch = SparkEntry.queries("q193_hurst")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming message-traffic increments rebuild batch q195 (s54)") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_mt").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.messageTrafficStream(spark, stream)
      .toDF("user_id", "day", "dq", "dt", "closed_peak", "open_cnt")
      .writeStream.outputMode("update").format("memory")
      .queryName("mt_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // sums reduce; peak = greatest(closed peaks, open-minute partials)
    // - an open minute that later closes is dominated by its closed
    // count, the tape-end minute's last partial IS its full count
    val streamed = spark.table("mt_out")
      .groupBy($"user_id", $"day")
      .agg(sum($"dq").as("n_quotes"), sum($"dt").as("n_trades"),
        greatest(max($"closed_peak"), max($"open_cnt"))
          .as("peak_minute_quotes"))
      .select($"user_id", $"day", $"n_quotes", $"n_trades",
        $"peak_minute_quotes",
        graft.functions.Num.decRound(
          $"n_quotes".cast("double") /
            nullif($"n_trades", lit(0L)).cast("double"), 6).as("otr"))
    val batch = SparkEntry.queries("q195_message_traffic")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("native streaming aggregation rebuilds the batch q192 fertility table (s53)") {
    val docs = Tables.documents(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_fert")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    Seq(0, 1).foreach { gen =>
      val tmp = root.resolve(s"tmp$gen").toString
      docs.filter($"doc_id" % 2 === gen).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      java.nio.file.Files.copy(part, inDir.resolve(s"gen$gen.parquet"))
    }
    val stream = spark.readStream.schema(Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = Streams.fertilityStream(stream)
      .writeStream.outputMode("update").format("memory")
      .queryName("fert_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // update-mode emissions are monotone per lang: keep the max row,
    // then the batch ratio arithmetic on exact longs
    val fin = spark.table("fert_out").groupBy($"lang")
      .agg(max($"n_docs").as("n_docs"), max($"chars").as("chars"),
        max($"ws_tokens").as("ws_tokens"),
        max($"lex_tokens").as("lex_tokens"),
        max($"lex_chars").as("lex_chars"))
      .filter($"chars" > 0L)
      .select($"lang", $"n_docs",
        graft.functions.Num.decRound(
          $"ws_tokens".cast("double") / $"chars".cast("double"), 6)
          .as("ws_per_char"),
        graft.functions.Num.decRound(
          $"lex_tokens".cast("double") / $"chars".cast("double"), 6)
          .as("lex_per_char"),
        graft.functions.Num.decRound($"lex_chars".cast("double") /
          nullif($"lex_tokens", lit(0L)).cast("double"), 6)
          .as("avg_lex_len"))
    val batch = SparkEntry.queries("q192_tokenizer_fertility")(spark, sf)
    assert(fin.count() > 0)
    assert(fin.exceptAll(batch).isEmpty && batch.exceptAll(fin).isEmpty)
  }

  test("live settlement ledger through VersionedTable converges to batch q199 (s52)") {
    val ev = Tables.events(spark, sf)
    // the static session calendar - q199's spine, built once
    val calendar = ev
      .agg(date_trunc("day", min($"ts")).as("mn"),
        date_trunc("day", max($"ts")).as("mx"))
      .select(explode(sequence($"mn", $"mx", expr("interval 1 day")))
        .as("sday"))
      .filter(dayofweek($"sday").between(2, 6) && dayofmonth($"sday") =!= 1)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"sday"))
        .cast("long"))
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_settle").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.settlementLedgerSink(stream, calendar,
      tableDir = s"$dir/ledger", checkpointDir = s"$dir/ckpt")
    try { q.processAllAvailable() } finally { q.stop() }
    // decimal merges are exact: the live ledger IS the batch ledger
    val table = new graft.sources.VersionedTable(spark, s"$dir/ledger")
    val served = table.current.get
      .select($"settle_day", $"n_trades",
        round($"gross_notional", 2).cast("double").as("gross_notional"))
    val batch = SparkEntry.queries("q199_settlement")(spark, sf)
    assert(served.count() > 0)
    assert(served.exceptAll(batch).isEmpty && batch.exceptAll(served).isEmpty)
    // as-known-at batch 0 differs (mid-tape knowledge), and versions
    // retain exactly the travel depth
    assert(table.versions.nonEmpty && table.currentVersion.contains(1L))
  }

  test("streaming underwater spells rebuild batch q196 across micro-batches (s51)") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_uw").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.underwaterStream(spark, stream)
      .toDF("user_id", "grp", "len_prints", "len_us")
      .writeStream.outputMode("update").format("memory")
      .queryName("uw_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // max-progress per (user, grp): a spell straddling the split emits
    // a partial then its close; a tape-end open spell's last emission
    // is exactly batch q196's in-progress run
    val streamed = spark.table("uw_out")
      .groupBy($"user_id", $"grp")
      .agg(max($"len_prints").as("len_prints"), max($"len_us").as("len_us"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_spells"),
        max($"len_prints").as("max_underwater_prints"),
        max($"len_us").as("max_underwater_us"))
    val batch = SparkEntry.queries("q196_underwater")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming event-study frames rebuild batch q181 across micro-batches (s47)") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_es").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.eventStudyStream(spark, stream)
      .toDF("user_id", "event_id", "car", "n_seen", "saw_ret",
        "sum_ret", "n_ret")
      .writeStream.outputMode("update").format("memory")
      .queryName("es_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val em = spark.table("es_out")
    // per event: the row with the largest frame progress (a frame that
    // straddles the split emits a partial then its close; tape-end
    // anchors emit partials only — exactly batch q181's partial frame)
    val wEv = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id", $"event_id")
      .orderBy($"n_seen".desc, $"n_ret".desc)
    val cars = em.filter($"event_id" >= 0)
      .withColumn("rn", row_number().over(wEv)).filter($"rn" === 1)
      .filter($"saw_ret") // all-null frames are batch's NULL car3
    // per user: the moments from the row with the most returns folded
    // (max_by agg + renamed key keeps the self-derived join resolvable)
    val moments = em.groupBy($"user_id")
      .agg(max_by($"sum_ret", $"n_ret").as("m_sum"),
        max($"n_ret").as("m_n"))
      .select($"user_id".as("m_user"), $"m_sum", $"m_n")
    val streamed = cars
      .join(moments, cars("user_id") === moments("m_user"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Num.decRound(
          avg($"car" - lit(3.0) * $"m_sum" / $"m_n"), 6).as("abn_car"))
    val batch = SparkEntry.queries("q181_event_study")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming perplexity ledgers rebuild the batch q185 LM exactly (s46)") {
    // ledger-state LM: after streaming the corpus in two arbitrary
    // micro-batches, (a) rescoring the full corpus against the final
    // ledgers equals batch q185 bit-for-bit at its 4dp round, and
    // (b) the LAST batch's live scores (corpus-so-far = full corpus)
    // already equal q185's rows for those docs
    val docs = Tables.documents(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_ppl")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    Seq(0, 1).foreach { gen =>
      val tmp = root.resolve(s"tmp$gen").toString
      docs.filter($"doc_id" % 2 === gen).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      java.nio.file.Files.copy(part, inDir.resolve(s"gen$gen.parquet"))
    }
    val stream = spark.readStream.schema(Tables.documentsSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val ledgers = root.resolve("lm").toString
    val scores = root.resolve("scores").toString
    val q = Streams.perplexityLedgerSink(stream, ledgers, scores,
      checkpointDir = root.resolve("ckpt").toString)
    try { q.processAllAvailable() } finally { q.stop() }
    val batchQ185 = SparkEntry.queries("q185_bigram_perplexity")(spark, sf)
    val rescore = Streams.perplexityScore(spark, docs, ledgers)
    assert(rescore.count() == batchQ185.count())
    assert(rescore.exceptAll(batchQ185).isEmpty &&
      batchQ185.exceptAll(rescore).isEmpty)
    // the final batch saw the complete LM: its landed rows are q185 rows
    val last = spark.read.parquet(s"$scores/b1")
    assert(last.count() > 0)
    assert(last.exceptAll(batchQ185).isEmpty,
      "last-batch live scores must already sit on the full-corpus LM")
    // compaction consolidates both families into c-dirs WITHOUT moving
    // a single score: the merged counts are the same LM
    Streams.compactPerplexityLedgers(spark, ledgers, upTo = 1L)
    val famDirs = new java.io.File(s"$ledgers/bi").listFiles().map(_.getName)
    assert(famDirs.contains("c1") && !famDirs.exists(_.startsWith("b")),
      famDirs.mkString(","))
    val rescore2 = Streams.perplexityScore(spark, docs, ledgers)
    assert(rescore2.exceptAll(batchQ185).isEmpty &&
      batchQ185.exceptAll(rescore2).isEmpty,
      "compacted ledgers must score identically")
  }

  test("streaming AR(1) ledger increments reduce to the batch q201 result (s55)") {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ar1").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.ar1Stream(spark, stream)
      .toDF("user_id", "n", "sx", "sy", "sxy", "sxx")
      .writeStream.outputMode("update").format("memory")
      .queryName("ar1_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // the string-decimal increments reduce EXACTLY (decimal sums are
    // associative); the consumer then runs batch q201's own tail on
    // identical operands — equality is bit-for-bit, not approximate
    val m = spark.table("ar1_out")
      .groupBy($"user_id")
      .agg(sum($"n").as("n_pairs"),
        sum($"sx".cast(DecimalType(38, 24))).as("sx"),
        sum($"sy".cast(DecimalType(38, 24))).as("sy"),
        sum($"sxy".cast(DecimalType(38, 24))).as("sxy"),
        sum($"sxx".cast(DecimalType(38, 24))).as("sxx"))
    val nD = $"n_pairs".cast("double")
    val (sx, sy, sxy, sxx) = ($"sx".cast("double"), $"sy".cast("double"),
      $"sxy".cast("double"), $"sxx".cast("double"))
    val den = nD * sxx - sx * sx
    val b = (nD * sxy - sx * sy) / den
    val streamed = m.filter($"n_pairs" >= 10L && den > 0.0)
      .select($"user_id", $"n_pairs",
        graft.functions.Num.decRound(b, 6).as("ar1_b"),
        graft.functions.Num.decRound(when(b > 0.0 && b < 1.0,
          -log(lit(2.0)) / log(b)), 4).as("halflife_prints"))
    val batch = SparkEntry.queries("q201_ar1_halflife")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming shortfall ledger increments reduce to the batch q203 result (s56)") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_sf56").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.shortfallStream(spark, stream)
      .toDF("user_id", "day", "arr6u", "n", "q", "nt")
      .writeStream.outputMode("update").format("memory")
      .queryName("sf56_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // integer increments reduce exactly; at spec scale every count is
    // far below 2^53, so the /1e6 de-lattice lands on the same nearest
    // double as batch q203's decimal→double cast
    val m = spark.table("sf56_out")
      .groupBy($"user_id", $"day")
      .agg(max($"arr6u").as("a6"), sum($"n").as("n_trades"),
        sum($"q").as("qty"), sum($"nt").as("ntu"))
    val arrD = $"a6".cast("double") / 1e6
    val ntD = $"ntu".cast("double") / 1e6
    val qtyD = $"qty".cast("double")
    val streamed = m.select($"user_id", $"day", $"n_trades", $"qty",
      graft.functions.Num.decRound(arrD, 6).as("arrival_px"),
      graft.functions.Num.decRound(
        lit(10000.0) * (ntD - arrD * qtyD) / (arrD * qtyD), 4).as("is_bps"))
    val batch = SparkEntry.queries("q203_impl_shortfall")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming minute bins reduce to the batch q207 result (s57)") {
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(
      ((min(unix_micros($"ts")) + max(unix_micros($"ts"))) / 2).cast("long"))
      .collect()(0).getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_mb").toString
    ev.filter(unix_micros($"ts") <= mid)
      .coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    ev.filter(unix_micros($"ts") > mid)
      .coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    val q = Streams.minuteBinStream(stream)
      .writeStream.outputMode("update").format("memory")
      .queryName("mb_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    // update mode re-emits a corrected row per (user, minute) — take
    // the LATEST (= max, counts only grow) per cell, then run batch
    // q207's closed-form tail on the reduced bins
    val bins = spark.table("mb_out")
      .groupBy($"user_id", $"minute").agg(max($"c").as("c"))
    val m = bins.groupBy($"user_id")
      .agg(sum($"c").as("n_prints"), sum($"c" * $"c").as("sc2"),
        min($"minute").as("m0"), max($"minute").as("m1"))
      .withColumn("n_mins", $"m1" - $"m0" + lit(1L))
      .filter($"n_mins" >= 2L)
    val nM = $"n_mins".cast("double")
    val mu = $"n_prints".cast("double") / nM
    val varC = $"sc2".cast("double") / nM - mu * mu
    val streamed = m.select($"user_id", $"n_prints", $"n_mins",
      graft.functions.Num.decRound(varC / mu, 6).as("fano"),
      graft.functions.Num.decRound(
        (sqrt(varC) - mu) / (sqrt(varC) + mu), 6).as("burstiness"))
    val batch = SparkEntry.queries("q207_burstiness")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming skyline state converges to the batch q210 front (s58)") {
    val docs = Tables.documents(spark, sf)
    val nd = docs.count()
    val dir = java.nio.file.Files.createTempDirectory("graft_sky").toString
    // split by doc_id parity — the front must be order-independent
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$dir/batch_a")
    Thread.sleep(1100)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(s"$dir/batch_b")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/batch_*")
    // the LAST emission per source is the converged front (a later
    // batch may evict earlier members, and a source absent from the
    // last batch keeps its earlier front) — capture per-batch frames
    // so "latest emission per source" is exact, not inferred
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long, Long, Long)]
    val q = Streams.skylineStream(stream)
      .toDF("source", "doc_id", "n_tokens", "n_types", "ttr6")
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        emitted.synchronized {
          df.collect().foreach(r => emitted += ((id, r.getString(0),
            r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        }
        ()
      }.start()
    try { q.processAllAvailable() } finally { q.stop() }
    assert(nd > 0)
    val lastBatch = emitted.groupBy(_._2).map { case (s, rows) =>
      s -> rows.map(_._1).max }
    val streamed = emitted
      .filter { case (id, s, _, _, _, _) => lastBatch(s) == id }
      .map { case (_, s, id, nTok, nTyp, t6) => (s, id, nTok, nTyp, t6) }
      .toSeq.toDF("source", "doc_id", "n_tokens", "n_types", "ttr6")
      .select($"source", $"doc_id", $"n_tokens", $"n_types",
        graft.functions.Num.decRound($"ttr6".cast("double") / 1e6, 6)
          .as("ttr"))
    val batch = SparkEntry.queries("q210_skyline")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "converged streaming front must equal the batch skyline")
  }

  test("conversionStream counts a purchase tied to the first view's microsecond") {
    // batch q180 qualifies purchases by TIMESTAMP only (t >= first
    // view ts); a purchase sharing the first view's exact µs but with
    // a SMALLER event_id must still convert (latency 0), and a
    // purchase strictly before any view must not
    val t0 = 1700000000000000L // µs, mid-2023 — inside the ts guard
    val dir = java.nio.file.Files.createTempDirectory("graft_tie").toString
    Seq(
      (1L, t0, 10L, "view"), (1L, t0, 5L, "purchase"), // tie, id BEFORE view
      (2L, t0 + 1000000L, 20L, "view"), (2L, t0, 21L, "purchase"))
      .toDF("user_id", "us", "event_id", "event_type")
      .select($"user_id", timestamp_micros($"us").as("ts"), $"event_id",
        $"event_type")
      .coalesce(1).write.parquet(s"$dir/batch_a")
    val schema = spark.read.parquet(s"$dir/batch_a").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/batch_*")
    val q = Streams.conversionStream(spark, stream)
      .toDF("user_id", "cohort_week", "latency_s")
      .writeStream.outputMode("update").format("memory")
      .queryName("tie_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("tie_out")
      .select($"user_id", $"latency_s").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 0.0)), s"got $got")
  }
}
