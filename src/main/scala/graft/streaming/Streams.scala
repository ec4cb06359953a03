package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface: incremental ingestion of the `events`
  * feed — watermarked windowed aggregation and stateful sessionization.
  *
  * The same `events` parquet drives both batch and streaming (the
  * kappa-style contract): a file-source stream over the directory
  * replays history, and in production the identical plan runs over a
  * message-bus source, because every transform below is
  * source-agnostic.
  */
object Streams {

  /** What the ordered replay ([[replayByUser]]) keys and sorts by;
    * every event case class below carries these three fields.
    */
  sealed trait KeyedEvent {
    def user_id: Long
    def ts: java.sql.Timestamp
    def event_id: Long
  }

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
                          value: Double, event_id: Long) extends KeyedEvent
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Long,
                     session_value: Double)
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)

  /** THE source entry for every streaming twin: resolve an
    * [[EventSource]] transport to the canonical normalized events
    * frame. Twins compose on the result and never see the transport —
    * swapping the file replay source for the Kafka-shaped bus source
    * changes one constructor at the call site and nothing downstream
    * (differential-spec-proven per transport).
    */
  def normalize(spark: SparkSession, src: EventSource): DataFrame =
    src.normalized(spark)

  /** File-source stream over an events parquet directory, normalized by
    * the same footer-branched read plan as the batch loader
    * ([[Tables.eventsReadPlan]]) — so a unit change in the source encoding
    * (TIMESTAMP(NANOS) vs TIMESTAMP_MICROS) is handled identically on the
    * batch and streaming paths. The plan is sniffed once from the files
    * present at stream construction; a file source directory is
    * single-schema by contract. (Compatibility veneer over
    * `normalize(spark, FileEvents(path))`.)
    */
  def eventsStream(spark: SparkSession, path: String): DataFrame =
    normalize(spark, FileEvents(path))

  /** Sliding-window counts with a watermark: late data beyond 1 hour is
    * dropped, so state is bounded regardless of stream length.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))

  /** Stateful sessionization: 30-minute inactivity gap, implemented
    * with flatMapGroupsWithState so the per-user state is just
    * (start, last, n, sum) — O(users) state, not O(events).
    * Sessions close either when a gap appears inside the feed or when
    * the event-time watermark passes last+30min (timeout path).
    */
  /** µs precision throughout — `Timestamp.getTime` alone is ms-truncated
    * and diverges from the batch sessionizer (q27) on boundary gaps.
    */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  private def tsFromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }

  /** The ordered per-user replay every order-dependent twin runs on:
    * group the micro-batch by `user_id`, sort each user's events by
    * (µs `ts`, `event_id`) — the batch twins' window order — restore
    * the user's state, run the twin's `fold` over the sorted events,
    * and save the state it returns (`None` leaves the stored state as
    * it was). Update mode with no timeout: only users with events in
    * the batch are visited, and each emits the rows its fold returns.
    * A twin supplies its event type, state type, fold and emissions.
    *
    * In-order-per-key delivery caveat: the sort orders events WITHIN
    * one micro-batch. Across batches the fold sees them in arrival
    * order, so a twin converges to its batch query only when no event
    * arrives in a later micro-batch than a successor of the same user.
    * For an order-dependent recurrence (EWMA, drawdown, tick signs,
    * cohort pins) such a late event is folded out of place — e.g. a
    * late print understates a drawdown its successor already
    * advanced — so a production deployment feeds these twins from a
    * per-key-ordered source (e.g. compacted kafka partitions keyed by
    * user) or buffers by watermark before the fold.
    */
  private def replayByUser[E <: KeyedEvent, S: Encoder, O: Encoder](
      events: Dataset[E])(
      fold: (Long, Seq[E], Option[S]) => (Option[S], Iterator[O]))
      : Dataset[O] =
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[S, O](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[E], state: GroupState[S]) =>
          val (next, out) = fold(user,
            evs.toSeq.sortBy(e => (micros(e.ts), e.event_id)),
            state.getOption)
          next.foreach(state.update)
          out
      }

  /** Stream-stream interval join (conversion attribution): each click
    * joined to the same user's purchases within the following hour.
    * Watermarks on BOTH sides + the time-range predicate bound the join
    * state Spark must keep — without them a stream-stream join buffers
    * forever.
    */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      expr("""user_id = p_user AND
              p_ts >= click_ts AND p_ts <= click_ts + interval 1 hour"""))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("p_ts"), col("p_value"))
  }

  /** Streaming exact dedup: drops replayed event_ids while keeping only
    * watermark-bounded state (ids older than the watermark are evicted
    * — the at-least-once-source → effectively-once pattern).
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Latest-record merge: union the current snapshot with a new batch
    * and keep the most recent row per (user_id, event_type) — the same
    * PIT semantics as the batch q29 operator (tie-break ts desc,
    * event_id desc). Pure function: one keyed window pass, no join
    * fan-out.
    */
  def upsertLatest(current: Option[DataFrame], batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cols = Seq("user_id", "event_type", "ts", "value", "event_id")
    val b = batch.select(cols.map(col): _*)
    val all = current.fold(b)(c => c.select(cols.map(col): _*).unionByName(b))
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // -----------------------------------------------------------------
  // versioned-snapshot publish: idempotent + atomic pointer swap
  // -----------------------------------------------------------------

  /** Resolves the published snapshot of a versioned table dir, or None
    * before the first publish — a read-side view over
    * [[graft.sources.VersionedTable]], which owns the pointer/version
    * machinery every snapshot sink (s5/s16/s36/s37) publishes through.
    */
  def currentSnapshot(spark: SparkSession, tableDir: String): Option[DataFrame] =
    new graft.sources.VersionedTable(spark, tableDir).current


  /** Incremental PIT-upsert sink: every micro-batch merges into a
    * parquet-backed latest-per-key snapshot via foreachBatch — the
    * ingestion-side "incremental upsert" of a securities master
    * without a table format. Each batch writes an immutable versioned
    * snapshot directory and atomically swaps the `CURRENT` pointer
    * file ([[graft.sources.VersionedTable.commit]] — idempotent under foreachBatch replay,
    * never loses the dim mid-swap); read the live snapshot with
    * [[currentSnapshot]]. At scale the same code runs against
    * HDFS/S3A through the Hadoop FileSystem API it already uses.
    */
  def pitUpsertSink(events: DataFrame, tableDir: String,
                    checkpointDir: String,
                    keepVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        new graft.sources.VersionedTable(batch.sparkSession, tableDir,
          keepVersions)
          .commit(batchId)(base => upsertLatest(base, batch.toDF()))
        ()
      }
      .start()

  /** The s36 maintained aggregate over any events frame: per
    * (user_id, event_type) — row count, value total on the
    * DECIMAL(28,6) lattice, first/last event time. Shared by the sink
    * (per-batch partials + merges) and the differential test (one-shot
    * batch run), so streamed and batch results are the same FUNCTION
    * by construction; the decimal lattice is what makes the merge
    * EXACT — decimal addition is associative, so any batch split
    * produces bit-identical totals, where double sums would drift with
    * merge order.
    */
  def aggMv(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast(org.apache.spark.sql.types.DecimalType(28, 6))
          .as("sum_value"),
        min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))

  /** s36 — incremental MATERIALIZED-VIEW maintenance: the running
    * (user, event_type) aggregate published as a versioned snapshot
    * after every micro-batch — the always-fresh rollup a dashboard
    * reads without ever scanning the fact stream. Each batch computes
    * its own partial ([[aggMv]] over the batch alone — state the size
    * of the GROUP space, not the tape) and folds it into the current
    * snapshot with the same count/sum/min/max merge; publication is
    * [[graft.sources.VersionedTable.commit]]'s atomic pointer swap, idempotent under
    * foreachBatch replay. The decimal value lattice makes the folded
    * totals EXACTLY equal the one-shot batch aggregate — the
    * differential test asserts set equality, no tolerance.
    */
  def aggMvSink(events: DataFrame, tableDir: String, checkpointDir: String,
                keepVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ss = batch.sparkSession
        val part = aggMv(batch.toDF())
        new graft.sources.VersionedTable(ss, tableDir, keepVersions)
          .commit(batchId) {
            case None => part
            case Some(cur) => cur.unionByName(part)
              .groupBy(col("user_id"), col("event_type"))
              .agg(sum(col("n")).cast("long").as("n"),
                sum(col("sum_value"))
                  .cast(org.apache.spark.sql.types.DecimalType(28, 6))
                  .as("sum_value"),
                min(col("min_ts")).as("min_ts"),
                max(col("max_ts")).as("max_ts"))
          }
        ()
      }
      .start()

  /** The s37 maintained order statistic: top-5 largest prints per
    * event type as (event_type, value, event_id, rnk) rows — shared by
    * sink and differential test like [[aggMv]]. Built on
    * [[graft.functions.TopK]]: selection is arithmetic-free, so any
    * batch split merges to EXACTLY the one-shot result (the (value
    * desc, event_id asc) contract breaks ties deterministically).
    */
  def topKMv(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(graft.functions.TopK.topK(col("value"), col("event_id"), 5)
        .as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), col("col._1").as("value"),
        col("col._2").as("event_id"), (col("pos") + 1).as("rnk"))

  /** s37 — maintained TOP-K materialized view: the running "largest
    * prints per event type" leaderboard, published per micro-batch via
    * the same versioned-snapshot machinery as [[aggMvSink]]. Each
    * batch computes its own bounded top-k partial ([[topKMv]] — state
    * is k rows per group however large the batch), unions it with the
    * current k-row snapshot, and re-selects top-k — a merge of two
    * bounded lists, never a re-scan of history. The order-statistic
    * complement to the sum/count MV: together they cover the two MV
    * families (associative arithmetic, bounded selection) that admit
    * exact incremental maintenance without a fact-table replay.
    */
  def topKMvSink(events: DataFrame, tableDir: String, checkpointDir: String,
                 keepVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ss = batch.sparkSession
        val part = topKMv(batch.toDF())
        new graft.sources.VersionedTable(ss, tableDir, keepVersions)
          .commit(batchId) {
            case None => part
            case Some(cur) => cur.unionByName(part)
              .groupBy(col("event_type"))
              .agg(graft.functions.TopK.topK(col("value"), col("event_id"), 5)
                .as("top"))
              .select(col("event_type"), posexplode(col("top")))
              .select(col("event_type"), col("col._1").as("value"),
                col("col._2").as("event_id"), (col("pos") + 1).as("rnk"))
          }
        ()
      }
      .start()

  /** s16 — streaming SCD2 dimension maintenance via foreachBatch: each
    * micro-batch of reference records is applied to the persisted
    * interval table with [[graft.operators.Scd2.applyDelta]] — only the
    * keys the batch touches get their validity intervals rebuilt
    * (late-arriving records reopen and re-split old intervals), and the
    * snapshot publishes through [[graft.sources.VersionedTable.commit]] — an immutable
    * version dir plus an atomic `CURRENT` pointer swap, idempotent
    * under foreachBatch's at-least-once replay (a replayed batch whose
    * pointer is already live is a no-op, so the delta is never unioned
    * into the dim twice and no zero-length intervals can appear).
    * This is live symbology/reference maintenance: the batch invariant
    * applyDelta(build(H), D) == build(H ∪ D) means the streamed dim is
    * ALWAYS equal to a from-scratch rebuild over everything delivered
    * so far, which the differential test asserts across micro-batches.
    */
  def scd2Sink(events: DataFrame, keys: Seq[String], ts: String, rid: String,
               tableDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ss = batch.sparkSession
        val delta = batch.toDF()
        new graft.sources.VersionedTable(ss, tableDir)
          .commit(batchId) {
            case Some(cur) =>
              graft.operators.Scd2.applyDelta(cur, delta, keys, ts, rid)
            case None =>
              // first batch bootstraps the dim: intervals from scratch
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(keys.map(col): _*).orderBy(col(ts), col(rid))
              delta.withColumn("valid_to", lead(col(ts), 1).over(w))
          }
        ()
      }
      .start()

  /** s17 — streaming symbology resolution against an SCD2 interval
    * dim: the payoff of maintaining intervals (s16) is that the as-of
    * lookup STOPS needing a window — "identifier in effect at trade
    * time" is a plain range-condition join (eff_from <= ts < valid_to),
    * which Structured Streaming supports stream-static with no state
    * at all. Each micro-batch of trades joins the current dim snapshot;
    * trades before their user's first epoch drop out (inner join), and
    * the result is row-for-row the batch as-of resolution (q135's
    * shape) — the differential test proves it. At scale the dim is
    * either broadcast (small) or co-partitioned on the key; nothing
    * about the plan is stream-specific.
    */
  def symbologyResolveStream(trades: DataFrame, dim: DataFrame): DataFrame =
    trades.join(dim,
      trades("user_id") === dim("user_id") &&
        trades("ts") >= dim("eff_from") &&
        (dim("valid_to").isNull || trades("ts") < dim("valid_to")))
      .select(trades("user_id"), trades("ts"), trades("value"), dim("symbol"))

  /** Streaming EWMA per user on [[replayByUser]]: state is ONE double
    * per user regardless of stream length; each batch folds its
    * (sorted) events into the smoothed value and emits the user's
    * current EWMA — the incremental twin of the batch
    * [[graft.queries.TimeSeries.ewma]] (same fold order → identical
    * floating-point result).
    */
  def ewmaState(spark: SparkSession, events: DataFrame,
                alpha: Double): Dataset[(Long, Double)] = {
    import spark.implicits._
    replayByUser[SessionEvent, Double, (Long, Double)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      var s = restored.getOrElse(Double.NaN)
      sorted.foreach { e =>
        s = if (s.isNaN) e.value else alpha * e.value + (1 - alpha) * s
      }
      (Some(s), Iterator((user, graft.queries.TimeSeries.ewmaRound(s))))
    }
  }

  /** Streaming ingest dedup — the streaming twin of q87's incremental
    * maintenance: each arriving document micro-batch is near-dup-scored
    * against the corpus ingested SO FAR (delta×base + delta×delta via
    * [[graft.operators.Dedup.ngramJaccardPairsIncremental]] — base×base
    * never re-paired), emitted pairs append to `pairsDir`, and the batch
    * joins the base corpus at `baseDir`. Across batches every pair is
    * emitted exactly once: a pair materializes in the batch where its
    * LATER document arrives.
    *
    * With `maxDf = Int.MaxValue` the union of emitted pairs equals the
    * one-shot batch run exactly (a gram's min-df=2 gate only ever
    * excludes grams that cannot form a pair yet). Under a finite df cap
    * the per-batch document frequencies lag the final corpus — the
    * standard streaming-ingest drift, bounded by the cap and irrelevant
    * to exact-duplicate mass (which exact dedup removes first).
    *
    * Exactly-once under foreachBatch's at-least-once retries: every
    * write is an OVERWRITE of a batchId-keyed subdirectory
    * (`b<batchId>/`), and the base corpus a delta scores against is the
    * subdirectories with id < batchId — a replayed batch overwrites its
    * own partial output, never appends a duplicate and never scores
    * against its own failed attempt. The batch lands in its base subdir
    * FIRST and the delta is read back from parquet, so the source micro-
    * batch is evaluated once, not once per downstream job.
    */
  def dedupIngestSink(docs: DataFrame, baseDir: String, pairsDir: String,
                      checkpointDir: String,
                      maxDf: Int = Int.MaxValue): org.apache.spark.sql.streaming.StreamingQuery =
    ingestScoredSink(docs, baseDir, pairsDir, checkpointDir)((all, isDelta) =>
      graft.operators.Dedup
        .ngramJaccardPairsIncremental(all, isDelta, maxDf = maxDf))

  /** s28 — streaming twin of q150's dup-saturation tier: the same
    * ingest scaffolding as [[dedupIngestSink]], scored with
    * [[graft.operators.Dedup.ngramJaccardPairsSaturatedIncremental]].
    * Where the plain capped incremental path degrades to ZERO pairs
    * under verbatim duplication (every gram's document frequency blows
    * past the cap), this one collapses exact-hash groups first, so
    * dfs count distinct texts and recall survives saturation — the
    * differential vs the batch saturated tier is exact when the
    * rep-level df stays under the cap (StreamingSpec).
    */
  def dedupIngestSaturatedSink(docs: DataFrame, baseDir: String,
                               pairsDir: String, checkpointDir: String,
                               maxDf: Int = 50, threshold: Double = 0.2): org.apache.spark.sql.streaming.StreamingQuery =
    ingestScoredSink(docs, baseDir, pairsDir, checkpointDir)((all, isDelta) =>
      graft.operators.Dedup.ngramJaccardPairsSaturatedIncremental(
        all, isDelta, maxDf = maxDf, threshold = threshold))

  /** s29 — ingest-time duplicated-span flagging: each arriving
    * micro-batch of documents is scored with
    * [[graft.operators.Dedup.duplicateSpansIncremental]] against the
    * corpus ingested so far — "which regions of the new documents are
    * already boilerplate" — and the spans land in batchId-keyed
    * subdirs (same exactly-once scaffold as the dedup sinks). Each
    * document is scored exactly once, in the batch where it arrives;
    * StreamingSpec proves each batch's emission equals the batch
    * operator run over the corpus visible at that point.
    */
  def spansIngestSink(docs: DataFrame, baseDir: String, spansDir: String,
                      checkpointDir: String,
                      k: Int = 32): org.apache.spark.sql.streaming.StreamingQuery =
    ingestScoredSink(docs, baseDir, spansDir, checkpointDir)((all, isDelta) =>
      graft.operators.Dedup.duplicateSpansIncremental(all, isDelta, k = k))

  /** s30 — posting-state ingest dedup: pair-identical to
    * [[dedupIngestSink]], but each batch persists its SHINGLED postings
    * `(id, grams)` and later batches read the STORED postings for the
    * base side instead of re-tokenizing the whole corpus — the
    * corpus-sized tokenize+shingle CPU drops out of the per-batch cost,
    * leaving a columnar posting scan (the practical ingest shape at
    * scale; a fully incremental df/candidate state is the next step
    * beyond). Exactly-once via the same batchId-keyed overwrite
    * convention: postings/b<id> is the idempotent landing of batch id,
    * and the base side is the subdirs with smaller ids.
    */
  def dedupIngestPostingsSink(docs: DataFrame, postingsDir: String,
                              pairsDir: String, checkpointDir: String,
                              maxDf: Int = Int.MaxValue,
                              threshold: Double = 0.2): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ss = batch.sparkSession
        val pDir = new org.apache.hadoop.fs.Path(postingsDir)
        val fs = pDir.getFileSystem(ss.sparkContext.hadoopConfiguration)
        batch.toDF()
          .select(col("doc_id").as("id"),
            graft.functions.TextExpressions.shingleSet(col("text"), 2)
              .as("grams"))
          .write.mode("overwrite").parquet(s"$postingsDir/b$batchId")
        val postingsSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("grams",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType))))
        val delta = ss.read.schema(postingsSchema)
          .parquet(s"$postingsDir/b$batchId")
          .withColumn("is_delta", lit(true))
        val priorDirs =
          if (!fs.exists(pDir)) Seq.empty[String]
          else fs.listStatus(pDir).toSeq.map(_.getPath)
            .filter { p =>
              val n = p.getName
              n.startsWith("b") && n.drop(1).forall(_.isDigit) &&
                n.drop(1).toLong < batchId
            }.map(_.toString)
        val all =
          if (priorDirs.isEmpty) delta
          else ss.read.schema(postingsSchema).parquet(priorDirs: _*)
            .withColumn("is_delta", lit(false)).unionByName(delta)
        graft.operators.Dedup
          .jaccardPairsFromPostings(all, col("is_delta"),
            maxDf = maxDf, threshold = threshold)
          .write.mode("overwrite").parquet(s"$pairsDir/b$batchId")
        ()
      }
      .start()

  /** The read set of one gram-index state family (`grams/` or `dfs/`)
    * as visible to batch `batchId`: the newest covering compaction
    * `c<j>` with j < batchId (which by the [[compactGramIndex]]
    * contract contains every batch ≤ j) plus the delta subdirs
    * `b<i>` with j < i < batchId. Crash-safe by SELECTION, not by
    * deletion: once `c<j>` exists, any not-yet-deleted `b<=j` dirs are
    * simply never read, so a compaction that crashes between its
    * consolidated write and its cleanup can only leave dead files,
    * never double-counted dfs.
    */
  private def gramIndexReadSet(ss: SparkSession, famDir: String,
                               batchId: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(famDir)
    val fs = p.getFileSystem(ss.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val entries = fs.listStatus(p).toSeq.map(_.getPath)
      .flatMap { d =>
        val nm = d.getName
        if (nm.length > 1 && nm.tail.forall(_.isDigit) &&
            (nm.head == 'b' || nm.head == 'c'))
          Some((nm.head, nm.tail.toLong, d.toString))
        else None
      }
    val cover = entries.collect { case ('c', j, path) if j < batchId => (j, path) }
      .sortBy(_._1).lastOption
    val floor = cover.map(_._1).getOrElse(-1L)
    cover.map(_._2).toSeq ++
      entries.collect { case ('b', i, path) if i > floor && i < batchId => path }
  }

  /** Compact the s32 gram-index state: consolidate every subdir the
    * read set resolves for `upTo + 1` (the newest covering `c` plus
    * all later `b`s ≤ upTo) into a single `c<upTo>` per family, then
    * delete the dirs it replaced. Postings concatenate; df LEDGERS
    * MERGE (groupBy gram, sum) — the ledger shrinks to one row per
    * distinct gram, so a long-running ingest's df resolution cost
    * stays bounded by vocabulary, not by batch count. The many-small-
    * dirs problem this solves is the streaming-state twin of small-file
    * compaction in [[graft.sources.Compact]]. Write-then-delete order
    * plus read-set selection makes a mid-compaction crash harmless
    * (see [[gramIndexReadSet]]). Run from a maintenance schedule, not
    * from the hot sink path; `upTo` must be a fully-committed batch id
    * (e.g. lastProgress.batchId while the sink is idle or stopped).
    */
  def compactGramIndex(spark: SparkSession, indexDir: String,
                       upTo: Long): Unit = {
    import org.apache.spark.sql.types._
    val schemas = Seq(
      "grams" -> StructType(Seq(
        StructField("gram", StringType), StructField("id", LongType),
        StructField("n_grams", IntegerType))),
      "dfs" -> StructType(Seq(
        StructField("gram", StringType), StructField("cnt", LongType))))
    schemas.foreach { case (fam, schema) =>
      val dirs = gramIndexReadSet(spark, s"$indexDir/$fam", upTo + 1L)
      if (dirs.nonEmpty) {
        val merged = spark.read.schema(schema).parquet(dirs: _*)
        val out =
          if (fam == "dfs")
            merged.groupBy(col("gram")).agg(sum(col("cnt")).as("cnt"))
          else merged
        // land under a temp name, rename into place, THEN delete the
        // replaced dirs — readers either see the old set or the new
        // covering dir, never a partial c<upTo>
        val famPath = new org.apache.hadoop.fs.Path(s"$indexDir/$fam")
        val fs = famPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val tmp = new org.apache.hadoop.fs.Path(famPath, s"_tmp_c$upTo")
        out.write.mode("overwrite").parquet(tmp.toString)
        fs.rename(tmp, new org.apache.hadoop.fs.Path(famPath, s"c$upTo"))
        dirs.foreach(d =>
          fs.delete(new org.apache.hadoop.fs.Path(d), true))
      }
    }
  }

  private val biLedgerSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("w1",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("w2",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("cnt",
      org.apache.spark.sql.types.LongType)))
  private val vocLedgerSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("w",
      org.apache.spark.sql.types.StringType)))

  private def readLedgerOrEmpty(ss: SparkSession, dirs: Seq[String],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (dirs.isEmpty)
      ss.createDataFrame(
        ss.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else ss.read.schema(schema).parquet(dirs: _*)

  case class PrintEvent(user_id: Long, ts: java.sql.Timestamp,
                        value: Double, event_id: Long, event_type: String)
      extends KeyedEvent

  /** s47 — streaming event study on [[replayByUser]]: the
    * incremental twin of batch q181. Per-instrument state is (last
    * price, running return moments (Σret, n), and the OPEN signup
    * frames) — the frame list is bounded at 3 entries by construction:
    * every print advances every open frame, so a frame closes exactly
    * 3 prints after its anchor and at most the last 3 prints can have
    * open frames. Each print folds in tape order: the q165 zero-price
    * return guard, then every open frame absorbs the return (ROW-based
    * frame — null returns advance the row count without adding, the
    * window-sum null-skip), then the moments, then a signup print
    * opens its own frame (its CAR starts at 1 FOLLOWING).
    *
    * Partial-horizon convention: a frame that never fills (tape ends
    * within 3 prints of its anchor) is exactly batch q181's partial
    * forward frame, so the sink emits EVERY open frame each batch and
    * closed frames once, in Update mode, carrying (n_seen, n_ret) —
    * the consumer keeps the per-event row with the largest progress,
    * which after the final batch is the closed CAR for full horizons
    * and the batch-identical partial sum for tape-end anchors. Return
    * sums fold in tape order on both engines — bit-identical before
    * the 6dp round. Same in-order-per-key delivery caveat as
    * [[replayByUser]].
    */
  def eventStudyStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Double, Int, Boolean, Double, Long)] = {
    import spark.implicits._
    replayByUser[PrintEvent,
      (Double, Double, Long, List[(Long, Double, Int, Boolean)]),
      (Long, Long, Double, Int, Boolean, Double, Long)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"),
          col("event_type"))
        .as[PrintEvent]) { (user, sorted, restored) =>
      var (lastPx, sumRet, nRet, pend) = restored.getOrElse(
        (Double.NaN, 0.0, 0L, List.empty[(Long, Double, Int, Boolean)]))
      val closed = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Double, Int, Boolean)]
      sorted.foreach { e =>
        val ret =
          if (!lastPx.isNaN && e.value > 0.0 && lastPx > 0.0)
            Some(e.value / lastPx - 1.0)
          else None
        // every print is a frame row for every open anchor
        pend = pend.map { case (id, car, n, saw) =>
          ret match {
            case Some(r) => (id, car + r, n + 1, true)
            case None    => (id, car, n + 1, saw)
          }
        }
        val (done, open) = pend.partition(_._3 >= 3)
        closed ++= done
        pend = open
        ret.foreach { r => sumRet += r; nRet += 1L }
        if (e.event_type == "signup")
          pend = pend :+ ((e.event_id, 0.0, 0, false))
        lastPx = e.value
      }
      // moments sentinel (event_id = -1): the benchmark mean uses the
      // WHOLE tape, so every batch that advanced the moments must
      // publish them even when no frame is open — otherwise a user
      // whose last frame closed early would serve stale means
      val sentinel =
        if (sorted.nonEmpty)
          Iterator((user, -1L, 0.0, 0, false, sumRet, nRet))
        else Iterator.empty
      (Some((lastPx, sumRet, nRet, pend)),
        (closed.iterator ++ pend.iterator).map {
          case (id, car, n, saw) => (user, id, car, n, saw, sumRet, nRet)
        } ++ sentinel)
    }
  }

  /** s46 — streaming perplexity scoring against the corpus-so-far LM:
    * the q185 bigram language model maintained as PERSISTED COUNT
    * LEDGERS (the s32 gram-index-state shape applied to LM counts).
    * Each micro-batch:
    *
    *  1. tokenizes ONLY its own docs (one pass, cached for the batch)
    *     and lands two vocabulary-sized ledgers under batchId-keyed
    *     overwrite subdirs — `bi/b<id>` (w1, w2, cnt) bigram counts
    *     and `voc/b<id>` (w) the batch's distinct words. Unigram
    *     context counts need no third family: c(w₁) = Σ_w₂ c(w₁w₂)
    *     folds from the bigram ledger;
    *  2. resolves corpus-so-far counts for EXACTLY the delta's
    *     bigrams — the prior ledgers are scanned filtered through a
    *     broadcast of the delta's (w₁, w₂) set, so per-batch cost is
    *     a vocabulary-sized ledger scan plus the delta, never a
    *     corpus re-tokenization (the s32 df-resolution idiom);
    *  3. scores its docs under the add-½ model INCLUDING itself
    *     (the LM "as of the end of this batch") and lands
    *     `scores/b<id>` — so the LAST batch's rows equal batch q185's
    *     rows for those docs exactly, which the spec pins.
    *
    * Exactly-once by the batchId-keyed overwrite convention (replays
    * overwrite their own subdirs); the ledger families reuse
    * [[gramIndexReadSet]]'s c/b selection, so a future compaction of
    * long-running ledgers gets crash-safety for free. A full RESCORE
    * against the final ledgers ([[perplexityScore]]) reproduces batch
    * q185 bit-for-bit at the 4dp round — the differential the spec
    * proves across micro-batch splits.
    */
  def perplexityLedgerSink(docs: DataFrame, ledgerDir: String,
                           scoresDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ss = batch.sparkSession
        // 1. one tokenize pass over the delta, cached for the batch
        val inst = graft.queries.TextOps.docBigrams(batch.toDF()).persist()
        try {
          inst.groupBy(col("w1"), col("w2"))
            .agg(count(lit(1)).as("cnt"))
            .write.mode("overwrite").parquet(s"$ledgerDir/bi/b$batchId")
          inst.select(col("w2").as("w")).union(inst.select(col("w1")))
            .distinct()
            .write.mode("overwrite").parquet(s"$ledgerDir/voc/b$batchId")
          // 2+3. score the delta against every ledger visible to the
          // NEXT batch (= corpus so far including this delta)
          scoreBigrams(ss, inst, ledgerDir, batchId + 1L)
            .write.mode("overwrite").parquet(s"$scoresDir/b$batchId")
        } finally inst.unpersist()
        ()
      }
      .start()

  /** Compact the s46 perplexity-ledger state: consolidate the read set
    * visible to `upTo + 1` into one `c<upTo>` dir per family — bigram
    * counts MERGE (groupBy (w1, w2), sum) and the vocab dedups, so a
    * long-running ingest's ledger resolution cost stays bounded by
    * VOCABULARY, not by batch count. Same write-then-delete order and
    * selection-based crash safety as [[compactGramIndex]]
    * (the `c`/`b` read-set convention is shared via
    * [[gramIndexReadSet]]); run from maintenance, not the hot sink
    * path, with `upTo` a fully-committed batch id.
    */
  def compactPerplexityLedgers(spark: SparkSession, ledgerDir: String,
                               upTo: Long): Unit = {
    Seq(
      ("bi", biLedgerSchema,
        (df: DataFrame) => df.groupBy(col("w1"), col("w2"))
          .agg(sum(col("cnt")).as("cnt"))),
      ("voc", vocLedgerSchema, (df: DataFrame) => df.distinct())
    ).foreach { case (fam, schema, consolidate) =>
      val dirs = gramIndexReadSet(spark, s"$ledgerDir/$fam", upTo + 1L)
      if (dirs.nonEmpty) {
        val out = consolidate(spark.read.schema(schema).parquet(dirs: _*))
        val famPath = new org.apache.hadoop.fs.Path(s"$ledgerDir/$fam")
        val fs = famPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val tmp = new org.apache.hadoop.fs.Path(famPath, s"_tmp_c$upTo")
        out.write.mode("overwrite").parquet(tmp.toString)
        fs.rename(tmp, new org.apache.hadoop.fs.Path(famPath, s"c$upTo"))
        dirs.foreach(d =>
          fs.delete(new org.apache.hadoop.fs.Path(d), true))
      }
    }
  }

  /** Score arbitrary documents under the ledger LM as of `upTo`
    * (exclusive batch-id bound; default = everything landed). This is
    * the production CCNet-style screen — score NEW text under the
    * corpus model without touching the corpus — and the differential
    * surface: rescoring the full corpus against the final ledgers
    * reproduces batch q185 exactly. Bigram contexts the ledger has
    * never seen smooth to (0+½)/(0+½V) — the add-½ model's own
    * unseen-event probability, not a dropped row.
    */
  def perplexityScore(spark: SparkSession, docs: DataFrame,
                      ledgerDir: String, upTo: Long = Long.MaxValue)
      : DataFrame =
    scoreBigrams(spark, graft.queries.TextOps.docBigrams(docs),
      ledgerDir, upTo)

  private def scoreBigrams(ss: SparkSession, inst: DataFrame,
                           ledgerDir: String, upTo: Long): DataFrame = {
    val bi = readLedgerOrEmpty(ss,
      gramIndexReadSet(ss, s"$ledgerDir/bi", upTo), biLedgerSchema)
    // only the probe's own (w1, w2) and w1 groups leave the ledger
    // scan: broadcast-filter then sum per-batch partial counts
    val probeBi = inst.select(col("w1"), col("w2")).distinct()
    val c12 = bi.join(broadcast(probeBi), Seq("w1", "w2"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).as("c12"))
    val c1 = bi.join(broadcast(probeBi.select(col("w1")).distinct()),
        Seq("w1"))
      .groupBy(col("w1")).agg(sum(col("cnt")).as("c1"))
    val vocab = readLedgerOrEmpty(ss,
      gramIndexReadSet(ss, s"$ledgerDir/voc", upTo), vocLedgerSchema)
      .distinct().agg(count(lit(1)).as("v"))
    inst.join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("bits", -log(2.0,
        (coalesce(col("c12"), lit(0L)).cast("double") + 0.5) /
          (coalesce(col("c1"), lit(0L)).cast("double") +
            lit(0.5) * col("v").cast("double"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.functions.Num.decRound(
          pow(lit(2.0), avg(col("bits"))), 4).as("ppl"))
      .withColumn("flag_outlier", col("ppl") > 10000.0 || col("ppl") < 10.0)
  }

  /** s31 — ingest-time fuzzy name matching: each arriving micro-batch
    * of reference rows (new securities / parts) is matched against the
    * master ingested so far with the PassJoin segment index
    * ([[graft.operators.EditDistance.segmentPairsIncremental]]): the
    * batch emits exactly the lev<=maxDist pairs touching its rows —
    * the "is this new listing a typo of an existing one" gate, run at
    * ingest instead of as a nightly corpus self-join. Same exactly-once
    * batchId-keyed scaffold as the dedup sinks; per-batch cost is
    * |delta|·bounded-emission probes of the stored-master index, never
    * master². StreamingSpec proves the per-batch union equals the
    * batch [[graft.operators.EditDistance.pairs]] over the full table.
    */
  def nameMatchIngestSink(parts: DataFrame, baseDir: String,
                          pairsDir: String, checkpointDir: String,
                          maxDist: Int = 3): org.apache.spark.sql.streaming.StreamingQuery =
    ingestScoredSink(parts, baseDir, pairsDir, checkpointDir,
      landedSchema = Tables.partSchema)((all, isDelta) =>
      graft.operators.EditDistance.segmentPairsIncremental(
        all, isDelta, keyCol = "p_partkey", nameCol = "p_name",
        blockCol = "p_brand", maxDist = maxDist))

  /** s32 — gram-INDEX-state ingest dedup: the probe-bounded production
    * shape. Where s8 re-tokenizes and s30 re-explodes + re-shuffles the
    * whole stored corpus each batch, this sink persists the EXPLODED
    * inverted index — `grams/b<id>` posting rows `(gram, id, n_grams)`
    * — plus a per-batch document-frequency ledger `dfs/b<id>`
    * `(gram, cnt)`. A batch then:
    *
    *  1. shingles ONLY its own docs and lands postings + df ledger;
    *  2. resolves full-corpus dfs for exactly the delta's grams — the
    *     ledger scan is filtered through a broadcast of the delta gram
    *     set, and summing per-batch counts replaces any corpus-wide
    *     re-aggregation (df maintenance is O(delta ledger scan));
    *  3. scores with [[graft.operators.Dedup.jaccardPairsProbed]]: the
    *     stored index is consumed by one broadcast-filtered columnar
    *     scan, so nothing corpus-sized is shuffled, tokenized, or
    *     aggregated — per-batch cost is the scan plus |candidates|.
    *
    * Exactly-once by the same batchId-keyed overwrite convention
    * (replays overwrite their own subdirs; the base side is strictly
    * smaller ids). Per-batch union differential vs the batch operator
    * proven in StreamingSpec alongside the s8/s30 twins.
    */
  def dedupIngestGramIndexSink(docs: DataFrame, indexDir: String,
                               pairsDir: String, checkpointDir: String,
                               n: Int = 2, maxDf: Int = Int.MaxValue,
                               threshold: Double = 0.2): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ss = batch.sparkSession
        import org.apache.spark.sql.types._
        val postingsSchema = StructType(Seq(
          StructField("gram", StringType), StructField("id", LongType),
          StructField("n_grams", IntegerType)))
        val dfsSchema = StructType(Seq(
          StructField("gram", StringType), StructField("cnt", LongType)))
        def priorDirs(sub: String): Seq[String] =
          gramIndexReadSet(ss, s"$indexDir/$sub", batchId)
        def readOrEmpty(dirs: Seq[String], schema: StructType) =
          if (dirs.isEmpty)
            ss.createDataFrame(ss.sparkContext
              .emptyRDD[org.apache.spark.sql.Row], schema)
          else ss.read.schema(schema).parquet(dirs: _*)
        // 1. land the delta's postings and df ledger (idempotent subdir)
        batch.toDF()
          .select(col("doc_id").as("id"),
            graft.functions.TextExpressions.shingleSet(col("text"), n)
              .as("grams"))
          .select(col("id"), size(col("grams")).as("n_grams"),
            explode(col("grams")).as("gram"))
          .select(col("gram"), col("id"), col("n_grams"))
          .write.mode("overwrite").parquet(s"$indexDir/grams/b$batchId")
        val delta = ss.read.schema(postingsSchema)
          .parquet(s"$indexDir/grams/b$batchId")
        delta.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
          .write.mode("overwrite").parquet(s"$indexDir/dfs/b$batchId")
        val deltaDfs = ss.read.schema(dfsSchema)
          .parquet(s"$indexDir/dfs/b$batchId")
        // 2. full-corpus dfs for the delta's grams only: broadcast the
        // delta gram set into the ledger scan, sum per-batch counts
        val dfTotal = readOrEmpty(priorDirs("dfs"), dfsSchema)
          .unionByName(deltaDfs)
          .join(broadcast(deltaDfs.select(col("gram"))), Seq("gram"))
          .groupBy(col("gram")).agg(sum(col("cnt")).as("df"))
        val keptGrams = dfTotal
          .filter(col("df").between(2, maxDf)).select(col("gram"))
        // 3. probe the stored index; only candidate postings leave the scan
        graft.operators.Dedup.jaccardPairsProbed(
            delta, readOrEmpty(priorDirs("grams"), postingsSchema),
            keptGrams, threshold = threshold)
          .write.mode("overwrite").parquet(s"$pairsDir/b$batchId")
        ()
      }
      .start()

  /** Shared exactly-once ingest scaffolding: batchId-keyed overwrite
    * subdirs for base and pairs, delta re-read from its own landed
    * parquet, `score(all, isDelta)` pluggable. See [[dedupIngestSink]]
    * for the exactly-once argument.
    */
  private def ingestScoredSink(docs: DataFrame, baseDir: String,
      pairsDir: String, checkpointDir: String,
      landedSchema: org.apache.spark.sql.types.StructType = Tables.documentsSchema)
      (score: (DataFrame, org.apache.spark.sql.Column) => DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ss = batch.sparkSession
        val basePath = new org.apache.hadoop.fs.Path(baseDir)
        // the path's OWN filesystem — FileSystem.get(conf) would resolve
        // the default FS and throw for an s3a:// base on an hdfs cluster
        val fs = basePath.getFileSystem(ss.sparkContext.hadoopConfiguration)
        batch.toDF().write.mode("overwrite").parquet(s"$baseDir/b$batchId")
        val delta = ss.read.schema(landedSchema)
          .parquet(s"$baseDir/b$batchId").withColumn("is_delta", lit(true))
        val priorDirs =
          if (!fs.exists(basePath)) Seq.empty[String]
          else fs.listStatus(basePath).toSeq.map(_.getPath)
            .filter { p =>
              val n = p.getName
              n.startsWith("b") && n.drop(1).forall(_.isDigit) &&
                n.drop(1).toLong < batchId
            }.map(_.toString)
        val all =
          if (priorDirs.isEmpty) delta
          else ss.read.schema(landedSchema).parquet(priorDirs: _*)
            .withColumn("is_delta", lit(false)).unionByName(delta)
        score(all, col("is_delta"))
          .write.mode("overwrite").parquet(s"$pairsDir/b$batchId")
        ()
      }
      .start()

  /** s33 — streaming quote conflation census via
    * [[replayByUser]]: the incremental twin of batch q160. State
    * is ONE (last price, last ts) per instrument; each micro-batch
    * folds its prints in (ts, event_id) order and emits that batch's
    * (n_events, n_suppressed) INCREMENTS — summing all emitted rows
    * reproduces the batch census exactly (pure integer counts; the
    * suppression decision is a stored-double equality + integer µs
    * gap, both exact), including unchanged-tick runs that straddle a
    * micro-batch boundary, which the carried state stitches. This is
    * the live shape of the audit: a feed handler sizes conflation
    * buffers from the running census, not a nightly batch. Same
    * in-order-per-key delivery caveat as [[replayByUser]].
    */
  def conflateStream(spark: SparkSession, events: DataFrame,
                     windowSec: Long = 5L): Dataset[(Long, Long, Long)] = {
    import spark.implicits._
    replayByUser[SessionEvent, (Double, Long), (Long, Long, Long)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      var prev = restored
      var n = 0L
      var sup = 0L
      sorted.foreach { e =>
        val t = micros(e.ts)
        n += 1L
        prev.foreach { case (pv, pt) =>
          if (e.value == pv && t - pt <= windowSec * 1000000L) sup += 1L
        }
        prev = Some((e.value, t))
      }
      (prev, if (n == 0L) Iterator.empty else Iterator((user, n, sup)))
    }
  }

  /** s34 — streaming order-flow imbalance on [[replayByUser]]:
    * the incremental twin of batch q156. State is (last price, last
    * nonzero tick sign) per instrument — the tick test and its
    * zero-tick carry-forward need nothing else — and each micro-batch
    * emits per-(instrument, day) INCREMENTS of the OFI fractions
    * (n_signed, Σ sign·size, Σ size). Emitting fractions rather than
    * the ratio is what makes the operator streamable: increments sum;
    * ratios don't. The consumer (and the differential test) reduces
    * increments and forms Σnum/Σden — matching batch q156 up to FP
    * summation order on the two sums (the ±value partial sums are
    * order-sensitive in the last ulp; the 4dp round absorbs it).
    * Signs straddling a batch boundary come from the carried state.
    */
  def ofiStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, java.sql.Timestamp, Long, Double, Double)] = {
    import spark.implicits._
    replayByUser[SessionEvent, (Double, Double),
      (Long, java.sql.Timestamp, Long, Double, Double)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      // state tuple: (last price, last nonzero sign; 0.0 = none yet)
      var lastPx = restored.map(_._1)
      var lastSign = restored.map(_._2).filter(_ != 0.0)
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Long, Double, Double)]
      sorted.foreach { e =>
        val raw = lastPx.map(p => math.signum(e.value - p))
        val sign = raw match {
          case Some(r) if r != 0.0 => lastSign = Some(r); Some(r)
          case Some(_) => lastSign // zero-tick: carry
          case None => None // first print ever: unsigned
        }
        sign.foreach { s =>
          val day = micros(e.ts) - Math.floorMod(micros(e.ts),
            86400L * 1000000L)
          val (n, num, den) = acc.getOrElse(day, (0L, 0.0, 0.0))
          acc(day) = (n + 1L, num + s * e.value, den + e.value)
        }
        lastPx = Some(e.value)
      }
      (lastPx.map(p => (p, lastSign.getOrElse(0.0))),
        acc.iterator.map { case (day, (n, num, den)) =>
          (user, tsFromMicros(day), n, num, den)
        })
    }
  }

  /** s35 — streaming multi-horizon markout on [[replayByUser]]:
    * the live twin of batch q155 — execution quality measured AS the
    * tape arrives instead of in a nightly as-of join. State per
    * instrument is the PENDING-TRADE book: each purchase print posts
    * one (deadline, horizon, trade px) entry per horizon; every
    * arriving tick first SETTLES all pendings whose deadline it has
    * reached (the first at-or-after tick is, by in-order folding,
    * exactly the forward as-of match; ties at the same µs resolve to
    * the max price, mirroring AsOf's struct tie key), then posts its
    * own pendings if it is a trade. Entries unreached within the
    * tolerance settle as expired (no emission) — identical to the
    * batch inner as-of. State is bounded by trades-in-flight per
    * horizon window, not by tape length. Emits per-batch per-horizon
    * fraction INCREMENTS (n, Σ markout); reduced increments equal
    * batch q155 up to FP summation order (absorbed by the 4dp round).
    * Deadlines straddling micro-batch boundaries settle on the first
    * tick of a later batch via the carried book. Same in-order-per-key
    * delivery caveat as [[replayByUser]].
    */
  def markoutStream(spark: SparkSession, events: DataFrame,
                    horizonsSec: Seq[Long] = Seq(60L, 300L, 900L),
                    toleranceSec: Long = 86400L)
      : Dataset[(Long, Long, Long, Double)] = {
    import spark.implicits._
    replayByUser[PrintEvent, Seq[(Long, Long, Double)],
      (Long, Long, Long, Double)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"),
          col("event_type"))
        .as[PrintEvent]) { (user, sorted, restored) =>
      val tape = sorted.toArray
      var pending = restored.getOrElse(Seq.empty).toList
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Long, Double)]
      var i = 0
      while (i < tape.length) {
        val t = micros(tape(i).ts)
        // the whole same-µs tick group settles together: the matching
        // price for any deadline <= t is the group max
        var j = i
        var px = Double.NegativeInfinity
        while (j < tape.length && micros(tape(j).ts) == t) {
          if (tape(j).value > px) px = tape(j).value
          j += 1
        }
        val (due, rest) = pending.partition(_._1 <= t)
        pending = rest
        due.foreach { case (dl, h, px0) =>
          if (t - dl <= toleranceSec * 1000000L) {
            val (n, s) = acc.getOrElse(h, (0L, 0.0))
            acc(h) = (n + 1L, s + (px - px0))
          } // else: expired unfilled — batch inner as-of drops it too
        }
        (i until j).foreach { k =>
          val e = tape(k)
          if (e.event_type == "purchase")
            horizonsSec.foreach(h =>
              pending ::= ((t + h * 1000000L, h, e.value)))
        }
        i = j
      }
      (Some(pending), acc.iterator.map { case (h, (n, s)) => (user, h, n, s) })
    }
  }

  /** s9 — streaming corpus-prep gate: ingest-time quality screen +
    * chunk split. Entirely STATELESS (no watermark, no state store),
    * so the exact batch operators compose with Structured Streaming
    * unchanged: a Gopher-style length/stopword gate from
    * [[graft.functions.Text.qualityMetrics]], then the shared
    * [[graft.queries.TextOps.chunks]] splitter. Ingest-time prep
    * equals offline prep by construction — differential-tested in
    * StreamingSpec against the same plan run in batch mode.
    */
  def corpusPrepStream(docs: DataFrame): DataFrame = {
    val m = graft.functions.Text.qualityMetrics(col("text")).toMap
    graft.queries.TextOps.chunks(
      docs.filter(m("n_tokens") >= 20 && m("stopword_ratio") >= 0.05))
  }

  /** s10 — stream-STATIC as-of apply: the live event stream scaled by
    * the latest published factor from a static (batch-maintained)
    * reference table, via [[graft.operators.AsOf.broadcastJoin]]. A
    * stream-static join needs no watermark and no state store — the
    * static side is re-planned (and re-broadcast) each micro-batch, so
    * a nightly factor-table rebuild is picked up without restarting
    * the query; the stream side never shuffles. Exact twin of batch
    * q98 over the same files (differential in StreamingSpec).
    */
  def factorAdjustStream(events: DataFrame, rates: DataFrame): DataFrame =
    graft.operators.AsOf.broadcastJoin(
        events.select(col("event_id"), col("ts"), col("value")), rates,
        leftTs = "ts", rightTs = "eff_ts", rightVals = Seq("rate" -> "rate"))
      .select(col("event_id"), col("value"), col("rate"),
        graft.functions.Num.decRound(col("value") * col("rate"), 4)
          .as("adj_value"))

  /** s12 — streaming OHLCV resample: watermarked tumbling-hour bars per
    * event type, the incremental twin of batch q22. `min_by`/`max_by`
    * are declarative aggregates, so the identical bar definition
    * (open = value at min ts, close = value at max ts) folds
    * incrementally in the state store — O(bars-in-flight) state, and
    * append mode emits each bar exactly once when the watermark passes
    * its hour boundary. Selection aggregates (open/high/low/close) are
    * order-insensitive, so the streamed bar equals the batch bar
    * exactly; only `volume` (an FP sum) carries summation-order noise,
    * bounded by the differential test's tolerance.
    */
  def ohlcvStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        round(sum(col("value")), 2).as("volume"),
        count(lit(1)).as("n_trades"))
      .select(col("window").getField("start").as("bucket"),
        col("event_type"), col("open"), col("high"), col("low"),
        col("close"), col("volume"), col("n_trades"))

  case class TypedEvent(user_id: Long, ts: java.sql.Timestamp,
                        event_id: Long, event_type: String) extends KeyedEvent

  /** s13 — streaming Markov transition counts per user via
    * [[replayByUser]]: the incremental twin of batch q107. State
    * is ONE string per user (the last seen event type) regardless of
    * stream length; each micro-batch folds its events in (ts, event_id)
    * order and emits that batch's (prev, next) transition INCREMENTS —
    * summing all emitted rows reproduces the batch transition matrix
    * exactly (pure integer counts, no FP caveat), including transitions
    * that straddle a micro-batch boundary, which the carried last-type
    * state stitches together. Same in-order-per-key delivery caveat as
    * [[replayByUser]].
    */
  def transitionStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, String, String, Long)] = {
    import spark.implicits._
    replayByUser[TypedEvent, String, (Long, String, String, Long)](
      events.select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .as[TypedEvent]) { (user, sorted, restored) =>
      val counts = scala.collection.mutable.LinkedHashMap
        .empty[(String, String), Long]
      var prev = restored
      sorted.foreach { e =>
        prev.foreach { p =>
          counts((p, e.event_type)) =
            counts.getOrElse((p, e.event_type), 0L) + 1L
        }
        prev = Some(e.event_type)
      }
      (prev, counts.iterator.map { case ((a, b), n) => (user, a, b, n) })
    }
  }

  /** s14 — streaming gap detection per user on [[replayByUser]]:
    * the incremental twin of batch q26. State is ONE timestamp per user
    * (the last seen event time); each micro-batch folds its events in
    * (ts, event_id) order and emits every inter-event gap above the
    * threshold — including gaps straddling a micro-batch boundary,
    * which the carried last-ts state stitches. The data-quality monitor
    * a feed-ingest pipeline runs live rather than in nightly batch.
    * Same in-order-per-key delivery caveat as [[replayByUser]].
    */
  def gapDetectStream(spark: SparkSession, events: DataFrame,
                      thresholdSec: Long = 4 * 3600)
      : Dataset[(Long, java.sql.Timestamp, java.sql.Timestamp, Double)] = {
    import spark.implicits._
    replayByUser[SessionEvent, Long,
      (Long, java.sql.Timestamp, java.sql.Timestamp, Double)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, java.sql.Timestamp, java.sql.Timestamp, Double)]
      var prev = restored
      sorted.foreach { e =>
        val t = micros(e.ts)
        prev.foreach { p =>
          // same µs-exact arithmetic + rounding as batch q26: Spark's
          // round() is BigDecimal HALF_UP — math.rint (HALF_EVEN)
          // would diverge on exact .0005 µs boundaries
          val gapSec = java.math.BigDecimal.valueOf((t - p) / 1e6)
            .setScale(3, java.math.RoundingMode.HALF_UP).doubleValue()
          if (gapSec > thresholdSec)
            out += ((user, tsFromMicros(p), tsFromMicros(t), gapSec))
        }
        prev = Some(t)
      }
      (prev, out.iterator)
    }
  }

  case class BollState(recent: Seq[Double], n: Long)

  /** s15 — streaming Bollinger band breaks per user via
    * [[replayByUser]]: the incremental twin of batch q124. State
    * is the last ≤19 values plus the row count — bounded per user
    * regardless of stream length. Each full 20-row window re-folds the
    * SAME FP recurrences Spark's sliding window frame runs in batch
    * (ascending sum-fold ÷ n for avg; the CentralMomentAgg update
    * m2 += δ·(δ − δ/n) for stddev_samp — probe-verified bit-identical),
    * and the band edges go through the exact decimal(28,12)→6dp
    * rounding of `Num.decRound`, so a streamed break decision equals
    * the batch one bit-for-bit, including windows straddling a
    * micro-batch boundary stitched by the carried tail. Same
    * in-order-per-key delivery caveat as [[replayByUser]].
    */
  def bollingerStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, java.sql.Timestamp, Long, Int, Int)] = {
    import spark.implicits._
    replayByUser[SessionEvent, BollState,
      (Long, java.sql.Timestamp, Long, Int, Int)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, java.sql.Timestamp, Long, Int, Int)]
      var st = restored.getOrElse(BollState(Nil, 0L))
      sorted.foreach { e =>
        val win = (st.recent :+ e.value).takeRight(20)
        val rn = st.n + 1
        if (rn >= 20) {
          var s = 0.0
          win.foreach(s += _)
          val m = s / 20
          var n = 0.0; var avg = 0.0; var m2 = 0.0
          win.foreach { x =>
            n += 1
            val delta = x - avg
            val deltaN = delta / n
            avg += deltaN
            m2 += delta * (delta - deltaN)
          }
          val sd = math.sqrt(m2 / 19.0)
          val ub = bandRound(m + 2.0 * sd)
          val lb = bandRound(m - 2.0 * sd)
          out += ((user, e.ts, e.event_id,
            if (e.value > ub) 1 else 0, if (e.value < lb) 1 else 0))
        }
        st = BollState(win.takeRight(19), rn)
      }
      (Some(st), out.iterator)
    }
  }

  /** JVM mirror of `Num.decRound(c, 6)` — the double→DECIMAL(28,12)
    * cast rounds half-up at scale 12, then the explicit round trims to
    * 6, so the two-step BigDecimal matches the SQL expression exactly
    * (the q71 ewmaRound lesson at a different scale).
    */
  private def bandRound(x: Double): Double = decRoundJvm(x, 6)

  private def decRoundJvm(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Per-user state for s18: the previous raw value (for the return),
    * the last ≤19 returns (NaN encodes a null return — zero or absent
    * previous value — which occupies a frame ROW but is skipped by the
    * stddev fold, exactly as in the batch window), and the row count.
    * Bounded regardless of stream length.
    */
  case class VolState(last: Double, hasLast: Boolean,
                      rets: Seq[Double], n: Long)

  /** s18 — streaming 20-observation rolling volatility per user: the
    * incremental twin of batch q97. Each event derives its pct-change
    * return from the carried previous value (null-guarded like the
    * batch nullif), and every full window re-folds Spark's OWN
    * frame recurrences — CentralMomentAgg's m2 += δ·(δ − δ/n)
    * ascending over non-null frame members (probe-verified
    * bit-identical to the batch sliding window) — then applies the
    * same decimal(28,12)→4dp round. Emission starts at the 21st row
    * (the batch rn >= 21 gate); windows straddling a micro-batch
    * boundary are stitched by the carried return tail. Same
    * in-order-per-key delivery caveat as [[replayByUser]].
    */
  def rollingVolStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Option[Double])] = {
    import spark.implicits._
    replayByUser[SessionEvent, VolState, (Long, Long, Option[Double])](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Option[Double])]
      var st = restored.getOrElse(VolState(0.0, false, Nil, 0L))
      sorted.foreach { e =>
        val ret =
          if (!st.hasLast || st.last == 0.0) Double.NaN
          else e.value / st.last - 1.0
        val win = (st.rets :+ ret).takeRight(20)
        val rn = st.n + 1
        if (rn >= 21) {
          var n = 0.0; var avg = 0.0; var m2 = 0.0
          win.foreach { x =>
            if (!x.isNaN) {
              n += 1
              val delta = x - avg
              val deltaN = delta / n
              avg += deltaN
              m2 += delta * (delta - deltaN)
            }
          }
          val v =
            if (n == 0) None
            else if (n == 1) Some(Double.NaN)
            else Some(math.sqrt(m2 / (n - 1.0)))
          out += ((user, e.event_id,
            v.map(x => if (x.isNaN) x else decRoundJvm(x, 4))))
        }
        st = VolState(e.value, true, win.takeRight(19), rn)
      }
      (Some(st), out.iterator)
    }
  }

  /** Per-user state for s19: previous value, the last ≤13 clipped
    * gain/loss pairs, and the row count. The batch CASE maps a null
    * first-row diff to 0.0 on BOTH branches, so gains/losses are plain
    * doubles — no null encoding needed. Bounded per user.
    */
  case class RsiState(last: Double, hasLast: Boolean,
                      gains: Seq[Double], losses: Seq[Double], n: Long)

  /** s19 — streaming 14-observation RSI per user: the incremental twin
    * of batch q106. Gains/losses are clipped diffs against the carried
    * previous value; each full window re-folds the batch window avg
    * (ascending sum ÷ 14 — Spark's Average, NOT an incremental mean),
    * applies the all-flat neutral-50 guard, and the decimal 4dp round.
    * Emission starts at the 15th row (batch rn >= 15). Same stitching
    * and ordering caveats as [[rollingVolStream]].
    */
  def rsiStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    replayByUser[SessionEvent, RsiState, (Long, Long, Double)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Double)]
      var st = restored.getOrElse(RsiState(0.0, false, Nil, Nil, 0L))
      sorted.foreach { e =>
        val (g, l) =
          if (!st.hasLast) (0.0, 0.0)
          else {
            val d = e.value - st.last
            (if (d > 0) d else 0.0, if (d < 0) -d else 0.0)
          }
        val gwin = (st.gains :+ g).takeRight(14)
        val lwin = (st.losses :+ l).takeRight(14)
        val rn = st.n + 1
        if (rn >= 15) {
          var gs = 0.0; gwin.foreach(gs += _)
          var ls = 0.0; lwin.foreach(ls += _)
          val avgGain = gs / 14.0
          val avgLoss = ls / 14.0
          val denom = avgGain + avgLoss
          val rsi = if (denom == 0.0) 50.0 else 100.0 * avgGain / denom
          out += ((user, e.event_id, decRoundJvm(rsi, 4)))
        }
        st = RsiState(e.value, true, gwin.takeRight(13), lwin.takeRight(13), rn)
      }
      (Some(st), out.iterator)
    }
  }

  /** s22 — stream-stream interval join, the trade–quote shape: each
    * purchase pairs with the same user's clicks inside [p_ts − 1h,
    * p_ts). Both sides are true streams (no static dim): Spark keeps
    * each side's recent rows as join state and the WATERMARKS bound
    * it — a click is provably unmatchable once the purchase-side
    * watermark passes c_ts + 1h, so state is evicted by event time,
    * never grows with the stream, and the engine handles cross-batch
    * pairs (a purchase in batch k matching clicks from batch k−1)
    * without any user-managed state. Inner append-mode join; the
    * differential spec rebuilds q47's per-purchase counts from the
    * emitted pairs and proves them identical to the batch range join.
    * Watermark delay (2h) exceeds the join range (1h) so no
    * in-order-delivered row is ever late-dropped.
    */
  def intervalJoinStream(spark: SparkSession, purchases: DataFrame,
                         clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    p.join(c, expr(
      """user_id = c_user AND
        |c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts""".stripMargin))
      .select(col("p_id"), col("c_id"))
  }

  /** Per-user state for s21: the last ≤6 values (NaN encodes a null
    * value — occupies a frame row, skipped by both folds, exactly as
    * in the batch window). Bounded regardless of stream length.
    */
  case class MaState(vals: Seq[Double])

  /** s21 — streaming 7-observation moving mean + stddev per user: the
    * incremental twin of batch q23. Every full-or-partial window
    * (emission starts at row 1, like the batch ROWS 6 PRECEDING frame)
    * re-folds Spark's OWN recurrences over non-null frame members —
    * ascending sum ÷ n for the mean (Spark's Average, not an
    * incremental mean) and CentralMomentAgg's m2 for the stddev —
    * then applies the same plain round(x, 4): BigDecimal.valueOf
    * HALF_UP, Spark's Round on doubles. n = 1 yields a NULL stddev
    * (modern statisticalAggregate semantics, what the batch gate
    * proves); an all-null frame yields NULL for both. Same
    * in-order-per-key delivery caveat as [[replayByUser]].
    */
  def movingStatsStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Option[Double], Option[Double])] = {
    import spark.implicits._
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    replayByUser[SessionEvent, MaState,
      (Long, Long, Option[Double], Option[Double])](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Option[Double], Option[Double])]
      var st = restored.getOrElse(MaState(Nil))
      sorted.foreach { e =>
        val win = (st.vals :+ e.value).takeRight(7)
        var n = 0.0; var s = 0.0; var avg = 0.0; var m2 = 0.0
        win.foreach { x =>
          if (!x.isNaN) {
            n += 1; s += x
            val delta = x - avg
            val deltaN = delta / n
            avg += deltaN
            m2 += delta * (delta - deltaN)
          }
        }
        val ma = if (n == 0) None else Some(round4(s / n))
        val vol = if (n < 2) None
                  else Some(round4(math.sqrt(m2 / (n - 1.0))))
        out += ((user, e.event_id, ma, vol))
        st = MaState(win.takeRight(6))
      }
      (Some(st), out.iterator)
    }
  }

  /** Per-user state for s20: the running peak and running max drawdown
    * — two doubles, bounded regardless of stream length.
    */
  case class DrawdownState(peak: Double, dd: Double, started: Boolean)

  /** s20 — streaming running-peak drawdown per user: the incremental
    * twin of batch q73. Both folds are monotone maxes (peak = max of
    * values so far; drawdown = max of peak−value evaluated at each
    * row), so the carried two-double state replays the batch prefix
    * window exactly — no window buffer at all, and every emission is
    * bit-identical to the batch peak/drawdown at that row. The LAST
    * emission per user equals batch q73's per-user aggregate (and,
    * because both series are nondecreasing, so does the max over all
    * emissions — which is what the differential spec checks; raw
    * doubles, no rounding needed, max is order-stable). Same
    * in-order-per-key delivery caveat as [[replayByUser]].
    */
  def drawdownStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Double, Double)] = {
    import spark.implicits._
    replayByUser[SessionEvent, DrawdownState, (Long, Long, Double, Double)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Double, Double)]
      var st = restored.getOrElse(DrawdownState(0.0, 0.0, false))
      sorted.foreach { e =>
        val peak = if (st.started) math.max(st.peak, e.value) else e.value
        val dd = if (st.started) math.max(st.dd, peak - e.value)
                 else peak - e.value
        st = DrawdownState(peak, dd, started = true)
        out += ((user, e.event_id, dd, peak))
      }
      (Some(st), out.iterator)
    }
  }

  /** Per-(flag, month) state for s23: exact decimal running sums of
    * price and quantity plus the row count. Two decimals + a long per
    * group — bounded regardless of stream length, and ORDER-INDEPENDENT:
    * each double joins the sum as its canonical decimal value
    * (BigDecimal.valueOf), so the accumulated sums are exact in decimal
    * space no matter how micro-batches slice the feed — the streaming
    * statement of the batch money-lattice discipline. (Inputs whose
    * canonical decimal scale exceeds 18 would be clipped by the state
    * encoder's DecimalType(38,18); money/quantity columns are 2dp.)
    */
  case class VwapState(sumP: BigDecimal, sumQ: BigDecimal, n: Long)

  /** s23 — streaming VWAP per (l_returnflag, ship month): the
    * incremental twin of batch q74. Emits the running
    * (vwap, volume, n) per key each micro-batch in update mode — the
    * row with the greatest n per key is the current answer and, once
    * the feed drains, equals batch q74 at the 4dp/2dp rounds (the
    * streaming sums are exact decimals; the batch double sums drift
    * below the rounding band — the same cross-engine argument the
    * DuckDB gate rests on). Input rows may arrive in ANY order within
    * a key: pure sums need no in-order caveat, unlike the
    * recurrence-replay twins.
    */
  def vwapStream(spark: SparkSession, lineitem: DataFrame)
      : Dataset[(String, Long, Long, Double, Double)] = {
    import spark.implicits._
    lineitem
      .select(col("l_returnflag").as("flag"),
        unix_micros(date_trunc("month", col("l_shipdate"))).as("mo"),
        col("l_extendedprice").as("price"), col("l_quantity").as("qty"))
      .as[(String, Long, Double, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[VwapState, (String, Long, Long, Double, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[(String, Long, Double, Double)],
         state: GroupState[VwapState]) =>
          var st = state.getOption
            .getOrElse(VwapState(BigDecimal(0), BigDecimal(0), 0L))
          rows.foreach { r =>
            st = VwapState(
              st.sumP + BigDecimal(java.math.BigDecimal.valueOf(r._3)),
              st.sumQ + BigDecimal(java.math.BigDecimal.valueOf(r._4)),
              st.n + 1)
          }
          state.update(st)
          val vwap = st.sumP.bigDecimal
            .divide(st.sumQ.bigDecimal, 12, java.math.RoundingMode.HALF_UP)
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
          val volume = st.sumQ.bigDecimal
            .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue()
          Iterator((key._1, key._2, st.n, vwap, volume))
      }
  }

  /** Per-user state for s24: the user's cohort week (week of the FIRST
    * event — fixed at first sight under the in-order-per-key caveat)
    * and the weeks-since offsets already emitted. Bounded by the
    * calendar horizon, not the event count.
    */
  case class RetState(cohort: Long, started: Boolean, seen: Seq[Long])

  /** s24 — streaming cohort-retention marks: the incremental twin of
    * batch q84. Each user's first event pins their cohort week; every
    * event computes weeks_since = (week(ts) − cohort_week)/7d (exact
    * integer µs arithmetic — the session runs UTC, so a week is exactly
    * 604800e6 µs, matching the batch datediff div 7), and the FIRST
    * event to reach a given (user, weeks_since) emits one mark
    * (cohort_week_µs, weeks_since, user_id). Marks are append-only and
    * exactly-once per (user, offset), so q84's
    * count(DISTINCT user_id) per (cohort_week, weeks_since) is a
    * stateless count of marks downstream — same stream-rebuilds-the-
    * batch-rollup convention as s22. In-order-per-key delivery caveat
    * as [[replayByUser]] (a late out-of-order first week would mispin the
    * cohort; batch min() has no order sensitivity).
    */
  def retentionMarksStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Long)] = {
    import spark.implicits._
    val weekUs = 604800000000L
    events
      .select(col("user_id"),
        unix_micros(date_trunc("week", col("ts"))).as("wk"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RetState, (Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)],
         state: GroupState[RetState]) =>
          val sorted = rows.map(_._2).toSeq.sorted
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long)]
          var st = state.getOption.getOrElse(RetState(0L, false, Nil))
          sorted.foreach { wk =>
            if (!st.started) st = RetState(wk, true, Nil)
            val offset = (wk - st.cohort) / weekUs
            if (!st.seen.contains(offset)) {
              st = st.copy(seen = st.seen :+ offset)
              out += ((st.cohort, offset, user))
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Per-instrument state for s25: the current best bid and ask — two
    * doubles plus presence flags. The "book" at the BBO level is
    * exactly this, so state is bounded by the instrument universe, not
    * the quote count.
    */
  case class BboState(bb: Double, hasBb: Boolean, ba: Double, hasBa: Boolean)

  /** s25 — streaming best-bid/offer reconstruction per instrument: the
    * incremental twin of batch q151. Each quote (even event_id = bid,
    * odd = ask, the same side derivation) replaces its side of the
    * book and emits the post-update BBO row. Both sides are pure
    * selections of input doubles and the spread is the same single
    * subtraction, so every emission is bit-identical to the batch
    * window row for that event. In-order-per-key delivery caveat as
    * [[replayByUser]].
    */
  def bboStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Option[Double], Option[Double],
                 Option[Double], Option[Int])] = {
    import spark.implicits._
    replayByUser[SessionEvent, BboState,
      (Long, Long, Option[Double], Option[Double],
       Option[Double], Option[Int])](
      events.filter(col("value") > 0)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Option[Double], Option[Double],
                Option[Double], Option[Int])]
      var st = restored.getOrElse(BboState(0.0, false, 0.0, false))
      sorted.foreach { e =>
        st = if (e.event_id % 2 == 0) st.copy(bb = e.value, hasBb = true)
             else st.copy(ba = e.value, hasBa = true)
        val bb = if (st.hasBb) Some(st.bb) else None
        val ba = if (st.hasBa) Some(st.ba) else None
        val spread = for (b <- bb; a <- ba) yield a - b
        val crossed = for (b <- bb; a <- ba) yield if (b >= a) 1 else 0
        out += ((user, e.event_id, bb, ba, spread, crossed))
      }
      (Some(st), out.iterator)
    }
  }

  /** Per-instrument state for s26: the trailing ≤50 quotes as
    * (isBid, px) pairs in arrival order — the ring buffer the batch
    * q152 frame bound implies. Bounded at 50 entries per instrument
    * regardless of stream length.
    */
  case class DepthState(sides: Seq[Boolean], pxs: Seq[Double])

  /** s26 — streaming depth-of-book: the incremental twin of batch
    * q152. The carried ring buffer IS the batch window frame (last 50
    * quote events), so sorting its side-filtered prices and slicing
    * top-3 reproduces the batch ladder bit-for-bit — picked doubles,
    * no arithmetic at all. In-order-per-key delivery caveat as
    * [[replayByUser]].
    */
  def depthStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Option[Double], Option[Double], Option[Double],
                 Option[Double], Option[Double], Option[Double], Int, Int)] = {
    import spark.implicits._
    replayByUser[SessionEvent, DepthState,
      (Long, Long, Option[Double], Option[Double], Option[Double],
       Option[Double], Option[Double], Option[Double], Int, Int)](
      events.filter(col("value") > 0)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Option[Double], Option[Double], Option[Double],
                Option[Double], Option[Double], Option[Double], Int, Int)]
      var st = restored.getOrElse(DepthState(Nil, Nil))
      sorted.foreach { e =>
        val sides = (st.sides :+ (e.event_id % 2 == 0)).takeRight(50)
        val pxs = (st.pxs :+ e.value).takeRight(50)
        st = DepthState(sides, pxs)
        val bids = sides.zip(pxs).collect { case (true, p) => p }
          .sorted(Ordering[Double].reverse)
        val asks = sides.zip(pxs).collect { case (false, p) => p }.sorted
        def lvl(xs: Seq[Double], i: Int) =
          if (xs.lengthCompare(i) > 0) Some(xs(i)) else None
        out += ((user, e.event_id,
          lvl(bids, 0), lvl(bids, 1), lvl(bids, 2),
          lvl(asks, 0), lvl(asks, 1), lvl(asks, 2),
          bids.size, asks.size))
      }
      (Some(st), out.iterator)
    }
  }

  /** Per-instrument state for s27: the BBO book (s25's two doubles),
    * the previous trade price, and the last non-zero tick direction —
    * everything the Lee–Ready rules need, bounded per instrument.
    */
  case class TradeSignState(bb: Double, hasBb: Boolean,
                            ba: Double, hasBa: Boolean,
                            prevPx: Double, hasPrev: Boolean,
                            lastDir: Int)

  /** s27 — streaming Lee–Ready trade classification: the incremental
    * twin of batch q153's per-trade signs. Quotes (non-purchase
    * events) update the book; each trade classifies against the
    * current midpoint with the tick-rule fallback and emits
    * (user, event_id, sign). Within one timestamp quotes apply BEFORE
    * trades (matching the batch as-of's post-instant BBO state at the
    * trade's own microsecond); the comparisons and the midpoint
    * average are the same double arithmetic as the batch columns, so
    * signs are bit-identical. In-order-per-key delivery caveat as
    * [[replayByUser]] — here it extends to same-µs quotes landing in a
    * later micro-batch than the trade.
    */
  def tradeSignStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Int)] = {
    import spark.implicits._
    events.filter(col("value") > 0)
      .select(col("user_id"), col("ts"), col("value"), col("event_id"),
        (col("event_type") === "purchase").as("is_trade"))
      .as[(Long, java.sql.Timestamp, Double, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TradeSignState, (Long, Long, Int)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long,
         evs: Iterator[(Long, java.sql.Timestamp, Double, Long, Boolean)],
         state: GroupState[TradeSignState]) =>
          // quotes sort before trades at the same instant: the batch
          // as-of sees the post-instant book at the trade's microsecond
          val sorted = evs.toSeq.sortBy(e => (micros(e._2), e._5, e._4))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
          var st = state.getOption.getOrElse(
            TradeSignState(0.0, false, 0.0, false, 0.0, false, 0))
          sorted.foreach { case (_, _, px, eventId, isTrade) =>
            if (!isTrade) {
              st = if (eventId % 2 == 0) st.copy(bb = px, hasBb = true)
                   else st.copy(ba = px, hasBa = true)
            } else {
              val dir = if (st.hasPrev && px > st.prevPx) 1
                        else if (st.hasPrev && px < st.prevPx) -1
                        else 0
              val eff = if (dir != 0) dir else st.lastDir
              val sign =
                if (st.hasBb && st.hasBa) {
                  val mid = (st.bb + st.ba) / 2
                  if (px > mid) 1 else if (px < mid) -1 else eff
                } else eff
              out += ((user, eventId, sign))
              st = st.copy(prevPx = px, hasPrev = true, lastDir = eff)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  def sessionize(spark: SparkSession, events: DataFrame): Dataset[Session] = {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000 * 1000
    events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
      .as[SessionEvent]
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, events: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, tsFromMicros(s.start),
              tsFromMicros(s.last), s.n, s.sum))
          } else {
            val sorted = events.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = micros(e.ts)
              cur match {
                case Some(s) if t - s.last <= gapUs =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed += Session(userId, tsFromMicros(s.start),
                    tsFromMicros(s.last), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.last + gapUs) / 1000)
            }
            closed.iterator
          }
      }
  }

  /** s38 — streaming realized variance on [[replayByUser]]: the
    * incremental twin of batch q157. State is ONE (day, last price)
    * per instrument — the same-day lag needs nothing else, and a day
    * rollover resets it exactly like q157's (user, day) window
    * partition. Each micro-batch folds its prints in (ts, event_id)
    * order and emits per-(instrument, day) INCREMENTS of (n_rets,
    * Σ ln²) — sums, not the variance, so increments reduce (the s34
    * fractions convention). A return exists iff the current price is
    * positive, a same-day previous print exists, and the price ratio
    * is positive — the exact tri-state of batch q157's
    * `when(value>0, log(value / nullif(prev, 0)))` under Spark's
    * null-on-nonpositive log. Reduced increments match batch q157 up
    * to FP summation order on Σ ln² (absorbed by the 6dp round);
    * day boundaries and batch boundaries both stitch through the
    * carried state. Same in-order-per-key delivery caveat as
    * [[replayByUser]].
    */
  def rvStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, java.sql.Timestamp, Long, Double)] = {
    import spark.implicits._
    val dayUs = 86400L * 1000000L
    replayByUser[SessionEvent, (Long, Double),
      (Long, java.sql.Timestamp, Long, Double)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      // state: (current day in µs, last price that day)
      var prev = restored
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Long, Double)]
      sorted.foreach { e =>
        val day = micros(e.ts) - Math.floorMod(micros(e.ts), dayUs)
        // always touch the day so no-return days still emit a (0, 0.0)
        // increment — batch q157 keeps those rows with n_rets=0 / NULL
        // rv, and the reducer rebuilds the NULL from n=0, so the row
        // sets stay identical
        val (n, ss) = acc.getOrElse(day, (0L, 0.0))
        acc(day) = prev match {
          case Some((d, p))
              if d == day && e.value > 0.0 && p != 0.0 &&
                e.value / p > 0.0 =>
            val r = math.log(e.value / p)
            (n + 1L, ss + r * r)
          case _ => (n, ss)
        }
        prev = Some((day, e.value))
      }
      (prev, acc.iterator.map { case (day, (n, ss)) =>
        (user, tsFromMicros(day), n, ss)
      })
    }
  }

  /** s48 — streaming realized MOMENTS on [[replayByUser]]: the
    * incremental twin of batch q188, one power step past [[rvStream]].
    * State is ONE last price per instrument (the whole-tape lag needs
    * nothing else — q188's window does not reset per day). Each batch
    * folds its prints in (ts, event_id) order and emits per-instrument
    * INCREMENTS of the four power sums (n, Σr², Σr³, Σr⁴) plus the
    * downside Σr²[r<0] — pure sums, so increments reduce exactly and
    * the consumer forms rskew/rkurt from the REDUCED sums once,
    * reproducing batch q188 at the 6dp round. Return tri-state is
    * q157/q188's `when(value>0, log(value/nullif(prev,0)))` exactly.
    * Same in-order-per-key delivery caveat as [[replayByUser]].
    */
  def momentsStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Double, Double, Double, Double)] = {
    import spark.implicits._
    replayByUser[SessionEvent, Double,
      (Long, Long, Double, Double, Double, Double)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      var prev = restored.getOrElse(Double.NaN)
      var n = 0L
      var s2, s3, s4, sv = 0.0
      sorted.foreach { e =>
        if (e.value > 0.0 && !prev.isNaN && prev != 0.0 &&
            e.value / prev > 0.0) {
          val r = math.log(e.value / prev)
          n += 1L
          s2 += r * r; s3 += r * r * r; s4 += r * r * r * r
          if (r < 0.0) sv += r * r
        }
        prev = e.value
      }
      (Some(prev).filter(!_.isNaN),
        if (n == 0L) Iterator.empty
        else Iterator((user, n, s2, s3, s4, sv)))
    }
  }

  /** s49 — streaming effective spread on [[replayByUser]]: the
    * incremental twin of batch q191, the trade-pricing complement to
    * the s41 time-weighted quote spread. State per instrument is the
    * running (best bid, best ask) book — the q151/s25 even/odd
    * recurrence; trades (purchase prints) never update it. Each batch
    * emits per-(instrument, day) INCREMENTS of (n_trades,
    * Σ 2·|p−mid|/mid, Σ (ask−bid)/mid, Σ improved-flag) — each
    * per-trade term is computed against the book state at the trade's
    * instant from the carried recurrence, so a trade whose quotes
    * arrived in an earlier batch prices identically to batch q191;
    * sums reduce, the consumer averages the reduced sums once. Same
    * in-order-per-key delivery caveat as [[replayByUser]].
    */
  def effSpreadStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, java.sql.Timestamp, Long, Double, Double, Long)] = {
    import spark.implicits._
    val dayUs = 86400L * 1000000L
    replayByUser[PrintEvent, (Double, Double),
      (Long, java.sql.Timestamp, Long, Double, Double, Long)](
      events.filter(col("value") > 0)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"),
          col("event_type"))
        .as[PrintEvent]) { (user, sorted, restored) =>
      var (bid, ask) = restored.getOrElse((Double.NaN, Double.NaN))
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Long, Double, Double, Long)]
      sorted.foreach { e =>
        if (e.event_type == "purchase") {
          if (!bid.isNaN && !ask.isNaN && bid < ask) {
            val day = micros(e.ts) - Math.floorMod(micros(e.ts), dayUs)
            val mid = (bid + ask) / 2.0
            val eff = 2.0 * math.abs(e.value - mid) / mid
            val qs = (ask - bid) / mid
            val imp = if (2.0 * math.abs(e.value - mid) < ask - bid) 1L
                      else 0L
            val (n, se, sq, si) = acc.getOrElse(day, (0L, 0.0, 0.0, 0L))
            acc(day) = (n + 1L, se + eff, sq + qs, si + imp)
          }
        } else {
          if (e.event_id % 2 == 0) bid = e.value else ask = e.value
        }
      }
      (Some((bid, ask)), acc.iterator.map { case (day, (n, se, sq, si)) =>
        (user, tsFromMicros(day), n, se, sq, si)
      })
    }
  }

  /** s50 — streaming variance-of-aggregates ledger via
    * [[replayByUser]]: the incremental twin of batch q193's
    * Hurst input. State per instrument is (last price, for each
    * k ∈ {1,2,4,8} the OPEN bucket's partial sum and count) — the
    * return lattice is carried as INTEGER picounits (the 12dp decimal
    * × 10¹²), so bucket sums are exact long additions and any batch
    * split reduces bit-identically. A bucket emits exactly once, when
    * it FILLS; tape-end partial buckets never emit — precisely batch
    * q193's full-bucket HAVING. The consumer recovers the exact
    * decimal (the true value is a 12dp lattice point, so the
    * double·1e−12 → round-12 roundtrip is exact), then runs the
    * batch's own moment/variance/slope tail on identical inputs.
    * Same in-order-per-key delivery caveat as [[replayByUser]].
    */
  def hurstLedgerStream(spark: SparkSession, events: DataFrame,
                        ks: Seq[Int] = Seq(1, 2, 4, 8))
      : Dataset[(Long, Int, Long)] = {
    import spark.implicits._
    replayByUser[SessionEvent, (Double, Seq[(Int, Long, Int)]),
      (Long, Int, Long)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      var (prev, partials) = restored.getOrElse(
        (Double.NaN, ks.map(k => (k, 0L, 0))))
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Long)]
      sorted.foreach { e =>
        if (e.value > 0.0 && !prev.isNaN && prev != 0.0 &&
            e.value / prev > 0.0) {
          // 12dp HALF_UP lattice in integer picounits — exactly
          // Num.decRound(ret, 12) scaled by 10^12
          val r12 = BigDecimal(math.log(e.value / prev))
            .setScale(12, BigDecimal.RoundingMode.HALF_UP)
            .*(BigDecimal(1000000000000L)).toLongExact
          partials = partials.map { case (k, s, c) =>
            val (s2, c2) = (s + r12, c + 1)
            if (c2 == k) { out += ((user, k, s2)); (k, 0L, 0) }
            else (k, s2, c2)
          }
        }
        prev = e.value
      }
      (Some((prev, partials)).filter(!_._1.isNaN), out.iterator)
    }
  }

  /** s51 — streaming underwater-spell tracker via
    * [[replayByUser]]: the incremental twin of batch q196.
    * State per instrument is five scalars — running peak, the at-peak
    * print counter (the batch's run-group id), and the OPEN spell's
    * (prints, start µs, last µs). An at-peak print closes the open
    * spell (emitted once, final); the open spell re-emits each batch
    * (update semantics) because batch q196 counts a tape-end spell
    * still in progress — the consumer keeps the max-progress row per
    * (instrument, group), exactly the s47 partial-horizon convention.
    * Peak comparison picks doubles, lengths are integers — the
    * reduced rows rebuild q196 bit-for-bit, no rounding anywhere.
    * Same in-order-per-key delivery caveat as [[replayByUser]].
    */
  def underwaterStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Long, Long)] = {
    import spark.implicits._
    replayByUser[SessionEvent, (Double, Long, Long, Long, Long),
      (Long, Long, Long, Long)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      var (peak, grp, len, startUs, lastUs) =
        restored.getOrElse((Double.NaN, 0L, 0L, 0L, 0L))
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long)]
      sorted.foreach { e =>
        val t = micros(e.ts)
        if (!peak.isNaN && e.value < peak) {
          if (len == 0L) { startUs = t }
          len += 1L; lastUs = t
        } else {
          if (len > 0L) { // spell closes at this at-peak print
            out += ((user, grp, len, lastUs - startUs))
            len = 0L
          }
          grp += 1L
          peak = if (peak.isNaN) e.value else math.max(peak, e.value)
        }
      }
      if (len > 0L) out += ((user, grp, len, lastUs - startUs))
      (Some((peak, grp, len, startUs, lastUs)), out.iterator)
    }
  }

  /** s39 — streaming market-data staleness on [[replayByUser]]:
    * the incremental twin of batch q166, and the live form the SLA is
    * actually monitored in (a feed watchdog wants the stale clock
    * ticking NOW, not in a nightly batch). State is (day, last ts µs)
    * per instrument. Emissions per (instrument, day) carry the batch's
    * stale-excess INCREMENT (Σ max(0, gap−300s)), its local max gap,
    * and its local min/max print µs — every component reduces exactly
    * (sum / max / min+max), so the reduced rows rebuild q166's
    * integer-µs aggregates BIT-FOR-BIT, including gaps that straddle a
    * micro-batch boundary (computed from the carried last ts) and
    * single-print days (no gap emitted ⇒ NULL max gap, the batch
    * convention). Only the final stale-share division is FP, applied
    * once after reduction — the whole pipeline is exact integer
    * arithmetic end to end.
    */
  def stalenessStream(spark: SparkSession, events: DataFrame,
                      thresholdSec: Long = 300L)
      : Dataset[(Long, java.sql.Timestamp, Long, Option[Long], Long, Long)] = {
    import spark.implicits._
    val dayUs = 86400L * 1000000L
    replayByUser[SessionEvent, (Long, Long),
      (Long, java.sql.Timestamp, Long, Option[Long], Long, Long)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      // state: (current day µs, last print µs that day)
      var prev = restored
      // day -> (stale excess inc, max gap or -1, min ts, max ts)
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Long, Long, Long, Long)]
      sorted.foreach { e =>
        val t = micros(e.ts)
        val day = t - Math.floorMod(t, dayUs)
        val (st, mg, lo, hi) =
          acc.getOrElse(day, (0L, -1L, Long.MaxValue, Long.MinValue))
        val gap = prev match {
          case Some((d, pt)) if d == day => Some(t - pt)
          case _ => None
        }
        acc(day) = (
          st + gap.map(g => math.max(0L, g - thresholdSec * 1000000L))
            .getOrElse(0L),
          gap.map(math.max(mg, _)).getOrElse(mg),
          math.min(lo, t), math.max(hi, t))
        prev = Some((day, t))
      }
      (prev, acc.iterator.map { case (day, (st, mg, lo, hi)) =>
        (user, tsFromMicros(day), st,
          if (mg < 0L) None else Some(mg), lo, hi)
      })
    }
  }

  case class KyleEvent(user_id: Long, ts: java.sql.Timestamp,
                       value: Double, event_id: Long, size: Option[Long])
      extends KeyedEvent

  /** s40 — streaming Kyle lambda on [[replayByUser]]: the
    * incremental twin of batch q170. State is (last price, last
    * nonzero tick sign) per instrument — identical to s34, because the
    * tick-rule recurrence is the only sequential dependency; the
    * regression itself is FIVE runnings sums. Each micro-batch emits
    * per-instrument MOMENT increments (n, Σ Δp, Σ q, Σ Δp·q, Σ q²)
    * with q = sign·size; sums reduce across batches, and the consumer
    * forms λ = cov/var from the reduced moments once. The closed-form
    * moments differ from batch covar_pop/var_pop (streaming co-moment
    * updates) only in FP accumulation noise, orders of magnitude
    * below the 6dp round — the differential spec proves the reduced
    * increments hit batch q170's rounded output exactly. Caller
    * pre-extracts `size` from the props JSON (the q62/q170
    * convention). Same in-order-per-key delivery caveat as
    * [[replayByUser]].
    */
  def kyleStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Double, Double, Double, Double)] = {
    import spark.implicits._
    replayByUser[KyleEvent, (Double, Double),
      (Long, Long, Double, Double, Double, Double)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("size"))
        .as[KyleEvent]) { (user, sorted, restored) =>
      var lastPx = restored.map(_._1)
      var lastSign = restored.map(_._2).filter(_ != 0.0)
      var n = 0L
      var sdp, sq, sxy, sq2 = 0.0
      sorted.foreach { e =>
        val dp = lastPx.map(e.value - _)
        val raw = dp.map(math.signum)
        val sign = raw match {
          case Some(r) if r != 0.0 => lastSign = Some(r); Some(r)
          case Some(_) => lastSign
          case None => None
        }
        // a NULL size (props lacks k / non-numeric) contributes no
        // observation, matching batch covar_pop/var_pop null-skip; the
        // tick state (lastPx, lastSign) still advances
        for (s <- sign; d <- dp; sz <- e.size) {
          val q = s * sz.toDouble
          n += 1L
          sdp += d; sq += q; sxy += d * q; sq2 += q * q
        }
        lastPx = Some(e.value)
      }
      (lastPx.map(p => (p, lastSign.getOrElse(0.0))),
        if (n == 0L) Iterator.empty
        else Iterator((user, n, sdp, sq, sxy, sq2)))
    }
  }

  /** s41 — streaming time-weighted quoted spread via
    * [[replayByUser]]: the incremental twin of batch q173, and
    * the s25 BBO recurrence carried one step further into the
    * time-weighted domain. State per instrument is (best bid, best
    * ask, last print µs) — the interval OPEN at the batch boundary is
    * priced by the NEXT batch's first print against the carried book,
    * which is exactly how the batch lead() weights it. A day rollover
    * closes the last interval of the old day at zero weight (the
    * batch same-day lead drops it), while the book itself carries
    * across days (the q151/q173 running-book convention). Emits
    * per-(instrument, day) increments of (n_quoted, quoted µs,
    * Σ spread·w); integer weights are exact, the one double sum is
    * absorbed by the 6dp round at reduction. Crossed or one-sided
    * book intervals contribute nothing, matching the batch filter.
    */
  def quotedSpreadStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, java.sql.Timestamp, Long, Long, Double)] = {
    import spark.implicits._
    val dayUs = 86400L * 1000000L
    replayByUser[SessionEvent, (Double, Double, Long),
      (Long, java.sql.Timestamp, Long, Long, Double)](
      events.filter(col("value") > 0)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      // state: (best bid, best ask, last print µs); NaN = side unset
      var (bid, ask, lastT) =
        restored.getOrElse((Double.NaN, Double.NaN, -1L))
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Long, Long, Double)]
      sorted.foreach { e =>
        val t = micros(e.ts)
        if (lastT >= 0L) {
          val day = lastT - Math.floorMod(lastT, dayUs)
          // interval [lastT, t) belongs to lastT's day; it prices only
          // if t is still the same day (the batch lead() is same-day
          // partitioned) and the carried book is two-sided and uncrossed
          if (t - Math.floorMod(t, dayUs) == day &&
              !bid.isNaN && !ask.isNaN && bid < ask) {
            val w = t - lastT
            val (n, qus, sw) = acc.getOrElse(day, (0L, 0L, 0.0))
            acc(day) = (n + 1L, qus + w, sw + (ask - bid) * w.toDouble)
          }
        }
        if (e.event_id % 2 == 0) bid = e.value else ask = e.value
        lastT = t
      }
      (Some((bid, ask, lastT)), acc.iterator.map { case (day, (n, qus, sw)) =>
        (user, tsFromMicros(day), n, qus, sw)
      })
    }
  }

  /** s42 — streaming VPIN bucket maintenance via
    * [[replayByUser]]: the incremental twin of batch q179.
    * State per instrument is (last price, last nonzero sign,
    * cumulative signed volume so far) — the carried cum is what keys
    * each print into its ABSOLUTE volume bucket, so bucket identity
    * is stable across any micro-batch slicing. Emits per-(instrument,
    * bucket) INTEGER increments (Σ size, Σ sign·size); increments
    * reduce bit-exactly, and the consumer's per-bucket |net|/vol and
    * bucket mean reproduce batch q179 at the 6dp round. A bucket
    * straddling a batch boundary accumulates from both sides into the
    * same bucket id via the carried cum. Same in-order-per-key
    * delivery caveat as [[replayByUser]].
    */
  def vpinStream(spark: SparkSession, events: DataFrame,
                 bucketVol: Long = 500L)
      : Dataset[(Long, Long, Long, Long)] = {
    import spark.implicits._
    replayByUser[KyleEvent, (Double, Double, Long), (Long, Long, Long, Long)](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("size"))
        .as[KyleEvent]) { (user, sorted, restored) =>
      var (lastPxRaw, lastSignRaw, cum) =
        restored.getOrElse((Double.NaN, 0.0, 0L))
      var lastPx = if (lastPxRaw.isNaN) None else Some(lastPxRaw)
      var lastSign = if (lastSignRaw == 0.0) None else Some(lastSignRaw)
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Long, Long)]
      sorted.foreach { e =>
        val raw = lastPx.map(p => math.signum(e.value - p))
        val sign = raw match {
          case Some(r) if r != 0.0 => lastSign = Some(r); Some(r)
          case Some(_) => lastSign
          case None => None
        }
        // NULL size adds no volume (batch sum null-skip); tick state
        // still advances below
        for (s <- sign; sz <- e.size) {
          val bucket = cum / bucketVol // cum BEFORE this print
          cum += sz
          val (vol, net) = acc.getOrElse(bucket, (0L, 0L))
          acc(bucket) = (vol + sz, net + s.toLong * sz)
        }
        lastPx = Some(e.value)
      }
      (Some((lastPx.getOrElse(Double.NaN), lastSign.getOrElse(0.0), cum)),
        acc.iterator.map { case (b, (vol, net)) => (user, b, vol, net) })
    }
  }

  /** s45 — streaming PIT publish into a RELATIONAL store: the s5
    * latest-per-key semantic delivered through
    * [[graft.sources.JdbcFeed.upsertWrite]] instead of a parquet
    * snapshot — the shape a reference-data master actually serves
    * from (a keyed table consumers SELECT against), closing the loop
    * between the streaming family and the JDBC sink. Per micro-batch:
    * reduce the batch to its OWN latest row per (user, type) —
    * upsertWrite's unique-key contract, and all the work the batch
    * needs to do — then MERGE by key; in-order delivery makes the
    * final table the tape's latest row per key, exactly batch q29.
    * Convergent under foreachBatch replay (a re-merged batch lands
    * the same state), the same idempotence argument as [[s5]]'s
    * pointer swap but delegated to the transactional store.
    */
  def pitJdbcSink(events: DataFrame, url: String, table: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val latest = batch.toDF()
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id"), col("event_type"))
              .orderBy(col("ts").desc, col("event_id").desc)))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"),
            col("ts").as("latest_ts"), col("value").as("latest_value"))
        graft.sources.JdbcFeed.upsertWrite(latest, url, table,
          keyCols = Seq("user_id", "event_type"))
        ()
      }
      .start()

  /** s54 — streaming message-traffic surveillance via
    * [[replayByUser]]: the incremental twin of batch q195. Day
    * totals are plain sum increments; the PEAK-minute statistic is the
    * recurrence — state per instrument is just (open minute µs, its
    * quote count): a print in a later minute CLOSES the open one,
    * folding its full count into the day's closed-peak increment; the
    * open minute re-emits its running count each batch (monotone), so
    * the consumer's greatest(closed peaks, open counts) equals batch
    * q195's max over complete minutes — including the tape-end minute
    * that never closes (the s47 partial-horizon convention). All
    * integers; reduces bit-exactly. Same in-order-per-key delivery
    * caveat as [[replayByUser]].
    */
  def messageTrafficStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, java.sql.Timestamp, Long, Long, Long, Long)] = {
    import spark.implicits._
    val minUs = 60L * 1000000L
    val dayUs = 86400L * 1000000L
    replayByUser[PrintEvent, (Long, Long),
      (Long, java.sql.Timestamp, Long, Long, Long, Long)](
      events.filter(col("value") > 0)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"),
          col("event_type"))
        .as[PrintEvent]) { (user, sorted, restored) =>
      var (curMin, curQ) = restored.getOrElse((-1L, 0L))
      // per-day batch increments: (dq, dt, closedPeak)
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Long, Long, Long)]
      def bump(day: Long)(f: ((Long, Long, Long)) => (Long, Long, Long))
          : Unit = acc(day) = f(acc.getOrElse(day, (0L, 0L, 0L)))
      sorted.foreach { e =>
        val t = micros(e.ts)
        val m = t - Math.floorMod(t, minUs)
        if (m != curMin) {
          if (curMin >= 0L) {
            val oldDay = curMin - Math.floorMod(curMin, dayUs)
            bump(oldDay) { case (q, tr, p) => (q, tr, math.max(p, curQ)) }
          }
          curMin = m; curQ = 0L
        }
        val day = t - Math.floorMod(t, dayUs)
        if (e.event_type == "purchase")
          bump(day) { case (q, tr, p) => (q, tr + 1L, p) }
        else {
          curQ += 1L
          bump(day) { case (q, tr, p) => (q + 1L, tr, p) }
        }
      }
      val openRow =
        if (curMin >= 0L) {
          val d = curMin - Math.floorMod(curMin, dayUs)
          Iterator((user, tsFromMicros(d), 0L, 0L, 0L, curQ))
        } else Iterator.empty
      (Some((curMin, curQ)), acc.iterator.map { case (d, (q, tr, p)) =>
        (user, tsFromMicros(d), q, tr, p, 0L)
      } ++ openRow)
    }
  }

  /** s53 — streaming tokenizer-fertility census: batch q192's four
    * integer sums maintained by Spark's NATIVE streaming aggregation
    * (update mode) — no custom state at all, because every per-row
    * term is row-local and the sums are associative; this is the twin
    * family's baseline showing where built-in incremental aggregation
    * already suffices (the custom-state twins earn their complexity
    * only when a recurrence or an ordering is involved). Emitted rows
    * per lang are MONOTONE (sums only grow), so the consumer keeps
    * each lang's max row and computes the exact-long ratios — equal
    * to batch q192 by construction.
    */
  def fertilityStream(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), length(col("text")).cast("long").as("n_chars"),
        size(filter(graft.functions.Text.tokens(col("text")),
          t => length(t) > 0)).cast("long").as("n_ws"),
        graft.functions.Text.lexTokens(col("text")).as("lex"))
      .select(col("lang"), col("n_chars"), col("n_ws"),
        size(col("lex")).cast("long").as("n_lex"),
        aggregate(col("lex"), lit(0L), (acc, t) => acc + length(t))
          .as("lex_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        sum(col("n_ws")).as("ws_tokens"),
        sum(col("n_lex")).as("lex_tokens"),
        sum(col("lex_chars")).as("lex_chars"))

  /** s52 — LIVE T+2 settlement ledger through the transactional table:
    * each micro-batch of trades maps to settle sessions against the
    * STATIC session calendar (stream-static, the q199 rank arithmetic
    * unchanged) and folds per-settle-day increments into a
    * [[graft.sources.VersionedTable]] — the ops-desk cash projection
    * updating as trades print, served by `current`/`snapshotAt`
    * (as-known-at = what the desk believed before a late batch).
    * Counts and 2dp-decimal notionals merge EXACTLY (decimal addition
    * is associative), so the converged ledger equals batch q199
    * bit-for-bit, which the differential spec asserts; replays are
    * no-ops via the table's monotone commit.
    */
  def settlementLedgerSink(trades: DataFrame, calendar: DataFrame,
                           tableDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val covers = calendar.withColumn("prev",
      coalesce(lag(col("sday"), 1).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("sday"))),
        lit("1900-01-01").cast("timestamp")))
    trades.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ss = batch.sparkSession
        val inc = batch.toDF()
          .filter(col("event_type") === "purchase")
          .select(date_trunc("day", col("ts")).as("day"), col("value"))
          .join(broadcast(covers),
            col("day") > col("prev") && col("day") <= col("sday"))
          .select((col("rk") + 2L).as("srk"), col("value"))
          .join(broadcast(calendar.select(col("rk").as("srk"),
            col("sday").as("settle_day"))), "srk")
          .groupBy(col("settle_day"))
          .agg(count(lit(1)).as("n_trades"),
            sum(col("value").cast(
              org.apache.spark.sql.types.DecimalType(18, 2)))
              .cast(org.apache.spark.sql.types.DecimalType(28, 2))
              .as("gross_notional"))
        new graft.sources.VersionedTable(ss, tableDir)
          .commit(batchId) {
            case None => inc
            case Some(base) => base.unionByName(inc)
              .groupBy(col("settle_day"))
              .agg(sum(col("n_trades")).cast("long").as("n_trades"),
                sum(col("gross_notional"))
                  .cast(org.apache.spark.sql.types.DecimalType(28, 2))
                  .as("gross_notional"))
          }
        ()
      }
      .start()
  }

  /** s43 — streaming conversion latency via flatMapGroupsWithState:
    * the incremental twin of batch q180, and the live activation
    * monitor (a growth team wants the conversion clock as it closes,
    * not in a nightly cohort job). State per user is (first-view µs
    * or −1, converted flag) — two fields, bounded forever. The
    * in-order fold emits EXACTLY ONE (cohort week, latency) row per
    * user: the first purchase at-or-after the first view closes the
    * clock (identical to the batch min-over-qualifying-purchases,
    * because in-order the first qualifying print IS the min), views
    * after the first don't move it, purchases before any view are
    * ignored. The µs latency and the Monday-start week truncation
    * are integer arithmetic (matching date_trunc('week') under the
    * UTC session), so the emitted multiset equals the batch latency
    * frame exactly and the consumer's percentile agg reproduces q180
    * bit-for-bit before its decimal round. View→purchase pairs
    * straddling a micro-batch boundary close from the carried state.
    */
  def conversionStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, java.sql.Timestamp, Double)] = {
    import spark.implicits._
    val dayUs = 86400L * 1000000L
    events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .as[TypedEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Boolean),
        (Long, java.sql.Timestamp, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[TypedEvent],
         state: GroupState[(Long, Boolean)]) =>
          // views sort BEFORE purchases at the same microsecond: batch
          // q180 qualifies a purchase by timestamp only (t >= first
          // view ts), so a purchase tied to the µs of the first view
          // must see vUs already set regardless of event_id order
          val sorted = evs.toSeq.sortBy(e =>
            (micros(e.ts), if (e.event_type == "purchase") 1 else 0,
              e.event_id))
          var (vUs, done) = state.getOption.getOrElse((-1L, false))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, java.sql.Timestamp, Double)]
          sorted.foreach { e =>
            val t = micros(e.ts)
            e.event_type match {
              case "view" if vUs < 0L => vUs = t
              case "purchase" if vUs >= 0L && !done && t >= vUs =>
                done = true
                val dayIdx = Math.floorDiv(vUs, dayUs)
                // Monday-start week truncation: 1970-01-01 is Thursday
                val weekStart =
                  (dayIdx - Math.floorMod(dayIdx + 3L, 7L)) * dayUs
                out += ((user, tsFromMicros(weekStart), (t - vUs) / 1e6))
              case _ => ()
            }
          }
          state.update((vUs, done))
          out.iterator
      }
  }

  /** s55 — streaming AR(1) regression ledger via
    * [[replayByUser]]: the incremental twin of batch q201.
    * State per instrument is ONE value — the last positive print's
    * 12dp log-price lattice in integer picounits (non-positive prints
    * are absent from batch q201's tape, so they neither pair nor break
    * the chain). Each batch folds its prints in (ts, event_id) order
    * and emits per-instrument increments of the five regression
    * moments (n, Σx_prev, Σx, Σx_prev·x, Σx_prev²) — every sum as a
    * plain-string exact decimal (a picounit product overflows a long,
    * and a picounit LINEAR sum can pass 2⁵³ on a long tape; the
    * strings round-trip the exact lattice values into DECIMAL(38,24),
    * which carries bit-for-bit the batch's decimal sum values).
    * Increments therefore reduce EXACTLY under any micro-batch split,
    * and the consumer runs batch q201's own slope/half-life tail on
    * identical operands. Same in-order-per-key delivery caveat as
    * [[replayByUser]].
    */
  def ar1Stream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, String, String, String, String)] = {
    import spark.implicits._
    replayByUser[SessionEvent, Long,
      (Long, Long, String, String, String, String)](
      events.filter(col("value") > 0)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      var prev = restored.getOrElse(Long.MinValue)
      var n = 0L; var sx = 0L; var sy = 0L
      var sxy = java.math.BigInteger.ZERO
      var sxx = java.math.BigInteger.ZERO
      sorted.foreach { e =>
        // 12dp HALF_UP lattice in integer picounits — exactly
        // Num.decRound(log(value), 12) scaled by 10^12
        val x = BigDecimal(math.log(e.value))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
          .*(BigDecimal(1000000000000L)).toLongExact
        if (prev != Long.MinValue) {
          // addExact: a picounit linear sum overflows a long only past
          // ~10⁵ prints/key/batch of |ln px| ≈ 10 — loud, not silent,
          // if a deployment ever gets there
          n += 1L
          sx = Math.addExact(sx, prev); sy = Math.addExact(sy, x)
          val p = java.math.BigInteger.valueOf(prev)
          sxy = sxy.add(p.multiply(java.math.BigInteger.valueOf(x)))
          sxx = sxx.add(p.multiply(p))
        }
        prev = x
      }
      (Some(prev).filter(_ != Long.MinValue),
        if (n == 0L) Iterator.empty
        else Iterator((user, n,
          java.math.BigDecimal.valueOf(sx, 12).toPlainString,
          java.math.BigDecimal.valueOf(sy, 12).toPlainString,
          new java.math.BigDecimal(sxy, 24).toPlainString,
          new java.math.BigDecimal(sxx, 24).toPlainString)))
    }
  }

  /** s56 — streaming implementation-shortfall ledger via
    * [[replayByUser]]: the incremental twin of batch q203.
    * State per instrument is (current day µs, that day's ARRIVAL
    * price) — the first positive print of the day, carried so a
    * purchase in a later micro-batch benchmarks against the arrival
    * its day opened with. Each batch emits per-(instrument, day)
    * increments of (arrival 6dp-lattice micro-units, n_trades, Σk,
    * Σ px6·k in micro-units) — ALL integer, so increments reduce
    * bit-exactly and the consumer's 10⁴·(notional−arr·qty)/(arr·qty)
    * equals batch q203 before its round. Same in-order-per-key
    * delivery caveat as [[replayByUser]].
    */
  def shortfallStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, java.sql.Timestamp, Long, Long, Long, Long)] = {
    import spark.implicits._
    val dayUs = 86400L * 1000000L
    def micro6(v: Double): Long =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .*(BigDecimal(1000000L)).toLongExact
    replayByUser[ShortfallEvent, (Long, Long),
      (Long, java.sql.Timestamp, Long, Long, Long, Long)](
      events.filter(col("value") > 0)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"),
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("size"))
        .as[ShortfallEvent]) { (user, sorted, restored) =>
      // state: (day µs, arrival price in 6dp micro-units)
      var (day, arr6) = restored.getOrElse((Long.MinValue, 0L))
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Long, Long, Long, Long)]
      sorted.foreach { e =>
        val d = micros(e.ts) - Math.floorMod(micros(e.ts), dayUs)
        if (d != day) { day = d; arr6 = micro6(e.value) }
        if (e.event_type == "purchase" && e.size.exists(_ > 0L)) {
          val k = e.size.get
          val (n, q, nt, a) = acc.getOrElse(day, (0L, 0L, 0L, arr6))
          acc(day) = (n + 1L, q + k,
            Math.addExact(nt, Math.multiplyExact(micro6(e.value), k)),
            arr6)
        }
      }
      (Some((day, arr6)).filter(_._1 != Long.MinValue),
        acc.iterator.map { case (d, (n, q, nt, a)) =>
          (user, tsFromMicros(d), a, n, q, nt)
        })
    }
  }

  case class ShortfallEvent(user_id: Long, ts: java.sql.Timestamp,
                            value: Double, event_id: Long,
                            event_type: String, size: Option[Long])
      extends KeyedEvent

  /** s57 — streaming minute-bin census via NATIVE streaming
    * aggregation (the s53 convention): per (instrument, minute), the
    * running print count, plus the per-row exact squares the batch
    * q207 tail needs. Counts are pure integer sums, so update-mode
    * rows converge to the batch bins under any split — a minute
    * straddling two micro-batches re-emits its corrected total — and
    * the consumer's Fano/burstiness formula runs on the reduced bins
    * exactly as batch q207 does. State is one long per open
    * (instrument, minute) cell, naturally bounded by the tape span
    * (add a watermark to close cells in production).
    */
  def minuteBinStream(events: DataFrame): DataFrame =
    events
      .select(col("user_id"),
        expr("unix_micros(ts) div 60000000").as("minute"))
      .groupBy(col("user_id"), col("minute"))
      .agg(count(lit(1)).as("c"))

  /** s62 — streaming BNS jump ledger on [[replayByUser]]: the
    * incremental twin of batch q215. State per instrument is TWO
    * picounit lattices — the last log price and the last \|return\| —
    * because RV and bipower are both one-lag recurrences over the same
    * tape. Each batch emits increments of (n, Σr², Σ\|r_t\|\|r_{t−1}\|)
    * with the product sums as exact plain-string 24dp decimals (the
    * s55 convention); increments reduce bit-exactly under any split
    * and the consumer applies batch q215's (28,10) re-narrow + π/2 +
    * 6dp tail on identical operands. Same in-order-per-key delivery
    * caveat as [[replayByUser]].
    */
  def jumpStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, String, String, Long)] = {
    import spark.implicits._
    replayByUser[SessionEvent, (Long, Long),
      (Long, Long, String, String, Long)](
      events.filter(col("value") > 0)
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      var (prev, prevAr) = restored.getOrElse((Long.MinValue, Long.MinValue))
      var n = 0L; var nBp = 0L
      var rv = java.math.BigInteger.ZERO
      var bp = java.math.BigInteger.ZERO
      sorted.foreach { e =>
        val x = BigDecimal(math.log(e.value))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
          .*(BigDecimal(1000000000000L)).toLongExact
        if (prev != Long.MinValue) {
          val r = x - prev
          val ar = math.abs(r)
          n += 1L
          val rB = java.math.BigInteger.valueOf(r)
          rv = rv.add(rB.multiply(rB))
          if (prevAr != Long.MinValue) {
            nBp += 1L
            bp = bp.add(java.math.BigInteger.valueOf(ar)
              .multiply(java.math.BigInteger.valueOf(prevAr)))
          }
          prevAr = ar
        }
        prev = x
      }
      (Some((prev, prevAr)).filter(_._1 != Long.MinValue),
        if (n == 0L) Iterator.empty
        else Iterator((user, n,
          new java.math.BigDecimal(rv, 24).toPlainString,
          new java.math.BigDecimal(bp, 24).toPlainString, nBp)))
    }
  }

  /** s63 — streaming trade-sign ACF ledger on [[replayByUser]]:
    * the incremental twin of batch q218. State per instrument is the
    * last price, the carried tick-rule sign, and the last THREE signs
    * (so lag-1/2/3 pairs straddle micro-batch boundaries); every
    * emitted increment is an INTEGER (signs are ±1 longs — counts and
    * moment sums per lag), so increments reduce bit-exactly and the
    * consumer runs batch q218's closed-form ρ on identical operands.
    * Same in-order-per-key delivery caveat as [[replayByUser]].
    */
  def signAcfStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, Seq[Long])] = {
    import spark.implicits._
    replayByUser[SessionEvent, (Double, Long, Seq[Long]),
      (Long, Long, Seq[Long])](
      events.select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .as[SessionEvent]) { (user, sorted, restored) =>
      // state: (last price, carried sign or 0, last <=3 signs)
      var (lastPx, carried, recent) =
        restored.getOrElse((Double.NaN, 0L, Seq.empty[Long]))
      var n = 0L
      // per lag: (n, sx, sy, sxy, sxx, syy) — syy = n and sxx = n on ±1
      // signs, but the GENERAL sums are emitted so the consumer mirrors
      // the batch formula untouched
      val mo = Array.fill(18)(0L)
      sorted.foreach { e =>
        if (!lastPx.isNaN) {
          val d = e.value - lastPx
          if (d != 0.0) carried = if (d > 0.0) 1L else -1L
        }
        lastPx = e.value
        if (carried != 0L) {
          val s = carried
          n += 1L
          for (k <- 1 to 3; if recent.size >= k) {
            val sl = recent(recent.size - k)
            val o = (k - 1) * 6
            mo(o) += 1L; mo(o + 1) += s; mo(o + 2) += sl
            mo(o + 3) += s * sl; mo(o + 4) += s * s; mo(o + 5) += sl * sl
          }
          recent = (recent :+ s).takeRight(3)
        }
      }
      (Some((lastPx, carried, recent)),
        if (n == 0L) Iterator.empty else Iterator((user, n, mo.toSeq)))
    }
  }

  /** s60/s61 — ONE streaming ledger, TWO batch twins: the native
    * update-mode (instrument, day) traded-size census. Sizes are
    * integer sums, so each update-mode emission is the cell's corrected
    * running total (monotone — latest = max) and the converged ledger
    * equals the batch daily-volume frame EXACTLY under any slicing.
    * Batch q209 (portfolio turnover) and q212 (ADV participation) are
    * both pure functions of this frame — the s53 convention taken one
    * step further: one ledger, the batch tails unchanged on top. State
    * is one long per open (instrument, day) cell (watermark to close
    * cells in production).
    */
  def dailyVolStream(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k") > 0L)
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("k")).as("v"))

  /** s68 — the full (instrument, day) OHLC ledger: open/close as
    * lexicographic extremes of the (ts, event_id, value) struct — ties
    * break on event_id, the same total order as the batch closes
    * spine — and high/low as plain extremes. All four components are
    * monotone under accumulation, so the converged ledger (min open
    * struct, max close struct, max h, min l per cell) equals
    * [[graft.queries.Microstructure.dailyOhlc]] exactly under any
    * slicing. Every daily-bar family runs as a shared batch tail on a
    * projection of it: the OHLC volatility family (q220 Garman–Klass
    * via gkFromDailyOhlc, q223 Parkinson via parkFromDailyHl), q219
    * Corwin–Schultz on (h, l) via csSpreadFromDaily, and the closes
    * family (q202 cointegration, q208 lead-lag, q221 OBV, …) on the
    * close struct, which converges to [[graft.queries.Quant.dailyCloses]].
    * State is two structs + two doubles per open cell.
    */
  def dailyOhlcStream(events: DataFrame): DataFrame =
    events
      .filter(col("value") > 0.0)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(min(struct(col("ts"), col("event_id"), col("value"))).as("of"),
        max(struct(col("ts"), col("event_id"), col("value"))).as("cf"),
        max(col("value")).as("h"), min(col("value")).as("l"))
      .select(col("user_id"), col("day"),
        col("of.ts").as("o_ts"), col("of.event_id").as("o_eid"),
        col("of.value").as("o"), col("h"), col("l"),
        col("cf.ts").as("c_ts"), col("cf.event_id").as("c_eid"),
        col("cf.value").as("c"))

  /** s69 — the price-grid digit-census ledger: the ≤10-row
    * (digit, n, n_dollar, n_nickel) count frame is a pure three-sum
    * monoid, so the batch collapse expression runs UNCHANGED as a
    * streaming groupBy (update mode); counts only grow, so the
    * converged ledger = the max emission per digit, and batch q254's
    * census tail ([[graft.queries.Microstructure
    * .clusteringFromDigitCounts]]) serves directly off it. State is
    * three longs per digit — ten cells total, the cheapest ledger in
    * the suite.
    */
  def digitCensusStream(events: DataFrame): DataFrame =
    graft.queries.Microstructure.digitCounts(events)

  /** s58 — streaming Pareto front via flatMapGroupsWithState: the
    * incremental twin of batch q210's skyline. State per source is the
    * CURRENT front — (ttr-micro6, n_tokens, n_types, doc_id) tuples,
    * bounded by the front's own size (≤ distinct token counts), the
    * quintessential bounded-state streaming operator: each arriving
    * document is dropped if dominated, otherwise inserted and the
    * incumbents it dominates are evicted. Skyline membership is
    * ORDER-INDEPENDENT, so any micro-batch slicing converges to the
    * batch front; equal (ttr, tokens) pairs coexist (no strict
    * dominance), matching batch semantics exactly. TTR lattices to
    * 6dp integer micro-units — the same boundary lattice batch q210
    * compares on. Emits the full front each batch (update mode —
    * consumers read the latest emission per source).
    */
  def skylineStream(docs: DataFrame)
      : Dataset[(String, Long, Long, Long, Long)] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("source"), col("doc_id"),
        size(graft.functions.Text.tokens(col("text"))).cast("long")
          .as("n_tokens"),
        size(array_distinct(graft.functions.Text.tokens(col("text"))))
          .cast("long").as("n_types"))
      .filter(col("n_tokens") > 0L)
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Long, Long, Long)],
        (String, Long, Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (source: String, docs: Iterator[(String, Long, Long, Long)],
         state: GroupState[Seq[(Long, Long, Long, Long)]]) =>
          // front entries: (ttr6 micro-units, n_tokens, n_types, doc_id)
          var front = state.getOption.getOrElse(Seq.empty)
          def dominates(a: (Long, Long, Long, Long),
                        b: (Long, Long, Long, Long)): Boolean =
            a._1 >= b._1 && a._2 <= b._2 && (a._1 > b._1 || a._2 < b._2)
          docs.foreach { case (_, docId, nTok, nTyp) =>
            // 12dp-then-6dp, replicating Num.decRound's cast(28,12)
            // → round(6) two-step exactly (direct 6dp rounding can
            // double-round differently on a ...5-at-12dp boundary)
            val ttr6 = BigDecimal(nTyp.toDouble / nTok.toDouble)
              .setScale(12, BigDecimal.RoundingMode.HALF_UP)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .*(BigDecimal(1000000L)).toLongExact
            val cand = (ttr6, nTok, nTyp, docId)
            if (!front.exists(inc => dominates(inc, cand)))
              front = front.filterNot(inc => dominates(cand, inc)) :+ cand
          }
          state.update(front)
          front.iterator.map { case (t6, nTok, nTyp, id) =>
            (source, id, nTok, nTyp, t6)
          }
      }
  }

  case class AttrEvent(user_id: Long, ts: java.sql.Timestamp,
                       event_id: Long, event_type: String, value: Double)
      extends KeyedEvent

  /** s70 — streaming last-touch attribution on [[replayByUser]]:
    * the live twin of batch q289. Unlike the ledger twins (whose
    * converged state is a monoid fold), attribution is ORDER-DEPENDENT
    * — each purchase must see the last non-purchase touch AS OF its
    * own event time, not the stream's converged state — so the state
    * is the per-user (last non-purchase µs, type) pair, batches fold
    * in (ts, event_id) order, and purchases straddling a micro-batch
    * boundary attribute against the carried pair exactly as the batch
    * window would. Revenue cents replicate the batch's double →
    * DECIMAL(28,12) → ×100 → round-0 lattice via BigDecimal on the
    * same shortest-repr conversion. Emits one attributed (channel,
    * cents) row per purchase; the spec folds per-channel sums and
    * they equal batch q289 exactly. Same in-order-per-key delivery
    * caveat as [[replayByUser]].
    */
  def attributionStream(spark: SparkSession, events: DataFrame)
      : Dataset[(Long, Long, String, Long)] = {
    import spark.implicits._
    replayByUser[AttrEvent, (Long, String), (Long, Long, String, Long)](
      events.select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
        .as[AttrEvent]) { (user, sorted, restored) =>
      var lastNp = restored
      val out = Seq.newBuilder[(Long, Long, String, Long)]
      sorted.foreach { e =>
        if (e.event_type == "purchase") {
          val channel = lastNp match {
            case Some((npUs, npType))
                if micros(e.ts) - npUs <= 604800000000L => npType
            case _ => "direct"
          }
          val cents = (BigDecimal(e.value)
            .setScale(12, BigDecimal.RoundingMode.HALF_UP) * 100)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
          out += ((user, e.event_id, channel, cents))
        } else lastNp = Some((micros(e.ts), e.event_type))
      }
      (lastNp, out.result().iterator)
    }
  }
}
