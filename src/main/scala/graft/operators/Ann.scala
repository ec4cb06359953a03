package graft.operators

import graft.functions.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers, mirroring how a 100 TB corpus is actually served:
  *  - [[bruteForceTopK]]: exact cosine top-k with the (small) query set
  *    broadcast against the corpus — one pass over the data, no corpus
  *    shuffle, `TakeOrdered`-style window per query. The correctness
  *    baseline.
  *  - [[lshTopK]]: random-hyperplane LSH (Charikar) with L independent
  *    tables of b bits. Corpus and queries are bucketed row-locally
  *    (zero shuffle to compute buckets), candidates come from an
  *    equi-join on (table, bucket) — linear, skew-bounded — and only
  *    candidates pay the exact cosine rerank.
  */
object Ann {

  /** Deterministic ±1 hyperplanes: seeded so every executor and every
    * run derives the identical family (required for resumable pipelines
    * and for bucketing new data against an existing index).
    */
  private[operators] def hyperplanes(tables: Int, bits: Int, dim: Int,
                          seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, bits, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Spread the STREAMED side of a compute-dense broadcast pair join
    * across the session's full parallelism. The frames this family
    * streams (embedding tables, capped analysis slices) typically
    * arrive as ONE parquet split — far under `maxPartitionBytes` — so
    * the entire O(|stream| × |broadcast|) cosine space would execute
    * in a single task while every other core idles, at ANY scale
    * until the file outgrows the split size. One round-robin exchange
    * of the (small) streamed side buys full-width compute. It fires
    * only when the frame has fewer splits than the session has cores
    * (`defaultParallelism`): a frame with a split per core already
    * keeps every core busy, so a 100-split fact table is never
    * re-shuffled just because `spark.sql.shuffle.partitions` is 200.
    * Row placement does not affect any result downstream (pair joins
    * are aggregated or window-ranked on key columns).
    *
    * Cost note: the partition-count probe pays one physical planning
    * pass (`queryExecution.toRdd`) per call — driver-side only, and the
    * callers apply it to small scan-rooted frames where that is
    * microseconds against the task they unblock. When it fires, the
    * target is max(defaultParallelism, shuffle partitions): under
    * dynamic allocation `defaultParallelism` can be read before
    * executors register (a handful), so the session's shuffle-partition
    * conf is the stable floor for the width it spreads to.
    */
  private[graft] def spreadForCompute(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < cores)
      df.repartition(math.max(cores,
        df.sparkSession.sessionState.conf.numShufflePartitions))
    else df
  }

  /** Exact embedding-cosine near-duplicate pairs: every (a, b) with
    * cosine(a, b) >= threshold, via a broadcast-nested-loop self-join.
    *
    * This is the EXACT tier — O(n²) pairs with an O(d) fused native
    * cosine per pair — intended for verification and for bounded
    * subsets (the broadcast side must fit an executor). The 100 TB
    * path is the same rerank applied to LSH candidates
    * ([[lshTopK]]-style banding with a threshold filter instead of
    * top-k); this operator is what certifies that path's recall on a
    * sample.
    */
  def cosinePairs(vectors: DataFrame, threshold: Double,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    // NOT spread (cf. spreadForCompute): the fused double cosine is
    // cheap per pair and survivors are few — measured at sf0.1, the
    // spread's extra exchange LOST (q43 warm 0.44 s → 1.88 s). Only
    // the decimal-latticed pair spaces (q233 family) win from it.
    val a = vectors.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = vectors.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cos_raw", Vectors.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos_sim"))
  }

  /** IVF (inverted-file) ANN: a coarse quantizer partitions the corpus
    * into `nCentroids` cells; each query probes its `nProbe` nearest
    * cells and pays exact cosine only against those cells' members.
    *
    * Centroids are the (deterministic) first `nCentroids` corpus
    * vectors — the seeding step of k-means — collected once to the
    * driver as model parameters (nCentroids × dim doubles, bounded).
    * Cell assignment is then a row-local native expression
    * ([[graft.functions.NearestCells]]): the corpus learns its cell in
    * the scan projection with ZERO shuffle, and the only exchange is
    * the candidate join on cell id — the classic IVF partition-pruning
    * trade: nProbe/nCentroids of the corpus is scanned per query
    * instead of all of it. (An earlier formulation broadcast-joined
    * centroids and argmax-grouped on (id, vector) — 7 exchanges and a
    * vector-keyed shuffle of the whole corpus.)
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val centroids: Seq[Seq[Double]] = corpus.filter(col(idCol) < nCentroids)
      .select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .collect().toSeq
      .map(_.getSeq[Number](1).map(_.doubleValue()).toSeq)
    require(centroids.nonEmpty, "no centroid rows found")
    def cells(vec: Column, n: Int): Column =
      graft.functions.VectorExpressions.nearestCells(vec, centroids, n)
    val corpusCells = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"),
      element_at(cells(col(vecCol), 1), 1).as("cell"))
    val queryCells = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        explode(cells(col(vecCol), nProbe)).as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    queryCells.join(corpusCells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_raw", Vectors.cosine(col("q_vec"), col("c_vec")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_raw"), 6).as("cos_sim"), col("rnk"))
  }

  /** IVF with int8-quantized corpus storage — the memory-bound lever
    * at 100-TB embedding scale: cell probing prunes WHICH corpus rows
    * are scored (nProbe/nCentroids of the data), and per-vector int8
    * codes shrink WHAT is stored and shipped 4x vs float32. Scoring is
    * ASYMMETRIC distance (Jégou's ADC): the query stays full-precision
    * float and each candidate is reconstructed row-locally from its
    * (min, scale, codes) affine quantization — the q139 scheme — so
    * the only precision loss is the corpus rounding q139 audits
    * (≤ scale/2 per component), never query-side. Same single
    * candidate-join exchange as [[ivfTopK]]; codes and scales ride the
    * scan projection with zero extra shuffle. Recall vs exact float
    * top-k is certified by the q146 contract, exactly like q44
    * certifies the float probe path.
    */
  def ivfQuantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                       nCentroids: Int = 16, nProbe: Int = 4,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val centroids: Seq[Seq[Double]] = corpus.filter(col(idCol) < nCentroids)
      .select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .collect().toSeq
      .map(_.getSeq[Number](1).map(_.doubleValue()).toSeq)
    require(centroids.nonEmpty, "no centroid rows found")
    def cells(vec: Column, n: Int): Column =
      graft.functions.VectorExpressions.nearestCells(vec, centroids, n)
    // int8 affine quantization per vector (the q139 scheme): codes in
    // [0, 255], reconstruction x~ = mn + code·scale. Row-local.
    val v = transform(col(vecCol), x => x.cast("double"))
    val corpusCells = corpus
      .withColumn("mn", array_min(v))
      .withColumn("scale", (array_max(v) - col("mn")) / 255.0)
      .withColumn("codes",
        when(col("scale") === 0.0, transform(v, _ => lit(0)))
          .otherwise(transform(v, x =>
            round((x - col("mn")) / col("scale")).cast("int"))))
      .select(col(idCol).as("neighbor_id"), col("mn"), col("scale"),
        col("codes"), element_at(cells(col(vecCol), 1), 1).as("cell"))
    val queryCells = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        explode(cells(col(vecCol), nProbe)).as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    queryCells.join(corpusCells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // asymmetric scoring: reconstruct the candidate, score against
      // the full-precision query
      .withColumn("c_deq",
        transform(col("codes"), c => col("mn") + c.cast("double") * col("scale")))
      .withColumn("cos_raw", Vectors.cosine(col("q_vec"), col("c_deq")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_raw"), 6).as("cos_sim"), col("rnk"))
  }

  /** LSH-bucketed embedding near-dup pairs — the 100 TB path of
    * [[cosinePairs]]: candidates only where two vectors share a sign
    * bucket in ANY of the `tables` hash tables (linear bucket join),
    * exact cosine rerank, threshold filter. Pair dedup happens AFTER
    * the threshold filter — only survivors (a vanishing fraction of
    * candidates) pay the dropDuplicates shuffle. An earlier version
    * deduped BEFORE the rerank by emitting each pair only from its
    * first agreeing table, but that evaluated a boxed signature
    * comparison on every candidate to save re-ranking the ~6% that
    * appear in a second table — strictly more work than the fused
    * native cosine it avoided.
    *
    * Candidate recall is governed by tables×bits: P(candidate) =
    * 1-(1-(1-θ/π)^bits)^tables for angle θ. [[cosinePairs]] on a
    * sample certifies the configured recall.
    */
  def lshCosinePairs(vectors: DataFrame, threshold: Double,
                     tables: Int = 8, bits: Int = 8, dim: Int = -1,
                     seed: Long = 42L, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     maxBucket: Int = 100000): DataFrame = {
    val d = if (dim > 0) dim
            else vectors.select(size(col(vecCol)).as("d")).first().getInt(0)
    require(d > 0, s"embedding dimension must be positive, got $d")
    val planes = hyperplanes(tables, bits, d, seed)
    val planesSeq: Seq[Seq[Seq[Double]]] = planes.map(_.map(_.toSeq).toSeq).toSeq
    val withSig = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"),
      graft.functions.VectorExpressions.lshSig(col(vecCol), planesSeq).as("sig"))
    // runaway-bucket guard: one bucket of n members costs n²/2 pairs;
    // buckets beyond maxBucket are dropped (documented recall trade —
    // exact-duplicate mass belongs to exact dedup, not LSH)
    val raw = withSig
      .select(col("id"), col("vec"), posexplode(col("sig")))
      .withColumnRenamed("pos", "table_idx")
      .withColumnRenamed("col", "bucket")
    val entries =
      if (maxBucket <= 0) raw
      else {
        // narrow agg → tiny hot set → broadcast anti-join (see
        // Dedup.capBuckets for why not a window count)
        val hot = raw.groupBy(col("table_idx"), col("bucket"))
          .agg(count(lit(1)).as("__bsz")).filter(col("__bsz") > maxBucket)
          .select(col("table_idx"), col("bucket"))
        raw.join(broadcast(hot), Seq("table_idx", "bucket"), "left_anti")
      }
    val a = entries.select(col("table_idx"), col("bucket"),
      col("id").as("id_a"), col("vec").as("vec_a"))
    val b = entries.select(col("table_idx"), col("bucket"),
      col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("table_idx", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_raw", Vectors.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos_sim"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact top-k cosine neighbors for each query vector. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    // NOT spread (cf. spreadForCompute): measured at sf0.1 the spread
    // regressed every caller (q36 0.55 s → 2.59 s, q35 0.41 → 0.89) —
    // the post-join per-query window then needs a pair-space exchange
    // the single-split plan never pays, and the double cosine is too
    // cheap for the parallelism to win it back.
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_raw", Vectors.cosine(col("q_vec"), col("c_vec")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_raw"), 6).as("cos_sim"), col("rnk"))
  }

  /** LSH-bucketed ANN: candidates from any of `tables` b-bit sign
    * buckets, exact cosine rerank, top-k per query.
    *
    * `dim = -1` (default) derives the dimension from the corpus with
    * one LIMIT-1 scan at plan time: a wrong hardcoded dim would make
    * `zip_with` null-pad every dot product, collapsing all vectors into
    * bucket 0 and degenerating the candidate join toward a cross
    * product — so the dimension is validated, never assumed.
    *
    * Bucket ids come from a native Catalyst expression
    * ([[graft.functions.LshSig]]) — one primitive loop per row. The
    * unrolled per-bit `when` formulation shipped a >1 MB task binary,
    * and the HOF rewrite allocated boxed structs per (table, bit,
    * component); both dominated q36's wall time.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              tables: Int = 8, bits: Int = 8, dim: Int = -1,
              seed: Long = 42L, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val d = if (dim > 0) dim
            else corpus.select(size(col(vecCol)).as("d")).first().getInt(0)
    require(d > 0, s"embedding dimension must be positive, got $d")
    val planes = hyperplanes(tables, bits, d, seed)
    val planesSeq: Seq[Seq[Seq[Double]]] = planes.map(_.map(_.toSeq).toSeq).toSeq
    def bucketsCol(vec: Column): Column =
      graft.functions.VectorExpressions.lshSig(vec, planesSeq)
    def withBuckets(df: DataFrame, id: String, vec: String) = df
      .select(col(idCol).as(id), col(vecCol).as(vec),
        posexplode(bucketsCol(col(vecCol))))
      .withColumnRenamed("pos", "table_idx")
      .withColumnRenamed("col", "bucket")
    val qb = withBuckets(queries, "query_id", "q_vec")
    val cb = withBuckets(corpus, "neighbor_id", "c_vec")
      .select(col("table_idx"), col("bucket"), col("neighbor_id"), col("c_vec"))
    val candidates = qb.join(cb, Seq("table_idx", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("q_vec"), col("neighbor_id"), col("c_vec"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    candidates
      .withColumn("cos_raw", Vectors.cosine(col("q_vec"), col("c_vec")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_raw"), 6).as("cos_sim"), col("rnk"))
  }
}
