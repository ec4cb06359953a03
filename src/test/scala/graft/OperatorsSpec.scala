package graft

import graft.functions.{SimHash, Text, Vectors}
import graft.operators.{Ann, AsOf, Dedup, Multimodal}
import org.apache.spark.sql.functions._

/** Unit tests on hand-built frames with exactly known answers. */
class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("as-of join picks the latest reference at-or-before, per key") {
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:00"), "t1"),
      (1L, ts("2024-01-01 12:00:00"), "t2"),
      (2L, ts("2024-01-01 09:00:00"), "t3")
    ).toDF("k", "ts", "trade")
    val quotes = Seq(
      (1L, ts("2024-01-01 09:30:00"), 100.0),
      (1L, ts("2024-01-01 11:00:00"), 101.0),
      (1L, ts("2024-01-01 12:00:00"), 102.0), // equal ts: matches (>= conv.)
      (2L, ts("2024-01-01 10:00:00"), 200.0)  // after t3: no match
    ).toDF("k", "qts", "price")
    val out = AsOf.join(trades, quotes, "k", "ts", "qts",
      Seq("price" -> "price"), inner = true)
      .select("trade", "price").as[(String, Double)].collect().toMap
    assert(out == Map("t1" -> 100.0, "t2" -> 102.0))
  }

  test("as-of resolves same-instant reference duplicates to the max value, both directions") {
    // "x" sits on the tied instant; "y" reaches it across a gap going
    // forward and an older single ref going backward
    val l = Seq((1L, ts("2024-01-01 10:00:00"), "x"),
      (1L, ts("2024-01-01 09:00:00"), "y")).toDF("k", "ts", "tag")
    val r = Seq(
      (1L, ts("2024-01-01 10:00:00"), 5.0),
      (1L, ts("2024-01-01 10:00:00"), 9.0), // same instant: greatest struct wins
      (1L, ts("2024-01-01 10:00:00"), 7.0),
      (1L, ts("2024-01-01 08:00:00"), 3.0)
    ).toDF("k", "rts", "v")
    for ((dir, expected) <- Seq("backward" -> Map("x" -> 9.0, "y" -> 3.0),
        "forward" -> Map("x" -> 9.0, "y" -> 9.0))) {
      val out = AsOf.join(l, r, "k", "ts", "rts", Seq("v" -> "v"),
        inner = true, direction = dir).select("tag", "v").as[(String, Double)]
        .collect().toMap
      assert(out == expected, s"direction=$dir got $out")
    }
  }

  test("as-of outer join keeps unmatched left rows") {
    val l = Seq((1L, ts("2024-01-01 08:00:00"), "x")).toDF("k", "ts", "tag")
    val r = Seq((1L, ts("2024-01-01 09:00:00"), 1.0)).toDF("k", "rts", "v")
    val out = AsOf.join(l, r, "k", "ts", "rts", Seq("v" -> "v"), inner = false)
    assert(out.count() == 1 && out.collect()(0).isNullAt(out.columns.indexOf("v")))
  }

  test("exact dedup groups identical texts") {
    val docs = Seq((1L, "aa bb"), (2L, "aa bb"), (3L, "cc")).toDF("doc_id", "text")
    val out = Dedup.exact(docs).orderBy("canonical_id")
      .select("canonical_id", "n_copies").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash finds a planted near-duplicate") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minHashPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash of identical docs has hamming 0; disjoint docs don't pair at 0") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zz yy xx ww qq pp")).toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(docs, maxHamming = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("ngram jaccard is exact on a known overlap") {
    // doc1: bigrams {a b, b c, c d}; doc2: {a b, b c, c x} → J = 2/4 = 0.5
    val docs = Seq((1L, "a b c d"), (2L, "a b c x")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(docs, threshold = 0.1)
      .select("jaccard").as[Double].collect()
    assert(out.toSeq == Seq(0.5))
  }

  test("brute-force ANN ranks the exact nearest first") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(0.9f, 0.1f, 0f), 0),
      (2L, Array(0f, 1f, 0f), 0),
      (3L, Array(-1f, 0f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Ann.bruteForceTopK(vecs.filter($"vec_id" === 0), vecs, k = 3)
      .orderBy("rnk").select("neighbor_id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L, 3L))
  }

  test("LSH ANN returns a subset of brute-force candidates with valid ranks") {
    val emb = Tables.embeddings(spark, sf)
    val out = Ann.lshTopK(emb.filter($"vec_id" < 5), emb, k = 3, dim = 64)
    assert(out.count() > 0)
    assert(out.filter($"rnk" > 3).count() == 0)
    assert(out.filter($"query_id" === $"neighbor_id").count() == 0)
  }

  test("language id picks the marked language") {
    val docs = Seq(
      (1L, "the cat is on the mat and the dog is in the house"),
      (2L, "der Hund ist nicht mit der Katze und das ist gut"),
      (3L, "xyzzy plugh")
    ).toDF("doc_id", "text")
    val out = docs.select($"doc_id", Text.langId(Text.tokens($"text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("winnowing fingerprints are deterministic and shift-robust") {
    val a = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val f1 = a.select(Text.winnowFingerprints($"text", 8, 4)).as[Seq[Long]].collect()(0)
    val f2 = a.select(Text.winnowFingerprints($"text", 8, 4)).as[Seq[Long]].collect()(0)
    assert(f1 == f2 && f1.nonEmpty)
  }

  test("simhash expression: identical token arrays give identical hashes") {
    val df = Seq(Tuple1(Seq("a", "b", "c")), Tuple1(Seq("a", "b", "c")))
      .toDF("toks").select(SimHash.simhash64($"toks").as("h"))
    val hs = df.as[Long].collect()
    assert(hs(0) == hs(1))
  }

  test("vector cosine matches hand computation") {
    val df = Seq((Array(3f, 4f), Array(4f, 3f))).toDF("a", "b")
    val c = df.select(Vectors.cosine($"a", $"b")).as[Double].collect()(0)
    assert(math.abs(c - 24.0 / 25.0) < 1e-12)
  }

  test("multimodal decode: one feature row per doc, deterministic stub") {
    val docs = Tables.documents(spark, sf)
    val feats = Multimodal.decodeFeatures(spark, docs)
    assert(feats.count() == docs.count())
    val f = feats.filter($"doc_id" === 0).collect()(0)
    assert(f.n_bytes > 0 && f.magic.length == 8 && f.features.length == 8)
    val f2 = Multimodal.decodeFeatures(spark, docs).filter($"doc_id" === 0).collect()(0)
    assert(f.width == f2.width && f.features.toSeq == f2.features.toSeq)
  }

  test("payload resize keeps every stride-th byte") {
    val docs = Seq((1L, "abcdefghij")).toDF("doc_id", "text")
    val out = Multimodal.resizePayload(docs, stride = 3)
      .select("resized").collect()(0).getAs[Array[Byte]](0)
    assert(new String(out, "UTF-8") == "adgj")
  }

  test("minhash estimate tracks true jaccard on random docs") {
    val rnd = new scala.util.Random(7)
    // mutations of one base document → a spread of true jaccards
    val base = (0 until 40).map(i => s"w$i")
    val docs = (0L until 20L).map { id =>
      val mutated = base.map(w =>
        if (rnd.nextInt(10) < id / 2) s"m${rnd.nextInt(1000)}" else w)
      (id, mutated.mkString(" "))
    }
    def shingles(t: String) = {
      val toks = t.split(" ").toSeq
      if (toks.length <= 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val est = Dedup.minHashPairs(docs.toDF("doc_id", "text"),
      k = 128, bands = 32, threshold = 0.0)
      .select("doc_a", "doc_b", "est_jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every banded pair's estimate is within 0.25 of the true jaccard
    // (k=128 → stderr ≈ sqrt(j(1-j)/128) ≈ 0.045; 0.25 ≈ 5σ)
    est.foreach { case ((a, b), e) =>
      val sa = shingles(docs(a.toInt)._2); val sb = shingles(docs(b.toInt)._2)
      val truth = (sa & sb).size.toDouble / (sa | sb).size
      assert(math.abs(e - truth) < 0.25, s"($a,$b): est $e vs true $truth")
    }
    assert(est.nonEmpty)
  }

  test("frame sampling keeps every stride-th chunk") {
    val docs = Seq((1L, "x" * 100)).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(docs, chunkBytes = 32, stride = 2)
    // 100 bytes → chunks 0..3 → kept 0, 2
    assert(frames.select("frame_idx").as[Long].collect().sorted.toSeq == Seq(0L, 2L))
  }

  test("q139 int8 quantization error is bounded by half a quantization step") {
    val got = SparkEntry.queries("q139_embedding_quantize")(spark, sf)
      .as[(Int, Long, Double, Double)].collect()
    assert(got.length == 10 && got.map(_._2).sum == 500)
    // synthetic embeddings are in [-1, 1]-ish; a 255-step grid over the
    // per-vector range keeps the worst error under scale/2 = range/510
    got.foreach { case (label, _, mae, worst) =>
      assert(mae > 0 && worst > 0 && mae <= worst, s"label $label: $mae/$worst")
      assert(worst < 0.01, s"label $label worst err $worst not int8-tight")
    }
  }

  test("q140 mixture sampling hits each source's deterministic target rate") {
    val got = SparkEntry.queries("q140_dataset_mixture")(spark, sf)
      .as[(String, Int, Long, Long, Long)].collect()
    assert(got.length == 20)
    got.foreach { case (source, pct, nDocs, nSampled, tok) =>
      val num = "([0-9]+)".r.findFirstIn(source).get.toInt
      assert(pct == (1 + num % 4) * 20, s"$source pct $pct")
      // doc_ids are dense, so the realized rate equals the target
      // within the granularity of one 100-bucket cycle over 25 docs
      val rate = nSampled.toDouble / nDocs
      assert(math.abs(rate - pct / 100.0) <= 0.2, s"$source rate $rate vs $pct%")
      assert((nSampled == 0) == (tok == 0L))
    }
  }

  test("TopKAgg equals the row_number window plan on the q78 task") {
    import org.apache.spark.sql.functions._
    val cnt = Tables.lineitem(spark, sf)
      .groupBy($"l_partkey").agg(count(lit(1)).as("n_lines"))
    val joined = cnt.join(
      broadcast(Tables.part(spark, sf).select($"p_partkey", $"p_brand")),
      $"l_partkey" === $"p_partkey")
    val agg = joined.groupBy($"p_brand")
      .agg(graft.functions.TopK.topK($"n_lines", $"p_partkey", 3).as("top"))
      .select($"p_brand", posexplode($"top"))
      .select($"p_brand", ($"pos" + 1).as("rnk"),
        $"col._2".as("p_partkey"), $"col._1".cast("long").as("n_lines"))
      .select($"p_brand", $"p_partkey", $"n_lines", $"rnk".cast("int"))
    val window = SparkEntry.queries("q78_topn_per_group")(spark, sf)
    assert(agg.count() > 0)
    assert(agg.exceptAll(window).isEmpty && window.exceptAll(agg).isEmpty)
  }

  test("TopKAgg merge respects the (metric desc, id asc) contract under any split") {
    // property: fold order and partition splits never change the result
    val agg = new graft.functions.TopKAgg(3)
    val rows = Seq((5.0, 7L), (5.0, 2L), (9.0, 9L), (1.0, 1L), (5.0, 3L),
      (9.0, 4L), (0.5, 0L))
    val expected = Seq((9.0, 4L), (9.0, 9L), (5.0, 2L))
    for (cut <- 0 to rows.size) {
      val (l, r) = rows.splitAt(cut)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(agg.finish(merged) == expected, s"split at $cut")
    }
  }

  test("Misra-Gries summary: exact under k, heavy hitters guaranteed, undercount bounded") {
    // Spark's built-in approx_top_k (a DataSketches frequent-items
    // sketch) holds the Misra–Gries guarantee graft relies on; it counts
    // NULL as an item, so NULLs are filtered first, as SQL aggregates do
    def summary(items: Seq[String], parts: Int): Seq[(String, Long)] =
      items.toDF("item").repartition(parts).filter($"item".isNotNull)
        .agg(call_function("approx_top_k", $"item", lit(5)).as("s"))
        .select(explode($"s").as("e")).select($"e.item", $"e.count")
        .as[(String, Long)].collect().toSeq
    // (a) <= k distinct items: the summary is EXACT, count-desc
    val small = Seq("a", "b", "a", "c", "a", "b")
    val exact = Seq("a" -> 3L, "b" -> 2L, "c" -> 1L)
    assert(summary(small, 3) == exact)
    // interleaved NULLs leave the summary untouched
    val withNulls = Seq("a", null, "b", "a", null, "c", "a", "b", null)
    assert(summary(withNulls, 3) == exact)

    // (b) skewed stream over 40 distinct items, deterministic shuffle
    val heavy = Seq.fill(300)("HOT") ++ Seq.fill(120)("WARM") ++
      (1 to 38).flatMap(i => Seq.fill(8)(s"cold$i"))
    val stream = new scala.util.Random(7).shuffle(heavy)
    val n = stream.size
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // partial sketches merged across repartitionings — the
    // map-side-combine path the shuffle actually exercises
    for (parts <- Seq(1, 3, 7, 32)) {
      val got = summary(stream, parts).toMap
      assert(got.size <= 5)
      // every item with true freq > n/(k+1) MUST be present
      truth.filter(_._2 > n / 6).keys.foreach { hh =>
        assert(got.contains(hh), s"$parts partitions lost heavy hitter $hh")
      }
      // every reported count undercounts truth by at most n/(k+1),
      // and never overcounts
      got.foreach { case (i, c) =>
        assert(c <= truth(i), s"$parts partitions overcounted $i")
        assert(truth(i) - c <= n / 6, s"$parts partitions bound broken for $i")
      }
    }
  }

  test("GramAgg moment buffers merge identically across any partition split") {
    // the map-side-combine contract: fold order and split points must
    // never change the reduced moments (addition per slot is the only
    // merge op, so equality is exact up to FP associativity — asserted
    // at 1e-12 relative, far tighter than the 6dp query round)
    val agg = new graft.functions.GramAgg
    val rnd = new scala.util.Random(23)
    val rows = Seq.fill(40)(Array.fill(16)(rnd.nextGaussian()))
    val whole = rows.foldLeft(agg.zero)(agg.reduce)
    for (cut <- Seq(1, 13, 20, 39)) {
      val (l, r) = rows.splitAt(cut)
      // fresh folds each time: reduce mutates its buffer
      val merged = agg.merge(
        l.foldLeft(agg.zero)((b, x) => agg.reduce(b.clone(), x)),
        r.foldLeft(agg.zero)((b, x) => agg.reduce(b.clone(), x)))
      assert(merged.length == whole.length)
      whole.indices.foreach { i =>
        val d = math.abs(merged(i) - whole(i))
        assert(d <= 1e-12 * math.max(1.0, math.abs(whole(i))),
          s"slot $i diverged at split $cut")
      }
    }
    // ragged widths are a loud data error, not a silent wrong matrix
    val e = intercept[IllegalArgumentException] {
      agg.reduce(agg.reduce(agg.zero, Array(1.0, 2.0)), Array(1.0))
    }
    assert(e.getMessage.contains("ragged"))
  }

  test("kCorePeel peels a known graph and replicates after the fixpoint") {
    import spark.implicits._
    // K4 on {1,2,3,4} + pendant chain 4-5, 5-6: k=2 kills 6 (deg 1)
    // in round 1, then 5 (deg 1 after losing 6) in round 2, leaving
    // K4 (4 nodes, 6 edges) as the stable 2-core from round 2 on
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = graft.operators.Graph.kCorePeel(edges, k = 2, rounds = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.length == 5)
    assert(r(0) == ((1L, 5L, 7L)), s"round1 ${r(0)}") // 6 gone
    assert(r(1) == ((2L, 4L, 6L)), s"round2 ${r(1)}") // 5 gone -> K4
    assert(r.drop(1).forall(x => (x._2, x._3) == ((4L, 6L))))
  }

  test("spreadForCompute widens single-split frames and leaves wide ones alone") {
    import spark.implicits._
    val target = spark.sparkContext.defaultParallelism
    // a coalesced (1-partition) frame — the single-parquet-split shape —
    // must come back at full parallelism with the SAME rows
    val narrow = (1 to 100).toDF("x").coalesce(1)
    val spreadN = graft.operators.Ann.spreadForCompute(narrow)
    assert(spreadN.rdd.getNumPartitions == target,
      s"expected $target partitions, got ${spreadN.rdd.getNumPartitions}")
    assert(spreadN.collect().map(_.getInt(0)).sorted.toSeq == (1 to 100))
    // an already-wide frame must pass through WITHOUT a new exchange
    val wide = (1 to 100).toDF("x").repartition(target + 3)
    val spreadW = graft.operators.Ann.spreadForCompute(wide)
    assert(spreadW.rdd.getNumPartitions == target + 3)
    assert(spreadW.queryExecution.logical eq wide.queryExecution.logical,
      "wide input must be returned unchanged (no extra repartition node)")
  }

  test("spreadForCompute keys on the core count, not spark.sql.shuffle.partitions") {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "200")
    try {
      // a split per core keeps every core busy: no exchange, even though
      // the frame is far under the 200 shuffle partitions
      val perCore = (1 to 100).toDF("x").repartition(cores)
      val kept = graft.operators.Ann.spreadForCompute(perCore)
      assert(kept.queryExecution.logical eq perCore.queryExecution.logical,
        "a frame with one split per core must not be re-shuffled")
      assert(kept.rdd.getNumPartitions == cores)
      // a single split still spreads, to the same max(cores, 200) width
      val narrow = (1 to 100).toDF("x").coalesce(1)
      val spread = graft.operators.Ann.spreadForCompute(narrow)
      assert(!(spread.queryExecution.logical eq narrow.queryExecution.logical))
      assert(spread.rdd.getNumPartitions == math.max(cores, 200))
      assert(spread.collect().map(_.getInt(0)).sorted.toSeq == (1 to 100))
    } finally spark.conf.set(key, saved)
  }

  test("triangleStats counts a known graph exactly") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles) + pendant 4-5 (0 triangles).
    // wedges: deg = (3,3,3,4,1) -> 3+3+3+6+0 = 15; cc = 12/15 = 0.8
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = graft.operators.Graph.triangleStats(edges).collect()(0)
    assert(r.getLong(0) == 5L && r.getLong(1) == 7L) // nodes, edges
    assert(r.getLong(2) == 15L, s"wedges ${r.getLong(2)}")
    assert(r.getLong(3) == 4L, s"triangles ${r.getLong(3)}")
    assert(r.getDouble(4) == 0.8)
  }
}
