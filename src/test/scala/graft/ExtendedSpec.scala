package graft

import graft.operators.Ann
import graft.queries.Extended
import org.apache.spark.sql.functions._

/** Specs for the q43–q54 extended operator family. */
class ExtendedSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("hot-key salted join: skewed key spreads over salts, result equals plain join") {
    // 5000 rows on one hot key + a uniform tail; threshold 100 salts
    // ONLY the hot key
    val fact = ((0 until 5000).map(i => (1L, i.toLong)) ++
      (0 until 200).map(i => (2L + i % 50, i.toLong)))
      .toDF("k", "v")
    val dim = (1L to 60L).map(k => (k, s"name_$k")).toDF("dk", "dname")
    val salted = graft.operators.Skew.saltedJoin(fact, dim, "k", "dk",
      saltSource = xxhash64($"v"), salts = 8, hotThreshold = 100)
      .select("k", "v", "dk", "dname")
    val plain = fact.join(dim, $"k" === $"dk").select("k", "v", "dk", "dname")
    assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
    assert(salted.count() == plain.count()) // multiplicity preserved too
  }

  test("cosinePairs finds exactly the planted near-duplicate pair") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(0.99f, 0.14f, 0f), 0), // cos ≈ 0.990 with vec 0
      (2L, Array(0f, 1f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val pairs = Ann.cosinePairs(vecs, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("IVF ANN: an exact duplicate vector is its query's top neighbor") {
    val emb = Tables.embeddings(spark, sf)
    // vec_id 0 duplicated under a fresh id lands in the same cell
    val dup = emb.filter($"vec_id" === 0)
      .withColumn("vec_id", lit(99999L))
    val corpus = emb.unionByName(dup)
    val out = Ann.ivfTopK(emb.filter($"vec_id" === 0), corpus, k = 1,
      nCentroids = 8, nProbe = 2)
    val top = out.filter($"rnk" === 1).select("neighbor_id").as[Long].collect()
    assert(top.toSeq == Seq(99999L))
  }

  test("quantized IVF ANN: duplicate still wins, and measured recall vs exact top-k >= 0.8") {
    val emb = Tables.embeddings(spark, sf)
    // asymmetric scoring must still put an exact duplicate on top —
    // its int8 reconstruction differs from the query by <= scale/2
    // per component, far inside the gap to unrelated vectors
    val dup = emb.filter($"vec_id" === 0)
      .withColumn("vec_id", lit(99999L))
    val corpus = emb.unionByName(dup)
    val top = Ann.ivfQuantizedTopK(emb.filter($"vec_id" === 0), corpus, k = 1,
      nCentroids = 8, nProbe = 2)
      .filter($"rnk" === 1).select("neighbor_id").as[Long].collect()
    assert(top.toSeq == Seq(99999L))
    // measure the recall the q146 contract certifies, don't just trust
    // the flag: quantized top-3 vs exact float top-3 over 10 queries
    val truth = Ann.bruteForceTopK(emb.filter($"vec_id" < 10), emb, k = 3)
      .select($"query_id", $"neighbor_id")
    val found = Ann.ivfQuantizedTopK(emb.filter($"vec_id" < 10), emb, k = 3)
      .select($"query_id", $"neighbor_id")
    val n = truth.count()
    val hits = truth.join(found, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(n > 0 && hits.toDouble / n >= 0.8,
      s"quantized-IVF recall ${hits.toDouble / n} ($hits/$n)")
  }

  test("salted join result equals the plain join") {
    val salted = Extended.q48SaltedJoin(spark, sf)
      .orderBy("o_orderpriority").collect().toSeq
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(salted == plain)
  }

  test("merge upsert: delta wins on collision, base rows survive elsewhere") {
    val out = Extended.q49MergeUpsert(spark, sf)
    val total = Tables.orders(spark, sf).count()
    assert(out.count() == total) // one row per key
    assert(out.filter($"o_orderkey" % 10 === 0 && $"src" =!= "delta").count() == 0)
    assert(out.filter($"o_orderkey" % 10 =!= 0 && $"src" =!= "base").count() == 0)
  }

  // events.ts is stored as raw int64 nanos in the driver's parquet
  // (see Tables.eventsSchema) — test fixtures must match that encoding
  private def nanos(s: String): Long = ts(s).getTime * 1000000L

  test("bucketed range join counts exactly the clicks in the window") {
    val ev = Seq(
      (1L, nanos("2024-01-01 10:00:00"), 7L, "purchase", 1.0, ""),
      (2L, nanos("2024-01-01 09:30:00"), 7L, "click", 1.0, ""),   // in window
      (3L, nanos("2024-01-01 09:00:00"), 7L, "click", 1.0, ""),   // boundary: ts-1h inclusive
      (4L, nanos("2024-01-01 08:59:59"), 7L, "click", 1.0, ""),   // too old
      (5L, nanos("2024-01-01 10:00:00"), 7L, "click", 1.0, ""),   // at purchase ts: excluded
      (6L, nanos("2024-01-01 09:45:00"), 8L, "click", 1.0, "")    // other user
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("rj").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Extended.q47RangeJoin(spark, tmp)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L))
  }

  test("rolling corr emits only full 20-row windows; linear series → 1.0") {
    val rows = (1 to 30).map(i =>
      (i.toLong, (1700000000000L + i * 60000L) * 1000000L, 5L,
        "view", i.toDouble, ""))
    val tmp = java.nio.file.Files.createTempDirectory("rc").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Extended.q51RollingCorr(spark, tmp)
      .as[(Long, Double)].collect().toMap
    assert(out.size == 11) // rows 20..30
    assert(out.values.forall(v => math.abs(v - 1.0) < 1e-9)) // value ∝ time
  }

  test("range-frame window sums peers and the trailing 7 days") {
    val orders = Seq(
      (1L, 5L, "O", 10.0, ts("2024-01-01 00:00:00"), "1-URGENT"),
      (2L, 5L, "O", 20.0, ts("2024-01-05 00:00:00"), "1-URGENT"),
      (3L, 5L, "O", 40.0, ts("2024-01-20 00:00:00"), "1-URGENT"),
      (4L, 5L, "O", 80.0, ts("2024-01-20 00:00:00"), "1-URGENT") // peer ts
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val tmp = java.nio.file.Files.createTempDirectory("rf").toString
    orders.write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val out = Extended.q54RangeFrame(spark, tmp)
      .select("o_orderkey", "trailing_7d").as[(Long, Double)].collect().toMap
    // key 2: includes key 1 (4 days apart); keys 3,4: peers include each other
    assert(out == Map(1L -> 10.0, 2L -> 30.0, 3L -> 120.0, 4L -> 120.0))
  }

  test("pivot and unpivot round-trip to the grouped counts") {
    val long = Extended.q46Unpivot(spark, sf)
      .as[(String, String, Long)].collect().toSet
    val direct = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"o_orderstatus").agg(count(lit(1)))
      .as[(String, String, Long)].collect().toSet
    assert(long == direct)
  }

  test("as-of tolerance drops stale matches but keeps fresh ones") {
    val l = Seq((1L, ts("2024-01-02 00:00:00"), "fresh"),
      (2L, ts("2024-01-10 00:00:00"), "stale")).toDF("k", "ts", "tag")
    val r = Seq((1L, ts("2024-01-01 23:00:00"), 10.0),
      (2L, ts("2024-01-01 00:00:00"), 20.0)).toDF("k", "rts", "v")
    val out = graft.operators.AsOf.join(l, r, "k", "ts", "rts",
      Seq("v" -> "v"), inner = true, toleranceSec = Some(86400L))
      .select("tag", "v").as[(String, Double)].collect().toMap
    assert(out == Map("fresh" -> 10.0)) // 9-day-old ref rejected
  }

  test("stratified sample rates are exact per stratum") {
    val out = Extended.q55StratifiedSample(spark, sf)
      .as[(String, Long, Long)].collect()
    out.foreach { case (lang, total, sampled) =>
      assert(sampled > 0 && sampled < total, s"$lang: $sampled/$total")
    }
  }

  test("tfidf ranks a rare planted term above stop-terms") {
    val docs = (1L to 20L).map(i =>
        (i, if (i == 7) "common words here plus uniqterm" else "common words here plus filler",
          "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("tfidf").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val top = Extended.q57Tfidf(spark, tmp)
      .filter($"doc_id" === 7 && $"rnk" === 1)
      .select("token").as[String].collect()
    assert(top.toSeq == Seq("uniqterm"))
  }

  test("connected components resolve chained pairs into clusters") {
    // chain 1-2-3 plus island 10-11: two clusters labeled by their min
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = graft.operators.Dedup.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("LSH cosine pairs are a subset of exact pairs and find planted dups") {
    val emb = Tables.embeddings(spark, sf)
    val dup = emb.filter($"vec_id" === 3).withColumn("vec_id", lit(88888L))
    val corpus = emb.unionByName(dup)
    val lsh = Ann.lshCosinePairs(corpus, threshold = 0.3)
      .select("id_a", "id_b", "cos_sim")
      .as[(Long, Long, Double)].collect().toSet
    val exact = Ann.cosinePairs(corpus, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh.subsetOf(exact), s"LSH produced non-exact pairs: ${lsh -- exact}")
    assert(lsh.contains((3L, 88888L, 1.0)), "planted duplicate missed")
  }

  test("scd2 applyDelta: untouched keys pass through, touched keys re-split") {
    val dim = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10.0, 100L, Some(ts("2024-01-05 00:00:00"))),
      (1L, ts("2024-01-05 00:00:00"), 11.0, 101L, None),
      (2L, ts("2024-01-02 00:00:00"), 20.0, 102L, None)
    ).toDF("k", "ts", "v", "rid", "valid_to")
    // late-arriving record splits key 1's first interval; key 2 untouched
    val delta = Seq((1L, ts("2024-01-03 00:00:00"), 10.5, 200L))
      .toDF("k", "ts", "v", "rid")
    val out = graft.operators.Scd2.applyDelta(dim, delta,
      keys = Seq("k"), ts = "ts", rid = "rid")
      .select("k", "ts", "valid_to").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1),
        Option(r.getTimestamp(2)))).toSet
    assert(out == Set(
      (1L, ts("2024-01-01 00:00:00"), Some(ts("2024-01-03 00:00:00"))),
      (1L, ts("2024-01-03 00:00:00"), Some(ts("2024-01-05 00:00:00"))),
      (1L, ts("2024-01-05 00:00:00"), None),
      (2L, ts("2024-01-02 00:00:00"), None)))
  }

  test("corpus compaction keeps exactly one doc per near-dup cluster") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (10L, "d"), (11L, "e"),
      (42L, "f")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val kept = graft.operators.Dedup.dedupCorpus(docs, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 42L)) // canonical per cluster + untouched doc
  }

  test("multimodal features feed ANN directly (decode → embed → search)") {
    val docs = Tables.documents(spark, sf).limit(50)
    val feats = graft.operators.Multimodal.decodeFeatures(spark, docs)
      .select($"doc_id", $"features")
    val out = graft.operators.Ann.bruteForceTopK(
      feats.filter($"doc_id" === 0), feats, k = 3,
      idCol = "doc_id", vecCol = "features")
    assert(out.count() == 3)
    assert(out.filter($"rnk" === 1).select("cos_sim").as[Double].collect()(0) <= 1.0)
  }

  test("sketch union certification: every group's flag is true and exact counts match") {
    // q52 now EMITS the certification (exact count + within-5% flag);
    // this pins that the flag actually holds per group, i.e. the union
    // of the two half-sketches estimates the full cardinality
    val out = Extended.q52SketchUnion(spark, sf)
      .as[(String, Long, Boolean)].collect()
    val exact = Tables.events(spark, sf)
      .groupBy($"event_type").agg(countDistinct($"user_id"))
      .as[(String, Long)].collect().toMap
    assert(out.map(_._1).toSet == exact.keySet)
    out.foreach { case (k, n, ok) =>
      assert(n == exact(k) && ok, s"$k: exact=$n flag=$ok")
    }
  }

  test("bloom filter: no false negatives, and the pruned join equals the plain join exactly") {
    import graft.functions.SizedBloomFilter
    // the fixed-width tier (q273/q285): no false negatives — every
    // inserted key passes the column-native membership test (the
    // property the prefilter's exactness rests on)
    val bits = SizedBloomFilter.MinBits
    assert(bits == (1L << 20))
    val keys = (1L to 5000L).toDF("k")
    val bloom = keys.agg(SizedBloomFilter.build(bits, xxhash64($"k")).as("bf"))
    val misses = keys.crossJoin(broadcast(bloom))
      .filter(!SizedBloomFilter.mightContain(bits, $"bf", xxhash64($"k")))
      .count()
    assert(misses == 0, s"$misses inserted keys failed the membership test")
    // false-positive rate stays sane at this fill (5k keys in 2^20 bits)
    val absent = (1000001L to 1010000L).toDF("k")
    val fp = absent.crossJoin(broadcast(bloom))
      .filter(SizedBloomFilter.mightContain(bits, $"bf", xxhash64($"k")))
      .count()
    assert(fp < 100, s"false-positive rate implausibly high: $fp/10000")
    // the production query: bloom-pruned plan ≡ the same join unpruned
    val on = Extended.bloomPruneJoin(spark, sf, useBloom = true)
    val off = Extended.bloomPruneJoin(spark, sf, useBloom = false)
    assert(on.exceptAll(off).isEmpty && off.exceptAll(on).isEmpty)
    assert(on.count() > 0)
  }

  test("SizedBloomFilter: zero false negatives at every width, sizing policy bounded") {
    import graft.functions.SizedBloomFilter
    // no-false-negatives is the property the wedge prefilter's
    // exactness rests on — check it at the floor width and a sized one
    for (bits <- Seq(1L << 20, 1L << 22)) {
      val keys = (1L to 4000L).toDF("k")
      val bloom = keys.agg(SizedBloomFilter.build(bits, xxhash64($"k")).as("bf"))
      val misses = keys.crossJoin(broadcast(bloom))
        .filter(!SizedBloomFilter.mightContain(bits, $"bf", xxhash64($"k")))
        .count()
      assert(misses == 0, s"width $bits: $misses inserted keys failed")
      val fp = (9000001L to 9010000L).toDF("k").crossJoin(broadcast(bloom))
        .filter(SizedBloomFilter.mightContain(bits, $"bf", xxhash64($"k")))
        .count()
      assert(fp < 200, s"width $bits: false-positive rate implausible: $fp/10000")
    }
    // sizing: ~16 bits/key, power of two, floored at 2^20, capped at 2^28
    assert(SizedBloomFilter.bitsFor(1L) == (1L << 20))
    assert(SizedBloomFilter.bitsFor(1200000L) == (1L << 25))
    assert(SizedBloomFilter.bitsFor(1L << 40) == (1L << 28))
  }
}
