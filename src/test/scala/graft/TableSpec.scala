package graft

import graft.sources.VersionedTable

/** The transactional table contract every versioned-snapshot sink now
  * publishes through: MERGE-INTO semantics, as-known-at reads,
  * replay/out-of-order idempotence, retention-bounded time travel.
  */
class TableSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_vtab").toString

  test("merge upserts by key: update, insert, carry-over, and schema stability") {
    val t = new VersionedTable(spark, tmp(), keepVersions = 4)
    assert(t.current.isEmpty && t.currentVersion.isEmpty)
    assert(t.merge(0L, Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("id", "tag", "px"), Seq("id")))
    // batch 1: id=2 updated, id=3 inserted, id=1 carried over
    assert(t.merge(1L, Seq((2L, "B", 21.0), (3L, "c", 30.0))
      .toDF("id", "tag", "px"), Seq("id")))
    val got = t.current.get.as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "a", 10.0), (2L, "B", 21.0), (3L, "c", 30.0)))
    assert(t.current.get.columns.toSeq == Seq("id", "tag", "px"))
  }

  test("as-known-at reads serve every retained version; depth is keepVersions") {
    val dir = tmp()
    val t = new VersionedTable(spark, dir, keepVersions = 3)
    (0L to 4L).foreach { b =>
      t.merge(b, Seq((b, s"v$b")).toDF("id", "tag"), Seq("id"))
    }
    assert(t.currentVersion.contains(4L))
    assert(t.versions == Seq(2L, 3L, 4L), t.versions.toString)
    // as-known-at batch 3 = the state AFTER commit 3: ids 0..3
    val at3 = t.snapshotAt(3L).get.select($"id").as[Long].collect().toSet
    assert(at3 == Set(0L, 1L, 2L, 3L))
    // knowledge older than retention is gone, loudly absent not wrong
    assert(t.snapshotAt(1L).isEmpty)
    // a batch id between commits resolves to the newest not-after it
    assert(t.snapshotAt(100L).get.count() == 5)
  }

  test("commit is a no-op for replayed AND out-of-order batch ids") {
    val t = new VersionedTable(spark, tmp(), keepVersions = 4)
    assert(t.merge(5L, Seq((1L, 1.0)).toDF("id", "v"), Seq("id")))
    // replay of the live batch: untouched
    assert(!t.merge(5L, Seq((1L, 99.0)).toDF("id", "v"), Seq("id")))
    // out-of-order replay of an OLDER batch: also untouched (the
    // same-id-only check would have re-published stale state here)
    assert(!t.merge(3L, Seq((1L, -1.0)).toDF("id", "v"), Seq("id")))
    assert(t.current.get.as[(Long, Double)].collect().toSet ==
      Set((1L, 1.0)))
    assert(t.currentVersion.contains(5L))
  }

  test("delete publishes the survivor set as a new version; history keeps the victims") {
    val t = new VersionedTable(spark, tmp(), keepVersions = 4)
    t.merge(0L, Seq((1L, "keep"), (2L, "drop"), (3L, "keep"))
      .toDF("id", "tag"), Seq("id"))
    assert(t.delete(1L, $"tag" === "drop"))
    assert(t.current.get.select($"id").as[Long].collect().toSet ==
      Set(1L, 3L))
    // time travel still sees the pre-delete state
    assert(t.snapshotAt(0L).get.count() == 3)
  }

  test("a crash-shaped stale version dir above the pointer is never served") {
    val dir = tmp()
    val t = new VersionedTable(spark, dir, keepVersions = 4)
    t.merge(0L, Seq((1L, 1.0)).toDF("id", "v"), Seq("id"))
    // simulate a publisher that died after writing v7 but BEFORE the
    // pointer swap: the dir exists, the pointer still names v0
    Seq((9L, 9.0)).toDF("id", "v").write.parquet(s"$dir/v7")
    assert(t.currentVersion.contains(0L))
    assert(t.snapshotAt(7L).get.as[(Long, Double)].collect().toSet ==
      Set((1L, 1.0)), "snapshotAt must not serve an uncommitted dir")
  }

  test("retention quota ignores crash-leftover dirs above the live pointer") {
    val dir = tmp()
    val t = new VersionedTable(spark, dir, keepVersions = 2)
    t.merge(0L, Seq((1L, 1.0)).toDF("id", "v"), Seq("id"))
    t.merge(1L, Seq((2L, 2.0)).toDF("id", "v"), Seq("id"))
    // a publisher died after writing v9 but before its swap — the dir
    // exists, no reader ever saw it. If it counted toward the quota,
    // committing v2 would prune v1: the live predecessor a concurrent
    // reader may still be scanning.
    Seq((9L, 9.0)).toDF("id", "v").write.parquet(s"$dir/v9")
    t.merge(2L, Seq((3L, 3.0)).toDF("id", "v"), Seq("id"))
    assert(t.versions == Seq(1L, 2L),
      s"retained ${t.versions}: predecessor v1 must survive, orphan v9 " +
        "must be swept")
    assert(t.snapshotAt(1L).get.select($"id").as[Long].collect().toSet ==
      Set(1L, 2L))
  }

  test("current after commit reads with the written schema: no Spark job, the inferred schema, and reopened reads still work") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions._
    val dir = tmp()
    val t = new VersionedTable(spark, dir, keepVersions = 3)
    // non-nullable primitives and nested types: the read schema must be
    // the all-nullable one the parquet reader infers
    val v0 = Seq((1L, "a", Seq(1.0, 2.0), Map("k" -> 1)), (2L, "b", Nil, Map.empty[String, Int]))
      .toDF("id", "tag", "xs", "m")
      .withColumn("s", struct($"id".as("i"), $"xs".as("ys")))
    assert(t.merge(0L, v0, Seq("id")))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val cur = try t.current.get finally {
      org.apache.spark.sql.GraftListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 0, s"current started ${jobs.get} job(s)")
    val inferred = spark.read.parquet(s"$dir/v0").schema
    assert(cur.schema == inferred, s"${cur.schema} vs $inferred")
    val rows = cur.collect().toSet
    assert(rows.map(_.getLong(0)) == Set(1L, 2L))
    // a second version merges over the schema-carrying read
    assert(t.merge(1L, v0.filter($"id" === 2L).withColumn("tag", lit("B")), Seq("id")))
    assert(t.current.get.select($"id", $"tag").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B")))
    assert(t.snapshotAt(0L).get.collect().toSet == rows)
    // a reopened table knows no schema and infers it; its reads agree
    val reopened = new VersionedTable(spark, dir, keepVersions = 3)
    assert(reopened.snapshotAt(0L).get.collect().toSet == rows)
    assert(reopened.current.get.schema == t.current.get.schema)
    assert(reopened.current.get.collect().toSet == t.current.get.collect().toSet)
  }

  test("merge rejects keys missing from the delta") {
    val t = new VersionedTable(spark, tmp())
    val e = intercept[IllegalArgumentException] {
      t.merge(0L, Seq((1L, 1.0)).toDF("id", "v"), Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
  }
}
