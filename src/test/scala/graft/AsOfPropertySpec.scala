package graft

import graft.operators.AsOf
import org.apache.spark.sql.functions._

/** Differential test: AsOf.join vs an in-memory brute-force reference
  * over seeded random datasets — covers key/timestamp collisions between
  * sides, NULL right values, tolerance bounds, inner/outer, in
  * combinations a hand-written example suite won't reach.
  *
  * (key, rts) pairs are unique on the right so the expected match is
  * well-defined; left rows collide freely with right timestamps to
  * exercise the >= (ref-at-t matches query-at-t) convention.
  */
class AsOfPropertySpec extends SparkTestBase {
  import spark.implicits._

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  private def runCase(seed: Int, inner: Boolean, tol: Option[Long],
                      direction: String = "backward"): Unit = {
    val rnd = new scala.util.Random(seed)
    val nKeys = 1 + rnd.nextInt(4)
    val left = (0 until 30).map { i =>
      (rnd.nextInt(nKeys).toLong, ts(rnd.nextInt(1000).toLong), i.toLong)
    }
    val rightPairs = rnd.shuffle((0 until 1000).toList).take(25)
    val right = rightPairs.map { t =>
      (rnd.nextInt(nKeys).toLong, ts(t.toLong),
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(100).toDouble))
    }.distinct // unique (key, rts, v); (key, rts) dups removed below
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq

    val lDf = left.toDF("k", "ts", "row_id")
    val rDf = right.toDF("k", "rts", "v")

    val got = AsOf.join(lDf, rDf, "k", "ts", "rts",
      Seq("v" -> "v"), inner = inner, toleranceSec = tol,
      direction = direction)
      .select($"row_id", $"v").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap

    // brute force: backward = latest right row with rts <= ts; forward =
    // earliest with rts >= ts — same key, within tol, either way
    val backward = direction == "backward"
    val expected = left.map { case (k, lts, id) =>
      val matches = right.filter { case (rk, rts, _) =>
        rk == k &&
          (if (backward) !rts.after(lts) else !rts.before(lts)) &&
          tol.forall { t =>
            val gapMs = if (backward) lts.getTime - rts.getTime
                        else rts.getTime - lts.getTime
            gapMs / 1000 <= t
          }
      }
      val best = if (matches.isEmpty) None
        else Some(if (backward) matches.maxBy(_._2.getTime)
                  else matches.minBy(_._2.getTime))
      (id, best)
    }.filter { case (_, best) => !inner || best.isDefined }
      .map { case (id, best) => id -> best.flatMap(_._3) }
      .toMap

    assert(got == expected,
      s"$direction seed=$seed inner=$inner tol=$tol:\n got=$got\n exp=$expected")
  }

  test("as-of join matches brute force over 60 random cases") {
    for (seed <- 0 until 20) {
      runCase(seed, inner = true, tol = None)
      runCase(seed + 1000, inner = false, tol = None)
      runCase(seed + 2000, inner = true, tol = Some(50L))
    }
  }

  test("forward as-of join matches brute force over 60 random cases") {
    for (seed <- 0 until 20) {
      runCase(seed, inner = true, tol = None, direction = "forward")
      runCase(seed + 1000, inner = false, tol = None, direction = "forward")
      runCase(seed + 2000, inner = true, tol = Some(50L), direction = "forward")
    }
  }

  test("broadcastJoin matches brute force over 20 random global-dim cases") {
    for (seed <- 0 until 10; inner <- Seq(true, false)) {
      val rnd = new scala.util.Random(seed + 5000)
      val left = (0 until 30).map { i =>
        (ts(rnd.nextInt(1000).toLong), i.toLong)
      }
      // unique rts by contract (see broadcastJoin scaladoc)
      val right = rnd.shuffle((0 until 1000).toList).take(15)
        .map(t => (ts(t.toLong), rnd.nextInt(100).toDouble))
      val rows = AsOf.broadcastJoin(left.toDF("ts", "row_id"),
          right.toDF("rts", "v"), "ts", "rts", Seq("v" -> "v"), inner = inner)
        .select($"row_id", $"v").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      val got = rows.toMap
      // the oversized-dim fallback (keyless: constant-key window) must
      // be output-identical to the broadcast plan
      val fb = AsOf.broadcastJoin(left.toDF("ts", "row_id"),
          right.toDF("rts", "v"), "ts", "rts", Seq("v" -> "v"),
          inner = inner, dimBroadcast = Some(false))
        .select($"row_id", $"v").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
      assert(fb == got, s"seed=$seed inner=$inner: fallback != broadcast")
      // exactly one output row per matched left row — overlapping
      // intervals would duplicate and the map would silently hide it
      assert(rows.length == got.size, s"seed=$seed: duplicate join rows")
      val expected = left.map { case (lts, id) =>
        val m = right.filter { case (rts, _) => !rts.after(lts) }
        (id, if (m.isEmpty) None else Some(m.maxBy(_._1.getTime)._2))
      }.filter { case (_, best) => !inner || best.isDefined }.toMap
      assert(got == expected, s"seed=$seed inner=$inner:\n got=$got\n exp=$expected")
    }
  }

  test("broadcastJoin auto-routes an oversized dim to the window fallback") {
    // a 20M-row Range estimates hundreds of MB — far over
    // BroadcastDimByteLimit — WITHOUT being executed: the guard must
    // pick the window plan (its __rv running-match marker) and the
    // broadcast intervalization (__eff/__next) must not appear. Plan
    // inspection only; nothing runs.
    val bigDim = spark.range(20000000L).select(
      timestamp_seconds($"id").as("rts"),
      ($"id" % 100).cast("double").as("v"))
    assert(bigDim.queryExecution.optimizedPlan.stats.sizeInBytes >
      AsOf.BroadcastDimByteLimit)
    val left = Seq((ts(10), 1L)).toDF("ts", "row_id")
    val planned = AsOf.broadcastJoin(left, bigDim, "ts", "rts",
      Seq("v" -> "v"))
    val plan = planned.queryExecution.analyzed.toString
    assert(plan.contains("__rv") && !plan.contains("__eff"),
      s"oversized dim did not take the window fallback:\n$plan")
    // and a model-sized dim still takes the broadcast intervalization
    val smallPlan = AsOf.broadcastJoin(left,
        Seq((ts(5), 1.0)).toDF("rts", "v"), "ts", "rts", Seq("v" -> "v"))
      .queryExecution.analyzed.toString
    assert(smallPlan.contains("__eff"), s"small dim lost broadcast:\n$smallPlan")
  }

  test("as-of join drops left-only keys when inner, keeps them null when outer") {
    // keys k0..k3 on both sides, k4 on the left only; duplicate left
    // timestamps collide freely
    for (seed <- 0 until 10; inner <- Seq(true, false)) {
      val rnd = new scala.util.Random(seed + 9000)
      val left = (0 until 60).map { i =>
        (s"k${rnd.nextInt(5)}", ts(rnd.nextInt(1000).toLong), i.toLong)
      }
      val right = (for (k <- 0 until 4) yield
        rnd.shuffle((0 until 1000).toList).take(8)
          .map(t => (s"k$k", ts(t.toLong), rnd.nextInt(100).toDouble))
        ).flatten
      val got = AsOf.join(
          left.toDF("k", "ts", "row_id"), right.toDF("k", "rts", "v"),
          key = "k", leftTs = "ts", rightTs = "rts",
          rightVals = Seq("v" -> "v"), inner = inner)
        .select($"row_id", $"v").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
      val expected = left.map { case (k, lts, id) =>
        val m = right.filter { case (rk, rts, _) => rk == k && !rts.after(lts) }
        (id, if (m.isEmpty) None else Some(m.maxBy(_._2.getTime)._3))
      }.filter { case (_, best) => !inner || best.isDefined }.toMap
      assert(got == expected, s"seed=$seed inner=$inner:\n got=$got\n exp=$expected")
      val k4 = left.filter(_._1 == "k4").map(_._3).toSet
      assert(k4.nonEmpty, s"seed=$seed: no left-only key drawn")
      if (inner) assert(k4.forall(!got.contains(_)))
      else assert(k4.forall(id => got.get(id).contains(None)))
    }
  }
}
