package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.{col, struct, udaf}

/** Bounded-state top-k per group: a typed [[Aggregator]] whose buffer
  * is a best-first list CAPPED at k entries, so top-n-per-group runs
  * as an ordinary aggregation — partial top-ks fold map-side and the
  * shuffle carries AT MOST k rows per (group, partition), where the
  * row_number-window plan shuffles and sorts the group's entire
  * population first and discards all but k afterwards. At 100 TB
  * with high-cardinality groups that is the difference between a
  * k-bounded combine and a full-table sort — priced head-to-head
  * every round by the bench's x_topk_agg / x_topk_window pair rather
  * than asserted here.
  *
  * Ordering contract: metric DESC, id ASC on ties — identical to
  * `row_number() OVER (ORDER BY metric DESC, id)`, equivalence
  * spec-proven against the q78 window plan. Entries are (metric, id)
  * pairs; NULL metrics must be filtered by the caller (a primitive
  * Double encoder aborts on NULL — same contract as the window plan,
  * where NULLS LAST ordering would differ between engines anyway).
  * Spark 4.1.2 has no built-in ordered top-k per group to replace it
  * (`max_by(x, y, k)` fails with WRONG_NUM_ARGS, `collect_top_k` does
  * not resolve).
  */
class TopKAgg(k: Int)
    extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
  require(k >= 1, s"top-k needs k >= 1, got $k")

  /** a strictly better than b: higher metric, then lower id. */
  private def better(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  override def zero: Seq[(Double, Long)] = Vector.empty

  override def reduce(b: Seq[(Double, Long)],
                      x: (Double, Long)): Seq[(Double, Long)] = {
    if (b.size == k && !better(x, b.last)) return b // O(1) fast path
    val i = b.indexWhere(e => better(x, e))
    val inserted = if (i < 0) b :+ x else (b.take(i) :+ x) ++ b.drop(i)
    if (inserted.size > k) inserted.take(k) else inserted
  }

  override def merge(a: Seq[(Double, Long)],
                     b: Seq[(Double, Long)]): Seq[(Double, Long)] = {
    // merge two best-first lists, cap at k — O(k), no re-sort
    val out = Vector.newBuilder[(Double, Long)]
    var (i, j, n) = (0, 0, 0)
    while (n < k && (i < a.size || j < b.size)) {
      if (j >= b.size || (i < a.size && better(a(i), b(j)))) {
        out += a(i); i += 1
      } else { out += b(j); j += 1 }
      n += 1
    }
    out.result()
  }

  override def finish(b: Seq[(Double, Long)]): Seq[(Double, Long)] = b

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] = TopK.ListEncoder
  override def outputEncoder: Encoder[Seq[(Double, Long)]] = TopK.ListEncoder
}

object TopK {
  // Built once per JVM (a udaf per k), as SkylineAgg's encoders are.
  private[functions] val ListEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder[Seq[(Double, Long)]]()
  private val udafs =
    new java.util.concurrent.ConcurrentHashMap[Int, UserDefinedFunction]()

  /** `topK(metric, id, k)` — aggregate Column producing the group's
    * top-k `array<struct<metric, id>>`, best-first. Explode with
    * posexplode for (rank, id, metric) rows.
    */
  def topK(metric: Column, id: Column, k: Int): Column =
    // a product-encoded UDAF takes its tuple fields as SEPARATE args
    udafs.computeIfAbsent(k,
        k => udaf(new TopKAgg(k), Encoders.product[(Double, Long)]))
      .apply(metric.cast("double"), id.cast("long"))
}
