package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf

/** Per-group Pareto front on (type-token ratio ↑, token count ↓): the
  * mergeable skyline aggregate of batch q210 and its streaming twin
  * s58. A document survives iff no other document of the group has
  * TTR ≥ its AND tokens ≤ its with one strict; equal (TTR, tokens)
  * pairs coexist. The buffer is the front so far: `reduce` drops a
  * dominated arrival or inserts it and evicts what it dominates, and
  * `merge` inserts one front into the other. Dominance is transitive,
  * so partial fronts fold map-side and merge globally (the local-then-
  * global skyline of Integration of Skyline Queries into Spark SQL,
  * EDBT 2023), the shuffle carries fronts, not the corpus, and any row
  * order or micro-batch split gives the same front.
  *
  * Inputs are (n_tokens > 0, n_types, doc_id); entries are (ttr6,
  * n_tokens, n_types, doc_id), ttr6 being the TTR rounded 12dp then
  * 6dp HALF_UP in integer micro-units — [[Num.decRound]]'s two-step
  * exactly (a direct 6dp round can differ on a ...5-at-12dp boundary).
  */
class SkylineAgg extends Aggregator[(Long, Long, Long),
    Seq[(Long, Long, Long, Long)], Seq[(Long, Long, Long, Long)]] {
  private type Entry = (Long, Long, Long, Long)

  private def dominates(a: Entry, b: Entry): Boolean =
    a._1 >= b._1 && a._2 <= b._2 && (a._1 > b._1 || a._2 < b._2)

  private def insert(front: Seq[Entry], c: Entry): Seq[Entry] =
    if (front.exists(dominates(_, c))) front
    else front.filterNot(dominates(c, _)) :+ c

  override def zero: Seq[Entry] = Vector.empty

  override def reduce(b: Seq[Entry], x: (Long, Long, Long)): Seq[Entry] = {
    val (nTok, nTyp, docId) = x
    val ttr6 = BigDecimal(nTyp.toDouble / nTok.toDouble)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(1000000L)).toLongExact
    insert(b, (ttr6, nTok, nTyp, docId))
  }

  override def merge(a: Seq[Entry], b: Seq[Entry]): Seq[Entry] =
    b.foldLeft(a)(insert)

  override def finish(b: Seq[Entry]): Seq[Entry] = b

  override def bufferEncoder: Encoder[Seq[Entry]] = SkylineAgg.FrontEncoder
  override def outputEncoder: Encoder[Seq[Entry]] = SkylineAgg.FrontEncoder
}

object SkylineAgg {
  // Built once per JVM: per-call reflective encoders cost each plan and
  // each task a Scala-reflection pass (q210 sf0.01, 4 cores: 0.30 → 0.18 s).
  private val FrontEncoder: Encoder[Seq[(Long, Long, Long, Long)]] =
    ExpressionEncoder[Seq[(Long, Long, Long, Long)]]()

  /** The aggregate over (n_tokens, n_types, doc_id) columns. */
  val front: UserDefinedFunction =
    udaf(new SkylineAgg, Encoders.product[(Long, Long, Long)])
}
