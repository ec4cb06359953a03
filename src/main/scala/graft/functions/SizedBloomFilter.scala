package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** A Bloom filter of `numBits` bits as a typed [[Aggregator]], plus the
  * matching COLUMN-NATIVE membership test — the runtime-filter
  * discipline for selective star joins at 100 TB: build the filter
  * over the dimension side's join keys (map-side partials OR
  * together, so the shuffle carries one bitmap per partition),
  * broadcast the single finished bitmap, and prune the fact side
  * BEFORE its shuffle. A 5%-selective dimension predicate then ships
  * ~5% of the fact table through the exchange instead of all of it —
  * the bitmap is a superset test (false positives only, never false
  * negatives), so the real join downstream keeps the result EXACT and
  * the filter needs no correctness proof beyond "same hash on both
  * sides".
  *
  * Both sides hash with Spark's own `xxhash64` (codegen'd, seed 42)
  * and derive k=5 probe positions from the 64-bit hash h as
  * gᵢ = (hi + i·lo) mod m with hi = h >>> 32, lo = h & 0xffffffff —
  * Kirsch–Mitzenmacher double hashing on arithmetic that cannot
  * overflow a long (hi, lo < 2³², i ≤ 4 → gᵢ < 2³⁵), so it is safe
  * under ANSI mode and expressible identically in pure Column ops
  * (shift/mask/pmod — whole-stage codegen, no UDF on the fact-side
  * hot path).
  *
  * Width: fixed-width callers (q273, q285) take [[SizedBloomFilter.MinBits]]
  * (2²⁰ bits, 128 KB: ~2.2% false positives at 1M keys, < 1e-5 at
  * the ≤100k keys a selective dimension filter yields); callers that
  * know the build side's cardinality at plan-construction time (the
  * triangle closing probe counts its oriented edges for free) size it
  * with [[SizedBloomFilter.bitsFor]]. Spark 4.1.2's own
  * `bloom_filter_agg`/`might_contain` do not resolve as functions
  * (UNRESOLVED_ROUTINE), so they cannot replace this one.
  */
class SizedBloomFilter(val numBits: Long)
    extends Aggregator[java.lang.Long, Array[Long], Array[Long]] {
  require(numBits > 0 && (numBits & (numBits - 1)) == 0,
    s"numBits must be a positive power of two, got $numBits")
  private val numWords: Int = (numBits / 64L).toInt

  override def zero: Array[Long] = new Array[Long](numWords)

  /** NULL hashes are skipped (a NULL join key matches nothing in the
    * real join, so it need not survive the prefilter either).
    */
  override def reduce(b: Array[Long], boxed: java.lang.Long): Array[Long] = {
    if (boxed == null) return b
    SizedBloomFilter.insert(b, boxed.longValue(), numBits)
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numWords) { a(i) |= b(i); i += 1 }
    a
  }

  override def finish(b: Array[Long]): Array[Long] = b
  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}

object SizedBloomFilter {
  /** Probe count. */
  val NumHashes: Int = 5

  /** The fixed 128 KB width, and the floor of [[bitsFor]]. */
  val MinBits: Long = 1L << 20

  /** Width policy: ~16 bits/key (fpp ≈ 0.05% at k=5) rounded up to a
    * power of two, floored at [[MinBits]] and capped at 2²⁸ bits
    * (32 MB bitmap — a comfortable broadcast). Past ~30M keys the
    * capped filter degrades toward pass-through, which costs pruning,
    * never correctness.
    */
  def bitsFor(nKeys: Long): Long = {
    val want = nKeys * 16L
    val cap = 1L << 28
    var bits = MinBits
    while (bits < want && bits < cap) bits <<= 1
    bits
  }

  private[functions] def insert(b: Array[Long], h: Long, numBits: Long): Unit = {
    val hi = h >>> 32
    val lo = h & 0xffffffffL
    var i = 0
    while (i < NumHashes) {
      val idx = (hi + i.toLong * lo) % numBits
      b((idx >>> 6).toInt) |= 1L << (idx & 63L).toInt
      i += 1
    }
  }

  /** Build form: `df.agg(SizedBloomFilter.build(bits, xxhash64(...)))`. */
  def build(numBits: Long, hash: Column): Column =
    udaf(new SizedBloomFilter(numBits), Encoders.LONG).apply(hash)

  /** Column-native membership test mirroring [[insert]]'s probe
    * positions exactly: all k probed bits set ⇒ "might contain".
    * Pure shift/mask/pmod Column arithmetic — whole-stage codegen'd,
    * no UDF in the fact-side scan.
    */
  def mightContain(numBits: Long, bitmap: Column, hash: Column): Column = {
    val hi = shiftrightunsigned(hash, 32)
    val lo = hash.bitwiseAND(lit(0xffffffffL))
    (0 until NumHashes).map { i =>
      val idx = pmod(hi + lit(i.toLong) * lo, lit(numBits))
      val word = element_at(bitmap, (shiftrightunsigned(idx, 6) + lit(1L)).cast("int"))
      getbit(word, idx.bitwiseAND(lit(63L))) === lit(1L)
    }.reduce(_ && _)
  }
}
