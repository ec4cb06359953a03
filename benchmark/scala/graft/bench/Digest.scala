package graft.bench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-insensitive content hash of one output.
  * Rows are canonicalized as in `tools/check_oracle.py`: columns sorted
  * by name and every value at full precision (doubles through their
  * shortest round-trip decimal form). Each canonical row is hashed and
  * the hashes are summed, so equal multisets of rows give equal digests
  * whatever the partitioning, and digests of disjoint parts add up.
  */
final case class Digest(rows: Long, hash: BigInt) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  def toMap: Map[String, Any] = Map("rows" -> rows, "hash" -> hash.toString)
}

object Digest {
  val zero: Digest = Digest(0, 0)

  def fromMap(m: Any): Digest = m match {
    case m: Map[_, _] =>
      val mm = m.asInstanceOf[Map[String, Any]]
      Digest(mm("rows").toString.toLong, BigInt(mm("hash").toString))
  }

  /** Map entries have no defined order, so they are sorted first. */
  private def canon(c: Column, t: DataType): Column = t match {
    case ArrayType(et, _) => transform(c, canon(_, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c),
        e => struct(canon(e.getField("key"), kt).as("k"),
          canon(e.getField("value"), vt).as("v"))))
    case StructType(fs) =>
      struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  private def rowHash(df: DataFrame): Column = {
    val fields = df.schema.fields.sortBy(_.name).toIndexedSeq
    xxhash64(to_json(struct(fields.map(f =>
      canon(col(s"`${f.name}`"), f.dataType).as(f.name)): _*)))
      .cast(DecimalType(38, 0))
  }

  private def sumOf(d: java.math.BigDecimal): BigInt =
    Option(d).map(x => BigInt(x.toBigInteger)).getOrElse(BigInt(0))

  def of(df: DataFrame): Digest = {
    val r = df.select(rowHash(df).as("h")).agg(count(lit(1)), sum(col("h"))).head()
    Digest(r.getLong(0), sumOf(r.getDecimal(1)))
  }

  /** Digests of each group of `df` by the integral column `key`. */
  def byKey(df: DataFrame, key: String): Map[Long, Digest] =
    df.select(col(key).cast(LongType).as("k"), rowHash(df).as("h"))
      .groupBy(col("k")).agg(count(lit(1)), sum(col("h")))
      .collect().map(r => r.getLong(0) -> Digest(r.getLong(1), sumOf(r.getDecimal(2))))
      .toMap
}
