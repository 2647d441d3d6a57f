package graftbench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import graft.core.TurnResult

/** Order-independent multiset digest: row count plus the wrapping sum and
  * the xor of 64-bit row hashes. Both folds are commutative and
  * associative, so partitions fold in any order and the digests of disjoint
  * batches add up to the digest of their union. */
final case class Digest(count: Long, sum: Long, xor: Long) {
  def +(o: Digest): Digest = Digest(count + o.count, sum + o.sum, xor ^ o.xor)
  def hex: String = f"$count:$sum%016x:$xor%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L, 0L)

  def fold(hashes: Iterator[Long]): Digest = {
    var c = 0L; var s = 0L; var x = 0L
    while (hashes.hasNext) { val h = hashes.next(); c += 1; s += h; x ^= h }
    Digest(c, s, x)
  }

  /** 64-bit string hash from two differently seeded MurmurHash3 passes. */
  def hashString(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0c0ffee).toLong & 0xffffffffL)

  private def field(sb: java.lang.StringBuilder, v: Any): Unit = {
    sb.append('\u0001')
    if (v == null) sb.append('\u0000') else sb.append(v.toString)
  }

  /** Hash of every field of one per-turn result, nested spans and record
    * included. Independent of the Seq/Option implementation classes. */
  def hashTurn(t: TurnResult): Long = {
    val sb = new java.lang.StringBuilder(256)
    field(sb, t.conv_id); field(sb, t.turn_idx); field(sb, t.valid); field(sb, t.doc_type)
    sb.append("\u0002spans")
    if (t.spans != null) t.spans.foreach { s =>
      field(sb, s.label); field(sb, s.start); field(sb, s.end); field(sb, s.text)
    }
    sb.append("\u0002record")
    t.record.foreach { r =>
      field(sb, r.rule); field(sb, r.profile_applicability); field(sb, r.description)
      field(sb, r.rationale); field(sb, r.audit); field(sb, r.remediation)
      field(sb, r.default_value); field(sb, r.cis_controls)
    }
    hashString(sb.toString)
  }

  private def total(parts: Dataset[Digest]): Digest =
    parts.collect().foldLeft(empty)(_ + _)

  /** Digest of per-turn results. The typed map fuses with the program's
    * FSM `mapPartitions`, so no extra serialization is added to the job. */
  def ofTurns(ds: Dataset[TurnResult]): Digest =
    total(ds.mapPartitions(it => Iterator(fold(it.map(hashTurn))))(Encoders.product[Digest]))

  /** Digest of any frame: rows rendered as JSON (every type renders), then
    * hashed. Used for query results, whose schemas vary. */
  def ofRows(df: DataFrame): Digest =
    total(df.toJSON.mapPartitions(it => Iterator(fold(it.map(hashString))))(Encoders.product[Digest]))
}
