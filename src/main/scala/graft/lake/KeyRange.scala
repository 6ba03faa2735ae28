package graft.lake

import org.apache.spark.unsafe.types.UTF8String

/** Possibly one-sided bounds on one key column; a missing side is
  * unbounded. Every method takes the column's order explicitly, and only
  * [[KeyRange]] calls them, so no column can fall back to a default order.
  */
final case class Bounds[T](lo: Option[T], hi: Option[T]) {
  def isAll: Boolean = lo.isEmpty && hi.isEmpty

  def intersect(o: Bounds[T], ord: Ordering[T]): Option[Bounds[T]] = {
    val nlo = (lo.toSeq ++ o.lo.toSeq).reduceOption(ord.max(_, _))
    val nhi = (hi.toSeq ++ o.hi.toSeq).reduceOption(ord.min(_, _))
    (nlo, nhi) match {
      case (Some(a), Some(b)) if ord.gt(a, b) => None // statically empty
      case _ => Some(Bounds(nlo, nhi))
    }
  }

  /** Each side's low is at most the other side's high. */
  def meets(o: Bounds[T], ord: Ordering[T]): Boolean =
    lo.forall(l => o.hi.forall(ord.lteq(l, _))) && o.lo.forall(l => hi.forall(ord.lteq(l, _)))

  /** The smallest bounds holding both; a side missing on either stays missing. */
  def hull(o: Bounds[T], ord: Ordering[T]): Bounds[T] =
    Bounds(for (a <- lo; b <- o.lo) yield ord.min(a, b),
      for (a <- hi; b <- o.hi) yield ord.max(a, b))
}

/** A box over the three key columns the lake keeps stats on: `conv_id`
  * ([[KeyRange.ConvOrder]]), `turn_idx` (int) and `ts` (event time in
  * epoch MICROseconds, the unit of Parquet TIMESTAMP_MICROS stats). It is
  * a data file's footer stats ([[DataFile.keys]]), a manifest's hull of
  * its entries' stats ([[ManifestRef.keys]]), and one box of a predicate
  * ([[IntervalDnf]]). A missing bound means unknown stats, or an
  * unbounded predicate side; either way it never prunes. A file or
  * manifest is a candidate for a predicate iff one of its boxes
  * [[overlaps]] the file's or manifest's range.
  */
final case class KeyRange(conv: Bounds[String], turn: Bounds[Int], ts: Bounds[Long]) {
  import KeyRange._

  def isAll: Boolean = conv.isAll && turn.isAll && ts.isAll

  def intersect(o: KeyRange): Option[KeyRange] =
    for {
      c <- conv.intersect(o.conv, ConvOrder)
      t <- turn.intersect(o.turn, Ordering.Int)
      s <- ts.intersect(o.ts, Ordering.Long)
    } yield KeyRange(c, t, s)

  def overlaps(o: KeyRange): Boolean =
    conv.meets(o.conv, ConvOrder) && turn.meets(o.turn, Ordering.Int) &&
      ts.meets(o.ts, Ordering.Long)

  def hull(o: KeyRange): KeyRange =
    KeyRange(conv.hull(o.conv, ConvOrder), turn.hull(o.turn, Ordering.Int),
      ts.hull(o.ts, Ordering.Long))
}

object KeyRange {

  /** `conv_id` order: UTF-8 bytes, which is Spark's string order and the
    * order of Parquet's binary min/max stats. `String.compareTo` (UTF-16
    * code units) disagrees with it once a key holds a character above
    * U+FFFF next to one in U+E000..U+FFFF.
    */
  val ConvOrder: Ordering[String] = (a: String, b: String) =>
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  val ConvCol = "conv_id"
  val TurnCol = "turn_idx"
  val TsCol = "ts"

  val all: KeyRange = KeyRange(Bounds(None, None), Bounds(None, None), Bounds(None, None))
  def onConv(b: Bounds[String]): KeyRange = all.copy(conv = b)
  def onTurn(b: Bounds[Int]): KeyRange = all.copy(turn = b)
  def onTs(b: Bounds[Long]): KeyRange = all.copy(ts = b)

  /** The smallest range holding every one of `rs`: unknown when `rs` is
    * empty, and a column stays unknown when any of `rs` leaves it so. */
  def hull(rs: Iterable[KeyRange]): KeyRange = rs.reduceOption(_ hull _).getOrElse(all)

  /** The order files and manifests are laid out in: the range's low key,
    * `conv_id` in [[ConvOrder]] then `turn_idx`, a missing bound read as
    * "" or 0. */
  val ByLow: Ordering[KeyRange] =
    Ordering.by((k: KeyRange) => (k.conv.lo.getOrElse(""), k.turn.lo.getOrElse(0)))(
      Ordering.Tuple2(ConvOrder, Ordering.Int))
}
