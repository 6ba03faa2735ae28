package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.{Bridge, BucketByCuts, Hilbert64, ZOrder64}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Column-level API over the [[org.apache.spark.sql.graftx.ZOrder64]]
  * Catalyst expression plus the order-preserving conv_id key derivation.
  */
object ZOrder {

  /** Z-order key of two int columns (a's bits dominate the ordering). */
  def zorder64(a: Column, b: Column): Column =
    Bridge.toColumn(ZOrder64(Bridge.toExpression(a), Bridge.toExpression(b)))

  /** Order-preserving 32-bit key for a conversation-id string.
    *
    * Range pruning on `conv_id BETWEEN lo AND hi` (the north-rule acceptance
    * metric) requires the clustering key's conv component to be MONOTONIC in
    * conv_id — a hash would destroy range locality and make per-file min/max
    * stats useless for range predicates. Two order-preserving encodings,
    * chosen per row:
    *   - ids of the form `<letters><digits>` (e.g. "c00001234"): the numeric
    *     suffix, which spreads uniformly over [0, nConvs);
    *   - anything else: the first 4 chars' low bytes big-endian, UNSIGNED
    *     (lexicographic prefix order for ASCII ids; chars >= 0x80 stay
    *     positive via the mod-256 low byte, they just coarsen to their low
    *     byte's order).
    *
    * ASSUMPTION (single id format per table): each encoding is monotonic
    * WITHIN itself, but the two ranges are not mutually ordered — a table
    * mixing numeric-suffix ids with free-form ids gets correct results
    * (pruning uses real string stats, never this key) but degraded
    * clustering locality across the two families. Transcript tables use one
    * id scheme; if yours doesn't, pre-map ids to one family.
    * Pure `Column` composition — codegen'd, no UDF.
    */
  def convOrderKey(conv: Column): Column = {
    val digits = regexp_extract(conv, "^[A-Za-z]{0,4}([0-9]{1,9})$", 1)
    val byDigits = when(digits =!= "", digits.cast(IntegerType))
    val padded = rpad(coalesce(conv, lit("")), 4, " ")
    // 4 low bytes, big-endian, as a NON-NEGATIVE int (max 0xFFFFFFFF >> 1
    // after the halving below) — the old full-width form overflowed Int for
    // leading chars >= 0x80, breaking monotonicity right where lex order
    // mattered. Halving keeps 31 bits of order, losing only bit-0 of the
    // last byte (adjacent-id ties, irrelevant at bucket granularity).
    val lex = (0 until 4).map { i =>
      shiftleft(ascii(substring(padded, i + 1, 1)).cast(LongType) % 256, (3 - i) * 8)
    }.reduce(_ + _)
    byDigits.otherwise(shiftright(lex, 1).cast(IntegerType))
  }

  /** Driver-side twin of [[convOrderKey]] (same per-row logic) so manifest
    * min/max conv strings can be mapped to key-space bounds without a scan.
    */
  def convOrderKeyScala(conv: String): Int = {
    val c = if (conv == null) "" else conv
    val m = java.util.regex.Pattern.compile("^[A-Za-z]{0,4}([0-9]{1,9})$").matcher(c)
    if (m.matches()) m.group(1).toInt
    else {
      val padded = (c + "    ").substring(0, 4)
      var acc = 0L
      var i = 0
      while (i < 4) { acc += (padded.charAt(i).toLong % 256) << ((3 - i) * 8); i += 1 }
      (acc >> 1).toInt // halved like convOrderKey: stays non-negative
    }
  }

  /** Quantile bucket of a long column given driver-computed sorted cuts. */
  def bucketByCuts(v: Column, cuts: Array[Long]): Column =
    Bridge.toColumn(BucketByCuts(Bridge.toExpression(v.cast(LongType)), cuts))

  /** The production clustering key: both dimensions quantile-bucketed, then
    * interleaved. Quantiles (unlike min/max scaling) are robust to key-space
    * outliers — one stray conv id far from the others must not collapse the
    * whole grid into a single bucket. Cut arrays come from one
    * approxQuantile pass at job-plan time and are persisted in the ledger
    * plan so resume reuses the identical curve.
    */
  def quantileClusterKey(convId: Column, turnIdx: Column,
                         convCuts: Array[Long], turnCuts: Array[Long]): Column =
    zorder64(
      bucketByCuts(convOrderKey(convId), convCuts),
      bucketByCuts(coalesce(turnIdx.cast(IntegerType), lit(0)), turnCuts))

  /** Hilbert index of two int columns on a 2^order grid. */
  def hilbert64(a: Column, b: Column, order: Int = 16): Column =
    Bridge.toColumn(Hilbert64(Bridge.toExpression(a), Bridge.toExpression(b), order))

  /** Hilbert variant of [[quantileClusterKey]] — same quantile bucketing
    * (and the same hot-conv bit-budget asymmetry, enforced by the cut
    * counts), different space-filling curve. Select via
    * [[graft.maintain.Clustering.cluster]]'s `curve` parameter.
    */
  def quantileHilbertKey(convId: Column, turnIdx: Column,
                         convCuts: Array[Long], turnCuts: Array[Long]): Column =
    hilbert64(
      bucketByCuts(convOrderKey(convId), convCuts),
      bucketByCuts(coalesce(turnIdx.cast(IntegerType), lit(0)), turnCuts),
      order = 16)
}
