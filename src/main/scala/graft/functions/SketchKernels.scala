package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop text-sketch kernels called from generated code (one static
  * call per row — see [[org.apache.spark.sql.graftx.SimHash64F]] /
  * [[org.apache.spark.sql.graftx.MinHashSigF]]). Each reproduces its Column
  * formulation BIT-EXACTLY by using the same primitives the Column pipeline
  * bottoms out in:
  *
  *   - tokens = `UTF8String.trim` (ASCII space only — Java String.trim
  *     would also strip tab/newline and diverge on edge whitespace) then
  *     `UTF8String.split("\s+", -1)` (limit -1 KEEPS trailing empty tokens,
  *     exactly like Spark's `split`; Java String.split's default limit 0
  *     would drop them) — byte-for-byte the tokens `TextMetrics.tokens`
  *     produces, including on non-UTF8-valid input;
  *   - token/shingle hashes run XXH64 over the token's raw bytes with seed
  *     42, then `hashInt(seedArg, prev)` for the per-hash integer argument —
  *     the same chain Spark's `xxhash64` computes;
  *   - shingles join tokens with a single space via `UTF8String.concatWs`,
  *     matching `array_join(slice(tokens, ...), " ")`.
  *
  * Why kernels instead of the Column shapes: the per-row `aggregate` fold
  * runs interpreted per TOKEN x 64 bits, and the corpus-scale explode ->
  * groupBy shape pays a full extra stage (explode, partial agg, exchange,
  * final agg) per sketch build. One codegen'd pass per row computes the
  * whole sketch with zero shuffle. The per-row regex split cost is the SAME
  * the Column pipeline pays (StringSplit delegates to the identical
  * UTF8String.split), so nothing regresses there.
  */
object SketchKernels {

  private val WsPattern = UTF8String.fromString("\\s+")
  private val Space = UTF8String.fromString(" ")

  /** The 6 bytes Java's regex `\s` matches (ASCII-only by default:
    * space, \t, \n, \x0B, \f, \r).
    */
  private val WsByte: Array[Boolean] = {
    val a = new Array[Boolean](256)
    Seq(' ', '\t', '\n', 0x0B.toChar, '\f', '\r').foreach(c => a(c.toInt) = true)
    a
  }

  /** Whitespace tokens, bit-parity with `TextMetrics.tokens`.
    *
    * Fast path: for VALID UTF-8 input, splitting the raw bytes on runs of
    * the 6 ASCII `\s` bytes is byte-for-byte the regex `split("\s+", -1)`
    * (ASCII bytes never occur inside a multi-byte sequence, and `\s` is
    * ASCII-only without UNICODE_CHARACTER_CLASS), including the leading
    * empty token when the post-`trim` string starts with non-space
    * whitespace and the trailing empty token limit -1 keeps. Tokens are
    * ZERO-COPY slices of the input buffer — no UTF-16 decode, no Pattern
    * machinery, no per-token re-encode; the regex pass dominated every
    * corpus sketch build. A slice points into the row's buffer, which
    * Spark reuses for the next row: hash the tokens, never keep one past
    * the row. Invalid UTF-8 falls back to the legacy regex
    * split, whose String round-trip substitutes replacement chars — the
    * fast path must not (and does not) second-guess that behavior.
    */
  private def whitespaceTokens(s: UTF8String): Array[UTF8String] = {
    val t = s.trim()
    if (t.numBytes == 0) return Array.empty[UTF8String]
    if (!t.isValid) return t.split(WsPattern, -1)
    val n = t.numBytes
    val base = t.getBaseObject
    val off = t.getBaseOffset
    val out = new java.util.ArrayList[UTF8String](16)
    var i = 0
    var tokStart = 0
    while (i < n) {
      val b = t.getByte(i) & 0xff
      if (WsByte(b)) {
        out.add(UTF8String.fromAddress(base, off + tokStart, i - tokStart))
        i += 1
        while (i < n && WsByte(t.getByte(i) & 0xff)) i += 1
        tokStart = i
      } else i += 1
    }
    out.add(UTF8String.fromAddress(base, off + tokStart, n - tokStart))
    out.toArray(new Array[UTF8String](out.size))
  }

  private def hashToken(tok: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(tok.getBaseObject, tok.getBaseOffset, tok.numBytes, seed)

  /** 64-bit SimHash, parity with `Dedup.simhash64`/`Dedup.simhashDf`:
    * per token h = xxhash64(token); bit j votes +1/-1 by (h >> j) & 1; the
    * fingerprint sets bit j iff its vote sum is > 0. No tokens -> 0L.
    */
  def simhash64(s: UTF8String): Long = {
    val toks = whitespaceTokens(s)
    val votes = new Array[Int](64)
    var ti = 0
    while (ti < toks.length) {
      val h = hashToken(toks(ti), 42L)
      var j = 0
      while (j < 64) {
        votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      ti += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) fp |= 1L << j; j += 1 }
    fp
  }

  /** MinHash signature over k-word shingles, parity with the
    * explode(wordShingles) -> `min(xxhash64(sh, i))` groupBy shape:
    * docs with <= k tokens contribute ONE whole-doc shingle (tokens joined
    * by single spaces; empty text -> the "" shingle), longer docs the
    * n-k+1 sliding shingles; hash i of a shingle is
    * `hashInt(i, xxhash64(shingleBytes, 42))`.
    */
  def minhashSig(s: UTF8String, shingleK: Int, numHashes: Int): Array[Long] = {
    val toks = whitespaceTokens(s)
    val n = toks.length
    val mins = Array.fill(numHashes)(Long.MaxValue)
    def addShingle(parts: Array[UTF8String]): Unit = {
      val base = hashToken(UTF8String.concatWs(Space, parts: _*), 42L)
      var i = 0
      while (i < numHashes) {
        val v = XXH64.hashInt(i, base)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    if (n <= shingleK) addShingle(toks)
    else {
      // one reusable window buffer — concatWs copies the bytes out, so the
      // array can be recycled across shingles (no per-shingle allocation)
      val win = new Array[UTF8String](shingleK)
      var i = 0
      while (i + shingleK <= n) {
        System.arraycopy(toks, i, win, 0, shingleK)
        addShingle(win)
        i += 1
      }
    }
    mins
  }
}
