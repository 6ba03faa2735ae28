package graft.ingest

import java.util.regex.Pattern

/** CSV dialect = (delimiter, quotechar). Default = Excel (",", '"'). */
final case class Dialect(delimiter: Char, quote: Char)

object Dialect {
  val Excel: Dialect = Dialect(',', '"')
}

/** Consistency-score dialect detection — the reference's signature operator
  * (backend/app/services/dialect_detector.py:41-158), implementing the data
  * consistency measure of "Wrangling Messy CSV Files by Detecting Row and
  * Type Patterns" (van den Burg et al., 2018): over a fixed candidate grid
  * Θ = {`,`,`;`,`\t`,`|`} × {`"`,`'`}, strictly parse an 8 KB sample and
  * pick argmax Q(θ) = P(θ)·T(θ).
  *
  * Driver-side pure Scala: detection is O(1) metadata work per drop file —
  * wrong to distribute. For batch ingest of many drops, map this function
  * over a Dataset of file heads on executors.
  */
object DialectDetector {

  val Alpha = 1e-3  // rescues single-column files in the pattern score
  val Beta = 1e-10  // type-score floor so it cannot zero a valid pattern score
  val SampleSize = 8192

  /** Type regex chain, same precedence as the reference
    * (dialect_detector.py:26-36): Empty, Integer, Float/Scientific, URL,
    * Email, ISO date/time, common date, N/A, Alphanumeric.
    */
  val TypePatterns: Seq[Pattern] = Seq(
    "^\\s*$",
    "^-?\\d+$",
    "^-?\\d+[.,]\\d+(e[+-]?\\d+)?$",
    "^(http|https)://[^\\s/$.?#].[^\\s]*$",
    "^[a-zA-Z0-9_.+-]+@[a-zA-Z0-9-]+\\.[a-zA-Z0-9-.]+$",
    "^\\d{4}-\\d{2}-\\d{2}([T ]\\d{2}:\\d{2}(:\\d{2})?)?$",
    "^\\d{1,2}[/-]\\d{1,2}[/-]\\d{2,4}$",
    "^[Nn]/?[Aa]$",
    "^[A-Za-z0-9\\s\\-_]+$",
  ).map(Pattern.compile)

  val Candidates: Seq[(Char, Char)] =
    for (d <- Seq(',', ';', '\t', '|'); q <- Seq('"', '\'')) yield (d, q)

  def detect(content: String): Dialect = {
    val sample = detectionSample(content)
    var best: Option[(Char, Char)] = None
    var bestScore = -1.0
    for ((d, q) <- Candidates) {
      val rows =
        try StrictCsv.parse(sample, d, q, strict = true)
        catch { case _: Exception => Vector.empty }
      if (rows.nonEmpty) {
        // Mirrors the reference's control flow: a ZeroDivisionError from a
        // blank line (row of length 0) aborts the whole candidate
        // (dialect_detector.py:60-76 catches broad Exception and continues).
        try {
          val score = patternScore(rows) * typeScore(rows)
          if (score > bestScore) { bestScore = score; best = Some((d, q)) }
        } catch { case _: ArithmeticException => () }
      }
    }
    best.map { case (d, q) => Dialect(d, q) }.getOrElse(Dialect.Excel)
  }

  /** The first [[SampleSize]] chars, ended at their last line break so the
    * strict parse never hits EOF inside a quoted field cut mid-way (which
    * would reject every `"` candidate of a fully-quoted file). A sample
    * without a line break is kept whole.
    */
  private def detectionSample(content: String): String =
    if (content.length <= SampleSize) content
    else {
      val head = content.substring(0, SampleSize)
      val cut = head.lastIndexOf('\n')
      if (cut > 0) head.substring(0, cut + 1) else head
    }

  /** P = (1/K) · Σ_k N_k · max(α, L_k − 1) / L_k over distinct row lengths.
    * Penalizes jagged layouts; α rescues single-column files.
    */
  def patternScore(rows: Vector[Vector[String]]): Double = {
    if (rows.isEmpty) return 0.0
    val counts = rows.groupMapReduce(_.length)(_ => 1)(_ + _)
    val total = counts.map { case (len, cnt) =>
      if (len == 0) // blank line: Python raises ZeroDivisionError here
        throw new ArithmeticException("row of length 0")
      cnt * math.max(Alpha, (len - 1).toDouble) / len
    }.sum
    total / counts.size
  }

  /** T = matched_cells / total_cells against the type chain; floored at β. */
  def typeScore(rows: Vector[Vector[String]]): Double = {
    val totalCells = rows.map(_.length).sum
    if (totalCells == 0) return Beta
    val matched = rows.iterator.flatMap(_.iterator).count { cell =>
      val v = cell.strip()
      TypePatterns.exists(p => p.matcher(v).lookingAt())
    }
    math.max(Beta, matched.toDouble / totalCells)
  }
}
