package steadybench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One transcript turn as the generator knows it. `tool` may be null.
  * Everything derives from (seed, conversation number, turn), so the same
  * seed always gives the same turns.
  */
final case class Turn(conv: String, turn: Int, role: String, text: String,
                      tool: String, tsMs: Long)

/** One rendered drop row, as strings exactly as they were written to the
  * drop file ("" = an empty cell). `drop` and `line` order the rows for
  * the last-non-empty-wins oracle.
  */
final case class DropRow(drop: Int, line: Int, conv_id: String, turn_idx: String,
                         role: String, text: String, tool: String, ts: String,
                         note: String)

/** A drop file on disk plus the rows it holds. */
final case class Drop(idx: Int, file: Path, bytes: Long, rows: Vector[DropRow],
                      delimiter: Char, vertical: Boolean, quoted: Boolean, withNote: Boolean)

/** Deterministic input generator and drop renderer. It uses no engine
  * code: drops are written as CSV text the engine must detect and parse.
  */
object Gen {

  val BaseTsMs: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val ConvSpacingMs: Long = 60000L    // conversations start a minute apart
  val Roles: Array[String] = Array("user", "assistant", "tool")
  val Tools: Array[String] = Array("bash", "read", "write", "grep", "edit")
  val Vocab: Array[String] = Array(
    "the", "a", "of", "and", "to", "plan", "tool", "call", "result", "user",
    "model", "agent", "turn", "context", "token", "search", "read", "write",
    "merge", "table", "scan", "query", "data", "batch", "stream", "spark")
  val Columns: Vector[String] = Vector("conv_id", "turn_idx", "role", "text", "tool", "ts")

  val schema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /** splitmix64 over the parts: a stateless, well-mixed hash. */
  def mix(parts: Long*): Long = {
    var z = 0x9E3779B97F4A7C15L
    parts.foreach { p =>
      z += p * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
    }
    z & Long.MaxValue
  }

  def pick(n: Int, parts: Long*): Int = (mix(parts: _*) % n).toInt

  def convId(seq: Int): String = f"c$seq%08d"
  def convTs(seq: Int): Long = BaseTsMs + seq * ConvSpacingMs
  def nTurns(seed: Long, seq: Int): Int = 2 + pick(9, seed, seq, 1) // 2..10

  def text(seed: Long, seq: Int, turn: Int, version: Int): String = {
    val n = 4 + pick(8, seed, seq, turn, version, 2)
    val words = (0 until n).map(i => Vocab(pick(Vocab.length, seed, seq, turn, version, 3, i)))
    (words :+ s"k${seq}t${turn}v$version").mkString(" ")
  }

  def turn(seed: Long, seq: Int, t: Int): Turn = {
    val role = Roles(t % 3)
    val tool = if (role == "tool") Tools(pick(Tools.length, seed, seq, t, 4)) else null
    Turn(convId(seq), t, role, text(seed, seq, t, 0), tool, convTs(seq) + t * 1000L)
  }

  def conv(seed: Long, seq: Int): Vector[Turn] =
    (0 until nTurns(seed, seq)).map(turn(seed, seq, _)).toVector

  def convs(seed: Long, from: Int, until: Int): Vector[Turn] =
    (from until until).iterator.flatMap(conv(seed, _)).toVector

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  def tsString(ms: Long): String = tsFmt.format(java.time.Instant.ofEpochMilli(ms))

  /** Turns as a DataFrame in the table's column order (plain Spark). */
  def turnsDf(spark: SparkSession, turns: Seq[Turn]): DataFrame = {
    import spark.implicits._
    turns.toDS().toDF().select(col("conv").as("conv_id"), col("turn").as("turn_idx"),
      col("role"), col("text"), col("tool"), timestamp_millis(col("tsMs")).as("ts"))
  }

  /** Drop rows as a DataFrame (plain Spark). */
  def dropRowsDf(spark: SparkSession, rows: Seq[DropRow]): DataFrame = {
    import spark.implicits._
    rows.toDS().toDF()
  }

  def asDropRow(drop: Int, line: Int, t: Turn): DropRow =
    DropRow(drop, line, t.conv, t.turn.toString, t.role, t.text,
      Option(t.tool).getOrElse(""), tsString(t.tsMs), "")

  /** Render one drop. The delimiter (`,` `;` tab `|`) rotates with the
    * drop number, and the vertical key-value layout, the added `note`
    * column and full quoting each take a fixed share of drops spread
    * evenly over the drop numbers; with shares of 1/4, every group of four
    * drops holds the same mix, so a warm-up group has met every kind and
    * every run times the same mix. The seed shuffles the column order and
    * makes the rows.
    */
  def render(dir: Path, seed: Long, idx: Int, rows: Vector[DropRow],
             verticalShare: Double, quotedShare: Double, noteShare: Double): Drop = {
    def evenly(p: Double, phase: Int): Boolean =
      math.floor((idx + 1 + phase) * p) > math.floor((idx + phase) * p)
    val delim = Array(',', ';', '\t', '|')((idx + idx / 4) % 4)
    val vertical = evenly(verticalShare, 2)
    val quoted = !vertical && evenly(quotedShare, 0)
    val withNote = evenly(noteShare, 1)
    val cols0 = if (withNote) Columns :+ "note" else Columns
    val shuffled = cols0.sortBy(c => mix(seed, idx, 15, c.hashCode.toLong))
    // A vertical drop's record boundary is the re-occurrence of its first
    // key, so conv_id leads every record.
    val cols = if (vertical) "conv_id" +: shuffled.filterNot(_ == "conv_id") else shuffled
    val noted = rows.map(r => if (withNote && r.note.isEmpty && r.role.nonEmpty)
      r.copy(note = s"n${r.drop}") else r)
    def cell(r: DropRow, c: String): String = c match {
      case "conv_id" => r.conv_id
      case "turn_idx" => r.turn_idx
      case "role" => r.role
      case "text" => r.text
      case "tool" => r.tool
      case "ts" => r.ts
      case "note" => r.note
    }
    def q(s: String) = if (quoted) "\"" + s + "\"" else s
    val sb = new StringBuilder
    if (vertical) {
      noted.foreach(r => cols.foreach(c => sb.append(c).append(delim).append(cell(r, c)).append('\n')))
    } else {
      sb.append(cols.map(q).mkString(delim.toString)).append('\n')
      noted.foreach(r => sb.append(cols.map(c => q(cell(r, c))).mkString(delim.toString)).append('\n'))
    }
    val file = dir.resolve(f"drop-$idx%05d.csv")
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.write(file, bytes)
    Drop(idx, file, bytes.length.toLong, noted, delim, vertical, quoted, withNote)
  }
}
