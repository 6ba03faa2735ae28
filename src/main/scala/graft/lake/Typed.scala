package graft.lake

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Typed facade over the transcript table (input_hint: typed Dataset /
  * Catalyst throughout). `Turn` is the canonical row.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp)

object Typed {

  /** Current snapshot as a typed Dataset (columns beyond the canonical six
    * — schema evolution — are dropped by the encoder projection).
    */
  def scanTurns(table: LakeTable): Dataset[Turn] = {
    val spark = table.spark
    import spark.implicits._
    table.scan().df
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool"), col("ts"))
      .as[Turn]
  }
}
