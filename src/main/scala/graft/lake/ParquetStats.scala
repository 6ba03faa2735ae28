package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary

import scala.jdk.CollectionConverters._

/** Per-file min/max stat collection from Parquet FOOTERS — metadata-only
  * reads (a few KB per file), never a data scan. This is what makes stat
  * collection viable at 10^12-turn scale: the write job already produced
  * row-group statistics; we only aggregate them per file. For large file
  * counts the per-file footer reads parallelize trivially (they are
  * independent); the driver loop here is fine for thousands of files.
  *
  * Plays the role of the reference's `records_count`/metadata bookkeeping
  * (file_repository.py:95-109) extended with pruning ranges.
  */
object ParquetStats {

  final case class FileStats(
      rows: Long, bytes: Long,
      minConv: Option[String], maxConv: Option[String],
      minTurn: Option[Int], maxTurn: Option[Int],
      minTsUs: Option[Long] = None, maxTsUs: Option[Long] = None)

  def read(absPath: String, conf: Configuration,
           convCol: String = "conv_id", turnCol: String = "turn_idx",
           tsCol: String = "ts"): FileStats = {
    val path = new org.apache.hadoop.fs.Path(absPath)
    val in = HadoopInputFile.fromPath(path, conf)
    // HadoopReadOptions wires FileDecryptionProperties from the conf when a
    // crypto factory is configured (encrypted tables), and is a no-op
    // otherwise — plaintext and encrypted footers read through one path.
    val reader = ParquetFileReader.open(in,
      org.apache.parquet.HadoopReadOptions.builder(conf, path).build())
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toVector
      val rows = blocks.map(_.getRowCount).sum

      // A column's file-level range is only trustworthy if EVERY row group
      // carries stats for it; otherwise claim None (file always selected).
      def ranged[T](col: String, parse: AnyRef => T)(implicit ord: Ordering[T])
          : (Option[T], Option[T]) = {
        val perGroup = blocks.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == col).flatMap { c =>
            val st = c.getStatistics
            if (st != null && st.hasNonNullValue)
              Some((parse(st.genericGetMin.asInstanceOf[AnyRef]),
                    parse(st.genericGetMax.asInstanceOf[AnyRef])))
            else if (st != null && st.isNumNullsSet && st.getNumNulls == b.getRowCount)
              None // all-null group: contributes no range but doesn't poison
            else None
          }
        }
        val known = perGroup.flatten
        val allNullGroups = blocks.zip(perGroup).count { case (b, g) =>
          g.isEmpty && {
            val st = b.getColumns.asScala.find(_.getPath.toDotString == col).map(_.getStatistics)
            st.exists(s => s != null && s.isNumNullsSet && s.getNumNulls == b.getRowCount)
          }
        }
        if (known.size + allNullGroups < blocks.size || known.isEmpty) (None, None)
        else (Some(known.map(_._1).min), Some(known.map(_._2).max))
      }

      def asStr(o: AnyRef): String = o match {
        case b: Binary => b.toStringUsingUTF8
        case other => other.toString
      }
      def asInt(o: AnyRef): Int = o match {
        case i: java.lang.Integer => i.intValue
        case other => other.toString.toInt
      }

      def asLong(o: AnyRef): Long = o match {
        case l: java.lang.Long => l.longValue
        case other => other.toString.toLong
      }

      val (minC, maxC) = ranged(convCol, asStr)
      val (minT, maxT) = ranged(turnCol, asInt)
      // epoch-microsecond range: present only when the writer used
      // TIMESTAMP_MICROS (INT64) — INT96 carries no stats, and the all-null
      // / missing-column cases degrade to None exactly like conv/turn
      val (minTs, maxTs) = ranged(tsCol, asLong)
      FileStats(rows, in.getLength, minC, maxC, minT, maxT, minTs, maxTs)
    } finally reader.close()
  }
}
