package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary

import scala.jdk.CollectionConverters._

/** A data file's [[KeyRange]] from its Parquet FOOTER — metadata-only
  * reads (a few KB per file), never a data scan. This is what makes stat
  * collection viable at 10^12-turn scale: the write job already produced
  * row-group statistics; we only take their hull per file. For large file
  * counts the per-file footer reads parallelize trivially (they are
  * independent); the driver loop here is fine for thousands of files.
  *
  * Plays the role of the reference's `records_count`/metadata bookkeeping
  * (file_repository.py:95-109) extended with pruning ranges.
  */
object ParquetStats {

  final case class FileStats(rows: Long, bytes: Long, keys: KeyRange)

  def read(absPath: String, conf: Configuration): FileStats = {
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

      // A column's file range is the hull of its row groups' ranges, in
      // the column's own order. A group whose column is all null adds
      // nothing; a group without stats for it (or a file with no value in
      // it) leaves the column unknown, so the file is always selected.
      def hull[T](col: String, parse: AnyRef => T, on: Bounds[T] => KeyRange): KeyRange =
        KeyRange.hull(blocks.flatMap { b =>
          val st = b.getColumns.asScala.find(_.getPath.toDotString == col)
            .map(_.getStatistics).orNull
          if (st != null && st.hasNonNullValue)
            Some(on(Bounds(Some(parse(st.genericGetMin.asInstanceOf[AnyRef])),
              Some(parse(st.genericGetMax.asInstanceOf[AnyRef])))))
          else if (st != null && st.isNumNullsSet && st.getNumNulls == b.getRowCount) None
          else Some(KeyRange.all)
        })

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

      // the ts range is present only when the writer used TIMESTAMP_MICROS
      // (INT64): INT96 carries no stats
      FileStats(rows, in.getLength, KeyRange(
        hull(KeyRange.ConvCol, asStr, KeyRange.onConv).conv,
        hull(KeyRange.TurnCol, asInt, KeyRange.onTurn).turn,
        hull(KeyRange.TsCol, asLong, KeyRange.onTs).ts))
    } finally reader.close()
  }
}
