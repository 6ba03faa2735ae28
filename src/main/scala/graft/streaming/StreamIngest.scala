package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType, TimestampType}

import graft.Log
import graft.ingest.Ingest
import graft.lake.LakeTable
import graft.maintain.MergeInto

/** Structured Streaming ingest: a file-arrival notifier over the one drop
  * path. Each file landing in a directory goes through exactly what a batch
  * caller runs: [[Ingest.validateDropFile]], then [[Ingest.parseDropFile]]
  * (dialect detection, layout classification, parse, sanitize), then one
  * [[MergeInto.merge]] per file. So a streamed drop may carry any dialect,
  * new columns, quoted newlines or the vertical layout, as a batch drop may.
  *
  * The reference has no streaming (a 60-min APScheduler cron,
  * backend/app/main.py:40-46); this is the Spark-native upgrade of that
  * loop. A file that fails validation (extension, 50 MB cap) is skipped
  * with a warning naming its reason, and the stream keeps going. Any other
  * error fails the stream, which restarts from its checkpoint. Exactly-once
  * effect: the checkpoint gives at-least-once foreachBatch delivery, and
  * re-merging a drop is a semantic no-op (non-empty-wins with identical
  * values reproduces the same table), so a replayed batch converges.
  */
object StreamIngest {

  /** The `binaryFile` source's schema, which a streaming file source must be given. */
  private val FileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Start the ingest stream over `dropDir`. Each micro-batch merges its
    * files in (modification time, path) order, so a later drop's values win.
    */
  def start(table: LakeTable, dropDir: String,
            checkpointDir: Option[String] = None): StreamingQuery =
    table.spark.readStream
      .format("binaryFile")
      .schema(FileSchema)
      .option("maxFilesPerTrigger", "32")
      .load(dropDir)
      // only the listing: parseDropFile reads each file itself
      .select("path", "modificationTime", "length")
      .writeStream
      .option("checkpointLocation",
        checkpointDir.getOrElse(table.root + "/_stream_checkpoint"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val uris = batch.orderBy("modificationTime", "path").collect().map(_.getString(0))
        uris.zipWithIndex.foreach { case (uri, i) =>
          ingest(table, new Path(uri).toUri.getPath, s"stream-$batchId-$i")
        }
      }
      .start()

  private def ingest(table: LakeTable, path: String, tag: String): Unit =
    Ingest.validateDropFile(path) match {
      case Left(reason) => Log.warn(s"stream ingest skipped a drop: $reason")
      case Right(()) =>
        MergeInto.merge(table, Ingest.parseDropFile(table.spark, path).records, tag)
    }
}
