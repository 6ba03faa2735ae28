package graft

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Cached, Sanitize}
import graft.lake.LakeTable
import graft.maintain.{Clustering, MergeInto}

/** Deterministic lakehouse fixture for the driver-oracle queries: the
  * `events` test table is transcript-ized (same derivation is expressed in
  * the DuckDB oracle SQL), loaded into a lake table, then maintained:
  * load -> cluster -> MERGE (error-turn corrections) -> cluster.
  * Snapshot ids are pinned before/after the merge so oracle queries can
  * check snapshot isolation. Built once per (JVM, sfDir).
  */
object LakeFixtures {

  final case class Fixture(table: LakeTable, preMergeSnapshot: Long)

  private val cache = scala.collection.concurrent.TrieMap.empty[String, Fixture]

  /** The transcript-ization of `events` — keep in lockstep with
    * [[SparkEntry.transcriptOracleSql]].
    */
  def transcripts(spark: SparkSession, sfDir: String): DataFrame = {
    val e = spark.read.parquet(s"$sfDir/events.parquet")
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val turn = (row_number().over(w) - 1).cast("int")
    e.select(
      concat(lit("u"), lpad(col("user_id").cast("string"), 6, "0")).as("conv_id"),
      turn.as("turn_idx"),
      element_at(typedLit(Seq("user", "assistant", "tool")),
        pmod(turn, lit(3)).cast("int") + 1).as("role"),
      Sanitize.sanitizeCell(
        when(col("event_type") === "error", concat(lit("=ALERT "), col("props")))
          .otherwise(col("props"))).as("text"),
      when(pmod(turn, lit(3)) === 2, col("event_type")).otherwise(lit(null).cast("string")).as("tool"),
      col("ts"))
  }

  /** Staged correction drop: every error event's turn gets corrected text.
    * `_seq` = event order; role/tool left empty (must NOT clobber).
    */
  def correctionDrop(spark: SparkSession, sfDir: String): DataFrame = {
    val e = spark.read.parquet(s"$sfDir/events.parquet")
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val turn = (row_number().over(w) - 1).cast("int")
    e.select(
      concat(lit("u"), lpad(col("user_id").cast("string"), 6, "0")).as("conv_id"),
      turn.cast("string").as("turn_idx"),
      lit("").as("role"),
      when(col("event_type") === "error", concat(lit("corrected "), col("props")))
        .otherwise(lit("")).as("text"),
      lit("").as("tool"),
      col("event_id").as("_seq"))
      .where(col("text") =!= "")
  }

  final case class DedupFixture(table: LakeTable, postDedupeSnapshot: Long,
                                preRetentionSnapshot: Long)

  private val dedupCache = scala.collection.concurrent.TrieMap.empty[String, DedupFixture]

  /** A SECOND lake table per sfDir for the row-level DML queries: load the
    * pre-merge transcripts, [[Dedupe.runPass]] removes every non-keeper
    * duplicate-text turn (q34 pins THIS snapshot), then [[DeleteFrom]]
    * removes a conversation range (q37 pins the resulting snapshot), then
    * an EVENT-TIME retention delete removes every turn of the first day
    * (q38 reads the current snapshot) — the predicate's ts bound prunes on
    * the per-file event-time stats exactly as a scheduled retention tick
    * does. Separate from [[forDir]]'s table — these commits must not
    * disturb the q19-q21/q29 oracles pinned to that fixture's narrative.
    */
  def dedupForDir(spark: SparkSession, sfDir: String): DedupFixture =
    dedupCache.getOrElseUpdate(sfDir, {
      val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val root = Paths.get("target", "lakededup", tag).toString
      LakeTable.deleteRecursively(Paths.get(root))
      val t = LakeTable.create(spark, root,
        org.apache.spark.sql.types.StructType(graft.synth.TranscriptSynth.schema))
      // cached across the range-sample + write double-read (see
      // encryptedForDir)
      Cached.withCached(transcripts(spark, sfDir)) { tr =>
        t.append(tr
          .repartitionByRange(8, org.apache.spark.sql.functions.col("conv_id"),
            org.apache.spark.sql.functions.col("turn_idx")), s"dload-$tag")
      }
      graft.maintain.Dedupe.runPass(t, s"dedupe-$tag", targetFileRows = 4000)
      val post = t.currentSnapshotId.get
      graft.maintain.DeleteFrom.run(t, s"delete-$tag",
        "conv_id BETWEEN 'u000100' AND 'u000119'", targetFileRows = 4000)
      val preRet = t.currentSnapshotId.get
      // retention cutoff = min event time + 1 day, taken from the MANIFEST
      // stats (no data scan) — the oracle states the same bound in SQL
      val firstTsUs = t.currentFiles.flatMap(_.keys.ts.lo).min
      graft.maintain.DeleteFrom.run(t, s"retention-$tag",
        s"ts < timestamp_micros(${firstTsUs + 86400000000L}L)",
        targetFileRows = 4000)
      DedupFixture(t, post, preRet)
    })

  private val dedupConvCache = scala.collection.concurrent.TrieMap.empty[String, LakeTable]

  /** A THIRD lake table per sfDir for conversation-unit dedup (q36): the
    * transcripts plus z-prefixed EXACT COPIES of the first 50 conversations,
    * then `Dedupe.runPass(unit = "conversation")` — the pass must remove
    * exactly the planted copies (keeper = smaller conv_id) and nothing
    * else, so the surviving row set equals the original transcripts.
    */
  def dedupConvForDir(spark: SparkSession, sfDir: String): LakeTable =
    dedupConvCache.getOrElseUpdate(sfDir, {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val root = Paths.get("target", "lakededupconv", tag).toString
      LakeTable.deleteRecursively(Paths.get(root))
      val t = LakeTable.create(spark, root,
        org.apache.spark.sql.types.StructType(graft.synth.TranscriptSynth.schema))
      // base feeds itself + the planted copies + the range sampler —
      // cached so the events window runs once, not four times
      Cached.withCached(transcripts(spark, sfDir)) { base =>
        val copies = base.where(col("conv_id") < "u000050")
          .withColumn("conv_id", concat(lit("z"), col("conv_id")))
        t.append(base.unionByName(copies)
          .repartitionByRange(8, col("conv_id"), col("turn_idx")), s"cload-$tag")
      }
      graft.maintain.Dedupe.runPass(t, s"dedupe-conv-$tag",
        unit = "conversation", targetFileRows = 4000)
      t
    })

  /** Deterministic FIXTURE master key (a real deployment injects its own
    * secret) — the oracle query proves an ENCRYPTED table answers
    * byte-identically to plain SQL over the source events.
    */
  val FixtureKeyB64: String = java.util.Base64.getEncoder.encodeToString(
    Array.tabulate[Byte](32)(i => (i * 7 + 3).toByte))

  private val encCache = scala.collection.concurrent.TrieMap.empty[String, LakeTable]

  /** A FOURTH lake table per sfDir, Parquet-Modular-ENCRYPTED (uniform
    * AES-GCM): pre-merge transcripts, conv-range loaded so pruning has
    * slabs to skip — the footer stats live inside encrypted footers and
    * still drive the two-level metadata prune.
    */
  def encryptedForDir(spark: SparkSession, sfDir: String): LakeTable =
    encCache.getOrElseUpdate(sfDir, {
      import org.apache.spark.sql.functions.col
      spark.conf.set(graft.lake.Crypto.SessionKeyConf, FixtureKeyB64)
      val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val root = Paths.get("target", "lakeenc", tag).toString
      LakeTable.deleteRecursively(Paths.get(root))
      val t = LakeTable.create(spark, root,
        org.apache.spark.sql.types.StructType(graft.synth.TranscriptSynth.schema),
        encrypted = true)
      // transcripts (a window over events) is read TWICE by a
      // repartitionByRange append — the range-boundary sampling pass and
      // the write itself; cache so the window runs once (q39 pays this
      // fixture inside its timed query)
      Cached.withCached(transcripts(spark, sfDir)) { tr =>
        t.append(tr.repartitionByRange(8, col("conv_id"), col("turn_idx")), s"eload-$tag")
      }
      t
    })

  def forDir(spark: SparkSession, sfDir: String): Fixture = cache.getOrElseUpdate(sfDir, {
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val root = Paths.get("target", "lakeq", tag).toString
    LakeTable.deleteRecursively(Paths.get(root))

    val t = LakeTable.create(spark, root,
      org.apache.spark.sql.types.StructType(graft.synth.TranscriptSynth.schema))
    t.append(transcripts(spark, sfDir).repartition(16), s"load-$tag")
    Clustering.cluster(t, s"cluster1-$tag", targetFileRows = 4000)
    val pre = t.currentSnapshotId.get
    MergeInto.merge(t, correctionDrop(spark, sfDir), s"merge-$tag", targetFileRows = 4000)
    Clustering.cluster(t, s"cluster2-$tag", targetFileRows = 4000)
    Fixture(t, pre)
  })
}
