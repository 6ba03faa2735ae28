package graft.maintain

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Dedup
import graft.lake.{DataFile, FileIO, LakeTable, MetaJson}

/** Lake-managed sketch columns: MinHash signatures + SimHash fingerprints
  * of each turn's normalized text, computed ONCE per immutable data file
  * and persisted in CONSOLIDATED batch files, with coverage recorded in
  * the table's own manifests (`DataFile.sketch` = the batch that covers
  * the file).
  *
  * Why: at 100 TB, the sketch build (a full decompress-and-hash pass over
  * every text) dominates a dedup pass's cost — signatures must be computed
  * once per immutable FILE, not once per PASS. And at the 10^6-file design
  * point, coverage truth must NOT be one directory per data file (3×10^6
  * filesystem objects, a driver stat per file per ensure, a 10^6-dir
  * parquet listing per dedup pass — the small-file problem rebuilt one
  * level up, the round-4 finding). So:
  *
  *   - one batch dir per WRITE (`sketches/batch-<tag>/part-*.parquet`,
  *     columns conv_id, turn_idx, minhash, simhash, n_tokens, __src where
  *     __src is the covered file's table-relative path);
  *   - coverage lives in manifest entries: a file is covered iff its
  *     `DataFile.sketch` points at a live batch — `ensure` on a covered
  *     table is pure metadata (O(manifests) + O(batches) dir stats,
  *     ZERO per-file filesystem stats);
  *   - an ACTIVE store (its `_meta.json` exists) makes every
  *     [[LakeTable.writeDataFiles]] sketch its own output while the rows
  *     are hot ([[sketchOnWrite]]) — so group rewrites (clustering,
  *     dedupe/delete survivors, the maintenance cycle) KEEP the table covered and a
  *     recluster no longer invalidates the store (the round-4 finding #6);
  *   - files written before activation (or whose batch was GC'd) are
  *     healed by [[ensure]]: one consolidated batch for all missing files
  *     plus a METADATA-ONLY commit stamping their entries.
  *
  * Params and the text normalization are pinned store-wide in
  * `_meta.json`: two signature generations must never silently mix into
  * one banding pass. GC: [[orphans]] names the batch dirs referenced by no
  * snapshot or ledger checkpoint.
  */
object Sketches {

  final case class Params(shingleK: Int = 3, numHashes: Int = 32)

  /** The `normalization` tag of the sketches this code computes: the text
    * is [[Dedup.normalizedText]], which collapses every whitespace run
    * before trimming. A store tagged otherwise (or untagged) was built by
    * the earlier rule, `lower-ws-collapse`, which trimmed only U+0020
    * first: its signatures and `n_tokens` disagree for texts with edge
    * tabs or newlines.
    */
  private val Normalization = "lower-ws-collapse-trim"

  final case class EnsureResult(
      sketches: DataFrame, // (conv_id, turn_idx, minhash, simhash, n_tokens, __src)
      totalFiles: Int,
      computedFiles: Int)

  /** The consolidated batch schema — reads always pass it explicitly, so a
    * batch whose write produced zero part files (all-empty inputs) still
    * reads as a valid empty frame.
    */
  val sketchSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("minhash", ArrayType(LongType)),
    StructField("simhash", LongType),
    StructField("n_tokens", IntegerType),
    StructField("__src", StringType)))

  private def storeDir(table: LakeTable): String = FileIO.path(table.root, "sketches")
  private def metaPath(table: LakeTable): String = FileIO.path(storeDir(table), "_meta.json")

  private def canSketch(table: LakeTable): Boolean = {
    val names = table.currentSnapshot.map(_.schema.fieldNames.toSet)
      .getOrElse(Set.empty)
    Set("conv_id", "turn_idx", "text").subsetOf(names)
  }

  /** Called by [[LakeTable.writeDataFiles]] on every write: when the store
    * is active, sketch THIS write's files (already hot) into one batch and
    * stamp the entries; inactive tables pay nothing.
    */
  def sketchOnWrite(table: LakeTable, entries: Vector[DataFile],
                    tag: String): Vector[DataFile] = {
    // a store of another normalization gets no new batch: ensure refuses it
    val params = if (entries.isEmpty) None else readMeta(table)
      .collect { case (p, Normalization) => p }
    params.filter(_ => canSketch(table)).fold(entries) { p =>
      val batch = computeBatch(table, entries.map(f => table.absData(f.path)), tag, p)
      entries.map(_.copy(sketch = Some(batch)))
    }
  }

  /** Make the current snapshot fully sketch-covered. Steady state (active
    * store, write-path sketching) this is METADATA-ONLY: read manifests,
    * see every entry's `sketch` points at a live batch, done. Files missing
    * coverage (pre-activation writes, GC'd batches) compute ONE
    * consolidated batch and their entries are re-stamped through a
    * metadata-only commitDelta — same snapshot isolation and conflict
    * semantics as any commit, no data file moves.
    */
  def ensure(table: LakeTable, params: Params = Params()): EnsureResult = {
    val spark = table.spark
    checkOrWriteMeta(table, params)

    val entries = table.currentEntries
    // O(batches) dir stats — NOT per-file: a batch is shared by a write's
    // whole output, and a covered table has zero missing batches
    val liveBatch: Set[String] = entries.flatMap(_.file.sketch).distinct
      .filter(b => table.io.stat(table.absData(b)).exists(_.isDir)).toSet
    val missing = entries.filter(e => !e.file.sketch.exists(liveBatch))

    val computed =
      if (missing.nonEmpty) {
        val tag = s"ensure-${java.util.UUID.randomUUID().toString.take(8)}"
        val batch = computeBatch(table,
          missing.map(e => table.absData(e.file.path)), tag, params)
        table.commitDelta(
          missing.map(_.file.copy(sketch = Some(batch))), missing, "sketch",
          summary = Map("sketch_batch" -> batch,
            "files_covered" -> missing.size.toString))
        missing.size
      } else 0

    EnsureResult(sketchesFrame(table), entries.size, computed)
  }

  /** The full sketch frame for the CURRENT snapshot: read the distinct
    * batches its entries reference, keep only rows of still-current files
    * (a shared batch can carry rows for files a later op removed). The
    * path set is metadata-sized, so the filter is a broadcast semi-join.
    */
  def sketchesFrame(table: LakeTable): DataFrame = {
    val spark = table.spark
    val entries = table.currentEntries
    val batches = entries.flatMap(_.file.sketch).distinct
      .map(table.absData).filter(p => table.io.stat(p).exists(_.isDir))
    val base =
      if (batches.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          sketchSchema)
      else spark.read.options(table.dataReadOptions)
        .schema(sketchSchema).parquet(batches: _*)
    val current = spark.createDataset(entries.map(_.file.path))(Encoders.STRING)
      .toDF("__src")
    base.join(broadcast(current), Seq("__src"), "left_semi")
      .select("conv_id", "turn_idx", "minhash", "simhash", "n_tokens", "__src")
  }

  /** One Spark job sketches a set of files into one consolidated batch dir,
    * published with a rename (a torn write is re-staged, never trusted).
    * `__src` is a regular COLUMN (table-relative data path), not a
    * partition dir — no per-file directories, no partition-name escaping
    * hazards.
    */
  private def computeBatch(table: LakeTable, absPaths: Vector[String],
                           tag: String, params: Params): String = {
    val staging = FileIO.path(storeDir(table), s"_staging-$tag")
    val rows = table.readData(absPaths)
      .select(col("conv_id"), col("turn_idx"),
        Dedup.normalizedText(col("text")).as("__tn"), LakeTable.sourceFile)
      .select(col("conv_id"), col("turn_idx"),
        Dedup.minhashSignatureNative(col("__tn"), params.shingleK, params.numHashes)
          .as("minhash"),
        Dedup.simhash64Native(col("__tn")).as("simhash"),
        // token count of the normalized text rides along so downstream
        // eligibility filters (minTokens, non-empty) need no join back
        // to the raw text
        when(length(col("__tn")) === 0, 0)
          .otherwise(size(split(col("__tn"), " "))).cast("int").as("n_tokens"),
        col("__src"))
    rows.write.mode("overwrite").options(table.dataWriteOptions)
      .option("compression", "zstd").parquet(staging)
    val rel = s"sketches/batch-$tag"
    table.io.rename(staging, table.absData(rel))
    rel
  }

  /** The store's sweep candidates for [[OrphanGc]] (which applies the grace
    * age), as relative `sketches/...` paths: batch dirs referenced by NO
    * snapshot entry and NO ledger checkpoint (`referencedBatches`), crashed
    * `_staging-*` residue and `_meta.json` temps. `_meta.json` itself stays.
    */
  private[maintain] def orphans(table: LakeTable,
                                referencedBatches: Set[String]): Vector[String] =
    table.io.list(storeDir(table)).filter { name =>
      name.startsWith("_staging-") || FileIO.isTemp(name) ||
        !name.startsWith("_") && !referencedBatches(s"sketches/$name")
    }.map(name => s"sketches/$name")

  /** The store's pinned params and normalization tag (a store written
    * before the tag existed has the earlier rule's). The store is ACTIVE
    * once `_meta.json` exists (the first `ensure` writes it); only then do
    * writes pay the sketch pass.
    */
  private def readMeta(table: LakeTable): Option[(Params, String)] =
    table.io.read(metaPath(table)).map(MetaJson.read).map(n =>
      (Params(n.get("shingle_k").asInt, n.get("num_hashes").asInt),
        Option(n.get("normalization")).fold("lower-ws-collapse")(_.asText)))

  private def checkOrWriteMeta(table: LakeTable, params: Params): Unit =
    readMeta(table) match {
      case Some(existing) =>
        require(existing == (params, Normalization),
          s"sketch store at ${storeDir(table)} was built with $existing, called " +
            s"with ${(params, Normalization)} — two signature generations must " +
            "not mix; delete the store to rebuild")
      case None =>
        val o = MetaJson.mapper.createObjectNode()
        o.put("shingle_k", params.shingleK)
        o.put("num_hashes", params.numHashes)
        o.put("normalization", Normalization)
        table.io.replace(metaPath(table), MetaJson.write(o))
    }
}
