package graft.maintain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.Dedup
import graft.lake.{DataFile, FileIO, LakeTable, Snapshot}

/** Lake-integrated deduplication: the dedup suite's groups APPLIED to the
  * transcript table as a maintenance operation — the reference's core
  * competency (id-keyed record merging, csv_handler.py:66-97, where later
  * duplicates collapse into one surviving record) carried to its lakehouse
  * conclusion. A pass finds turns whose (normalized) text duplicates
  * another turn's, keeps ONE canonical row per duplicate group (the
  * smallest (conv_id, turn_idx) key), and rewrites ONLY the data files
  * holding the removed rows through the existing commitDelta path — the
  * rest of the table (files AND manifests) carries forward untouched.
  *
  * Modes:
  *   - `exact` (default): groups are identical normalized text (lower,
  *     collapsed whitespace) — one window, no candidate generation;
  *   - `minhash`: near-duplicate groups from MinHash-LSH candidate pairs
  *     (shingle-Jaccard similarity) + min-key label propagation
  *     ([[Dedup.dedupGroupsResult]]);
  *   - `simhash`: near-duplicate groups from the banded-Hamming join over
  *     the stored 64-bit fingerprints (Hamming distance <= 3).
  *
  * Both near-dup modes read the lake-managed per-file sketch store
  * ([[Sketches]]) — zero signature recompute for already-covered files —
  * and REFUSE to delete when label propagation did not converge (partial
  * groups must never drive deletions).
  *
  * Scale shape (10^12 turns): the victim set is computed in one corpus pass
  * (a window over the text, or LSH banding) and persisted once under the
  * job's ledger dir; ONE aggregate over it counts victims per data file into
  * a sidecar beside the plan ([[Ledger.writeCounts]]). They give the touched
  * files, the pass's duplicate rows and each group's expected survivors,
  * which the group's write is checked against. The rewrite is O(files
  * containing victims): each ledger-checkpointed task anti-joins one bounded
  * file group against ITS OWN victims (pre-filtered by file provenance) and
  * writes the survivors sorted ([[LakeTable.writeSorted]]: a group within one
  * scan split and 16 MB is one task with no Exchange), so a pass removing
  * 0.1% of turns rewrites ~0.1% of files. The groups run through the ledger's
  * job protocol ([[Ledger.planOrResume]], [[Ledger.runJob]]), so resume skips
  * finished groups.
  *
  * Rows with empty normalized text are never deduplicated (a transcript's
  * legitimately empty turns are not "duplicates" of each other), and
  * `minTokens` optionally raises that bar so short boilerplate ("ok",
  * "yes") keeps every copy.
  */
object Dedupe {

  /** `skippedConvs`: conversations a `unit = "conversation"` pass left out
    * because their normalized text exceeds `maxConvChars` (kept verbatim,
    * never victims).
    */
  final case class Result(snapshot: Snapshot, duplicateRows: Long,
                          touchedFiles: Int, groupsRewritten: Int,
                          resumedGroups: Int, converged: Boolean,
                          skippedConvs: Long = 0L)

  /** The per-file victim counts sidecar, beside the ledger plan. */
  private val CountsFile = "dedupe-victims.json"

  /** Remove duplicate-text turns from the current snapshot. Idempotent per
    * (jobId): a committed pass returns its snapshot without rescanning.
    */
  def runPass(table: LakeTable, jobId: String,
              mode: String = "exact",
              minTokens: Int = 1,
              unit: String = "turn",
              minJaccard: Double = 0.9,
              maxIters: Int = 50,
              maxConvChars: Long = 8L << 20,
              targetFileRows: Long = 1L << 20,
              groupTargetBytes: Long = 256L << 20,
              interruptAfter: Int = Int.MaxValue): Result = {
    require(Set("exact", "minhash", "simhash")(mode), s"unknown dedupe mode $mode")
    require(Set("turn", "conversation")(unit), s"unknown dedupe unit $unit")

    // empty table: nothing to dedupe — a no-op, not an error, so a
    // maintenance cycle with dedupe enabled runs cleanly on a fresh table
    if (table.currentFiles.isEmpty)
      return Result(table.currentSnapshot.getOrElse(
        throw new IllegalStateException(s"no table at ${table.root}")),
        0L, 0, 0, 0, converged = true)

    val victimsDir = FileIO.path(table.ledgerDir, jobId, "victims.parquet")
    // the plan kind pins the SEMANTICS-BEARING parameters: a resume with a
    // different mode/unit/minTokens must fail loudly instead of silently
    // applying a victim set computed under other rules (Clustering pins its
    // curve in the plan for the same reason)
    val planKind =
      if (unit == "conversation") s"dedupe:$mode:$unit:$minTokens:cap$maxConvChars"
      else s"dedupe:$mode:$unit:$minTokens"

    // ---- plan: compute + persist the victim set, count it per file ------
    val plan = Ledger.planOrResume(table, jobId, "dedupe", planKind) {
      val (victims, skipped) =
        if (unit == "conversation")
          computeConvVictims(table, mode, minTokens, minJaccard, maxIters,
            maxConvChars)
        else (computeVictims(table, mode, minTokens, minJaccard, maxIters), 0L)
      // atomic publish: write to a tmp dir, rename over — a crash mid-write
      // can never leave a torn victim set a resume would trust
      val tmp = victimsDir + ".tmp"
      table.io.delete(tmp)
      victims.write.mode("overwrite").parquet(tmp)
      victims.unpersist() // no-op for the exact mode's unpersisted frame
      table.io.delete(victimsDir)
      table.io.rename(tmp, victimsDir)

      // Touched files = those holding at least one victim row; everything
      // else carries forward without being read again. Counts first, plan
      // second: a plan on disk implies its counts exist.
      val counts = countVictims(table, victimsDir)
      Ledger.writeCounts(table, jobId, CountsFile, counts, "skipped_convs" -> skipped)
      val byPath = table.currentFiles.map(f => f.path -> f).toMap
      val touched = counts.keys.toVector.sorted.map(byPath(_))
      val groups = Clustering.greedyGroups(
        touched.sortBy(f => (f.minConv.getOrElse(""), f.minTurn.getOrElse(0))),
        groupTargetBytes).filter(_.nonEmpty)
      Ledger.Plan(table.currentSnapshotId.get, groups.map(_.map(_.path)))
    } match {
      case Left(s) => return Result(s, 0L, 0, 0, 0, converged = true)
      case Right(p) => p
    }
    require(table.io.stat(victimsDir).isDefined,
      s"dedupe plan for $jobId exists but its victim set is missing")
    // a plan written before the counts sidecar existed has none: unlike
    // DELETE's, these counts rebuild from the published victim set (the
    // oversized-conversation count does not, and reads 0)
    if (Ledger.readJobFile(table, jobId, CountsFile).isEmpty)
      Ledger.writeCounts(table, jobId, CountsFile, countVictims(table, victimsDir),
        "skipped_convs" -> 0L)
    val (counts, sidecar) = Ledger.readCounts(table, jobId, CountsFile)
    val nVictims = counts.values.sum
    val nTouched = plan.groups.map(_.size).sum

    val (snap, tasks) = Ledger.runJob(table, jobId, "dedupe", plan,
      parallelism = Ledger.shuffleParallelism(table), interruptAfter) { (in, gi) =>
      val paths = in.map(_.path)
      val inBytes = in.map(_.bytes).sum
      val survivors = in.map(_.rows).sum - paths.map(counts.getOrElse(_, 0L)).sum
      // a group in one task joins in one partition: both sides coalesced,
      // and a sort-merge join (a small victim set would otherwise be
      // broadcast) plans with no Exchange. The join is a left outer one
      // keeping unmatched rows, not a left anti one, which the optimizer
      // would push below the coalesce. It adds no column: a victim's key
      // is never null, so a null one marks an unmatched row.
      val oneTask = table.fitsOneTask(inBytes)
      def part(df: DataFrame) = if (oneTask) df.coalesce(1) else df
      // this group's victims only: provenance pre-filter keeps the join
      // proportional to the group, not the whole pass
      val groupVictims = part(readVictims(table, victimsDir)
        .where(col("__src").isin(paths: _*))
        .select("conv_id", "turn_idx")).as("v")
      // a slab that was ENTIRELY duplicates leaves nothing to write:
      // an empty parquet part would enter the manifest stats-less
      // (never pruned) — same rule as the no-op merge
      val out =
        if (survivors == 0L) Vector.empty[DataFile]
        else table.writeSorted(
          part(table.readData(paths.map(table.absData))).as("t")
            .join(if (oneTask) groupVictims.hint("merge") else groupVictims,
              col("t.conv_id") === col("v.conv_id") &&
                col("t.turn_idx") === col("v.turn_idx"), "left_outer")
            .where(col("v.conv_id").isNull)
            .select(col("t.*")),
          s"$jobId-g$gi", inBytes, survivors, targetFileRows,
          Seq(col("conv_id"), col("turn_idx")))
      val written = out.map(_.rows).sum
      require(written == survivors,
        s"dedupe group $gi wrote $written survivors but the plan counted " +
          s"$survivors — victim set out of step with the table? refusing to commit")
      out
    } { _ =>
      Map("mode" -> mode,
        "duplicate_rows" -> nVictims.toString,
        "touched_files" -> nTouched.toString)
    }
    Result(snap, nVictims, nTouched, plan.groups.size, tasks.count(_._2),
      converged = true, skippedConvs = sidecar.get("skipped_convs").asLong)
  }

  /** Victims per data file: ONE aggregate over the published set, in one
    * task with no Exchange when the set is small ([[LakeTable.fitsOneTask]]).
    */
  private def countVictims(table: LakeTable, victimsDir: String): Map[String, Long] = {
    val published = readVictims(table, victimsDir)
    val setBytes = table.io.list(victimsDir)
      .flatMap(n => table.io.stat(FileIO.path(victimsDir, n))).map(_.size).sum
    (if (table.fitsOneTask(setBytes)) published.coalesce(1) else published)
      .groupBy("__src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** The published victim set: (conv_id, turn_idx, __src), read with its
    * schema given, so no job infers it.
    */
  private def readVictims(table: LakeTable, dir: String): DataFrame = {
    val st = table.schema.toStruct
    table.spark.read.schema(StructType(Seq(st("conv_id"), st("turn_idx"),
      StructField("__src", StringType)))).parquet(dir)
  }

  /** Components over the DISTINCT sketches of `df` (must carry a `__sk`
    * column — minhash array signature or simhash long fingerprint — plus
    * the row-key column `keyCol`), with the verify gates applied on the
    * SKETCH graph:
    *   - minhash: LSH banding proposes candidate signature pairs, then the
    *     estimated-Jaccard VERIFY (agreeing positions are an unbiased
    *     Jaccard estimator; requiring >= ceil(32 * minJaccard) turns raw
    *     band collisions — a J~0.5 pair still shares one of 8 bands ~40%
    *     of the time — into high-confidence edges, and exact duplicates
    *     always pass);
    *   - simhash: pairs arrive Hamming-verified (<= 3) from the banded join.
    *
    * Node id = the MIN row key among the sketch's members: DETERMINISTIC
    * under any recomputation (a monotonically-increasing id would reassign
    * if a cache block were lost and rebuilt with a different shuffle-fetch
    * order — silent group corruption on a real cluster; hashing the
    * signature to 64 bits would merge unrelated groups at ~n^2/2^64 odds —
    * unacceptable for deletions), collision-free by construction (each row
    * has one sketch, so per-sketch min-key sets are disjoint), and it makes
    * the propagated `group_id` (min node id over the component) EXACTLY the
    * component's keeper key — no separate keeper aggregation needed.
    *
    * Returns `df` with a `group_id` column joined in (the keeper key: a
    * member is a victim iff its own key differs), plus a release thunk the
    * caller invokes AFTER materializing anything derived from it. Throws
    * (and releases) on non-convergence — partial groups must never drive
    * deletions.
    */
  private def sketchComponents(df: DataFrame, keyCol: String, mode: String,
                               minJaccard: Double, maxIters: Int,
                               what: String): (DataFrame, () => Unit) = {
    val nodes = df.groupBy(col("__sk")).agg(min(col(keyCol)).as("__nid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    nodes.count() // materialize once for the three consumers below
    val need = math.ceil(32 * minJaccard).toInt
    val pairs =
      if (mode == "minhash") {
        // pair set is cap-bounded and post-verify sparse: the two
        // array-keyed id lookups are joins over a SMALL frame
        Dedup.minhashSigPairs(nodes.select(col("__sk")), "__sk")
          .where(Dedup.sigAgreement(col("sig_a"), col("sig_b")) >= need)
          .join(nodes.select(col("__sk").as("sig_a"), col("__nid").as("id_a")), Seq("sig_a"))
          .join(nodes.select(col("__sk").as("sig_b"), col("__nid").as("id_b")), Seq("sig_b"))
          .select("id_a", "id_b")
      } else Dedup.simhashFpPairs(nodes.select(col("__sk")), "__sk")
        .join(nodes.select(col("__sk").as("fp_a"), col("__nid").as("id_a")), Seq("fp_a"))
        .join(nodes.select(col("__sk").as("fp_b"), col("__nid").as("id_b")), Seq("fp_b"))
        .select("id_a", "id_b")
    val r = Dedup.dedupGroupsResult(nodes.select(col("__nid")), "__nid",
      pairs, maxIters)
    if (!r.converged) {
      nodes.unpersist(); r.groups.unpersist()
      throw new IllegalStateException(
        s"dedupe($what): label propagation did not converge — refusing " +
          "to delete rows based on partial duplicate groups; raise " +
          "maxIters or investigate the candidate graph")
    }
    (df.join(nodes, Seq("__sk")).join(r.groups, Seq("__nid")).drop("__nid"),
      () => { nodes.unpersist(); r.groups.unpersist(); () })
  }

  /** The victim rows (conv_id, turn_idx, __src): every row that is NOT its
    * duplicate group's keeper, the smallest (conv_id, turn_idx) struct in
    * the group (rows sharing it all survive) — the reference's
    * first-occurrence-survives rule under the table's stable key order.
    * `exact` reads the files once into a window keyed on the full
    * normalized text (no hash collision merges groups): one task with no
    * Exchange when they fit one ([[LakeTable.fitsOneTask]]), else one
    * hash Exchange on the text.
    */
  private[maintain] def computeVictims(table: LakeTable, mode: String,
                                       minTokens: Int,
                                       minJaccard: Double = 0.9,
                                       maxIters: Int = 50): DataFrame = {
    require(table.currentFiles.nonEmpty, s"no data files to dedupe at ${table.root}")

    mode match {
      case "exact" =>
        val files = table.currentFiles
        val rows = table.readData(files.map(f => table.absData(f.path)))
          .select(col("conv_id"), col("turn_idx"),
            // provenance as a TABLE-RELATIVE path, matching manifest entries
            concat(lit("data/"),
              element_at(split(input_file_name(), "/"), -1)).as("__src"),
            Dedup.normalizedText(col("text")).as("__tn"))
        val key = struct(col("conv_id"), col("turn_idx"))
        // a non-empty text has at least one token: the token bar only
        // filters when it is above one
        val tokens = if (minTokens > 1) size(split(col("__tn"), " ")) >= minTokens else lit(true)
        (if (table.fitsOneTask(files.map(_.bytes).sum)) rows.coalesce(1) else rows)
          .where(length(col("__tn")) > 0 && tokens)
          .withColumn("__keep", min(key).over(Window.partitionBy("__tn")))
          .where(key =!= col("__keep"))
          .select("conv_id", "turn_idx", "__src")

      case "minhash" | "simhash" =>
        // Signatures come from the LAKE-MANAGED SKETCH STORE ([[Sketches]]):
        // only data files added since the last sketched pass compute
        // anything — the corpus-scale hash pass happens once per immutable
        // file, not once per dedup pass. Sketches are built over the
        // NORMALIZED text — the same equivalence the exact mode groups on —
        // so exact duplicates differing only in case/whitespace are
        // guaranteed candidates (identical signature/fingerprint, every
        // band shared).
        //
        // EVERYTHING expensive runs on the DISTINCT-SKETCH graph, never on
        // row pairs: banding, the estimated-Jaccard verify (a function of
        // the two signatures alone) and the label propagation all see ONE
        // node per distinct signature/fingerprint. Members join in exactly
        // once at the end — a boilerplate text with 10^5 identical copies
        // contributes 10^5 member rows, never 10^10/2 within-group pairs,
        // and its copies still dedupe through the shared sketch node.
        val sk = Sketches.ensure(table)
        val sketchCol = if (mode == "minhash") "minhash" else "simhash"
        // composite row key ("\u0001" separator — never occurs in conv
        // ids); keeper = lexicographically smallest key: deterministic
        // (numeric turn order within a conv is not required, only a stable
        // canonical pick) — same rule as the row-pair formulation this
        // replaces.
        val keyed = sk.sketches
          .where(col("n_tokens") >= math.max(1, minTokens))
          .select(col("conv_id"), col("turn_idx"), col("__src"),
            col(sketchCol).as("__sk"),
            concat_ws("\u0001", col("conv_id"), col("turn_idx").cast("string"))
              .as("__k"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (comp, release) = sketchComponents(keyed, "__k", mode, minJaccard,
          maxIters, what = mode)
        // group_id IS the component's keeper key (min member key): a row is
        // a victim iff its own key differs — one membership join, no
        // separate keeper aggregation
        val out = comp.where(col("__k") =!= col("group_id"))
          .select("conv_id", "turn_idx", "__src")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // materialize BEFORE releasing the node/label caches — the victim
        // frame's lineage reaches back through the whole propagation
        out.count()
        keyed.unpersist(); release()
        out
    }
  }

  /** Victim rows for `unit = "conversation"`, and the number of
    * conversations skipped as oversized: whole conversations whose
    * CONCATENATED normalized text duplicates another conversation's are
    * removed entirely (all their turns), keeping the smallest conv_id —
    * the dedup granularity a training pipeline usually wants for dialog
    * data, where a turn repeated WITHIN one conversation ("ok", a retried
    * tool call) is structure, not redundancy.
    *
    * Shape: one groupBy(conv_id) assembles each conversation's ordered
    * text (a conversation fits a task trivially; the hot-conv skew the
    * synth plants is thousands of turns, not billions), then the turn-level
    * machinery runs on the ~|convs|-sized frame. Conversation sketches are
    * computed fresh — the per-file store is per-turn; a conv-level store
    * would go stale on any merge touching the conversation.
    */
  private[maintain] def computeConvVictims(table: LakeTable, mode: String,
                                           minTokens: Int,
                                           minJaccard: Double = 0.9,
                                           maxIters: Int = 50,
                                           maxConvChars: Long = 8L << 20): (DataFrame, Long) = {
    val paths = table.currentFiles.map(f => table.absData(f.path))
    val rows = table.readData(paths)
      .select(col("conv_id"), col("turn_idx"),
        concat(lit("data/"),
          element_at(split(input_file_name(), "/"), -1)).as("__src"),
        Dedup.normalizedText(col("text")).as("__tn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Robustness gate BEFORE the text assembly: per-conv total length is a
    // cheap map-side-combining agg, and only conversations under the cap
    // reach the collect_list — one degenerate 10^8-turn conversation must
    // fail GRACEFULLY (skipped with a loud note, never a victim) instead
    // of OOMing the task that concatenates it. The count is reported as
    // the Result's `skippedConvs`.
    val lens = rows.groupBy(col("conv_id"))
      .agg(sum(length(col("__tn")) + lit(1)).as("__clen"))
    val nOversized = lens.where(col("__clen") > maxConvChars).count()
    val eligible = lens.where(col("__clen") <= maxConvChars).select("conv_id")

    val conv = rows.join(eligible, Seq("conv_id"))
      .groupBy(col("conv_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("turn_idx"), col("__tn")))),
          s => s.getField("__tn")), "\n").as("__ctext"))
      .where(length(col("__ctext")) > 0 &&
        size(split(col("__ctext"), "[ \n]+")) >= minTokens)

    val victimConvs = mode match {
      case "exact" =>
        // the same window as the turn unit: `conv` is computed once
        conv.withColumn("__keep", min(col("conv_id")).over(Window.partitionBy("__ctext")))
          .where(col("conv_id") =!= col("__keep"))
          .select("conv_id")
      case _ =>
        // conversation sketches are computed fresh on the conv-level frame
        // (the per-file store is per-turn), then the SAME distinct-sketch
        // component machinery as the turn path runs — a conversation
        // duplicated 10^5 times costs member rows, never member pairs
        val convSk = (if (mode == "minhash")
            conv.withColumn("__sk",
              Dedup.minhashSignatureNative(col("__ctext"), 3, 32))
          else conv.withColumn("__sk", Dedup.simhash64Native(col("__ctext"))))
          .select(col("conv_id"), col("__sk"))
        val (comp, release) = sketchComponents(convSk, "conv_id", mode,
          minJaccard, maxIters, what = s"$mode, conversation")
        val v = comp.where(col("conv_id") =!= col("group_id"))
          .select("conv_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        v.count()
        release()
        v
    }

    val out = rows.join(victimConvs, Seq("conv_id"))
      .select("conv_id", "turn_idx", "__src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    rows.unpersist()
    victimConvs.unpersist() // no-op for the exact branch's unpersisted frame
    (out, nOversized)
  }
}
