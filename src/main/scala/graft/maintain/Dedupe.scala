package graft.maintain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.{Cached, Dedup}
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
  * job's ledger dir; ONE aggregate over it counts victims per data file.
  * [[Ledger.rewrite]] then rewrites only the files containing victims,
  * each bounded group anti-joined against ITS OWN victims (pre-filtered by
  * file provenance), so a pass removing 0.1% of turns rewrites ~0.1% of
  * files, and a resume skips finished groups.
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

  /** Minhash signature length, and the estimated Jaccard a candidate pair
    * must reach: ceil(32 * 0.9) = 29 agreeing positions.
    */
  private val SigHashes = 32
  private val MinJaccard = 0.9

  /** `runPass`'s defaults, which the maintenance cycle's dedupe runs with. */
  private[maintain] val DefaultMinTokens = 1
  private[maintain] val DefaultUnit = "turn"
  private[maintain] val DefaultMaxIters = 50
  private[maintain] val DefaultMaxConvChars = 8L << 20

  /** Remove duplicate-text turns from the current snapshot. Idempotent per
    * (jobId): a committed pass returns its snapshot without rescanning.
    */
  def runPass(table: LakeTable, jobId: String,
              mode: String = "exact",
              minTokens: Int = DefaultMinTokens,
              unit: String = DefaultUnit,
              maxIters: Int = DefaultMaxIters,
              maxConvChars: Long = DefaultMaxConvChars,
              targetFileRows: Long = 1L << 20,
              groupTargetBytes: Long = 256L << 20,
              interruptAfter: Int = Int.MaxValue): Result = {
    val kind = planKind(mode, unit, minTokens, maxConvChars)
    // empty table: nothing to dedupe — a no-op, not an error
    if (table.currentFiles.isEmpty)
      return Result(table.currentSnapshot.getOrElse(
        throw new IllegalStateException(s"no table at ${table.root}")),
        0L, 0, 0, 0, converged = true)

    Ledger.rewrite(table, jobId, "dedupe", kind, CountsFile, targetFileRows, interruptAfter) {
      val (perFile, skipped) =
        publishVictims(table, jobId, mode, minTokens, unit, maxIters, maxConvChars)
      Ledger.Counted(perFile, "mode" -> mode, "skipped_convs" -> skipped)
    }(Ledger.keyLayout(_, groupTargetBytes)) { (paths, oneTask) =>
      withoutVictims(table, jobId, table.readData(paths.map(table.absData)), paths, oneTask)
    } match {
      case Left(s) => Result(s, 0L, 0, 0, 0, converged = true)
      case Right(r) =>
        Result(r.snapshot, r.droppedRows, r.touchedFiles, r.groups, r.resumedGroups,
          converged = true, skippedConvs = r.sidecar.get("skipped_convs").asLong)
    }
  }

  /** The plan kind pins the SEMANTICS-BEARING parameters: a resume with a
    * different mode/unit/minTokens must fail loudly instead of silently
    * applying a victim set computed under other rules. Throws on an unknown
    * mode or unit.
    */
  private[maintain] def planKind(mode: String, unit: String, minTokens: Int,
                                 maxConvChars: Long): String = {
    require(Set("exact", "minhash", "simhash")(mode), s"unknown dedupe mode $mode")
    require(Set("turn", "conversation")(unit), s"unknown dedupe unit $unit")
    if (unit == "conversation") s"dedupe:$mode:$unit:$minTokens:cap$maxConvChars"
    else s"dedupe:$mode:$unit:$minTokens"
  }

  private def victimsDir(table: LakeTable, jobId: String): String =
    FileIO.path(table.ledgerDir, jobId, "victims.parquet")

  /** Compute the victim set, publish it under `jobId`'s ledger dir, and
    * count it per data file. Returns those counts and the conversations a
    * `unit = "conversation"` pass skipped as oversized.
    */
  private[maintain] def publishVictims(table: LakeTable, jobId: String, mode: String,
                                       minTokens: Int, unit: String, maxIters: Int,
                                       maxConvChars: Long): (Map[DataFile, Long], Long) = {
    val dir = victimsDir(table, jobId)
    // atomic publish: write to a tmp dir, rename over — a crash
    // mid-write can never leave a torn victim set a resume would trust
    val tmp = dir + ".tmp"
    table.io.delete(tmp)
    def write(victims: DataFrame): Unit = victims.write.mode("overwrite").parquet(tmp)
    val skipped =
      if (unit == "conversation")
        computeConvVictims(table, mode, minTokens, maxIters, maxConvChars)(write)
      else { computeVictims(table, mode, minTokens, maxIters)(write); 0L }
    table.io.delete(dir)
    table.io.rename(tmp, dir)
    // touched files = those holding at least one victim row: ONE
    // aggregate over the published set, in one task when it fits one
    val setBytes = table.io.list(dir)
      .flatMap(n => table.io.stat(FileIO.path(dir, n))).map(_.size).sum
    val byPath = table.currentFiles.map(f => f.path -> f).toMap
    val perFile = table.oneTaskIfFits(readVictims(table, dir), setBytes)
      .groupBy("__src").count().collect()
      .map(r => byPath(r.getString(0)) -> r.getLong(1)).toMap
    (perFile, skipped)
  }

  /** `rows` of the data files `paths` less the victims [[publishVictims]]
    * published for `jobId`. With `oneTask` both sides are coalesced and a
    * sort-merge join (a small victim set would otherwise be broadcast)
    * plans with no Exchange. It is a left outer join keeping unmatched
    * rows, not a left anti one, which the optimizer would push below the
    * coalesce; a victim's key is never null, so a null one marks a survivor.
    */
  private[maintain] def withoutVictims(table: LakeTable, jobId: String, rows: DataFrame,
                                       paths: Vector[String], oneTask: Boolean): DataFrame = {
    val dir = victimsDir(table, jobId)
    require(table.io.stat(dir).isDefined,
      s"dedupe plan for $jobId exists but its victim set is missing")
    def part(df: DataFrame) = if (oneTask) df.coalesce(1) else df
    // the victims in these files only: provenance pre-filter keeps the
    // join proportional to the group, not the whole pass
    val victims = part(readVictims(table, dir)
      .where(col("__src").isin(paths: _*))
      .select("conv_id", "turn_idx")).as("v")
    part(rows).as("t")
      .join(if (oneTask) victims.hint("merge") else victims,
        col("t.conv_id") === col("v.conv_id") &&
          col("t.turn_idx") === col("v.turn_idx"), "left_outer")
      .where(col("v.conv_id").isNull)
      .select(col("t.*"))
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
    *     Jaccard estimator; requiring >= ceil(32 * MinJaccard) turns raw
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
    * Runs `use` over `df` with a `group_id` column joined in (the keeper
    * key: a member is a victim iff its own key differs) while the node and
    * label caches it reads are held; both are released when `use` returns
    * or throws. Throws on non-convergence — partial groups must never
    * drive deletions.
    */
  private def sketchComponents[T](df: DataFrame, keyCol: String, mode: String,
                                  maxIters: Int, what: String)(use: DataFrame => T): T =
    Cached.withCached(df.groupBy(col("__sk")).agg(min(col(keyCol)).as("__nid"))) { nodes =>
      nodes.count() // materialize once for the three consumers below
      val need = math.ceil(SigHashes * MinJaccard).toInt
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
      // the labels come back cached (Dedup's result handoff): released here
      try {
        if (!r.converged)
          throw new IllegalStateException(
            s"dedupe($what): label propagation did not converge — refusing " +
              "to delete rows based on partial duplicate groups; raise " +
              "maxIters or investigate the candidate graph")
        use(df.join(nodes, Seq("__sk")).join(r.groups, Seq("__nid")).drop("__nid"))
      } finally r.groups.unpersist()
    }

  /** Runs `use` over the victim rows (conv_id, turn_idx, __src): every row
    * that is NOT its duplicate group's keeper, the smallest
    * (conv_id, turn_idx) struct in the group (rows sharing it all survive)
    * — the reference's first-occurrence-survives rule under the table's
    * stable key order. `exact` reads the files once into a window keyed on
    * the full normalized text (no hash collision merges groups): one task
    * with no Exchange when they fit one ([[LakeTable.fitsOneTask]]), else
    * one hash Exchange on the text. The near-dup modes hold their caches
    * only while `use` runs.
    */
  private[maintain] def computeVictims[T](table: LakeTable, mode: String,
                                          minTokens: Int,
                                          maxIters: Int = 50)(use: DataFrame => T): T = {
    require(table.currentFiles.nonEmpty, s"no data files to dedupe at ${table.root}")

    mode match {
      case "exact" =>
        val files = table.currentFiles
        val rows = table.readData(files.map(f => table.absData(f.path)))
          .select(col("conv_id"), col("turn_idx"), LakeTable.sourceFile,
            Dedup.normalizedText(col("text")).as("__tn"))
        val key = struct(col("conv_id"), col("turn_idx"))
        // a non-empty text has at least one token: the token bar only
        // filters when it is above one
        val tokens = if (minTokens > 1) size(split(col("__tn"), " ")) >= minTokens else lit(true)
        use(table.oneTaskIfFits(rows, files.map(_.bytes).sum)
          .where(length(col("__tn")) > 0 && tokens)
          .withColumn("__keep", min(key).over(Window.partitionBy("__tn")))
          .where(key =!= col("__keep"))
          .select("conv_id", "turn_idx", "__src"))

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
        Cached.withCached(sk.sketches
            .where(col("n_tokens") >= math.max(1, minTokens))
            .select(col("conv_id"), col("turn_idx"), col("__src"),
              col(sketchCol).as("__sk"),
              concat_ws("\u0001", col("conv_id"), col("turn_idx").cast("string"))
                .as("__k"))) { keyed =>
          sketchComponents(keyed, "__k", mode, maxIters, what = mode) { comp =>
            // group_id IS the component's keeper key (min member key): a
            // row is a victim iff its own key differs — one membership
            // join, no separate keeper aggregation
            Cached.withCached(comp.where(col("__k") =!= col("group_id"))
                .select("conv_id", "turn_idx", "__src")) { out =>
              out.count() // one job computes the victims; `use` reads the cache
              use(out)
            }
          }
        }
    }
  }

  /** Runs `use` over the victim rows for `unit = "conversation"` and
    * returns the number of conversations skipped as oversized: whole
    * conversations whose CONCATENATED normalized text duplicates another
    * conversation's are removed entirely (all their turns), keeping the
    * smallest conv_id — the dedup granularity a training pipeline usually
    * wants for dialog data, where a turn repeated WITHIN one conversation
    * ("ok", a retried tool call) is structure, not redundancy.
    *
    * Shape: one groupBy(conv_id) assembles each conversation's ordered
    * text (a conversation fits a task trivially; the hot-conv skew the
    * synth plants is thousands of turns, not billions), then the turn-level
    * machinery runs on the ~|convs|-sized frame. Conversation sketches are
    * computed fresh — the per-file store is per-turn; a conv-level store
    * would go stale on any merge touching the conversation.
    */
  private[maintain] def computeConvVictims(table: LakeTable, mode: String,
                                           minTokens: Int, maxIters: Int,
                                           maxConvChars: Long)
                                          (use: DataFrame => Unit): Long = {
    val paths = table.currentFiles.map(f => table.absData(f.path))
    Cached.withCached(table.readData(paths)
        .select(col("conv_id"), col("turn_idx"), LakeTable.sourceFile,
          Dedup.normalizedText(col("text")).as("__tn"))) { rows =>

      // Robustness gate BEFORE the text assembly: per-conv total length is
      // a cheap map-side-combining agg, and only conversations under the
      // cap reach the collect_list — one degenerate 10^8-turn conversation
      // must fail GRACEFULLY (skipped with a loud note, never a victim)
      // instead of OOMing the task that concatenates it. The count is
      // reported as the Result's `skippedConvs`.
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

      // every turn of a victim conversation, materialized once
      def turnsOf(victimConvs: DataFrame): Unit =
        Cached.withCached(rows.join(victimConvs, Seq("conv_id"))
            .select("conv_id", "turn_idx", "__src")) { out =>
          out.count()
          use(out)
        }

      mode match {
        case "exact" =>
          // the same window as the turn unit: `conv` is computed once
          turnsOf(conv.withColumn("__keep", min(col("conv_id")).over(Window.partitionBy("__ctext")))
            .where(col("conv_id") =!= col("__keep"))
            .select("conv_id"))
        case _ =>
          // conversation sketches are computed fresh on the conv-level
          // frame (the per-file store is per-turn), then the SAME
          // distinct-sketch component machinery as the turn path runs — a
          // conversation duplicated 10^5 times costs member rows, never
          // member pairs
          val convSk = (if (mode == "minhash")
              conv.withColumn("__sk",
                Dedup.minhashSignatureNative(col("__ctext"), 3, SigHashes))
            else conv.withColumn("__sk", Dedup.simhash64Native(col("__ctext"))))
            .select(col("conv_id"), col("__sk"))
          sketchComponents(convSk, "conv_id", mode, maxIters,
              what = s"$mode, conversation") { comp =>
            Cached.withCached(comp.where(col("conv_id") =!= col("group_id"))
                .select("conv_id")) { v =>
              v.count()
              turnsOf(v)
            }
          }
      }
      nOversized
    }
  }
}
