package steadybench

import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.lake.LakeTable
import graft.maintain.{Ledger, Maintenance, MergeInto}

/** Shared maintenance-tick settings: sizes scaled to the small tables the
  * benchmark keeps (the production defaults would make every table one
  * group, so recluster would rewrite all of it), snapshot expiry by count
  * only, and event-time row retention at a fixed age behind `nowMs`.
  */
object Tick {
  val AgeMs: Long = 24L * 3600 * 1000
  val FileRows: Long = 2000L

  def run(t: LakeTable, id: String, cutoffTsMs: Long, dedupe: Boolean,
          retainLast: Int): Maintenance.CycleReport =
    Maintenance.runCycle(t, id,
      smallFileBytes = 48L << 10, targetBytes = 192L << 10,
      targetFileRows = FileRows, groupTargetBytes = 64L << 10,
      retainLast = retainLast, retentionMs = None,
      dedupeMode = if (dedupe) Some("exact") else None,
      rowRetentionMs = Some(AgeMs), nowMs = cutoffTsMs + AgeMs)

  /** Per-layer counters of one tick: its report, and the ledger's task
    * durations summed per phase for the tick's job ids.
    */
  def counts(t: LakeTable, id: String, r: Maintenance.CycleReport): Map[String, Double] = {
    val tasks = Ledger.allTaskRows(t).filter(_.jobId.startsWith(id + "-"))
    def taskS(phase: String) =
      tasks.filter(_.jobId == s"$id-$phase").map(_.durationMs).sum / 1e3
    Map(
      "maintain.compact_files" -> r.compact.filesCompacted.toDouble,
      "maintain.dedupe_rows" -> r.dedupe.map(_.duplicateRows).getOrElse(0L).toDouble,
      "maintain.retention_rows" -> r.rowRetention.map(_.deletedRows).getOrElse(0L).toDouble,
      "maintain.cluster_rows" -> r.cluster.rowsRewritten.toDouble,
      "maintain.expired_snapshots" -> r.expire.expiredSnapshots.size.toDouble,
      "maintain.compact_task_s" -> taskS("compact"),
      "maintain.dedupe_task_s" -> taskS("dedupe"),
      "maintain.rowexpire_task_s" -> taskS("rowexpire"),
      "maintain.cluster_task_s" -> taskS("cluster"))
  }
}

/** drop_ingest: each op takes one pre-rendered drop file through
  * `Ingest.readContent` -> `Ingest.parseContent` -> `MergeInto.merge`.
  * A drop holds new conversations plus corrections to recent ones; a share
  * of the new turns are exact duplicates of live turns, and a share are
  * stale (event time behind the retention cutoff). Every `TickEvery`
  * drops one maintenance tick runs: compaction, exact dedupe, row
  * retention, incremental recluster and count-based snapshot expiry. Its
  * cutoff moves up by the conversations the drops add, so the table stays
  * the same size and op N costs what op 1 costs.
  */
final class DropIngest(ctx: Ctx, quotedShare: Double = DropIngest.QuotedShare)
    extends Workload {
  import DropIngest._
  import ctx.spark

  val name: String = if (quotedShare > 0) "quoted_probe" else "drop_ingest"
  val mainKind = "drop"
  val warmupOps: Int = 2 * (TickEvery + 1)

  private val lakeDir = ctx.work.resolve("lake")
  private var drops = Vector.empty[Drop]
  private var expStaged = Map.empty[Int, Long]
  private var expNew = Map.empty[Int, Long]
  private var expDeleted = Map.empty[Int, Long]
  private var dupsIn = Map.empty[Int, Int]
  private var baseRows = 0L

  var table: LakeTable = _
  private var applied = 0
  private var ticks = 0
  private var sinceTick = 0
  private var expRows = 0L

  private def cutSeq(tick: Int): Int = tick * TickEvery * NewConvs

  /** What a generated turn is. Base turns are always normal. */
  private def kind(seq: Int, t: Int): Int =
    if (seq < BaseConvs) Normal
    else {
      val p = Gen.pick(100, ctx.seed, seq, t, 31)
      if (p < DupPct) Dup else if (p < DupPct + StalePct) Stale else Normal
    }

  /** A normal turn of a conversation in `[first - from, first - until)`
    * whose number has the given parity: corrections only ever touch odd
    * conversations and duplicates only copy even ones, so no duplicate's
    * source text has been corrected.
    */
  private def normalTurn(first: Int, from: Int, until: Int, parity: Int, salts: Long*): (Int, Int) = {
    var salt = 0
    var key = (0, 0)
    do {
      val seq = (first - from + Gen.pick(from - until, (ctx.seed +: salts :+ salt.toLong): _*)) & ~1 | parity
      key = (seq, Gen.pick(Gen.nTurns(ctx.seed, seq), (ctx.seed +: salts :+ salt.toLong :+ 1L): _*))
      salt += 1
    } while (kind(key._1, key._2) != Normal)
    key
  }

  private def dropRows(d: Int): (Vector[DropRow], Int) = {
    val seed = ctx.seed
    val first = BaseConvs + d * NewConvs
    val staleTs = Gen.convTs(cutSeq(d / TickEvery)) - 3600L * 1000
    var dups = 0
    // Duplicates copy a turn from the older half of the live window, which
    // the next cutoff does not reach; the copy has the larger key, so
    // dedupe removes the copy.
    val fresh = Gen.convs(seed, first, first + NewConvs).map { t =>
      val seq = t.conv.drop(1).toInt
      kind(seq, t.turn) match {
        case Dup =>
          dups += 1
          val (s, u) = normalTurn(first, BaseConvs * 3 / 4, BaseConvs / 2, 0, seq, t.turn, 32)
          t.copy(text = Gen.text(seed, s, u, 0))
        case Stale => t.copy(tsMs = staleTs + t.turn * 1000L)
        case _ => t
      }
    }
    // Corrections go to normal turns of the most recent conversations;
    // their empty cells must not clobber.
    val keys = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
    var salt = 0
    while (keys.size < Corrections) {
      keys += normalTurn(first, RecentConvs, 0, 1, d, salt, 21)
      salt += 1
    }
    val fixes = keys.toVector.map { case (seq, t) =>
      DropRow(d, 0, Gen.convId(seq), t.toString, "", Gen.text(seed, seq, t, d + 1), "", "", "")
    }
    val rows = (fresh.map(Gen.asDropRow(d, 0, _)) ++ fixes)
      .sortBy(r => Gen.mix(seed, d, r.conv_id.hashCode.toLong, r.turn_idx.toLong))
      .zipWithIndex.map { case (r, i) => r.copy(line = i) }
    (rows, dups)
  }

  def prepare(): Unit = {
    val dir = Workload.freshDir(ctx.work.resolve("drops"))
    val rendered = (0 until MaxDrops).map { d =>
      val (rows, dups) = dropRows(d)
      (Gen.render(dir, ctx.seed, d, rows, if (quotedShare > 0) 0.0 else VerticalShare,
        quotedShare, NoteShare), dups)
    }
    drops = rendered.map(_._1).toVector
    dupsIn = rendered.map(r => r._1.idx -> r._2).toMap
    // Oracle, in plain Spark over the rendered rows: distinct keys per
    // drop, keys each drop adds, and turns each tick's retention removes
    // (a turn goes at the first tick after its drop whose cutoff passes it).
    val base = Gen.convs(ctx.seed, 0, BaseConvs).map(Gen.asDropRow(-1, 0, _))
    val all = Gen.dropRowsDf(spark, base ++ drops.flatMap(_.rows)).cache()
    expStaged = all.where(col("drop") >= 0).groupBy("drop")
      .agg(countDistinct(col("conv_id"), col("turn_idx"))).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val keys = all.groupBy("conv_id", "turn_idx").agg(min("drop").as("first"),
      max(when(col("ts") =!= "", col("ts"))).as("ts"))
    val firsts = keys.groupBy("first").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    baseRows = firsts.getOrElse(-1, 0L)
    expNew = firsts - (-1)
    val window = TickEvery * NewConvs * Gen.ConvSpacingMs
    val passed = floor((unix_millis(to_timestamp(col("ts"))) - Gen.BaseTsMs) / window) + 1
    val after = floor(col("first") / TickEvery) + 1
    expDeleted = keys.select(greatest(passed, after).cast("int").as("tick"))
      .groupBy("tick").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    all.unpersist()
  }

  def build(): Unit = {
    Workload.freshDir(lakeDir)
    table = LakeTable.create(spark, lakeDir.toString, Gen.schema)
    val base = Gen.convs(ctx.seed, 0, BaseConvs)
    base.grouped((base.size + 3) / 4).zipWithIndex.foreach { case (part, i) =>
      table.append(Gen.turnsDf(spark, part), s"base$i")
    }
    Tick.run(table, "setup", Gen.convTs(0), dedupe = true, RetainLast)
    applied = 0; ticks = 0; sinceTick = 0; expRows = baseRows
  }

  override def atBoundary: Boolean = sinceTick == 0

  def next(): Op =
    if (sinceTick == TickEvery) { sinceTick = 0; ticks += 1; new TickOp(ticks) }
    else {
      require(applied < MaxDrops, s"all $MaxDrops rendered drops used")
      sinceTick += 1; applied += 1; new DropOp(drops(applied - 1))
    }

  private final class DropOp(d: Drop) extends Op {
    val kind = "drop"
    private var res: MergeInto.Result = _
    def run(): Unit = {
      val content = Tracer.span("ingest.read")(Ingest.readContent(d.file.toString))
      val parsed = Tracer.span("ingest.parse")(Ingest.parseContent(spark, content))
      res = Tracer.span("maintain.merge")(MergeInto.merge(table, parsed.records,
        f"drop-${d.idx}%05d", targetFileRows = Tick.FileRows))
    }
    def check(): Option[String] = {
      expRows += expNew(d.idx)
      val rows = Workload.totalRows(table)
      if (res.rejectedRows != 0)
        Some(s"drop ${d.idx}: ${res.rejectedRows} rows rejected (${desc(d)})")
      else if (res.stagedRows != expStaged(d.idx))
        Some(s"drop ${d.idx}: staged ${res.stagedRows}, oracle ${expStaged(d.idx)} (${desc(d)})")
      else if (rows != expRows) Some(s"drop ${d.idx}: table has $rows turns, oracle $expRows")
      else None
    }
    def turns: Long = res.stagedRows
    override def bytesIn: Long = d.bytes
    override def layerCounts: Map[String, Double] = Map(
      "ingest.rows" -> (res.stagedRows + res.rejectedRows).toDouble,
      "ingest.rejected_rows" -> res.rejectedRows.toDouble,
      "maintain.merge_files_touched" -> res.touchedFiles.toDouble,
      "maintain.merge_files_carried" -> res.carriedFiles.toDouble,
      "maintain.merge_manifests_opened" -> res.openedManifests.toDouble)
  }

  private final class TickOp(n: Int) extends Op {
    val kind = "tick"
    private val id = f"tick-$n%04d"
    private val cutoff = Gen.convTs(cutSeq(n))
    private var rep: Maintenance.CycleReport = _
    private var pinned = -1L
    private var pinnedSum = (0L, java.math.BigDecimal.ZERO)

    /** A reader pinned before the tick, whose result must not change. */
    override def before(): Unit = {
      pinned = table.currentSnapshotId.get
      pinnedSum = Workload.contentSum(table.scan(snapshotId = Some(pinned)).df, SumCols)
    }

    def run(): Unit =
      rep = Tracer.span("maintain.tick")(Tick.run(table, id, cutoff, dedupe = true, RetainLast))

    def check(): Option[String] = {
      val expDel = expDeleted.getOrElse(n, 0L)
      val expDup = ((n - 1) * TickEvery until n * TickEvery).map(dupsIn).sum.toLong
      expRows -= expDel + expDup
      val deleted = rep.rowRetention.map(_.deletedRows).getOrElse(-1L)
      val dupRows = rep.dedupe.map(_.duplicateRows).getOrElse(-1L)
      // plain Spark over the committed table: no expired turn and no
      // duplicate text may survive the tick
      val c = table.scan().df.agg(count(lit(1)), countDistinct(col("text")),
        count(when(col("ts") < timestamp_millis(lit(cutoff)), 1))).head()
      val again = Workload.contentSum(table.scan(snapshotId = Some(pinned)).df, SumCols)
      if (deleted != expDel) Some(s"$id: retention deleted $deleted turns, oracle $expDel")
      else if (dupRows != expDup) Some(s"$id: dedupe removed $dupRows turns, generator made $expDup")
      else if (c.getLong(0) != expRows) Some(s"$id: table has ${c.getLong(0)} turns, oracle $expRows")
      else if (c.getLong(1) != c.getLong(0)) Some(s"$id: ${c.getLong(0) - c.getLong(1)} duplicate texts survived")
      else if (c.getLong(2) != 0) Some(s"$id: ${c.getLong(2)} turns older than the cutoff survived")
      else if (again != pinnedSum) Some(s"$id: reader pinned at snapshot $pinned saw a changed result")
      else None
    }
    def turns: Long = 0L
    override def layerCounts: Map[String, Double] = Tick.counts(table, id, rep)
  }

  private def desc(d: Drop) =
    s"delimiter=${d.delimiter.toInt} vertical=${d.vertical} quoted=${d.quoted} note=${d.withNote}"

  /** The table against a plain-Spark replay of every applied drop: each
    * column's last non-empty value per key; then, over the turns the last
    * tick saw, one turn per distinct text (the smallest key) and only turns
    * at or after its cutoff. Compares the row count, a content checksum
    * over all columns, and, for a sample of corrected keys, the text.
    */
  def finish(): Option[String] = {
    val base = Gen.convs(ctx.seed, 0, BaseConvs).map(Gen.asDropRow(-1, 0, _))
    val rows = Gen.dropRowsDf(spark, base ++ drops.take(applied).flatMap(_.rows))
    val ord = struct(col("drop"), col("line"))
    def last(c: String) = max_by(col(c), when(col(c) =!= "", ord))
    val cols = Seq("role", "text", "tool", "ts", "note")
    val byText = org.apache.spark.sql.expressions.Window.partitionBy("text")
      .orderBy("conv_id", "turn_idx")
    val merged = rows.groupBy("conv_id", "turn_idx").agg(min("drop").as("first"),
        cols.map(c => last(c).as(c)): _*)
      .select(col("conv_id"), col("turn_idx").cast("int").as("turn_idx"), col("role"),
        col("text"), col("tool"), to_timestamp(col("ts")).as("ts"), col("note"), col("first"))
    val seen = col("first") < ticks * TickEvery
    val kept = merged.where(seen)
      .withColumn("rank", row_number().over(byText)).where(col("rank") === 1).drop("rank")
      .where(col("ts") >= timestamp_millis(lit(Gen.convTs(cutSeq(ticks)))))
    val exp = kept.unionByName(merged.where(!seen)).drop("first").cache()
    val act = table.scan().df
    val hasNote = act.columns.contains("note")
    val sumCols = SumCols ++ (if (hasNote) Seq("note") else Nil)
    val (en, es) = Workload.contentSum(act, sumCols)
    val (on, os) = Workload.contentSum(exp, sumCols)
    val fixed = drops.take(applied).flatMap(_.rows.filter(_.role.isEmpty))
      .map(r => (r.conv_id, r.turn_idx.toInt)).distinct.take(200).toSet
    def texts(df: org.apache.spark.sql.DataFrame) = df
      .where(col("conv_id").isin(fixed.map(_._1).toSeq: _*))
      .select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
      .filter { case (k, _) => fixed(k) }
    val (et, ot) = (texts(act), texts(exp))
    exp.unpersist()
    if (en != on) Some(s"final table has $en turns, oracle $on")
    else if (es != os) Some("final table content checksum differs from the oracle")
    else if (et != ot) Some(s"${(et.toSet diff ot.toSet).size} corrected keys differ from the oracle")
    else None
  }
}

object DropIngest {
  val BaseConvs = 2000
  val NewConvs = 40
  val Corrections = 40
  /** Corrections touch the conversations of the last few drops. */
  val RecentConvs = 4 * NewConvs
  val TickEvery = 4
  val MaxDrops = 48
  val DupPct = 8
  val StalePct = 8
  /** Keeps the snapshot pinned before a tick alive through it: the tick
    * commits at most four snapshots before expiry runs.
    */
  val RetainLast = 6
  val VerticalShare = 0.25
  val NoteShare = 0.25
  /** Fully-quoted drops stay out of the timed mix, which must not fail:
    * when the 8 KB detection sample of such a drop ends inside a quoted
    * field, the engine detects `'` as the quote and rejects every row, a
    * known defect. The `quoted_probe` workload renders only fully-quoted
    * drops, and `selfcheck.py` reports how many hit it.
    */
  val QuotedShare = 0.0
  val SumCols: Seq[String] = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
  private val Normal = 0
  private val Dup = 1
  private val Stale = 2
}
