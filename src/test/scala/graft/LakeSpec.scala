package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake._
import graft.maintain._
import graft.synth.TranscriptSynth

/** North-rule invariant suite (SURVEY.md §5.2 items 2-3): per-turn text
  * equality under stable (conv_id, turn_idx) ordering after maintenance,
  * snapshot isolation, ledger resume, prune ratio, expiry semantics.
  */
class LakeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpTable(name: String): String = {
    val p = Paths.get("target", "test-lake", name + "-" + System.nanoTime())
    LakeTable.deleteRecursively(p)
    p.toString
  }

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts").collect().toSeq

  private def synth(nConvs: Int) = TranscriptSynth.turns(spark, nConvs, seed = 42L)

  /** Run a MERGE test on both plans: the one-task plan a small drop takes,
    * then the persisted, shuffled plan.
    */
  private def onBothMergePlans(body: => Unit): Unit = {
    withClue("one-task plan: ")(body)
    withClue("shuffled plan: ")(TestSpark.withShuffledMerge(body))
  }

  test("lake writes restore the session's parquet timestamp type") {
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "INT96")
      val t = LakeTable.create(spark, tmpTable("tsconf"), TranscriptSynth.schema)
      t.append(synth(5), "init")
      assert(spark.conf.get(key) == "INT96",
        "a lake write must not permanently switch the session's timestamp type")
    } finally spark.conf.set(key, before)
  }

  test("append + scan roundtrip preserves every turn") {
    val t = LakeTable.create(spark, tmpTable("roundtrip"), TranscriptSynth.schema)
    val data = synth(50)
    t.append(data, "init")
    assert(sortedRows(t.scan().df) == sortedRows(data))
  }

  test("scan prunes files by conv range using manifest stats") {
    val t = LakeTable.create(spark, tmpTable("prune"), TranscriptSynth.schema)
    val data = synth(200)
    // write range-sorted so files have tight conv ranges
    t.append(data.repartitionByRange(20, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    val scan = t.scan(convRange = Some(("c00000010", "c00000019")))
    assert(scan.prune.totalFiles == 20)
    assert(scan.prune.ratio >= 0.9, s"prune ratio ${scan.prune.ratio}")
    val expected = sortedRows(data.where(col("conv_id").between("c00000010", "c00000019")))
    assert(sortedRows(scan.df) == expected)
  }

  test("merge: non-empty wins, inserts new keys, untouched files carried") {
    onBothMergePlans {
      import spark.implicits._
      val t = LakeTable.create(spark, tmpTable("merge"), TranscriptSynth.schema)
      val data = synth(40)
      t.append(data.repartitionByRange(8, col("conv_id")), "init")
      val before = t.currentFiles.size

      // staged drop: update (c1,0) text; empty text for (c1,1) must NOT
      // clobber; brand-new conversation inserts.
      val staged = Seq(
        ("c00000001", "0", "user", "UPDATED", "", "", 0L),
        ("c00000001", "1", "", "", "", "", 1L),
        ("c99999999", "0", "user", "new conv", "", "", 2L)
      ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts_ignored", "_seq")
        .drop("ts_ignored")

      val res = MergeInto.merge(t, staged, "drop1")
      assert(res.stagedRows == 3)
      assert(res.touchedFiles < before, "merge must not rewrite the whole table")

      val after = t.readOrdered().collect()
      val m = after.map(r => (r.getString(0), r.getInt(1)) -> r).toMap
      assert(m(("c00000001", 0)).getString(3) == "UPDATED")
      val origText = data.where(col("conv_id") === "c00000001" && col("turn_idx") === 1)
        .select("text").head().getString(0)
      assert(m(("c00000001", 1)).getString(3) == origText, "empty must not clobber")
      assert(m(("c99999999", 0)).getString(3) == "new conv")
      assert(after.length == data.count() + 1)
    }
  }

  test("merge: an empty drop commits nothing (no empty files, same snapshot)") {
    onBothMergePlans {
      import spark.implicits._
      val t = LakeTable.create(spark, tmpTable("merge-empty"), TranscriptSynth.schema)
      t.append(synth(10), "init")
      val snapBefore = t.currentSnapshotId.get
      val filesBefore = t.currentFiles.map(_.path)

      // an EMPTY staged frame and an all-rejected one (unparseable turn_idx)
      // must both be no-ops: no data file written, no snapshot committed
      val empty = Seq.empty[(String, String, String, String, String, Long)]
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
      val r1 = MergeInto.merge(t, empty, "empty-drop")
      assert(r1.stagedRows == 0 && r1.touchedFiles == 0)
      val rejectedOnly = Seq(("c00000001", "not-a-number", "user", "x", "", 0L))
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
      val r2 = MergeInto.merge(t, rejectedOnly, "rejected-drop")
      assert(r2.stagedRows == 0 && r2.rejectedRows == 1)

      assert(t.currentSnapshotId.get == snapBefore, "no-op merges must not commit")
      assert(t.currentFiles.map(_.path) == filesBefore, "no empty data files")
    }
  }

  test("merge evolves schema append-only with new columns") {
    onBothMergePlans {
      import spark.implicits._
      val t = LakeTable.create(spark, tmpTable("evolve"), TranscriptSynth.schema)
      t.append(synth(5), "init")
      // drop_b fixture: extra `lang` column, padded header name
      val staged = Seq(("c00000002", "0", "user", "hola", "es"))
        .toDF("conv_id", "turn_idx", "role", "text", " lang ")
      MergeInto.merge(t, staged, "drop2")
      val sch = t.schema
      assert(sch.fieldNames.last == "lang")
      assert(sch.fields.last.id == sch.lastFieldId)
      assert(sch.fields.map(_.name).take(6) == TranscriptSynth.schema.fieldNames.toVector)
      val row = t.scan().df.where(col("conv_id") === "c00000002" && col("turn_idx") === 0)
        .select("lang", "text").head()
      assert(row.getString(0) == "es" && row.getString(1) == "hola")
      // older rows read null for the new field
      assert(t.scan().df.where(col("lang").isNull).count() > 0)
    }
  }

  test("merge: a small horizontal drop is one write job, a vertical one two, no exchange") {
    val t = LakeTable.create(spark, tmpTable("merge-jobs"), TranscriptSynth.schema)
    t.append(synth(40).repartitionByRange(4, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    val horizontal = "conv_id,turn_idx,role,text\nc00000001,0,user,UPDATED\n" +
      "c00000001,1,,\nc00000001,99,user,new turn\n"
    def mergeDrop(content: String, tag: String) = {
      val parsed = graft.ingest.Ingest.parseContent(spark, content)
      (parsed.vertical, MergeInto.merge(t, parsed.records, tag))
    }

    val ((vertical, r), work) = TestSpark.countWork(mergeDrop(horizontal, "h"))
    assert(!vertical && r.stagedRows == 3 && r.touchedFiles == 1)
    assert(work == TestSpark.Work(jobs = 1, exchanges = 0))

    val kv = "conv_id,c00000002\nturn_idx,0\ntext,VERTICAL\n" +
      "conv_id,c00000003\nturn_idx,0\ntext,ALSO\n"
    val ((vertical2, r2), work2) = TestSpark.countWork(mergeDrop(kv, "v"))
    assert(vertical2 && r2.stagedRows == 2)
    assert(work2.jobs <= 2 && work2.exchanges == 0, s"vertical drop: $work2")

    // the counter sees the shuffled plan's jobs and exchanges
    val (_, shuffled) = TestSpark.withShuffledMerge(
      TestSpark.countWork(mergeDrop(horizontal, "s")))
    assert(shuffled.jobs > 2 && shuffled.exchanges >= 2, s"shuffled plan: $shuffled")
    info(s"horizontal: $work, vertical: $work2, shuffled: $shuffled")

    val m = t.readOrdered().collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(3)).toMap
    assert(m(("c00000001", 0)) == "UPDATED" && m(("c00000001", 99)) == "new turn")
    assert(m(("c00000002", 0)) == "VERTICAL" && m(("c00000003", 0)) == "ALSO")
    assert(m.size == synth(40).count() + 1)
  }

  test("merge: the one-task and shuffled plans commit the same rows and Results") {
    import spark.implicits._
    // keys whose UTF-16 and UTF-8 orders disagree: U+FF21 < U+1F600 in
    // UTF-8 (Spark's and Parquet's order), but not in UTF-16 code units
    val (wide, emoji) = ("c\uFF21-1", "c\uD83D\uDE00-1")
    def newTable(name: String) = {
      val t = LakeTable.create(spark, tmpTable(name), TranscriptSynth.schema)
      t.append(synth(20), "init")
      val one = synth(1).where(col("turn_idx") === 0)
      t.append(one.withColumn("conv_id", lit(wide)), "wide")
      t.append(one.withColumn("conv_id", lit(emoji)), "emoji")
      t
    }
    def rowsOf(t: LakeTable) = t.scan().df.orderBy("conv_id", "turn_idx").collect().toSeq
    val drops: Seq[DataFrame] = Seq(
      // in-batch duplicate keys: last non-empty wins, empty never clobbers
      Seq(("c00000001", "0", "user", "first", 0L), ("c00000001", "0", "", "", 1L),
        ("c00000001", "0", "", "second", 2L), ("c00000002", "1", "", "", 3L),
        ("c00000001", "99", "user", "new", 4L))
        .toDF("conv_id", "turn_idx", "role", "text", "_seq"),
      // rejected rows next to a valid one
      Seq(("c00000003", "x", "user", "bad turn", 0L), ("", "0", "user", "no conv", 1L),
        ("c00000003", "0", "user", "ok", 2L))
        .toDF("conv_id", "turn_idx", "role", "text", "_seq"),
      // schema evolution
      Seq(("c00000004", "0", "user", "hola", "es", 0L))
        .toDF("conv_id", "turn_idx", "role", "text", "lang", "_seq"),
      // schema only: every row rejected, a new column
      Seq(("c00000005", "nope", "user", "x", "calm", 0L))
        .toDF("conv_id", "turn_idx", "role", "text", "mood", "_seq"),
      // empty
      Seq.empty[(String, String, String, Long)].toDF("conv_id", "turn_idx", "text", "_seq"),
      // the two keys whose orders disagree, both updated in place
      Seq((wide, "0", "WIDE", 0L), (emoji, "0", "EMOJI", 1L))
        .toDF("conv_id", "turn_idx", "text", "_seq"),
      // a drop whose plan is not a local relation (it even shuffles):
      // collected by a job
      spark.range(3).repartition(2).select(format_string("c%08d", col("id") + 6).as("conv_id"),
        lit("0").as("turn_idx"), lit("RANGED").as("text"), col("id").as("_seq")))
    def mergeAll(t: LakeTable) = drops.zipWithIndex.map { case (d, i) =>
      TestSpark.countWork(MergeInto.merge(t, d, s"parity-$i"))
    }
    def fields(r: MergeInto.Result) = (r.snapshot.id, r.touchedFiles, r.carriedFiles,
      r.stagedRows, r.rejectedRows, r.openedManifests, r.totalManifests)

    val (oneTask, shuffled) = (newTable("parity-one"), newTable("parity-shuffled"))
    val before = oneTask.scan().df.count()
    val (ra, work) = mergeAll(oneTask).unzip
    val rb = TestSpark.withShuffledMerge(mergeAll(shuffled)).map(_._1)
    assert(ra.map(fields) == rb.map(fields))
    // the ranged drop's collect is a tracked SQL execution: the counter
    // sees its Exchange, and the one-task write adds none
    assert(work.last.exchanges == 1, s"ranged drop: ${work.last}")
    assert(oneTask.schema == shuffled.schema)
    assert(rowsOf(oneTask) == rowsOf(shuffled))

    assert(ra.map(r => (r.stagedRows, r.rejectedRows)) ==
      Seq((3L, 0L), (1L, 2L), (1L, 0L), (0L, 1L), (0L, 0L), (2L, 0L), (3L, 0L)))
    assert(ra(5).touchedFiles == 2, "both single-key files must be rewritten")
    val m = oneTask.scan().df.collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) -> r).toMap
    assert(m.size == before + 1, "only (c00000001, 99) is new; every other key updates in place")
    assert(m((wide, 0)).getAs[String]("text") == "WIDE")
    assert(m((emoji, 0)).getAs[String]("text") == "EMOJI")
    assert(m(("c00000001", 0)).getAs[String]("text") == "second")
    assert(m(("c00000001", 0)).getAs[String]("role") == "user")
    assert(m(("c00000004", 0)).getAs[String]("lang") == "es")
    assert(m(("c00000007", 0)).getAs[String]("text") == "RANGED")
    assert(oneTask.schema.fieldNames.contains("mood"))
  }

  /** A table for the group rewrites: 40 conversations in four key-sorted
    * files of ten each (the same files on every call), plus a fifth holding
    * copies of four turns' texts, one from each of those files, under
    * smaller keys (so the originals are the victims).
    */
  private def rewriteTable(name: String): LakeTable = {
    val t = LakeTable.create(spark, tmpTable(name), TranscriptSynth.schema)
    val base = synth(40)
    for (i <- 0 until 4)
      t.append(base.where(col("conv_id").between(f"c${10 * i}%08d", f"c${10 * i + 9}%08d"))
        .coalesce(1).sortWithinPartitions("conv_id", "turn_idx"), s"init$i")
    t.append(base.where(col("turn_idx") === 0 && col("conv_id").endsWith("3"))
      .withColumn("conv_id", concat(lit("b"), col("conv_id"))).coalesce(1), "copies")
    t
  }

  test("group rewrites: the one-task and shuffled plans commit the same rows, Results and files") {
    // every Result field: the snapshot by id (its metadata paths are unique
    // per table), the rest as they are
    val ops: Seq[(String, LakeTable => Any)] = Seq(
      "compact" -> { t =>
        val r = Compaction.compact(t, "c", smallFileBytes = 1L << 30, targetBytes = 1L << 30)
        (r.snapshot.map(_.id), r.copy(snapshot = None))
      },
      "dedupe" -> { t =>
        val r = Dedupe.runPass(t, "d", targetFileRows = 50)
        (r.snapshot.id, r.copy(snapshot = null))
      },
      "dedupe-minhash" -> { t =>
        val r = Dedupe.runPass(t, "m", mode = "minhash", targetFileRows = 50)
        (r.snapshot.id, r.copy(snapshot = null))
      },
      "delete" -> { t =>
        val r = DeleteFrom.run(t, "x", "turn_idx = 1", targetFileRows = 50)
        (r.snapshot.id, r.copy(snapshot = null))
      },
      "cluster" -> { t =>
        val r = Clustering.cluster(t, "k", targetFileRows = 50)
        (r.snapshot.id, r.copy(snapshot = null))
      })
    for ((name, op) <- ops) withClue(s"$name: ") {
      val (a, b) = (rewriteTable(s"rw-$name-one"), rewriteTable(s"rw-$name-shuffled"))
      val before = a.currentFiles.size
      val inputs = (a.currentFiles ++ b.currentFiles).map(_.path).toSet
      def outputs(t: LakeTable) = t.currentFiles.filterNot(f => inputs(f.path))
      val (ra, one) = TestSpark.countWork(op(a))
      val (rb, shuffled) = TestSpark.withShuffledRewrites(TestSpark.countWork(op(b)))
      // compaction writes one file per bin in one task on either plan
      if (name != "compact")
        assert(shuffled.exchanges > one.exchanges, s"one task: $one, shuffled: $shuffled")
      assert(ra == rb)
      assert(sortedRows(a.scan().df) == sortedRows(b.scan().df))
      val (oa, ob) = (outputs(a), outputs(b))
      assert(oa.nonEmpty, "no output files")
      assert(oa.size == ob.size, s"output files: ${oa.map(_.rows)} vs ${ob.map(_.rows)}")
      assert(a.currentFiles.size < before + oa.size, "the rewrite removed its inputs")
      if (name == "cluster")
        for (t <- Seq(a, b)) {
          val pr = t.scan(convRange = Some(("c00000010", "c00000011"))).prune
          assert(pr.selectedFiles < oa.size, s"clustered files must prune: $pr")
        }
      else
        for (o <- Seq(oa, ob)) {
          // key-sorted outputs: each file's conv range ends where the next
          // starts (a hot conversation may fill several files)
          val byKey = o.sortBy(f => (f.minConv.get, f.maxConv.get))
          byKey.zip(byKey.tail).foreach { case (x, y) =>
            assert(x.maxConv.get <= y.minConv.get, s"overlapping ${x.path} and ${y.path}")
          }
        }
      info(s"$name: ${oa.size} files; one task $one, shuffled $shuffled")
    }
  }

  test("group rewrites: a group within one split is one job with no Exchange") {
    val t = rewriteTable("rewrite-work")
    val (_, compact) = TestSpark.countWork(
      Compaction.compact(t, "c", smallFileBytes = 1L << 30, targetBytes = 1L << 30))
    assert(compact == TestSpark.Work(1, 0))
    // whole passes on a one-task table: an exact dedupe publishes its
    // victims, counts them and rewrites one group; a DELETE counts and
    // rewrites one group (the keeper aggregate + join and the shuffled
    // DELETE count gave Work(5, 2) and Work(3, 1))
    val w = rewriteTable("rewrite-work-whole")
    val (wd, wholeDedupe) = TestSpark.countWork(Dedupe.runPass(w, "dw"))
    assert(wd.duplicateRows > 0 && wd.groupsRewritten == 1)
    assert(wholeDedupe == TestSpark.Work(3, 0))
    val (wx, wholeDelete) = TestSpark.countWork(DeleteFrom.run(w, "xw", "turn_idx = 1"))
    assert(wx.deletedRows > 0 && wx.touchedFiles > 0)
    assert(wholeDelete == TestSpark.Work(2, 0))
    // a dedupe or delete group alone: stop the job before its group, resume
    intercept[InterruptedException](Dedupe.runPass(t, "d", interruptAfter = 0))
    val (d, dedupe) = TestSpark.countWork(Dedupe.runPass(t, "d"))
    assert(d.duplicateRows > 0 && d.groupsRewritten == 1)
    assert(dedupe == TestSpark.Work(1, 0))
    intercept[InterruptedException](DeleteFrom.run(t, "x", "turn_idx = 1", interruptAfter = 0))
    val (x, delete) = TestSpark.countWork(DeleteFrom.run(t, "x", "turn_idx = 1"))
    assert(x.deletedRows > 0 && delete == TestSpark.Work(1, 0))
    // a recluster reuses the first clustering's cuts: one job per dirty group
    Clustering.cluster(t, "k1", targetFileRows = 50)
    MergeInto.merge(t, spark.createDataFrame(Seq(("c00000003", "0", "EDITED")))
      .toDF("conv_id", "turn_idx", "text"), "edit")
    val (k, cluster) = TestSpark.countWork(Clustering.cluster(t, "k2", targetFileRows = 50))
    assert(k.groups == 1 && cluster == TestSpark.Work(1, 0))
    // the counter sees the shuffled plan's exchange
    intercept[InterruptedException](DeleteFrom.run(t, "y", "turn_idx = 2", interruptAfter = 0))
    val (_, shuffled) = TestSpark.withShuffledRewrites(
      TestSpark.countWork(DeleteFrom.run(t, "y", "turn_idx = 2")))
    assert(shuffled.exchanges >= 1, s"shuffled group: $shuffled")
  }

  test("codegen: the third merge + maintenance cycle on a table compiles few classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val t = LakeTable.create(spark, tmpTable("codegen-cycles"), TranscriptSynth.schema)
    t.append(synth(40).repartitionByRange(4, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // each drop edits a turn, adds two turns with one text (dedupe work) and
    // one turn with an old event time (retention work)
    def cycle(i: Int): Long = {
      val c0 = compiles
      val drop = "conv_id,turn_idx,role,text,ts\n" +
        s"c0000000$i,0,user,edit $i,\nn$i,0,user,copy $i,\nn$i,1,user,copy $i,\n" +
        s"o$i,0,user,old $i,2020-01-01 00:00:00\n"
      MergeInto.merge(t, graft.ingest.Ingest.parseContent(spark, drop).records, s"drop-$i")
      val r = Maintenance.runCycle(t, s"cycle-$i", smallFileBytes = 48L << 10,
        targetBytes = 192L << 10, targetFileRows = 100, groupTargetBytes = 64L << 10,
        retentionMs = None, dedupeMode = Some("exact"),
        rowRetentionMs = Some(1000L), nowMs = 1600000000000L)
      assert(r.dedupe.get.duplicateRows == 1 && r.rowRetention.get.deletedRows >= 1)
      compiles - c0
    }
    val counts = (1 to 3).map(cycle)
    info(s"classes compiled per cycle: ${counts.mkString(", ")}")
    // run alone, the commit before the one-task group rewrites compiled
    // 97, 27 and 26 classes here; this code compiles 74, 16 and 0
    assert(counts(2) <= 10, s"third cycle compiled ${counts(2)} classes")
  }

  test("group rewrites: a column whose name starts with __ survives every rewrite") {
    for (shuffled <- Seq(false, true)) withClue(s"shuffled = $shuffled: ") {
      def run[T](body: => T): T = if (shuffled) TestSpark.withShuffledRewrites(body) else body
      val t = rewriteTable(s"dunder-$shuffled")
      // turn 1 of every conversation: in every data file, never a victim
      val marked = synth(40).where(col("turn_idx") === 1)
        .select(col("conv_id"), col("turn_idx").cast("string").as("turn_idx"),
          concat(lit("x-"), col("conv_id")).as("__x"))
      run(MergeInto.merge(t, marked, "mark"))
      val expected = marked.select("conv_id", "__x").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      def check(step: String): Unit = withClue(s"after $step: ") {
        assert(t.schema.fieldNames.contains("__x"))
        val got = t.scan().df.where(col("turn_idx") === 1).select("conv_id", "__x").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        assert(got == expected)
      }
      check("merge")
      run(Compaction.compact(t, "c", smallFileBytes = 1L << 30, targetBytes = 1L << 30))
      check("compact")
      assert(run(Dedupe.runPass(t, "d", targetFileRows = 50)).duplicateRows > 0)
      check("dedupe")
      assert(run(DeleteFrom.run(t, "x", "turn_idx = 0", targetFileRows = 50)).deletedRows > 0)
      check("delete")
      assert(run(Clustering.cluster(t, "k", targetFileRows = 50)).rowsRewritten > 0)
      check("cluster")
    }
  }

  test("dedupe rebuilds a plan's missing victim counts; delete fails loudly without them") {
    val (t, ref) = (dedupeTable("missing-counts"), dedupeTable("missing-counts-ref"))
    val expected = Dedupe.runPass(ref, "dm")
    // a plan written before the counts sidecar existed
    intercept[InterruptedException](Dedupe.runPass(t, "dm", interruptAfter = 0))
    FileIO.Local.delete(FileIO.path(t.ledgerDir, "dm", "dedupe-victims.json"))
    val r = Dedupe.runPass(t, "dm")
    assert(r.copy(snapshot = null) == expected.copy(snapshot = null))
    assert(sortedRows(t.scan().df) == sortedRows(ref.scan().df))
    intercept[InterruptedException](DeleteFrom.run(t, "xm", "turn_idx = 0", interruptAfter = 0))
    FileIO.Local.delete(FileIO.path(t.ledgerDir, "xm", "delete-victims.json"))
    val e2 = intercept[IllegalStateException](DeleteFrom.run(t, "xm", "turn_idx = 0"))
    assert(e2.getMessage.contains("victim counts"))
  }

  private def dedupeFixtureRows: Seq[(String, Int, String, String, String, java.sql.Timestamp)] = {
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * 1000L)
    Seq(
      ("c001", 0, "user", "unique one", null, ts(0)),
      ("c001", 1, "user", "Copy  ME", null, ts(1)), // group A keeper (min key)
      ("c002", 0, "user", "copy me", null, ts(2)),  // dup of A (lower+ws collapse)
      ("c003", 0, "user", "copy me", null, ts(3)),  // dup of A
      ("c004", 0, "user", "unique two", null, ts(4)),
      ("c005", 0, "user", "", null, ts(5)),          // empty texts are NEVER
      ("c006", 0, "user", "", null, ts(6)))          // deduplicated
  }

  private def dedupeTable(name: String): LakeTable = {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpTable(name), TranscriptSynth.schema)
    val df = dedupeFixtureRows
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    t.append(df.repartitionByRange(3, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    t
  }

  test("dedupe: duplicate-text turns removed, keeper survives, isolation holds") {
    val t = dedupeTable("dedupe-exact")
    val pre = t.currentSnapshotId.get
    val filesBefore = t.currentFiles.map(_.path).toSet

    val res = Dedupe.runPass(t, "dd1")
    assert(res.duplicateRows == 2 && res.converged)
    val after = t.scan().df.select("conv_id", "turn_idx")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(after == Set(("c001", 0), ("c001", 1), ("c004", 0),
      ("c005", 0), ("c006", 0)),
      s"only the min-key copy of the dup group survives; got $after")

    // snapshot isolation: the pre-dedupe snapshot still shows every row
    assert(t.scan(snapshotId = Some(pre)).df.count() == 7)
    // files without victims carry forward untouched
    val filesAfter = t.currentFiles.map(_.path).toSet
    assert((filesBefore & filesAfter).nonEmpty,
      "victim-free files must carry forward verbatim")
    assert(res.touchedFiles < filesBefore.size)

    // same jobId: O(1) idempotent replay, no second commit
    val snapAfter = t.currentSnapshotId.get
    val replay = Dedupe.runPass(t, "dd1")
    assert(replay.snapshot.id == snapAfter && replay.duplicateRows == 0)
    // a fresh pass over the clean table: no victims -> no commit at all
    val noop = Dedupe.runPass(t, "dd2")
    assert(noop.snapshot.id == snapAfter && t.currentSnapshotId.get == snapAfter)
  }

  test("dedupe: minhash and simhash modes remove the same exact duplicates") {
    for (mode <- Seq("minhash", "simhash")) {
      val t = dedupeTable(s"dedupe-$mode")
      val res = Dedupe.runPass(t, s"dd-$mode", mode = mode)
      assert(res.duplicateRows == 2 && res.converged, s"mode $mode")
      val after = t.scan().df.select("conv_id", "turn_idx")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
      assert(after == Set(("c001", 0), ("c001", 1), ("c004", 0),
        ("c005", 0), ("c006", 0)), s"mode $mode: $after")
    }
  }

  test("dedupe unit=conversation: whole-conv dups removed, intra-conv repeats kept") {
    import spark.implicits._
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * 1000L)
    val t = LakeTable.create(spark, tmpTable("dedupe-conv"), TranscriptSynth.schema)
    // conv a: includes an INTERNAL repeated turn ("ok" twice);
    // conv b: byte-identical text sequence to a (a duplicated conversation);
    // conv c: distinct
    val rows = Seq[(String, Int, String, String, String, java.sql.Timestamp)](
      ("a", 0, "user", "hello there", null, ts(0)),
      ("a", 1, "assistant", "ok", null, ts(1)),
      ("a", 2, "user", "ok", null, ts(2)),
      ("b", 0, "user", "hello there", null, ts(3)),
      ("b", 1, "assistant", "ok", null, ts(4)),
      ("b", 2, "user", "ok", null, ts(5)),
      ("c", 0, "user", "different conversation", null, ts(6)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    t.append(rows.repartitionByRange(2, col("conv_id"), col("turn_idx")), "init")

    val res = Dedupe.runPass(t, "ddc", unit = "conversation")
    assert(res.duplicateRows == 3, "all three turns of conv b are victims")
    val after = t.scan().df.select("conv_id", "turn_idx")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(after == Set(("a", 0), ("a", 1), ("a", 2), ("c", 0)),
      s"conv b gone, conv a's internal repeat KEPT: $after")

    // minhash mode agrees on exact conv copies
    val t2 = LakeTable.create(spark, tmpTable("dedupe-conv-mh"), TranscriptSynth.schema)
    t2.append(rows.repartitionByRange(2, col("conv_id"), col("turn_idx")), "init")
    val res2 = Dedupe.runPass(t2, "ddc2", mode = "minhash", unit = "conversation")
    assert(res2.duplicateRows == 3)
  }

  test("dedupe conv-unit: an oversized conversation is skipped, never OOM'd or deleted") {
    import spark.implicits._
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * 1000L)
    val t = LakeTable.create(spark, tmpTable("dedupe-conv-cap"), TranscriptSynth.schema)
    val big = "x" * 200 // over the tiny cap below
    val rows = Seq[(String, Int, String, String, String, java.sql.Timestamp)](
      ("a", 0, "user", "short dup text", null, ts(0)),
      ("b", 0, "user", "short dup text", null, ts(1)), // dup of a: removable
      ("huge1", 0, "user", big, null, ts(2)),
      ("huge2", 0, "user", big, null, ts(3))) // identical to huge1 but OVER CAP
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    t.append(rows, "init")
    // crash after the plan (with its cap) is pinned: a resume with a
    // DIFFERENT cap is a changed parameter and must fail loudly
    intercept[Exception] {
      Dedupe.runPass(t, "ddcap", unit = "conversation", maxConvChars = 100,
        interruptAfter = 0)
    }
    val e = intercept[IllegalArgumentException] {
      Dedupe.runPass(t, "ddcap", unit = "conversation", maxConvChars = 999)
    }
    assert(e.getMessage.contains("changed parameters"))

    val res = Dedupe.runPass(t, "ddcap", unit = "conversation", maxConvChars = 100)
    assert(res.duplicateRows == 1, "only the under-cap duplicate conv is removed")
    assert(res.skippedConvs == 2, "both oversized conversations are reported skipped")
    val after = t.scan().df.select("conv_id").as[String].collect().toSet
    assert(after == Set("a", "huge1", "huge2"),
      s"oversized conversations must survive verbatim (skipped, not victims): $after")
  }

  test("dedupe minhash: moderately similar texts are NOT deleted (verify gate)") {
    import spark.implicits._
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * 1000L)
    val t = LakeTable.create(spark, tmpTable("dedupe-verify"), TranscriptSynth.schema)
    // two texts sharing ~half their shingles: band collisions may propose
    // the pair, but estimated Jaccard < 0.9 must refuse the deletion
    val shared = (1 to 12).map(i => s"common$i").mkString(" ")
    val rows = Seq[(String, Int, String, String, String, java.sql.Timestamp)](
      ("a", 0, "user", s"$shared alpha beta gamma delta epsilon zeta", null, ts(0)),
      ("b", 0, "user", s"$shared one two three four five six", null, ts(1)),
      ("c", 0, "user", "exact copy text here", null, ts(2)),
      ("d", 0, "user", "exact copy text here", null, ts(3)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    t.append(rows, "init")
    val res = Dedupe.runPass(t, "ddv", mode = "minhash")
    assert(res.duplicateRows == 1, s"only the exact copy is removed: ${res.duplicateRows}")
    val after = t.scan().df.select("conv_id").as[String].collect().toSet
    assert(after == Set("a", "b", "c"), s"similar-but-distinct texts survive: $after")
  }

  test("dedupe minhash: a massive exact-dup group costs member ROWS, not member PAIRS") {
    // 20k copies of one text: the distinct-sketch graph sees ONE node (the
    // row-pair formulation would expand ~2x10^8 within-group pairs through
    // the verify join and propagation — infeasible); the pass must both
    // complete quickly and keep exactly the smallest-keyed copy
    val t = LakeTable.create(spark, tmpTable("dedupe-mass"), TranscriptSynth.schema)
    val dup = spark.range(20000).select(
      format_string("d%08d", col("id")).as("conv_id"),
      lit(0).as("turn_idx"), lit("user").as("role"),
      lit("the same boilerplate text appears everywhere").as("text"),
      lit(null).cast("string").as("tool"),
      timestamp_millis(lit(1704067200000L) + col("id")).as("ts"))
    val unique = TranscriptSynth.turns(spark, 20, seed = 9L)
      .withColumn("conv_id", concat(lit("u"), col("conv_id")))
    t.append(dup.unionByName(unique)
      .repartitionByRange(8, col("conv_id"), col("turn_idx")), "init")

    val res = Dedupe.runPass(t, "dd-mass", mode = "minhash")
    assert(res.duplicateRows >= 19999, s"all copies but one go: ${res.duplicateRows}")
    val survivors = t.scan(convRange = Some(("d00000000", "d99999999"))).df
      .select("conv_id").collect().map(_.getString(0))
    assert(survivors.toSeq == Seq("d00000000"),
      s"exactly the smallest-keyed copy survives: ${survivors.take(5).toSeq}")
  }

  test("dedupe: a fully-duplicate slab leaves no empty data file behind") {
    import spark.implicits._
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * 1000L)
    val t = LakeTable.create(spark, tmpTable("dedupe-allvictim"), TranscriptSynth.schema)
    // file 1 = originals, file 2 = ONLY copies (every row a victim)
    val rows = Seq[(String, Int, String, String, String, java.sql.Timestamp)](
      ("a", 0, "user", "payload one", null, ts(0)),
      ("b", 0, "user", "payload two", null, ts(1)),
      ("y", 0, "user", "payload one", null, ts(2)),
      ("z", 0, "user", "payload two", null, ts(3)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    t.append(rows.repartitionByRange(2, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    val res = Dedupe.runPass(t, "ddav")
    assert(res.duplicateRows == 2)
    assert(t.currentFiles.forall(_.rows > 0), "no empty data files committed")
    assert(t.scan().df.select("conv_id").as[String].collect().toSet == Set("a", "b"))
  }

  test("dedupe: resume with different parameters fails loudly") {
    val t = dedupeTable("dedupe-params")
    intercept[Exception] {
      Dedupe.runPass(t, "ddp", groupTargetBytes = 1L, interruptAfter = 0)
    }
    val e = intercept[IllegalArgumentException] {
      Dedupe.runPass(t, "ddp", mode = "minhash", groupTargetBytes = 1L)
    }
    assert(e.getMessage.contains("changed parameters"))
    // same params resume fine
    val ok = Dedupe.runPass(t, "ddp", groupTargetBytes = 1L)
    assert(ok.duplicateRows == 2)
  }

  test("dedupe preserves evolved schema columns through the rewrite") {
    import spark.implicits._
    val t = dedupeTable("dedupe-evolve")
    // evolve the schema: a drop with a NEW column (priority) on one key
    val staged = Seq(("c004", "0", "", "", "", "high", 0L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "priority", "_seq")
    MergeInto.merge(t, staged, "evolve-drop")
    assert(t.schema.fieldNames.contains("priority"))

    val res = Dedupe.runPass(t, "dde2")
    assert(res.duplicateRows == 2)
    val after = t.scan().df
    assert(after.columns.contains("priority"), "evolved column survives the rewrite")
    assert(after.where(col("conv_id") === "c004" && col("priority") === "high").count() == 1,
      "evolved column VALUES survive the dedupe rewrite")
  }

  test("dedupe: empty table is a clean no-op") {
    val t = LakeTable.create(spark, tmpTable("dedupe-empty"), TranscriptSynth.schema)
    val r = Dedupe.runPass(t, "dde")
    assert(r.duplicateRows == 0 && t.currentSnapshotId.get == r.snapshot.id)
  }

  test("dedupe: interrupted pass resumes from the ledger, result identical") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpTable("dedupe-resume"), TranscriptSynth.schema)
    // dups spread across the key range so multiple task groups form
    val rows = (0 until 40).map { i =>
      val dup = i % 4 == 1 // every 4th conv duplicates the text of i-1
      val text = if (dup) f"payload number ${i - 1}%03d" else f"payload number $i%03d"
      (f"c$i%03d", 0, "user", text, null.asInstanceOf[String],
        new java.sql.Timestamp(1704067200000L + i * 1000L))
    }
    t.append(rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .repartitionByRange(8, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")

    // groupTargetBytes=1 forces one task group per touched file
    intercept[Exception] {
      Dedupe.runPass(t, "ddr", groupTargetBytes = 1L, interruptAfter = 1)
    }
    val resumed = Dedupe.runPass(t, "ddr", groupTargetBytes = 1L)
    assert(resumed.resumedGroups >= 1, "finished groups must resume from the ledger")
    assert(resumed.duplicateRows == 10)
    val after = t.scan().df.select("conv_id").as[String].collect().toSet
    assert(after == (0 until 40).filterNot(_ % 4 == 1).map(i => f"c$i%03d").toSet)
    // rewrite outputs keep TIGHT conv ranges (range-repartitioned before
    // write), so range scans still prune after a standalone dedupe pass
    val pr = t.scan(convRange = Some(("c000", "c004"))).prune
    assert(pr.ratio >= 0.5, s"dedupe output must stay prunable: ${pr.ratio}")
  }

  test("sketches: ensure heals pre-activation files; writes then self-cover") {
    val t = LakeTable.create(spark, tmpTable("sketches"), TranscriptSynth.schema)
    // written BEFORE the store exists: no coverage, no write-time cost
    t.append(synth(20).repartitionByRange(4, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    assert(t.currentFiles.forall(_.sketch.isEmpty))

    // first ensure ACTIVATES the store and heals all 4 files in ONE
    // consolidated batch + one metadata-only commit
    val filesBefore = t.currentFiles.map(_.path).toSet
    val p1 = Sketches.ensure(t)
    assert(p1.totalFiles == 4 && p1.computedFiles == 4)
    assert(t.currentFiles.map(_.path).toSet == filesBefore,
      "coverage commit must be metadata-only (no data file churn)")
    assert(t.currentFiles.forall(_.sketch.isDefined),
      "coverage truth lives in the manifest entries")
    assert(t.currentFiles.flatMap(_.sketch).distinct.size == 1,
      "one consolidated batch, not one dir per file")
    assert(p1.sketches.count() == t.scan().df.count(),
      "one sketch row per table row")
    // sketch rows carry real signatures + token counts
    val row = p1.sketches.where(col("n_tokens") > 0).head()
    assert(row.getAs[scala.collection.Seq[Long]]("minhash").length == 32)

    // pass 2 over the unchanged corpus: pure metadata, no commit
    val snapBefore = t.currentSnapshotId.get
    val p2 = Sketches.ensure(t)
    assert(p2.computedFiles == 0, "unchanged corpus must recompute nothing")
    assert(t.currentSnapshotId.get == snapBefore, "covered ensure must not commit")

    // the store is ACTIVE now: a new write sketches ITSELF — ensure finds
    // nothing to heal
    t.append(synth(5).withColumn("conv_id", concat(lit("z"), col("conv_id")))
      .repartitionByRange(2, col("conv_id"), col("turn_idx")), "more")
    assert(t.currentFiles.forall(_.sketch.isDefined),
      "an active store makes every write carry its own sketches")
    val p3 = Sketches.ensure(t)
    assert(p3.computedFiles == 0 && p3.totalFiles == 6,
      s"write-path sketching leaves ensure nothing: computed ${p3.computedFiles}")
    assert(p3.sketches.count() == t.scan().df.count())

    // params are pinned store-wide
    intercept[IllegalArgumentException] {
      Sketches.ensure(t, Sketches.Params(shingleK = 5))
    }
  }

  test("sketches survive a recluster: rewrite outputs arrive covered") {
    val t = LakeTable.create(spark, tmpTable("sketches-recluster"), TranscriptSynth.schema)
    t.append(synth(100).repartition(8), "init")
    assert(Sketches.ensure(t).computedFiles == 8)
    Clustering.cluster(t, "sk-cluster", targetFileRows = 200)
    assert(t.currentFiles.forall(_.sketch.isDefined),
      "clustered outputs must carry sketch coverage from their own write")
    val after = Sketches.ensure(t)
    assert(after.computedFiles == 0,
      s"a recluster must not invalidate coverage: ${after.computedFiles} re-sketched")
    assert(after.sketches.count() == t.scan().df.count())
  }

  test("sketches: orphan sweep removes unreferenced batches only") {
    val t = LakeTable.create(spark, tmpTable("sketches-gc"), TranscriptSynth.schema)
    t.append(synth(20).repartition(6), "init")
    Sketches.ensure(t) // batch 1 covers the 6 loaded files

    // compaction supersedes the small files — its output writes batch 2
    Compaction.compact(t, "sg-compact", smallFileBytes = 1L << 30, targetBytes = 1L << 30)
    assert(t.currentFiles.forall(_.sketch.isDefined))
    Expire.expire(t, retainLast = 1)
    // plant a crashed batch write's staging residue: swept past the grace age
    val crashed = Paths.get(t.root, "sketches", "_staging-deadbeef")
    java.nio.file.Files.createDirectories(crashed)
    val gc = OrphanGc.removeOrphans(t, olderThanMs = 0L, adoptGuardMs = 0L)
    assert(gc.deletedMeta.count(_.startsWith("sketches/")) == 2,
      s"batch of expired files + crashed staging swept: ${gc.deletedMeta}")
    assert(!java.nio.file.Files.exists(crashed))
    // current files' batch survives and still covers the table
    assert(Sketches.ensure(t).computedFiles == 0)
    assert(Sketches.sketchesFrame(t).count() == t.scan().df.count())
  }

  test("DELETE FROM: predicate rows removed, non-overlapping files untouched") {
    val t = LakeTable.create(spark, tmpTable("delete-from"), TranscriptSynth.schema)
    val data = synth(100)
    t.append(data.repartitionByRange(10, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    val pre = t.currentSnapshotId.get
    val filesBefore = t.currentFiles.map(_.path).toSet
    val expectSurvive = data.where(
      !(col("conv_id").between("c00000010", "c00000019") && col("role") === "tool")).count()

    // range-hinted predicate delete: only overlapping files are rewritten
    val res = DeleteFrom.run(t, "del1",
      "conv_id BETWEEN 'c00000010' AND 'c00000019' AND role = 'tool'",
      convRange = Some(("c00000010", "c00000019")))
    assert(res.deletedRows > 0)
    assert(t.scan().df.count() == expectSurvive)
    assert(t.scan().df.where(col("conv_id").between("c00000010", "c00000019") &&
      col("role") === "tool").count() == 0)
    // files outside the hinted range carried forward verbatim
    val filesAfter = t.currentFiles.map(_.path).toSet
    assert((filesBefore & filesAfter).size >= 7,
      s"non-overlapping files must carry: ${(filesBefore & filesAfter).size}")
    // snapshot isolation + idempotent replay
    assert(t.scan(snapshotId = Some(pre)).df.count() == data.count())
    val replay = DeleteFrom.run(t, "del1",
      "conv_id BETWEEN 'c00000010' AND 'c00000019' AND role = 'tool'",
      convRange = Some(("c00000010", "c00000019")))
    assert(replay.snapshot.id == res.snapshot.id && replay.deletedRows == 0)

    // a changed predicate on an IN-FLIGHT job fails loudly (a COMMITTED
    // job's replay is answered by the idempotence marker before any check)
    intercept[Exception] {
      DeleteFrom.run(t, "del3", "role = 'assistant'",
        groupTargetBytes = 1L, interruptAfter = 0)
    }
    val e = intercept[IllegalArgumentException] {
      DeleteFrom.run(t, "del3", "role = 'user'", groupTargetBytes = 1L)
    }
    assert(e.getMessage.contains("changed predicate"))

    // no-match predicate: NO new snapshot, no file churn
    val snapBefore = t.currentSnapshotId.get
    val noop = DeleteFrom.run(t, "del2", "role = 'never-a-role'")
    assert(noop.deletedRows == 0 && t.currentSnapshotId.get == snapBefore)
  }

  test("DELETE FROM: interrupted run resumes from the ledger") {
    val t = LakeTable.create(spark, tmpTable("delete-resume"), TranscriptSynth.schema)
    t.append(synth(60).repartitionByRange(6, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    val total = t.scan().df.count()
    val toDelete = t.scan().df.where(col("role") === "tool").count()
    intercept[Exception] {
      DeleteFrom.run(t, "delr", "role = 'tool'",
        groupTargetBytes = 1L, interruptAfter = 1)
    }
    val res = DeleteFrom.run(t, "delr", "role = 'tool'",
      groupTargetBytes = 1L)
    assert(res.resumedGroups >= 1)
    assert(res.deletedRows == toDelete)
    assert(t.scan().df.count() == total - toDelete)
    assert(t.scan().df.where(col("role") === "tool").count() == 0)
  }

  test("DELETE FROM: zero-victim files never rewritten (O(matching files))") {
    val t = LakeTable.create(spark, tmpTable("delete-sparse"), TranscriptSynth.schema)
    val data = synth(100)
    t.append(data.repartitionByRange(10, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    val filesBefore = t.currentFiles.map(_.path).toSet
    assert(filesBefore.size == 10)

    // UNHINTED delete whose matches live in ~1 slab: only the files that
    // CONTAIN matching rows may be rewritten — every other file's NAME must
    // survive (no churn, no sketch invalidation)
    val res = DeleteFrom.run(t, "sparse-del",
      "conv_id BETWEEN 'c00000020' AND 'c00000024' AND role = 'user'")
    assert(res.deletedRows > 0)
    assert(res.touchedFiles <= 2,
      s"a 5-conv delete on a 10-slab table must touch <=2 files, " +
        s"touched ${res.touchedFiles}")
    val filesAfter = t.currentFiles.map(_.path).toSet
    assert((filesBefore & filesAfter).size >= 8,
      s"zero-victim files must carry with names unchanged: " +
        s"${(filesBefore & filesAfter).size} of 10 carried")
    assert(t.scan().df.count() ==
      data.where(!(col("conv_id").between("c00000020", "c00000024") &&
        col("role") === "user")).count())
  }

  test("row retention prunes on per-file ts stats; resume survives default nowMs") {
    val t = LakeTable.create(spark, tmpTable("delete-tsprune"), TranscriptSynth.schema)
    // synth ts = Base + conv_seq*60s + turn*1s and the load is conv-range
    // partitioned, so event time correlates with the file layout. The hot
    // conversation is excluded here: its 1000 turns span half the slabs and
    // would legitimately hold expired rows in each — this test isolates the
    // PRUNING claim, the skew case is covered by the skew test.
    val data = synth(100).where(col("conv_id") =!= "c00000000")
    t.append(data.repartitionByRange(10, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    assert(t.currentFiles.forall(f => f.minTsUs.isDefined && f.maxTsUs.isDefined),
      "TIMESTAMP_MICROS writes must persist per-file event-time stats")
    val filesBefore = t.currentFiles.map(_.path).toSet

    // cutoff expires only the OLDEST conversations (~1 slab): the ts-stat
    // prune must keep every newer file out of the candidate set entirely
    val cutoffMs = TranscriptSynth.BaseTsMillis + 10L * 60000
    val expect = data.where(col("ts") >= timestamp_millis(lit(cutoffMs))).count()
    val res = DeleteFrom.run(t, "ts-del", s"ts < timestamp_millis(${cutoffMs}L)")
    assert(res.deletedRows == data.count() - expect && res.deletedRows > 0)
    assert(res.touchedFiles <= 2,
      s"a 10-min retention tick must rewrite only the old slab(s): " +
        s"touched ${res.touchedFiles} of 10")
    assert((filesBefore & t.currentFiles.map(_.path).toSet).size >= 8)
    assert(t.scan().df.count() == expect)

    // crashed-cycle resume with DEFAULT nowMs: the cycle replays the
    // predicate its first invocation pinned instead of deriving a new
    // cutoff from the wall clock and tripping the changed-predicate guard
    val t2 = LakeTable.create(spark, tmpTable("delete-resume-now"), TranscriptSynth.schema)
    t2.append(synth(40).repartitionByRange(4, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    val cut2 = TranscriptSynth.BaseTsMillis + 20L * 60000
    // mirror a real crashed cycle: its compaction phase COMMITTED, then the
    // row-retention delete died after pinning its plan
    Compaction.compact(t2, "cyc-x-compact")
    intercept[Exception] { // crash AFTER the plan is pinned
      DeleteFrom.run(t2, "cyc-x-rowexpire", s"ts < timestamp_millis(${cut2}L)",
        interruptAfter = 0)
    }
    assert(DeleteFrom.plannedPredicate(t2, "cyc-x-rowexpire")
      .contains(s"ts < timestamp_millis(${cut2}L)"))
    // the retried cycle (fresh wall clock) must resume cleanly
    val r = Maintenance.runCycle(t2, "cyc-x", targetFileRows = 100,
      groupTargetBytes = 64L << 10, retainLast = 2,
      rowRetentionMs = Some(1L)) // default nowMs — irrelevant, plan wins
    assert(r.rowRetention.exists(_.deletedRows > 0))
    assert(t2.scan().df
      .where(col("ts") < timestamp_millis(lit(cut2))).count() == 0)
  }

  test("DELETE FROM: a hint narrower than the predicate fails loudly") {
    val t = LakeTable.create(spark, tmpTable("delete-badhint"), TranscriptSynth.schema)
    t.append(synth(30), "init")
    // predicate can match c...00-c...29 but the hint claims only c...10-19:
    // trusting it would leave matching rows alive — must refuse
    val e = intercept[IllegalArgumentException] {
      DeleteFrom.run(t, "bad-hint",
        "conv_id BETWEEN 'c00000000' AND 'c00000029'",
        convRange = Some(("c00000010", "c00000019")))
    }
    assert(e.getMessage.contains("narrower"))
    // an unbounded predicate with any hint is also inconsistent
    intercept[IllegalArgumentException] {
      DeleteFrom.run(t, "bad-hint2", "role = 'tool'",
        convRange = Some(("c00000010", "c00000019")))
    }
    // a hint that CONTAINS the predicate's range is fine
    val ok = DeleteFrom.run(t, "good-hint",
      "conv_id BETWEEN 'c00000010' AND 'c00000012'",
      convRange = Some(("c00000000", "c00000019")))
    assert(ok.deletedRows > 0)
  }

  test("DELETE FROM predicates over EVOLVED columns: correct, unpruned, loud on typos") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpTable("delete-evolved"), TranscriptSynth.schema)
    t.append(synth(20), "init")
    // evolve: a drop adds `lang` on two keys
    val staged = Seq(
      ("c00000001", "0", "", "", "", "es", 0L),
      ("c00000002", "0", "", "", "", "en", 1L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "lang", "_seq")
    MergeInto.merge(t, staged, "lang-drop")
    val total = t.scan().df.count()

    // the predicate sees the EVOLVED schema; no key-range box derives from
    // it (conservative full candidate set), and only the matching row goes
    val res = DeleteFrom.run(t, "del-evolved", "lang = 'es'")
    assert(res.deletedRows == 1)
    assert(t.scan().df.count() == total - 1)
    assert(t.scan().df.where(col("lang") === "es").count() == 0)
    assert(t.scan().df.where(col("lang") === "en").count() == 1)

    // a predicate naming a column that does NOT exist fails at plan time,
    // never a silent no-op
    intercept[Exception] {
      DeleteFrom.run(t, "del-typo", "lnag = 'es'")
    }
  }

  test("merge: a zero-row drop carrying NEW columns commits the widened schema") {
    onBothMergePlans {
      import spark.implicits._
      val t = LakeTable.create(spark, tmpTable("merge-schema-only"), TranscriptSynth.schema)
      t.append(synth(5), "init")
      val snapBefore = t.currentSnapshotId.get
      val filesBefore = t.currentFiles.map(_.path)
      // all rows rejected (unparseable key), but the batch declares `lang`
      val staged = Seq(("c00000001", "not-a-number", "user", "x", "", "es", 0L))
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "lang", "_seq")
      val r = MergeInto.merge(t, staged, "schema-only-drop")
      assert(r.stagedRows == 0 && r.rejectedRows == 1)
      assert(t.currentSnapshotId.get == snapBefore + 1,
        "schema-only evolution must commit (metadata only)")
      assert(t.schema.fieldNames.contains("lang"),
        "the widened schema must not be silently dropped")
      assert(t.currentFiles.map(_.path) == filesBefore, "no data file churn")
      // and the evolved column reads as null on existing rows
      assert(t.scan().df.where(col("lang").isNull).count() == t.scan().df.count())
    }
  }

  test("compaction: many small files bin-packed, content identical") {
    val t = LakeTable.create(spark, tmpTable("compact"), TranscriptSynth.schema)
    val data = synth(60)
    t.append(data.repartition(40), "init") // 40 tiny files
    val before = t.currentFiles.size
    val pre = sortedRows(t.scan().df)
    val res = Compaction.compact(t, "compact-job-1", smallFileBytes = 32L << 20,
      targetBytes = 128L << 20)
    assert(res.snapshot.isDefined)
    assert(t.currentFiles.size < before / 2, s"files: $before -> ${t.currentFiles.size}")
    assert(sortedRows(t.scan().df) == pre, "compaction must not change content")
    // idempotent: same job id returns the committed snapshot, no new work
    val again = Compaction.compact(t, "compact-job-1")
    assert(again.snapshot.map(_.id) == res.snapshot.map(_.id))
  }

  test("clustering cold pass: >=90% file prune on conv range from a random layout") {
    val t = LakeTable.create(spark, tmpTable("cluster"), TranscriptSynth.schema)
    val data = synth(600)
    t.append(data.repartition(30), "init") // randomly distributed: no locality
    val pre = sortedRows(t.scan().df)

    val preScan = t.scan(convRange = Some(("c00000100", "c00000109")))
    assert(preScan.prune.ratio < 0.5) // random layout: almost nothing prunes

    // file count proportioned like a real table (selectivity << 1/nFiles is
    // the regime the >=90% criterion describes)
    val res = Clustering.cluster(t, "cluster-job-1", targetFileRows = 100)
    assert(res.groups == 1, "cold layout must plan one global shuffle")

    assert(sortedRows(t.scan().df) == pre, "clustering must not change content")
    val postScan = t.scan(convRange = Some(("c00000100", "c00000109")))
    assert(postScan.prune.ratio >= 0.9, s"prune ratio ${postScan.prune.ratio}")
    assert(sortedRows(postScan.df) ==
      pre.filter(r => r.getString(0) >= "c00000100" && r.getString(0) <= "c00000109"))

    // idempotent re-run
    val again = Clustering.cluster(t, "cluster-job-1")
    assert(again.snapshot.id == res.snapshot.id)
  }

  test("clustering with the Hilbert curve also meets the prune bar") {
    val t = LakeTable.create(spark, tmpTable("cluster-hilbert"), TranscriptSynth.schema)
    val data = synth(600)
    t.append(data.repartition(30), "init")
    val pre = sortedRows(t.scan().df)
    Clustering.cluster(t, "cluster-h", targetFileRows = 100, curve = "hilbert")
    assert(sortedRows(t.scan().df) == pre)
    val scan = t.scan(convRange = Some(("c00000100", "c00000109")))
    assert(scan.prune.ratio >= 0.9, s"hilbert prune ratio ${scan.prune.ratio}")
  }

  test("clustering incremental: range-local groups, interrupt + ledger resume") {
    val t = LakeTable.create(spark, tmpTable("cluster-inc"), TranscriptSynth.schema)
    val data = synth(300)
    // range-partitioned load: files already carry tight conv ranges
    t.append(data.repartitionByRange(24, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    val pre = sortedRows(t.scan().df)

    // interrupt after 1 group, then resume with the same job id
    intercept[InterruptedException] {
      Clustering.cluster(t, "cluster-job-2", targetFileRows = 200,
        groupTargetBytes = 32L << 10, interruptAfter = 1)
    }
    // the failed group left an `error` ledger row with the message
    val errRows = Ledger.asDataFrame(t, spark)
      .where(col("job_id") === "cluster-job-2" && col("state") === "error")
      .select("task_id", "error_message").collect()
    assert(errRows.length == 1, "interrupted group must checkpoint an error row")
    assert(errRows.head.getString(1).contains("chaos interrupt"))
    val errTaskId = errRows.head.getInt(0)

    val res = Clustering.cluster(t, "cluster-job-2", targetFileRows = 200,
      groupTargetBytes = 32L << 10)
    // resume recomputed the error task and flipped its row to done
    assert(Ledger.readTasks(t, "cluster-job-2")(errTaskId).state == "done")
    assert(Ledger.asDataFrame(t, spark)
      .where(col("job_id") === "cluster-job-2" && col("state") === "error").count() == 0)
    assert(res.groups >= 2, "range-local input must plan multiple groups")
    assert(res.resumedGroups >= 1, "must reuse the checkpointed group")

    assert(sortedRows(t.scan().df) == pre, "resume must reproduce exact content")
    val postScan = t.scan(convRange = Some(("c00000050", "c00000059")))
    assert(postScan.prune.ratio >= 0.9, s"prune ratio ${postScan.prune.ratio}")

    // ledger metrics exposed as a DataFrame
    val ledger = Ledger.asDataFrame(t, spark)
    assert(ledger.where(col("job_id") === "cluster-job-2" && col("state") === "done").count() >= 2)
  }

  test("snapshot isolation: reader pinned to S sees S after maintenance commits") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpTable("isolation"), TranscriptSynth.schema)
    t.append(synth(30), "init")
    val pinned = t.currentSnapshotId.get
    val before = sortedRows(t.scan(snapshotId = Some(pinned)).df)

    val staged = Seq(("c00000003", "0", "user", "CLOBBERED", ""))
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
    MergeInto.merge(t, staged, "drop-iso")
    Clustering.cluster(t, "cluster-iso", targetFileRows = 500, groupTargetBytes = 64L << 10)

    assert(sortedRows(t.scan(snapshotId = Some(pinned)).df) == before,
      "pinned snapshot must be byte-stable across maintenance")
    assert(t.scan().df.where(col("text") === "CLOBBERED").count() == 1)
  }

  test("expiry: old snapshots + unreferenced files deleted, current readable") {
    val t = LakeTable.create(spark, tmpTable("expire"), TranscriptSynth.schema)
    t.append(synth(20).repartition(10), "init")
    Compaction.compact(t, "expire-compact", smallFileBytes = 32L << 20)
    val pre = sortedRows(t.scan().df)
    val nSnapshots = t.allSnapshots.size
    assert(nSnapshots >= 3)
    val filesOnDisk = Files.list(Paths.get(t.root, "data")).count()

    val res = Expire.expire(t, retainLast = 1)
    assert(res.expiredSnapshots.nonEmpty)
    assert(res.deletedDataFiles.nonEmpty, "compacted-away small files must be GC'd")
    assert(res.failures.isEmpty)
    assert(Files.list(Paths.get(t.root, "data")).count() < filesOnDisk)
    assert(t.allSnapshots.size < nSnapshots)
    assert(sortedRows(t.scan().df) == pre, "current snapshot must survive expiry")
  }

  test("expiry by age: olderThanMs is a retention AGE, not an absolute cutoff") {
    val t = LakeTable.create(spark, tmpTable("expire-age"), TranscriptSynth.schema)
    t.append(synth(5), "first")
    t.append(synth(3).where(col("conv_id") === "c00000099"), "second")
    val n = t.allSnapshots.size
    assert(n >= 3)
    // young snapshots stay INSIDE the retention window even beyond
    // retainLast (retain if young OR among the newest retainLast)
    val young = Expire.expire(t, retainLast = 1, olderThanMs = Some(24L * 3600 * 1000))
    assert(young.expiredSnapshots.isEmpty, "nothing is older than 24h yet")
    // injected clock 10s ahead + 5s retention: everything beyond retainLast
    // is now old enough to expire
    val aged = Expire.expire(t, retainLast = 1, olderThanMs = Some(5000L),
      nowMs = System.currentTimeMillis() + 10000)
    assert(aged.expiredSnapshots.size == n - 1, s"expired ${aged.expiredSnapshots}")
    assert(t.allSnapshots.map(_.id) == Vector(t.currentSnapshotId.get))
  }

  test("manifest rewrite: pure metadata op, data unchanged, bounded manifests") {
    val t = LakeTable.create(spark, tmpTable("manifest"), TranscriptSynth.schema)
    t.append(synth(50).repartitionByRange(12, col("conv_id")), "init")
    val pre = sortedRows(t.scan().df)
    val dataFilesBefore = t.currentFiles.map(_.path).toSet
    val snap = ManifestRewrite.rewrite(t, entriesPerManifest = 3)
    assert(snap.manifestPaths.size >= 4) // 12 files / 3 per manifest
    assert(t.currentFiles.map(_.path).toSet == dataFilesBefore)
    assert(sortedRows(t.scan().df) == pre)
  }

  test("recluster reuses the previous cluster job's quantile cuts") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpTable("cut-reuse"), TranscriptSynth.schema)
    t.append(synth(600).repartition(30), "init")
    Clustering.cluster(t, "cuts-a", targetFileRows = 100)
    val staged = Seq(("c00000007", "0", "user", "PATCHED", "", 0L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
    MergeInto.merge(t, staged, "patch")
    Clustering.cluster(t, "cuts-b", targetFileRows = 100)
    val a = Ledger.readPlan(t, "cuts-a").get
    val b = Ledger.readPlan(t, "cuts-b").get
    assert(b.convCuts.sameElements(a.convCuts) && b.turnCuts.sameElements(a.turnCuts),
      "second cluster job must reuse the persisted cuts, not re-sample")
    val scan = t.scan(convRange = Some(("c00000100", "c00000109")))
    assert(scan.prune.ratio >= 0.9, s"prune after cut-reuse recluster: ${scan.prune.ratio}")
  }

  test("commitDelta: a small merge carries untouched manifests forward verbatim") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpTable("manifest-reuse"), TranscriptSynth.schema)
    t.append(synth(120).repartitionByRange(12, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    ManifestRewrite.rewrite(t, entriesPerManifest = 2) // 12 files -> 6 manifests
    val before = t.currentSnapshot.get.manifests
    assert(before.size >= 6)

    // merge touching one conversation -> 1-2 files -> at most 2 manifests
    val staged = Seq(("c00000050", "0", "user", "UPDATED-BY-MERGE", "", 0L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
    MergeInto.merge(t, staged, "tiny-drop")

    val after = t.currentSnapshot.get.manifests
    val beforePaths = before.map(_.path).toSet
    val carried = after.filter(r => beforePaths(r.path))
    val fresh = after.filterNot(r => beforePaths(r.path))
    assert(carried.size >= before.size - 2,
      s"a 1-conv merge must carry >=${before.size - 2} of ${before.size} manifests, " +
        s"carried only ${carried.size}")
    assert(fresh.size <= 2, s"a 1-conv merge must write <=2 manifests, wrote ${fresh.size}")
    // carried refs are byte-identical (same path, same persisted stats)
    val beforeByPath = before.map(r => r.path -> r).toMap
    carried.foreach(r => assert(r == beforeByPath(r.path)))
    // and the summary records the reuse
    val sm = t.currentSnapshot.get.summary
    assert(sm("carried_manifests").toInt == carried.size)
    assert(sm("new_manifests").toInt == fresh.size)
  }

  test("merge opens only manifests whose persisted range overlaps the staged batch") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpTable("merge-manifest-prune"), TranscriptSynth.schema)
    t.append(synth(200).repartitionByRange(20, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    ManifestRewrite.rewrite(t, entriesPerManifest = 2) // 20 files -> 10 manifests
    val staged = Seq(("c00000050", "0", "user", "UPDATED-BY-MERGE", "", 0L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
    val r = MergeInto.merge(t, staged, "one-conv-drop")
    assert(r.totalManifests >= 10)
    assert(r.openedManifests <= 2,
      s"a 1-conv merge must OPEN <=2 of ${r.totalManifests} manifests " +
        s"(the rest carry forward unparsed), opened ${r.openedManifests}")
    // and the merged row actually landed
    val got = t.scan(convRange = Some(("c00000050", "c00000050"))).df
      .where(col("turn_idx") === 0).select("text").collect().map(_.getString(0))
    assert(got.toSeq == Seq("UPDATED-BY-MERGE"))
  }

  test("scan opens only manifests whose persisted range overlaps the predicate") {
    val t = LakeTable.create(spark, tmpTable("manifest-prune"), TranscriptSynth.schema)
    t.append(synth(200).repartitionByRange(20, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    ManifestRewrite.rewrite(t, entriesPerManifest = 2) // 20 files -> 10 manifests
    val scan = t.scan(convRange = Some(("c00000010", "c00000019")))
    assert(scan.prune.totalManifests >= 10)
    assert(scan.prune.openedManifests <= 2,
      s"narrow range must open <=2 of ${scan.prune.totalManifests} manifests, " +
        s"opened ${scan.prune.openedManifests}")
    assert(scan.prune.totalFiles == 20) // entry counts from UNOPENED manifests still sum
    val expected = sortedRows(t.scan().df.where(
      col("conv_id").between("c00000010", "c00000019")))
    assert(sortedRows(scan.df) == expected)
  }

  test("commitDelta rejects removals planned against a rewritten manifest") {
    val t = LakeTable.create(spark, tmpTable("stale-delta"), TranscriptSynth.schema)
    t.append(synth(40).repartitionByRange(8, col("conv_id")), "init")
    // writer B plans a removal against the current layout...
    val planned = t.currentEntries.take(2)
    // ...then a concurrent maintenance commit rewrites every manifest
    ManifestRewrite.rewrite(t, entriesPerManifest = 3)
    // B's commit must surface the conflict, not silently duplicate rows
    intercept[LakeTable.CommitConflictException] {
      t.commitDelta(Vector.empty, planned, "stale-compact")
    }
  }

  test("crash-orphan commit: adopted by the next writer instead of wedging the table") {
    val t = LakeTable.create(spark, tmpTable("orphan-adopt"), TranscriptSynth.schema)
    t.append(synth(10), "first")
    t.append(synth(10).withColumn("conv_id", concat(lit("x"), col("conv_id"))), "second")
    val committed = t.currentSnapshotId.get
    val rows2 = t.scan().df.count()
    // simulate a commit that crashed between snap-json CREATE_NEW and the
    // pointer swing: roll the pointer back to the parent
    val hint = java.nio.file.Paths.get(t.root, "metadata", "version-hint.txt")
    java.nio.file.Files.writeString(hint, (committed - 1).toString)

    // the orphan must be invisible until adopted
    assert(t.currentSnapshotId.contains(committed - 1))
    assert(t.snapshotAsOf(Long.MaxValue).get.id == committed - 1,
      "time travel must not see a never-published snapshot")

    // next commit hits the orphan, ADOPTS it (pointer moves), and reports a
    // retryable conflict — the round-2 behavior wedged every retry forever
    val extra = synth(10).withColumn("conv_id", concat(lit("y"), col("conv_id")))
    val e = intercept[LakeTable.CommitConflictException] { t.append(extra, "third") }
    assert(e.getMessage.contains("adopted"))
    assert(t.currentSnapshotId.contains(committed), "pointer must now be at the orphan")

    // and the retry succeeds on top of the adopted snapshot
    val snap = t.append(extra, "third-retry")
    assert(snap.id == committed + 1)
    assert(t.scan().df.count() == rows2 + extra.count())
  }

  test("stale orphan snapshot: superseded by the next writer, not adopted") {
    val t = LakeTable.create(spark, tmpTable("orphan-stale"), TranscriptSynth.schema)
    t.append(synth(10), "first")
    t.append(synth(10).withColumn("conv_id", concat(lit("x"), col("conv_id"))), "second")
    val committed = t.currentSnapshotId.get
    val hint = java.nio.file.Paths.get(t.root, "metadata", "version-hint.txt")
    java.nio.file.Files.writeString(hint, (committed - 1).toString)
    // age the orphan past OrphanAdoptMaxAgeMs: its writer is long dead, and
    // adopting a crashed commit hours later would publish a ghost write —
    // the next commit must take the id for itself instead
    val orphan = java.nio.file.Paths.get(t.root, "metadata", s"snap-$committed.json")
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * LakeTable.OrphanAdoptMaxAgeMs))
    val rows1 = t.scan().df.count() // pointer at committed-1
    val extra = synth(7).withColumn("conv_id", concat(lit("y"), col("conv_id")))
    val snap = t.append(extra, "third") // no conflict: supersede + commit
    assert(snap.id == committed, "the superseding commit reuses the orphan's id")
    assert(t.currentSnapshotId.contains(committed))
    assert(t.currentSnapshot.get.summary.get("append_tag").contains("third"),
      "the orphan's content must be replaced by the new writer's snapshot")
    assert(t.scan().df.count() == rows1 + extra.count(),
      "the dead writer's rows must NOT appear")
    // supersede QUARANTINES the stale bytes (atomic rename: two concurrent
    // superseders can't both win, and a pointer-regression accident keeps
    // its data recoverable for the grace window); GC sweeps it past grace
    val metaDir = java.nio.file.Paths.get(t.root, "metadata")
    val quarantined = FileIO.Local.list(metaDir.toString)
      .filter(_.contains(".json.superseded-"))
    assert(quarantined.size == 1, s"expected a quarantine file, got $quarantined")
    val gc = OrphanGc.removeOrphans(t, olderThanMs = 0,
      nowMs = System.currentTimeMillis() + 60000, adoptGuardMs = 0)
    assert(gc.deletedMeta.exists(_.contains(".json.superseded-")),
      s"GC must sweep the quarantine file past grace, got ${gc.deletedMeta}")
  }

  test("torn orphan snapshot: never adopted, maintenance unharmed, GC sweeps it") {
    val t = LakeTable.create(spark, tmpTable("orphan-torn"), TranscriptSynth.schema)
    t.append(synth(10), "first")
    val committed = t.currentSnapshotId.get
    // a commit that crashed MID-WRITE of the snapshot json: truncated garbage
    val torn = java.nio.file.Paths.get(t.root, "metadata", s"snap-${committed + 1}.json")
    java.nio.file.Files.writeString(torn, "{\"snapshot_id\": 99, \"trunc")

    // the next writer must NOT swing the pointer to the unparseable file
    val extra = synth(5).withColumn("conv_id", concat(lit("t"), col("conv_id")))
    intercept[LakeTable.CommitConflictException] { t.append(extra, "second") }
    assert(t.currentSnapshotId.contains(committed),
      "pointer must stay on the last VALID snapshot")
    assert(t.scan().df.count() > 0, "table stays readable")

    // expiry and GC tolerate the torn file; GC sweeps it past the grace age
    // (adoptGuardMs = 0: simulate the post-grace sweep directly)
    Expire.expire(t, retainLast = 1)
    val res = OrphanGc.removeOrphans(t, olderThanMs = 0,
      nowMs = System.currentTimeMillis() + 60000, adoptGuardMs = 0)
    assert(res.deletedMeta.contains(s"snap-${committed + 1}.json"))
    // with the residue gone, the retry commits cleanly
    val snap = t.append(extra, "second-retry")
    assert(snap.id == committed + 1)
  }

  test("job idempotence: O(1) ledger marker, chain-walk fallback heals it") {
    val t = LakeTable.create(spark, tmpTable("idem-marker"), TranscriptSynth.schema)
    t.append(synth(60).repartition(6), "init")
    val r1 = Clustering.cluster(t, "job-A")
    assert(r1.groups > 0)
    // marker is PER OPERATION: a different op sharing the jobId must not
    // see cluster's marker as its own
    val marker = Paths.get(t.ledgerDir, "job-A/commit-cluster.json")
    assert(java.nio.file.Files.exists(marker), "commit marker written after the snapshot")
    assert(Ledger.committedJobSnapshot(t, "job-A", "compact").isEmpty,
      "another operation must not inherit this op's marker")

    // rerun short-circuits via the marker (no work, same snapshot)
    val r2 = Clustering.cluster(t, "job-A")
    assert(r2.groups == 0 && r2.snapshot.id == r1.snapshot.id)

    // a LEGACY single marker (pre-per-op layouts) still short-circuits when
    // its operation matches
    val legacy = Paths.get(t.ledgerDir, "job-A/commit.json")
    java.nio.file.Files.move(marker, legacy)
    assert(Ledger.committedJobSnapshot(t, "job-A", "cluster")
      .exists(_.id == r1.snapshot.id), "legacy commit.json must still count")
    java.nio.file.Files.delete(legacy)

    // crash between commitDelta and marker write: the parent-chain walk
    // (bounded by the plan's base snapshot) finds the commit and re-marks
    val r3 = Clustering.cluster(t, "job-A")
    assert(r3.groups == 0 && r3.snapshot.id == r1.snapshot.id)
    assert(java.nio.file.Files.exists(marker), "fallback must heal the marker")
  }

  test("ledger expiry: committed old job dirs swept, unfinished jobs kept forever") {
    val t = LakeTable.create(spark, tmpTable("ledger-expiry"), TranscriptSynth.schema)
    t.append(synth(40).repartition(4), "init")
    Clustering.cluster(t, "old-cluster") // committed: marker + plan + tasks
    Ledger.writePlan(t, "unfinished-job", t.currentSnapshotId.get,
      Vector(Vector("data/x.parquet")), kind = "compact") // no commit marker
    val future = System.currentTimeMillis() + 60000
    val res = Ledger.expireJobs(t, olderThanMs = 0, nowMs = future)
    assert(res.deletedJobs == Vector("old-cluster"), s"got ${res.deletedJobs}")
    assert(java.nio.file.Files.exists(Paths.get(t.ledgerDir, "unfinished-job/plan.json")),
      "an uncommitted job's checkpoints must never be swept")
    // replaying the swept job id is a cheap incremental no-op, not a rerun
    val replay = Clustering.cluster(t, "old-cluster")
    assert(replay.rowsRewritten == 0L)
  }

  test("maintenance on a clean table: empty jobs are marked, swept and replayable") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpTable("empty-plan"), TranscriptSynth.schema)
    t.append(synth(60).repartition(6), "init")
    Seq("cyc-1", "cyc-2", "cyc-3").foreach(c => Maintenance.runCycle(t, c, targetFileRows = 100))
    // cycles 2 and 3 found nothing to compact or recluster: their jobs are
    // still marked committed, exactly like a job that rewrote files
    for (c <- Seq("cyc-2", "cyc-3"); op <- Seq("compact", "cluster"))
      assert(Files.exists(Paths.get(t.ledgerDir, s"$c-$op/commit-$op.json")),
        s"empty job $c-$op must be marked committed")

    // replaying a cycle after a later commit answers from the markers
    // instead of failing on a stale empty plan
    val staged = Seq(("c00000003", "0", "user", "LATE-PATCH", "", 0L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
    MergeInto.merge(t, staged, "late-drop", targetFileRows = 100)
    val current = t.currentSnapshotId.get
    val replay = Maintenance.runCycle(t, "cyc-2", targetFileRows = 100)
    assert(replay.compact.bins == 0 && replay.cluster.groups == 0)
    assert(t.currentSnapshotId.get == current, "a replayed cycle commits nothing")

    // marked jobs age out of the ledger like any finished job
    val swept = Ledger.expireJobs(t, olderThanMs = 0,
      nowMs = System.currentTimeMillis() + 10L * 24 * 3600 * 1000)
    val all = for (c <- 1 to 3; op <- Seq("cluster", "compact")) yield s"cyc-$c-$op"
    assert(swept.deletedJobs.sorted == all.sorted, s"swept ${swept.deletedJobs}")
  }

  test("job protocol: a failed group checkpoints an error, the rerun reuses done outputs") {
    val t = LakeTable.create(spark, tmpTable("job-crash"), TranscriptSynth.schema)
    t.append(synth(40).repartition(8), "init")
    val pre = sortedRows(t.scan().df)
    val before = t.currentSnapshotId.get
    val files = t.currentFiles.map(_.path).sorted
    val inputs = files.take(6) // three bins of two; two files stay out of the plan
    val jobId = "crash-compact"
    val plan = Ledger.planOrResume(t, jobId, "compact", kind = "compact")(
      Ledger.Plan(before, inputs.grouped(2).toVector)).toOption.get

    // group 1 fails; one-at-a-time submission stops there
    val e = intercept[IllegalStateException] {
      Ledger.runJob(t, jobId, "compact", plan, parallelism = 1) { (in, gi) =>
        if (gi == 1) throw new IllegalStateException("bin 1 failed")
        t.writeDataFiles(t.readData(in.map(f => t.absData(f.path))).coalesce(1),
          s"$jobId-b$gi")
      }(_ => Map.empty)
    }
    assert(e.getMessage == "bin 1 failed")
    val crashed = Ledger.readTasks(t, jobId)
    assert(crashed(0).state == "done")
    assert(crashed(1).state == "error" && crashed(1).errorMessage == "bin 1 failed")
    assert(!crashed.contains(2))
    assert(t.currentSnapshotId.get == before, "a failed job commits nothing")

    // compaction resumes the same plan: bin 0 reused, bins 1-2 rewritten
    val res = Compaction.compact(t, jobId)
    assert(res.bins == 3 && res.resumedBins == 1 && res.filesCompacted == 6)
    val after = Ledger.readTasks(t, jobId)
    assert(after.size == 3 && after.values.forall(_.state == "done"),
      "the rerun flips the error row to done")
    assert(after(0).outFiles.map(_.path) == crashed(0).outFiles.map(_.path),
      "a done group's output files are reused verbatim")
    // the commit removed exactly the plan's inputs
    val outputs = after.values.flatMap(_.outFiles.map(_.path)).toSet
    assert(t.currentFiles.map(_.path).toSet == (files.toSet -- inputs) ++ outputs)
    assert(sortedRows(t.scan().df) == pre, "resume must reproduce exact content")
  }

  test("orphan GC sweeps unreferenced metadata (crashed-commit residue)") {
    val t = LakeTable.create(spark, tmpTable("orphan-meta-gc"), TranscriptSynth.schema)
    t.append(synth(10), "first")
    val keepFiles = t.currentFiles.map(_.path).toSet
    t.append(synth(10).withColumn("conv_id", concat(lit("x"), col("conv_id"))), "second")
    val orphanId = t.currentSnapshotId.get
    val orphanOnlyFiles = t.currentFiles.map(_.path).toSet -- keepFiles
    // roll the pointer back: snapshot `orphanId` becomes crashed-commit residue
    val hint = java.nio.file.Paths.get(t.root, "metadata", "version-hint.txt")
    java.nio.file.Files.writeString(hint, (orphanId - 1).toString)
    // plus a stray half-written pointer temp
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t.root, "metadata", "version-hint.tmp-99"), "99")

    val res = OrphanGc.removeOrphans(t, olderThanMs = 0,
      nowMs = System.currentTimeMillis() + 60000, adoptGuardMs = 0)
    assert(res.deletedMeta.contains(s"snap-$orphanId.json"))
    assert(res.deletedMeta.contains("version-hint.tmp-99"))
    assert(res.deletedMeta.exists(_.startsWith("manifest-")),
      s"the orphan's fresh manifests must be swept, got ${res.deletedMeta}")
    assert(orphanOnlyFiles.forall(f => res.deleted.contains(f)),
      "the orphan's data files must be swept once its snapshot is gone")
    assert(keepFiles.forall(f => !res.deleted.contains(f)))
    assert(t.scan().df.count() > 0, "committed snapshot still readable")
    assert(res.failures.isEmpty, s"unexpected failures: ${res.failures}")
  }

  test("expire tolerates a manifest a prior half-failed expire already deleted") {
    val t = LakeTable.create(spark, tmpTable("expire-tolerant"), TranscriptSynth.schema)
    t.append(synth(20).repartition(4), "init")
    val oldSnap = t.currentSnapshotId.get
    val oldManifests = t.currentSnapshot.get.manifestPaths
    ManifestRewrite.rewrite(t, entriesPerManifest = 2) // fresh manifests; old ones now
    t.append(synth(5).withColumn("conv_id", concat(lit("z"), col("conv_id"))), "more")
    // simulate the prior failure: manifest gone, snap json still listed
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(t.root, "metadata", oldManifests.head))

    val res = Expire.expire(t, retainLast = 1)
    assert(res.expiredSnapshots.contains(oldSnap))
    assert(res.deletedMetaFiles.contains(s"snap-$oldSnap.json"),
      "the dangling snap json must finally be deleted")
    assert(res.failures.exists(_.contains(oldManifests.head)),
      "the missing manifest is reported, not fatal")
    assert(t.scan().df.count() > 0)
  }

  test("commit conflict: concurrent writers to the same parent cannot both win") {
    val t = LakeTable.create(spark, tmpTable("conflict"), TranscriptSynth.schema)
    t.append(synth(10), "init")
    // simulate a concurrent committer that already won snapshot id+1
    val nextId = t.currentSnapshotId.get + 1
    Files.writeString(Paths.get(t.root, "metadata", s"snap-$nextId.json"), "{}")
    intercept[LakeTable.CommitConflictException] {
      t.append(synth(5), "racer")
    }
  }

  test("hostile job tags are sanitized: file-name matching survives weird ids") {
    import spark.implicits._
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * 1000L)
    val t = LakeTable.create(spark, tmpTable("hostile-tag"), TranscriptSynth.schema)
    val rows = Seq[(String, Int, String, String, String, java.sql.Timestamp)](
      ("a", 0, "user", "dup payload", null, ts(0)),
      ("b", 0, "user", "dup payload", null, ts(1)),
      ("c", 0, "user", "unique", null, ts(2)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    // a tag with spaces / % / slash lands in data-file NAMES — which
    // input_file_name() would URL-encode, silently unmatching every victim
    // row keyed by file path; the write boundary must sanitize it
    t.append(rows, "we ird%ta/g")
    assert(t.currentFiles.forall(_.path.matches("data/[A-Za-z0-9._-]+\\.parquet")),
      s"unsafe tag chars must not reach file names: ${t.currentFiles.map(_.path)}")
    val res = Dedupe.runPass(t, "dd-hostile")
    assert(res.duplicateRows == 1, "victim-by-file matching must survive the tag")
    assert(t.scan().df.select("conv_id").as[String].collect().toSet == Set("a", "c"))
  }

  test("writeDataFiles: replayed identical tag never overwrites existing files") {
    val t = LakeTable.create(spark, tmpTable("replay"), TranscriptSynth.schema)
    val a = t.writeDataFiles(synth(10), "stream-0")
    val b = t.writeDataFiles(synth(10), "stream-0") // at-least-once replay
    assert(a.map(_.path).toSet.intersect(b.map(_.path).toSet).isEmpty,
      "replay must land on fresh unique paths")
    (a ++ b).foreach(f => assert(Files.exists(Paths.get(t.absData(f.path)))))
  }

  test("incremental recluster: only slabs touched since the last cluster rewrite") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpTable("incr-recluster"), TranscriptSynth.schema)
    val data = synth(600)
    t.append(data.repartition(30), "init")
    Clustering.cluster(t, "incr-a", targetFileRows = 100) // first: full
    val total = t.currentFiles.map(_.rows).sum
    val pre = sortedRows(t.scan().df)

    // a merge touching ONE conversation dirties one slab
    val staged = Seq(("c00000123", "0", "user", "PATCH-123", "", 0L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
    MergeInto.merge(t, staged, "one-conv-drop", targetFileRows = 100)

    val res = Clustering.cluster(t, "incr-b", targetFileRows = 100,
      groupTargetBytes = 64L << 10)
    assert(res.rowsRewritten > 0, "the dirty slab must be rewritten")
    assert(res.rowsRewritten < total / 3,
      s"a 1-conv merge must not trigger a full recluster: " +
        s"${res.rowsRewritten} of $total rows rewritten")

    val expected = pre.map(r =>
      if (r.getString(0) == "c00000123" && r.getInt(1) == 0)
        Row(r.getString(0), r.getInt(1), r.getString(2), "PATCH-123", r.getString(4), r.get(5))
      else r)
    assert(sortedRows(t.scan().df) == expected)
    val scan = t.scan(convRange = Some(("c00000100", "c00000109")))
    assert(scan.prune.ratio >= 0.9, s"prune after incremental recluster ${scan.prune.ratio}")

    // nothing dirty now: an immediate follow-up job is a no-op
    val noop = Clustering.cluster(t, "incr-c", targetFileRows = 100)
    assert(noop.groups == 0 && noop.rowsRewritten == 0L)
  }

  test("skew: the hot conversation neither creates straggler files nor kills pruning") {
    val t = LakeTable.create(spark, tmpTable("skew"), TranscriptSynth.schema)
    // synth conv 0 is HOT (1000 turns vs ~11 mean) — the north-rule skew case
    val data = synth(300)
    t.append(data.repartition(20), "init")
    val total = t.currentFiles.map(_.rows).sum
    Clustering.cluster(t, "skew-job", targetFileRows = 150)

    // salted range partitioning + AQE: no output file collects the whole
    // hot conversation as a straggler
    val sizes = t.currentFiles.map(_.rows)
    assert(sizes.max <= 2 * 150,
      s"hot conv must spread across files; sizes=${sizes.sorted.reverse.take(5)}")

    // the hot conv scans exactly and cheaply (its slab, not the whole curve)
    val hot = t.scan(convRange = Some(("c00000000", "c00000000")))
    assert(hot.df.count() == data.where(col("conv_id") === "c00000000").count())
    assert(hot.prune.ratio > 0.5,
      s"hot-conv scan must not read most of the table: ${hot.prune.ratio}")
    // and pruning for OTHER conversations survives the hot neighbor
    val cold = t.scan(convRange = Some(("c00000100", "c00000109")))
    assert(cold.prune.ratio >= 0.8, s"cold prune ${cold.prune.ratio}")
    assert(t.scan().df.count() == total)
  }

  test("time travel: snapshotAsOf resolves the newest snapshot at or before ts") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpTable("timetravel"), TranscriptSynth.schema)
    t.append(synth(10), "init")
    val s1 = t.currentSnapshot.get
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    val staged = Seq(("c00000001", "0", "user", "LATER", "", 0L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
    MergeInto.merge(t, staged, "later-drop")
    assert(t.snapshotAsOf(mid).map(_.id).contains(s1.id))
    assert(t.snapshotAsOf(System.currentTimeMillis()).map(_.id) == t.currentSnapshotId)
    assert(t.snapshotAsOf(0L).isEmpty)
    val asOf = t.scan(snapshotId = t.snapshotAsOf(mid).map(_.id)).df
    assert(asOf.where(col("text") === "LATER").count() == 0)
  }

  test("orphan GC: unreferenced write-attempt residue swept, fresh files spared") {
    val t = LakeTable.create(spark, tmpTable("orphans"), TranscriptSynth.schema)
    t.append(synth(10), "init")
    val live = t.currentFiles.map(_.path).toSet
    // a crashed attempt: files written, never committed
    val orphans = t.writeDataFiles(synth(5), "crashed-attempt")
    assert(orphans.nonEmpty)
    // an INTERRUPTED job's checkpointed group: in the ledger, in no
    // snapshot — must be spared (resume will adopt these files verbatim)
    val checkpointed = t.writeDataFiles(synth(3), "job-x-g0")
    Ledger.writeTask(t, Ledger.TaskRow("job-x", 0, "done",
      Vector.empty, checkpointed, 3, 1, 1))
    // too fresh -> spared (could be an in-flight writer)
    val spared = OrphanGc.removeOrphans(t, olderThanMs = 60000)
    assert(spared.deleted.isEmpty)
    // old enough -> swept; committed AND ledger-checkpointed files untouched
    val swept = OrphanGc.removeOrphans(t, olderThanMs = -1)
    assert(swept.deleted.toSet == orphans.map(_.path).toSet)
    checkpointed.foreach(f => assert(Files.exists(Paths.get(t.absData(f.path)))))
    assert(swept.failures.isEmpty)
    assert(t.currentFiles.map(_.path).toSet == live)
    assert(sortedRows(t.scan().df) == sortedRows(synth(10)))
  }

  test("materialize: cached artifact served, missing one rebuilt byte-equal") {
    val t = LakeTable.create(spark, tmpTable("materialize"), TranscriptSynth.schema)
    t.append(synth(20), "init")
    val outRoot = tmpTable("artifacts")
    val first = Materialize.sanitizedCsv(t, outRoot, "export")
    assert(first.rebuilt, "first request must build")
    val again = Materialize.sanitizedCsv(t, outRoot, "export")
    assert(!again.rebuilt && again.path == first.path, "second request is a cache hit")
    val original = spark.read.option("header", "true").csv(first.path)
      .orderBy("conv_id", "turn_idx").collect().toSeq
    // blob deleted -> rebuilt from the pinned snapshot, byte-equivalent
    LakeTable.deleteRecursively(Paths.get(first.path))
    val rebuilt = Materialize.sanitizedCsv(t, outRoot, "export")
    assert(rebuilt.rebuilt)
    val after = spark.read.option("header", "true").csv(rebuilt.path)
      .orderBy("conv_id", "turn_idx").collect().toSeq
    assert(after == original)
    // a new snapshot is a NEW artifact version, old one still cached
    t.append(synth(5).where(col("conv_id") === "c00000099"), "more")
    val v2 = Materialize.sanitizedCsv(t, outRoot, "export")
    assert(v2.rebuilt && v2.path != first.path && v2.snapshotId > first.snapshotId)

    // a DIFFERENT conv range is a DIFFERENT artifact — a full export must
    // never be served a cached range-limited one
    val ranged = Materialize.sanitizedCsv(t, outRoot, "export",
      convRange = Some(("c00000001", "c00000003")))
    assert(ranged.rebuilt && ranged.path != v2.path)
    val full2 = Materialize.sanitizedCsv(t, outRoot, "export")
    assert(!full2.rebuilt && full2.path == v2.path)
  }

  test("maintenance cycle with dedupe: duplicates removed before recluster") {
    val t = LakeTable.create(spark, tmpTable("cycle-dd"), TranscriptSynth.schema)
    // plant duplicates: copy 30 conversations' texts into new z-prefixed
    // conversations (the base synth at this size rarely collides naturally)
    val base = synth(100)
    val copies = base.where(col("conv_id") < "c00000030")
      .withColumn("conv_id", concat(lit("z"), col("conv_id")))
    val data = base.unionByName(copies)
    t.append(data.repartition(8), "init")
    val pre = t.scan().df.count()
    // independent expectation: the tiny vocab makes short texts collide, so
    // survivors == distinct normalized texts (no empty texts in the synth)
    val expectedSurvivors = data
      .select(graft.functions.Dedup.normalizedText(col("text")).as("tn"))
      .distinct().count()

    val r = Maintenance.runCycle(t, "cyc-dd", targetFileRows = 100,
      groupTargetBytes = 64L << 10, retainLast = 2,
      dedupeMode = Some("exact"))
    assert(r.dedupe.exists(_.duplicateRows > 0), "synth corpus must contain dups")
    val post = t.scan().df.count()
    assert(post == expectedSurvivors, s"$post survivors vs $expectedSurvivors distinct texts")
    assert(post == pre - r.dedupe.get.duplicateRows)
    // post-dedupe layout still meets the prune bar (cluster ran after)
    assert(t.scan(convRange = Some(("c00000010", "c00000019"))).prune.ratio >= 0.5)

    // idempotent re-run: dedupe finds nothing, content unchanged
    val rb = Maintenance.runCycle(t, "cyc-dd2", targetFileRows = 100,
      groupTargetBytes = 64L << 10, retainLast = 2,
      dedupeMode = Some("exact"))
    assert(rb.dedupe.get.duplicateRows == 0 && t.scan().df.count() == post)
  }

  test("maintenance cycle with row retention: old turns deleted by event time") {
    val t = LakeTable.create(spark, tmpTable("cycle-rowret"), TranscriptSynth.schema)
    val data = synth(50)
    t.append(data.repartitionByRange(5, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    // synth ts = Base + conv_seq*60s + turn*1s; retain only the newest ~20
    // conversations' worth of event time
    val now = TranscriptSynth.BaseTsMillis + 50L * 60000
    val age = 20L * 60000
    val cutoff = now - age
    val expect = data.where(col("ts") >= timestamp_millis(lit(cutoff))).count()
    assert(expect > 0 && expect < data.count(), "cutoff must split the corpus")

    val r = Maintenance.runCycle(t, "cyc-ret", targetFileRows = 100,
      groupTargetBytes = 64L << 10, retainLast = 2,
      rowRetentionMs = Some(age), nowMs = now)
    assert(r.rowRetention.exists(_.deletedRows > 0))
    assert(t.scan().df.count() == expect)
    assert(t.scan().df.where(col("ts") < timestamp_millis(lit(cutoff))).count() == 0)
    // idempotent same-cycle replay
    val rb = Maintenance.runCycle(t, "cyc-ret", targetFileRows = 100,
      groupTargetBytes = 64L << 10, retainLast = 2,
      rowRetentionMs = Some(age), nowMs = now)
    assert(rb.rowRetention.exists(_.deletedRows == 0) && t.scan().df.count() == expect)
  }

  test("maintenance cycle: dedupe and row retention write files of targetFileRows") {
    val t = LakeTable.create(spark, tmpTable("cycle-file-rows"), TranscriptSynth.schema)
    val base = synth(100)
    val copies = base.where(col("conv_id") < "c00000030")
      .withColumn("conv_id", concat(lit("z"), col("conv_id")))
    // even turns are a day old, odd ones new: every file, however the
    // dedupe rewrite sorted it, keeps some rows and expires others
    val now = TranscriptSynth.BaseTsMillis + 86400000L
    t.append(base.unionByName(copies).withColumn("ts",
      when(col("turn_idx") % 2 === 0, timestamp_millis(lit(TranscriptSynth.BaseTsMillis)))
        .otherwise(timestamp_millis(lit(now)))).repartition(4), "init")
    val target = 20L
    Maintenance.runCycle(t, "cyc-rows", targetFileRows = target,
      groupTargetBytes = 64L << 10, retentionMs = None, dedupeMode = Some("exact"),
      rowRetentionMs = Some(3600000L), nowMs = now)
    for (phase <- Seq("dedupe", "rowexpire")) withClue(s"$phase: ") {
      val tasks = Ledger.readTasks(t, s"cyc-rows-$phase").values.toSeq
      val written = tasks.flatMap(_.outFiles)
      assert(tasks.exists(_.outFiles.map(_.rows).sum > target),
        "no group wrote more than one file's rows: the bound is not exercised")
      assert(written.forall(_.rows <= target), s"file rows: ${written.map(_.rows)}")
    }
  }

  test("maintenance cycle: compact+cluster+expire+gc in one idempotent call") {
    import spark.implicits._
    val t = LakeTable.create(spark, tmpTable("cycle"), TranscriptSynth.schema)
    t.append(synth(600).repartition(30), "init") // 30 small files
    val pre = sortedRows(t.scan().df)

    val r1 = Maintenance.runCycle(t, "cycle-1",
      smallFileBytes = 32L << 20, targetFileRows = 100,
      groupTargetBytes = 64L << 10, retainLast = 2)
    assert(r1.compact.filesCompacted > 0)
    assert(r1.cluster.rowsRewritten > 0, "first cluster is full")
    assert(sortedRows(t.scan().df) == pre, "cycle must not change content")
    assert(t.scan(convRange = Some(("c00000100", "c00000109"))).prune.ratio >= 0.9)

    // drop arrives, next cycle: merge elsewhere, then cycle 2 reclusters
    // only the dirty slab and keeps everything consistent
    val staged = Seq(("c00000011", "0", "user", "CYCLED", "", 0L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
    MergeInto.merge(t, staged, "cycle-drop", targetFileRows = 100)
    val total = t.currentFiles.map(_.rows).sum
    val r2 = Maintenance.runCycle(t, "cycle-2", targetFileRows = 100,
      groupTargetBytes = 64L << 10, retainLast = 2)
    assert(r2.cluster.rowsRewritten < total, "recluster must be incremental")
    assert(t.scan().df.where(col("text") === "CYCLED").count() == 1)

    // idempotent re-run of the same cycle id: no new maintenance work
    val r2b = Maintenance.runCycle(t, "cycle-2", targetFileRows = 100,
      groupTargetBytes = 64L << 10, retainLast = 2)
    assert(r2b.cluster.rowsRewritten == 0L)
    assert(r2b.compact.resumedBins == 0 && r2b.compact.bins == 0)
    println(s"[cycle] ${r2.summary}")
  }

  test("synth determinism: same seed => identical data") {
    val a = synth(25).collect().toSeq
    val b = synth(25).collect().toSeq
    assert(a == b)
    // skew: conv 0 is hot
    val sizes = synth(25).groupBy("conv_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes("c00000000") > 10 * (sizes.values.sum / sizes.size))
  }
}
