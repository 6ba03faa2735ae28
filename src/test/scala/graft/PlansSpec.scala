package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge

import graft.lake.LakeTable
import graft.plans.GraftPlans
import graft.synth.TranscriptSynth

/** The optimizer-planned scan path: SQL / DataFrame filters over the custom
  * [[graft.plans.GraftTableScan]] leaf must prune at the metadata level
  * (fewer parquet files reach the physical scan) and stay result-identical
  * to the programmatic `LakeTable.scan(convRange)` API.
  */
class PlansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshTable(name: String, nConvs: Int, nFiles: Int): LakeTable = {
    val p = Paths.get("target", "test-lake", name + "-" + System.nanoTime())
    LakeTable.deleteRecursively(p)
    val t = LakeTable.create(spark, p.toString, TranscriptSynth.schema)
    t.append(TranscriptSynth.turns(spark, nConvs, seed = 42L)
      .repartitionByRange(nFiles, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    t
  }

  private def scannedFiles(df: DataFrame): Long = {
    df.count() // force planning
    Bridge.executedPlanOf(df).collect {
      case f: FileSourceScanExec => f.relation.location.inputFiles.length.toLong
    }.sum
  }

  test("SQL over the custom leaf prunes files via manifest stats") {
    val t = freshTable("plans-sql", 200, 20)
    GraftPlans.install(spark)
    GraftPlans.scan(spark, t).createOrReplaceTempView("transcripts_sql")
    val q = spark.sql(
      """SELECT conv_id, turn_idx, text FROM transcripts_sql
        |WHERE conv_id BETWEEN 'c00000010' AND 'c00000019'
        |ORDER BY conv_id, turn_idx""".stripMargin)
    val expected = t.scan(convRange = Some(("c00000010", "c00000019"))).df
      .select("conv_id", "turn_idx", "text")
      .orderBy("conv_id", "turn_idx").collect().toSeq
    assert(q.collect().toSeq == expected)
    val files = scannedFiles(spark.sql(
      "SELECT * FROM transcripts_sql WHERE conv_id BETWEEN 'c00000010' AND 'c00000019'"))
    assert(files <= 3, s"SQL range scan must read <=3 of 20 files, read $files")
  }

  test("DataFrame filters prune too; equality and turn ranges compose") {
    val t = freshTable("plans-df", 200, 20)
    GraftPlans.install(spark)
    val df = GraftPlans.scan(spark, t)
      .where(col("conv_id") === "c00000042" && col("turn_idx") >= 0)
    assert(scannedFiles(df) <= 2)
    val viaApi = t.scan(convRange = Some(("c00000042", "c00000042"))).df
      .where(col("turn_idx") >= 0).count()
    assert(df.count() == viaApi)
  }

  test("unsupported predicates fall back to a full, correct scan") {
    val t = freshTable("plans-fallback", 50, 5)
    GraftPlans.install(spark)
    val df = GraftPlans.scan(spark, t).where(col("conv_id").endsWith("3"))
    val expected = t.scan().df.where(col("conv_id").endsWith("3")).count()
    assert(df.count() == expected)
    assert(scannedFiles(df) == 5, "non-range predicate keeps the full file set")
  }

  test("type-coerced predicates never prune (wrong ordering domain)") {
    val t = freshTable("plans-coerce", 50, 5)
    GraftPlans.install(spark)
    val all = t.scan().df.count()
    // BIGINT bound beyond Int range: Catalyst casts turn_idx to long, the
    // rule must NOT truncate the literal into a bogus Int bound
    val big = GraftPlans.scan(spark, t)
      .where(col("turn_idx") >= 0L && col("turn_idx") <= 3000000000L)
    assert(big.count() == all, "coerced bigint range must not prune rows away")
    // string column compared against a numeric-ish string is fine, but a
    // DOUBLE bound on turn_idx must fall back to an unpruned scan
    val frac = GraftPlans.scan(spark, t)
      .where(col("turn_idx") >= 0 && col("turn_idx") <= lit(2.5))
    assert(frac.count() == t.scan().df.where(col("turn_idx") <= 2.5).count())
  }

  test("one-sided range predicates prune (only the matching tail is read)") {
    val t = freshTable("plans-onesided", 200, 20)
    GraftPlans.install(spark)
    val df = GraftPlans.scan(spark, t).where(col("conv_id") >= "c00000190")
    assert(df.count() == t.scan().df.where(col("conv_id") >= "c00000190").count())
    assert(scannedFiles(df) <= 2,
      "a lower-bound-only predicate must still skip the files below it")
  }

  test("IN-list prunes to exactly the matching files") {
    val t = freshTable("plans-in", 200, 20)
    GraftPlans.install(spark)
    // small IN stays Catalyst `In`; >10 values becomes InSet — cover both
    val small = GraftPlans.scan(spark, t)
      .where(col("conv_id").isin("c00000042", "c00000141"))
    assert(small.count() ==
      t.scan().df.where(col("conv_id").isin("c00000042", "c00000141")).count())
    assert(scannedFiles(small) <= 3,
      "a 2-value IN must open only the slabs holding those conversations")

    val vals = (40 to 55).map(i => f"c$i%08d")
    val inset = GraftPlans.scan(spark, t).where(col("conv_id").isin(vals: _*))
    assert(inset.count() ==
      t.scan().df.where(col("conv_id").isin(vals: _*)).count())
    assert(scannedFiles(inset) <= 4,
      "a 16-value InSet over one slab range must not read the whole table")
  }

  test("OR of two ranges opens both slabs and nothing else") {
    val t = freshTable("plans-or", 200, 20)
    GraftPlans.install(spark)
    val pred = (col("conv_id").between("c00000010", "c00000019")) ||
      (col("conv_id").between("c00000180", "c00000189"))
    val df = GraftPlans.scan(spark, t).where(pred)
    assert(df.count() == t.scan().df.where(pred).count())
    val files = scannedFiles(df)
    assert(files <= 5, s"two narrow OR ranges must read <=5 of 20 files, read $files")
    assert(files >= 2, "both slabs must be read")
  }

  test("OR with an unanalyzable arm keeps the full, correct scan") {
    val t = freshTable("plans-or-fallback", 50, 5)
    GraftPlans.install(spark)
    val pred = col("conv_id").between("c00000010", "c00000019") ||
      col("conv_id").endsWith("3")
    val df = GraftPlans.scan(spark, t).where(pred)
    assert(df.count() == t.scan().df.where(pred).count())
    assert(scannedFiles(df) == 5,
      "an OR arm the rule cannot bound forces the whole disjunction unpruned")
  }

  test("statically empty predicate (lo > hi) scans zero files") {
    val t = freshTable("plans-empty", 50, 5)
    GraftPlans.install(spark)
    val df = GraftPlans.scan(spark, t)
      .where(col("conv_id") >= "c00000040" && col("conv_id") <= "c00000010")
    assert(df.count() == 0)
  }

  test("no filter at all reads everything") {
    val t = freshTable("plans-full", 50, 5)
    GraftPlans.install(spark)
    val df = GraftPlans.scan(spark, t)
    assert(df.count() == t.scan().df.count())
  }

  test("leaf stats come from manifest byte sums; small lake view broadcasts") {
    val t = freshTable("plans-stats", 20, 2)
    GraftPlans.install(spark)
    // the un-rewritten leaf must report the snapshot's real (scaled) size,
    // not the legacy 1 GiB placeholder
    val snap = t.currentSnapshot.get
    val leafStats = graft.plans.GraftTableScan(t.root, Some(snap.id),
      Bridge.planOf(GraftPlans.scan(spark, t)).output,
      sizeInBytes = snap.manifests.map(_.bytes).sum,
      rowCount = snap.manifests.map(_.rows).sum).computeStats()
    assert(snap.manifests.map(_.bytes).sum > 0,
      "manifest refs must persist byte sums")
    assert(leafStats.sizeInBytes < (BigInt(64) << 20),
      s"tiny table must not report 1 GiB: ${leafStats.sizeInBytes}")
    assert(leafStats.rowCount.exists(_ > 0))
    // and a join against the (tiny) lake view must plan a broadcast join
    import spark.implicits._
    val big = spark.range(0, 50000)
      .select(concat(lit("c"), lpad(col("id").cast("string"), 8, "0")).as("conv_id"),
        col("id").as("payload"))
    val joined = big.join(GraftPlans.scan(spark, t), Seq("conv_id"))
    joined.count()
    val plan = Bridge.explainFormatted(joined)
    assert(plan.contains("BroadcastHashJoin"),
      s"small lake side must broadcast; got plan:\n$plan")
  }

  test("column pruning reaches the parquet reader through the SQL scan path") {
    val t = freshTable("plans-prune-cols", 100, 10)
    GraftPlans.install(spark)
    GraftPlans.scan(spark, t).createOrReplaceTempView("transcripts_prune")
    val df = spark.sql(
      """SELECT conv_id FROM transcripts_prune
        |WHERE conv_id BETWEEN 'c00000010' AND 'c00000019'""".stripMargin)
    df.count()
    val readSchemas = Bridge.executedPlanOf(df).collect {
      case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSeq
    }
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(_ == Seq("conv_id")),
      s"a 1-column projection must read ONLY that column: $readSchemas")
  }

  test("SQL time travel: versioned view sees the pinned snapshot only") {
    val t = freshTable("plans-travel", 30, 3)
    val v1 = t.currentSnapshotId.get
    val v1Rows = t.scan().df.count()
    // commit a second version with more data
    t.append(TranscriptSynth.turns(spark, 10, seed = 43L)
      .withColumn("conv_id", concat(lit("x"), col("conv_id"))), "more")
    GraftPlans.registerTable(spark, t, "travel_t")
    GraftPlans.registerAsOf(spark, t, "travel_t_v1", snapshotId = Some(v1))
    assert(spark.sql("SELECT count(*) FROM travel_t_v1").head().getLong(0) == v1Rows)
    assert(spark.sql("SELECT count(*) FROM travel_t").head().getLong(0) > v1Rows)
    // snapshots view lists the committed history newest-first
    val snaps = spark.sql(
      "SELECT snapshot_id, operation, n_rows FROM travel_t_snapshots").collect()
    assert(snaps.map(_.getLong(0)).toSeq == snaps.map(_.getLong(0)).sorted.reverse.toSeq)
    assert(snaps.exists(_.getString(1) == "append"))
    // TIMESTAMP AS OF resolves through the committed history
    val ts1 = t.snapshot(v1).timestampMs
    GraftPlans.registerAsOf(spark, t, "travel_t_ts", asOfTsMs = Some(ts1))
    assert(spark.sql("SELECT count(*) FROM travel_t_ts").head().getLong(0) == v1Rows)

    // the UNPINNED view is LIVE: commits after registration are visible
    // without re-registering (the leaf re-resolves the current snapshot)
    val liveBefore = spark.sql("SELECT count(*) FROM travel_t").head().getLong(0)
    t.append(TranscriptSynth.turns(spark, 5, seed = 44L)
      .withColumn("conv_id", concat(lit("y"), col("conv_id"))), "even-more")
    val liveAfter = spark.sql("SELECT count(*) FROM travel_t").head().getLong(0)
    assert(liveAfter > liveBefore, "registered view must track the current snapshot")
    // while the pinned view stays pinned
    assert(spark.sql("SELECT count(*) FROM travel_t_v1").head().getLong(0) == v1Rows)
  }

  test("event-time predicates prune files through the SQL scan path") {
    val t = freshTable("plans-tsprune", 200, 20)
    GraftPlans.install(spark)
    GraftPlans.scan(spark, t).createOrReplaceTempView("transcripts_ts")
    // synth ts = 2024-01-01 + conv_seq*60s (+turn*1s): a 1-minute head
    // slice lives in the first conv slab plus the hot conversation's
    // earliest turn slab, and the per-file TIMESTAMP_MICROS stats must
    // keep the rest of the 20 files out of the physical scan
    val q = spark.sql(
      "SELECT count(*) FROM transcripts_ts WHERE ts < TIMESTAMP '2024-01-01 00:01:00'")
    val expected = t.scan().df
      .where(col("ts") < to_timestamp(lit("2024-01-01 00:01:00"))).count()
    assert(q.head().getLong(0) == expected && expected > 0)
    val files = scannedFiles(spark.sql(
      "SELECT * FROM transcripts_ts WHERE ts < TIMESTAMP '2024-01-01 00:01:00'"))
    assert(files <= 3, s"ts range must prune to the head slabs, read $files of 20")
  }

  test("registered _snapshots view is LIVE: later commits appear without re-register") {
    val t = freshTable("plans-livesnaps", 30, 3)
    GraftPlans.registerTable(spark, t, "live_t")
    val before = spark.sql("SELECT count(*) FROM live_t_snapshots").head().getLong(0)
    t.append(TranscriptSynth.turns(spark, 5, seed = 45L)
      .withColumn("conv_id", concat(lit("w"), col("conv_id"))), "late-append")
    val after = spark.sql("SELECT count(*) FROM live_t_snapshots").head().getLong(0)
    assert(after == before + 1,
      s"snapshots listing must track commits live: $before -> $after")
    // newest first, and the new commit leads
    val top = spark.sql(
      "SELECT operation FROM live_t_snapshots ORDER BY snapshot_id DESC LIMIT 1")
      .head().getString(0)
    assert(top == "append")
  }

  test("SQL DELETE FROM statement runs the engine delete end-to-end") {
    val t = freshTable("plans-sqldelete", 100, 10)
    GraftPlans.registerTable(spark, t, "sqldel_t")
    val before = spark.sql("SELECT count(*) FROM sqldel_t").head().getLong(0)
    val inRange = spark.sql(
      """SELECT count(*) FROM sqldel_t
        |WHERE conv_id BETWEEN 'c00000010' AND 'c00000019'""".stripMargin)
      .head().getLong(0)
    assert(inRange > 0)
    val filesBefore = t.currentFiles.map(_.path).toSet

    val res = spark.sql(
      "DELETE FROM sqldel_t WHERE conv_id BETWEEN 'c00000010' AND 'c00000019'")
    assert(res.columns.toSeq == Seq("deleted_rows"))
    assert(res.head().getLong(0) == inRange)
    // the LIVE view sees the post-delete snapshot immediately
    assert(spark.sql("SELECT count(*) FROM sqldel_t").head().getLong(0)
      == before - inRange)
    assert(spark.sql(
      """SELECT count(*) FROM sqldel_t
        |WHERE conv_id BETWEEN 'c00000010' AND 'c00000019'""".stripMargin)
      .head().getLong(0) == 0)
    // O(matching files): the statement's predicate drove metadata pruning
    val carried = (filesBefore & t.currentFiles.map(_.path).toSet).size
    assert(carried >= 8, s"a 1-slab SQL DELETE must carry >=8 of 10 files, carried $carried")
    // a DELETE over an unregistered name still follows Spark's own path
    intercept[Exception] {
      spark.sql("DELETE FROM some_unknown_table WHERE x = 1").collect()
    }
  }

  test("aliased SQL DELETE resolves: alias qualifiers are stripped") {
    val t = freshTable("plans-sqldelete-alias", 40, 4)
    GraftPlans.registerTable(spark, t, "sqldel_alias_t")
    val inRange = spark.sql(
      """SELECT count(*) FROM sqldel_alias_t
        |WHERE conv_id BETWEEN 'c00000005' AND 'c00000009'""".stripMargin)
      .head().getLong(0)
    assert(inRange > 0)
    val res = spark.sql(
      """DELETE FROM sqldel_alias_t t
        |WHERE t.conv_id BETWEEN 'c00000005' AND 'c00000009'""".stripMargin)
    assert(res.head().getLong(0) == inRange,
      "an aliased DELETE must delete exactly the predicate's rows")
    assert(spark.sql(
      """SELECT count(*) FROM sqldel_alias_t
        |WHERE conv_id BETWEEN 'c00000005' AND 'c00000009'""".stripMargin)
      .head().getLong(0) == 0)

    // only the alias goes: the rest of `x.s.a` is a struct field path
    val p = Paths.get("target", "test-lake", "plans-sqldelete-alias-nested-" + System.nanoTime())
    val turns = TranscriptSynth.turns(spark, 20, seed = 42L)
      .withColumn("s", struct((col("turn_idx") % 2).as("a")))
    val nested = LakeTable.create(spark, p.toString, turns.schema)
    nested.append(turns.repartitionByRange(2, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("conv_id", "turn_idx"), "init")
    GraftPlans.registerTable(spark, nested, "sqldel_alias_nested_t")
    def odd() = spark.sql("SELECT count(*) FROM sqldel_alias_nested_t WHERE s.a = 1")
      .head().getLong(0)
    val nOdd = odd()
    assert(nOdd > 0)
    assert(spark.sql("DELETE FROM sqldel_alias_nested_t AS x WHERE x.s.a = 1")
      .head().getLong(0) == nOdd)
    assert(odd() == 0)
  }

  test("MERGE rejects same-side ON equalities (t.k = t.k)") {
    import spark.implicits._
    val t = freshTable("plans-sqlmerge-sameside", 5, 1)
    GraftPlans.registerTable(spark, t, "sqlmerge_ss_t")
    Seq(("c00000001", "0", "user", "x", "", 0L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
      .createOrReplaceTempView("sqlmerge_ss_src")
    val e = intercept[IllegalArgumentException] {
      spark.sql(
        """MERGE INTO sqlmerge_ss_t t USING sqlmerge_ss_src s
          |ON t.conv_id = t.conv_id AND t.turn_idx = t.turn_idx
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e.getMessage.contains("keyed upsert"))
  }

  test("SQL MERGE INTO statement upserts with non-empty-wins semantics") {
    import spark.implicits._
    val t = freshTable("plans-sqlmerge", 30, 3)
    GraftPlans.registerTable(spark, t, "sqlmerge_t")
    val origRole = t.scan().df
      .where(col("conv_id") === "c00000001" && col("turn_idx") === 0)
      .select("role").head().getString(0)
    Seq(
      ("c00000001", "0", "", "UPDATED-BY-SQL-MERGE", "", 0L),
      ("c99999990", "0", "user", "brand new conv", "", 1L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
      .createOrReplaceTempView("sqlmerge_src")

    val res = spark.sql(
      """MERGE INTO sqlmerge_t t USING sqlmerge_src s
        |ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(res.head().getLong(0) == 2) // staged_rows

    val after = t.scan().df
    val updated = after.where(col("conv_id") === "c00000001" && col("turn_idx") === 0)
      .select("text", "role").head()
    assert(updated.getString(0) == "UPDATED-BY-SQL-MERGE")
    assert(updated.getString(1) == origRole, "empty staged role must NOT clobber")
    assert(after.where(col("conv_id") === "c99999990").count() == 1)

    // any non-canonical action shape is refused loudly, never misapplied
    val e = intercept[IllegalArgumentException] {
      spark.sql(
        """MERGE INTO sqlmerge_t t USING sqlmerge_src s
          |ON t.conv_id = s.conv_id
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("keyed upsert"))
  }

  test("SQL DML follows the session's view: a replaced or dropped view no longer routes") {
    import spark.implicits._
    val t = freshTable("plans-sqlroute", 20, 2)
    GraftPlans.registerTable(spark, t, "sqlroute_t")
    Seq(("c00000001", "0", "user", "MERGED", "", 0L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
      .createOrReplaceTempView("sqlroute_src")
    val n = t.scan().df.count()
    val snap = t.currentSnapshotId
    def dml(): Unit = {
      scala.util.Try(spark.sql("DELETE FROM sqlroute_t WHERE turn_idx = 0").collect())
      scala.util.Try(spark.sql(
        """MERGE INTO sqlroute_t t USING sqlroute_src s
          |ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
      assert(t.currentSnapshotId == snap && t.scan().df.count() == n,
        "a DML statement reached the lake through a view that is no longer its scan")
    }
    spark.range(3).createOrReplaceTempView("sqlroute_t")
    dml()
    spark.catalog.dropTempView("sqlroute_t")
    dml()
    // a view pinned to a snapshot is not routed either
    GraftPlans.registerAsOf(spark, t, "sqlroute_t", snapshotId = snap)
    dml()
  }

  test("ivfTopK works on array<double> embeddings (no float-encoder assumption)") {
    import spark.implicits._
    val vecs = (1L to 30L).map { i =>
      val base = (0 until 8).map(j => (((i % 3) * 100 + j * 7 + i % 5).toDouble) / 50.0)
      (i, base)
    }.toDF("id", "v")
    val top = graft.functions.VectorOps.ivfTopK(vecs, "id", "v", 2, nLists = 4, nProbe = 2)
    assert(top.count() > 0, "double vectors must flow through the IVF path")
  }
}
