package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.lake.{FileIO, LakeTable}
import graft.maintain._
import graft.synth.TranscriptSynth

/** Commit, resume and GC under a crash at every storage step. Each
  * operation first runs fault-free on a copy of a template lake, counting
  * its mutating [[FileIO]] calls; then, for every k below that count, a
  * fresh copy runs it with a crash injected at call k ([[CrashingIO]]), and
  * a fresh table over the local filesystem recovers by rerunning the same
  * operation (retrying once on a commit conflict, as a caller would). After
  * recovery:
  *   - the content equals the fault-free run's;
  *   - every file a snapshot references exists;
  *   - a snapshot pinned before the operation still reads the same rows;
  *   - after a post-grace orphan GC, `data/` holds exactly the referenced
  *     files and no `_staging-*` dir is left.
  * Templates keep every operation to one rewrite group, so a crashed run
  * leaves no sibling Spark job writing behind the recovery. Dedupe and
  * clustering crash on both rewrite plans, and every crashed run of them,
  * of MERGE, of the minhash and conversation-unit dedupe and of a whole
  * maintenance cycle must leave no frame cached.
  */
class FaultInjectionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val base = Paths.get("target", "test-faults", System.nanoTime().toString)

  private def synth(n: Int, prefix: String = "") =
    TranscriptSynth.turns(spark, n, seed = 42L)
      .withColumn("conv_id", concat(lit(prefix), col("conv_id"))).coalesce(1)

  private def rows(t: LakeTable, snap: Option[Long] = None): Seq[Row] =
    t.scan(snapshotId = snap).df.orderBy("conv_id", "turn_idx").collect().toSeq

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** A template lake: created, then shaped by `build`. */
  private def template(name: String)(build: LakeTable => Unit): Path = {
    val root = base.resolve(s"$name-template")
    build(LakeTable.create(spark, root.toString, TranscriptSynth.schema))
    root
  }

  private def copyOf(template: Path, name: String): String = {
    val root = base.resolve(name)
    copyTree(template, root)
    root.toString
  }

  /** Crash `op` at each of its mutating storage calls; returns the count.
    * With `checkReleased`, every crashed run must leave no frame cached
    * that was not cached before.
    */
  private def crashAtEveryStep(name: String, template: Path, checkReleased: Boolean = false)(
      op: LakeTable => Unit): Int = {
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val tpl = LakeTable.load(spark, template.toString)
    val pinned = tpl.currentSnapshotId
    val pinnedRows = rows(tpl, pinned)

    val counting = new CrashingIO(Int.MaxValue)
    val clean = copyOf(template, s"$name-clean")
    op(new LakeTable(clean, spark, counting))
    val expected = rows(LakeTable.load(spark, clean))
    val n = counting.calls
    assert(n > 0, s"$name made no mutating storage call")

    for (k <- 0 until n) {
      val root = copyOf(template, s"$name-crash-$k")
      Try(op(new LakeTable(root, spark, new CrashingIO(k))))
      if (checkReleased) withClue(s"$name, crash at mutating call $k of $n: ") {
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
        assert(leaked.isEmpty, s"cached RDDs left behind: $leaked")
      }
      try op(LakeTable.load(spark, root))
      catch { case _: LakeTable.CommitConflictException => op(LakeTable.load(spark, root)) }

      val t = LakeTable.load(spark, root)
      withClue(s"$name, crash at mutating call $k of $n: ") {
        assert(rows(t) == expected, "content differs from the fault-free run")
        assert(rows(t, pinned) == pinnedRows, "the pinned snapshot changed")
        val gc = OrphanGc.removeOrphans(t, olderThanMs = 0,
          nowMs = System.currentTimeMillis() + 60000, adoptGuardMs = 0)
        assert(gc.failures.isEmpty, s"GC failures: ${gc.failures}")
        val referenced = (t.allSnapshots.flatMap(t.dataFiles) ++
          Ledger.allTaskRows(t).flatMap(_.outFiles)).map(_.path).toSet
        assert(t.currentFiles.forall(f => referenced(f.path)))
        val onDisk = FileIO.Local.list(FileIO.path(root, "data")).map("data/" + _).toSet
        assert(onDisk == referenced,
          s"missing ${referenced -- onDisk}, unreferenced ${onDisk -- referenced}")
        assert(!FileIO.Local.list(root).exists(_.startsWith("_staging-")))
      }
      LakeTable.deleteRecursively(Paths.get(root))
    }
    info(s"$name: crashed and recovered at each of its $n mutating storage calls")
    n
  }

  private def drop(convs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    convs.zipWithIndex.map { case ((c, text), i) => (c, "0", "user", text, "", i.toLong) }
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
  }

  test("crash at every storage step: MERGE of one drop recovers by rerunning the drop") {
    val tpl = template("merge") { t =>
      t.append(synth(6), "init")
      t.append(synth(3, "x"), "second")
    }
    val staged = drop(Seq("c00000001" -> "PATCHED", "c00000004" -> "", "n00000001" -> "NEW"))
    def crashMerges(name: String) =
      crashAtEveryStep(name, tpl, checkReleased = true)(t => MergeInto.merge(t, staged, "drop-1"))
    val n = crashMerges("merge")
    assert(n >= 4, s"only $n mutating calls")
    // the persisted, shuffled plan releases its cached frames on a crash too
    val m = TestSpark.withShuffledMerge(crashMerges("merge-shuffled"))
    assert(m >= 4, s"only $m mutating calls")
  }

  test("crash at every storage step: DELETE FROM resumes its ledger job") {
    val tpl = template("delete") { t =>
      t.append(synth(4), "init")
      t.append(synth(3, "x"), "second")
    }
    val n = crashAtEveryStep("delete", tpl) { t =>
      DeleteFrom.run(t, "fault-delete", "turn_idx = 1 AND conv_id < 'x'")
    }
    assert(n >= 8, s"only $n mutating calls")
  }

  /** Crash `op` at every step on the one-task rewrite plan, then again on
    * the range-repartitioned one; returns both call counts.
    */
  private def crashOnBothPlans(name: String, template: Path)(op: LakeTable => Unit): (Int, Int) =
    (crashAtEveryStep(name, template, checkReleased = true)(op),
      TestSpark.withShuffledRewrites(
        crashAtEveryStep(s"$name-shuffled", template, checkReleased = true)(op)))

  test("crash at every storage step: dedupe resumes its ledger job on both plans") {
    val tpl = template("dedupe") { t =>
      t.append(synth(4), "init")
      // copies of two turns' texts under new keys: the victims
      t.append(synth(4).where(col("turn_idx") === 0).orderBy("conv_id").limit(2)
        .withColumn("conv_id", concat(lit("z"), col("conv_id"))), "copies")
    }
    val (n, m) = crashOnBothPlans("dedupe", tpl)(t => Dedupe.runPass(t, "fault-dedupe"))
    // victims tmp + publish, counts sidecar, plan, task row, commit, marker
    assert(n >= 9 && m >= 9, s"only $n / $m mutating calls")
  }

  test("crash at every storage step: minhash dedupe, with its sketch store, releases its caches") {
    val tpl = template("minhash") { t =>
      t.append(synth(4), "init")
      t.append(synth(4).where(col("turn_idx") === 0).orderBy("conv_id").limit(2)
        .withColumn("conv_id", concat(lit("z"), col("conv_id"))), "copies")
    }
    val n = crashAtEveryStep("minhash", tpl, checkReleased = true) { t =>
      Dedupe.runPass(t, "fault-minhash", mode = "minhash")
    }
    // the store's meta, batch and coverage commit come before the pass's own
    assert(n >= 12, s"only $n mutating calls")
  }

  test("crash at every storage step: a conversation-unit dedupe releases its caches") {
    val tpl = template("dedupe-conv") { t =>
      t.append(synth(4), "init")
      // whole copies of two conversations under new ids: the victims
      t.append(synth(4).where(col("conv_id") <= "c00000001")
        .withColumn("conv_id", concat(lit("z"), col("conv_id"))), "copies")
    }
    val n = crashAtEveryStep("dedupe-conv", tpl, checkReleased = true) { t =>
      Dedupe.runPass(t, "fault-dedupe-conv", unit = "conversation")
    }
    assert(n >= 9, s"only $n mutating calls")
  }

  test("crash at every storage step: clustering resumes its ledger job on both plans") {
    val tpl = template("cluster") { t =>
      t.append(synth(4), "init")
      t.append(synth(3, "x"), "second")
    }
    val (n, m) = crashOnBothPlans("cluster", tpl) { t =>
      Clustering.cluster(t, "fault-cluster", targetFileRows = 500)
    }
    assert(n >= 6 && m >= 6, s"only $n / $m mutating calls")
  }

  test("crash at every storage step: a whole maintenance cycle finishes when rerun") {
    val tpl = template("cycle") { t =>
      t.append(synth(4), "init")
      t.append(synth(4).where(col("turn_idx") === 0).orderBy("conv_id").limit(2)
        .withColumn("conv_id", concat(lit("z"), col("conv_id"))), "copies")
    }
    // one rewrite job drops the copies (dedupe) and conversation 0
    // (retention) while it clusters what is left for the first time;
    // expiry keeps every snapshot, so the pinned one still reads
    val n = crashAtEveryStep("cycle", tpl, checkReleased = true) { t =>
      Maintenance.runCycle(t, "fault-cycle", targetFileRows = 500, retainLast = 100,
        retentionMs = None, dedupeMode = Some("exact"), rowRetentionMs = Some(1000L),
        nowMs = TranscriptSynth.BaseTsMillis + 61000L)
    }
    // one ledger job: the victim set's publish, the counts sidecar, the
    // plan, the group's data file and task row, the commit and its marker
    assert(n >= 13, s"only $n mutating calls")
  }

  test("crash at every storage step: expire + orphan GC finish on rerun") {
    val tpl = template("gc") { t =>
      t.append(synth(3), "a")
      t.append(synth(3, "x"), "b")
      MergeInto.merge(t, drop(Seq("c00000001" -> "PATCHED")), "m1")
      MergeInto.merge(t, drop(Seq("c00000002" -> "AGAIN")), "m2")
      // crash residue: a merge that died after publishing one data file,
      // and a pointer temp of a crashed commit
      Try(MergeInto.merge(new LakeTable(t.root, spark, new CrashingIO(1)),
        drop(Seq("c00000000" -> "LOST")), "crashed"))
      Files.writeString(Paths.get(t.root, "metadata", "version-hint.txt.tmp-0badf00d"), "9")
    }
    val n = crashAtEveryStep("gc", tpl) { t =>
      Expire.expire(t, retainLast = 1)
      OrphanGc.removeOrphans(t, olderThanMs = 0,
        nowMs = System.currentTimeMillis() + 60000, adoptGuardMs = 0)
    }
    assert(n >= 8, s"only $n mutating calls")
  }
}
