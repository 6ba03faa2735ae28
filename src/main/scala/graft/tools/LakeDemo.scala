package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lake.LakeTable
import graft.maintain._
import graft.synth.TranscriptSynth

/** Maintenance-engine surface demo: synth -> load -> MERGE -> cluster ->
  * pruned scan -> manifest rewrite -> expire, printing each
  * snapshot and the prune ratio. Run:
  * `sbt "runMain graft.tools.LakeDemo target/lake-demo"`.
  */
object LakeDemo {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("target/lake-demo")
    graft.lake.LakeTable.deleteRecursively(java.nio.file.Paths.get(root))

    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-lake-demo")
      .withExtensions(new graft.plans.GraftSparkExtensions)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val t = LakeTable.create(spark, root, TranscriptSynth.schema)
    val data = TranscriptSynth.turns(spark, nConvs = 500, seed = 42L)
    t.append(data.repartition(40), "init")
    println(s"[lake] loaded ${t.currentFiles.map(_.rows).sum} turns in ${t.currentFiles.size} files")

    println("[lake] pre-merge rows for c00000007 turns 0-1:")
    t.scan(convRange = Some(("c00000007", "c00000007"))).df
      .where(col("turn_idx") <= 1).orderBy("turn_idx")
      .select("conv_id", "turn_idx", "text").show(false)

    // every synth conversation has >= 2 turns, so turns 0/1 always exist
    val staged = Seq(
      ("c00000007", "0", "assistant", "=2+2 updated by merge", "", 100L),
      ("c00000007", "1", "", "", "", 101L), // empty: must not clobber
      ("c77777777", "0", "user", "brand new conversation", "", 102L)
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
    val m = MergeInto.merge(t, staged, "drop-a")
    println(s"[lake] merge: snapshot=${m.snapshot.id} touched=${m.touchedFiles} carried=${m.carriedFiles} rejected=${m.rejectedRows}")

    val cl = Clustering.cluster(t, "cluster-1", targetFileRows = 2000)
    println(s"[lake] cluster: groups=${cl.groups} rows=${cl.rowsRewritten} files now=${t.currentFiles.size}")

    val scan = t.scan(convRange = Some(("c00000100", "c00000119")))
    println(f"[lake] pruned scan: ${scan.prune.selectedFiles}/${scan.prune.totalFiles} files selected, prune ratio ${scan.prune.ratio}%.3f")
    scan.df.orderBy("conv_id", "turn_idx").show(5, false)

    println("[lake] post-merge rows (turn 0 updated+sanitize-escaped upstream, turn 1 unchanged):")
    t.scan(convRange = Some(("c00000007", "c00000007"))).df
      .where(col("turn_idx") <= 1).orderBy("turn_idx")
      .select("conv_id", "turn_idx", "text").show(false)

    // a second drop (with a planted duplicate-text turn), then ONE
    // maintenance-cycle call (the cron analogue): DEDUPE duplicate texts
    // (sketch-store-backed), incrementally recluster the dirty slab (which
    // packs the drop's new files too), expire, GC
    val staged2 = Seq(
      ("c00000042", "0", "user", "second drop", "", 200L),
      ("c88888888", "0", "user", "brand new conversation", "", 201L) // dup of c77777777/0
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
    MergeInto.merge(t, staged2, "drop-b")
    val cyc = Maintenance.runCycle(t, "cycle-1", targetFileRows = 2000,
      groupTargetBytes = 64L << 10, retainLast = 3,
      dedupeMode = Some("minhash"))
    println(s"[lake] cycle: ${cyc.summary}")
    println(s"[lake] dup of c77777777/0 deduped: " +
      s"${t.scan(convRange = Some(("c88888888", "c88888888"))).df.count()} rows remain for c88888888")

    ManifestRewrite.rewrite(t, entriesPerManifest = 5)
    val ex = Expire.expire(t, retainLast = 1)
    println(s"[lake] expired snapshots=${ex.expiredSnapshots.mkString(",")} deletedData=${ex.deletedDataFiles.size} failures=${ex.failures.size}")
    println(s"[lake] final snapshots=${t.committedSnapshots.map(s => s.id + ":" + s.operation).mkString(" ")}")
    println(s"[lake] final rows=${t.scan().df.count()}")

    // SQL surface: live view + DML statements over the same table
    graft.plans.GraftPlans.registerTable(spark, t, "transcripts")
    println("[lake] SQL: snapshots listing (live view):")
    spark.sql("SELECT snapshot_id, operation, n_files, n_rows FROM transcripts_snapshots")
      .show(5, false)
    val deleted = spark.sql("DELETE FROM transcripts WHERE conv_id = 'c00000042'")
      .head().getLong(0)
    println(s"[lake] SQL DELETE removed $deleted rows; remaining=" +
      spark.sql("SELECT count(*) FROM transcripts").head().getLong(0))

    // Encryption at rest: the same engine over ciphertext
    val encRoot = root + "-enc"
    graft.lake.LakeTable.deleteRecursively(java.nio.file.Paths.get(encRoot))
    spark.conf.set(graft.lake.Crypto.SessionKeyConf, graft.lake.Crypto.newMasterKeyB64())
    val enc = LakeTable.create(spark, encRoot, TranscriptSynth.schema, encrypted = true)
    enc.append(TranscriptSynth.turns(spark, 50, seed = 7L)
      .repartitionByRange(4, col("conv_id"), col("turn_idx")), "enc-load")
    val encScan = enc.scan(convRange = Some(("c00000010", "c00000019")))
    val magic = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(enc.absData(enc.currentFiles.head.path))).take(4))
    println(f"[lake] encrypted table: magic=$magic rows=${encScan.df.count()} " +
      f"prune=${encScan.prune.ratio}%.2f (AES-GCM modular encryption, stats intact)")

    // Physical plan sanity: pruned scan should read only selected files and
    // push the residual predicate down to parquet.
    t.scan(convRange = Some(("c00000100", "c00000119"))).df.explain("formatted")

    spark.stop()
  }
}
