package graft.maintain

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.lake.LakeTable
import graft.synth.TranscriptSynth

/** Maintenance caches are scoped: an operation leaves the session's
  * persistent RDDs as it found them, when it succeeds and when it refuses
  * to act. (A crash injected at each storage step is FaultInjectionSpec's.)
  */
class CacheReleaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def table(name: String): LakeTable = LakeTable.create(spark,
    Paths.get("target", "test-lake", s"$name-${System.nanoTime()}").toString,
    TranscriptSynth.schema)

  /** `body`, failing if it leaves an RDD cached that was not before. */
  private def releases[T](what: String)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = body
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"$what left cached RDDs behind: $left")
    out
  }

  private def turns(rows: Seq[(String, Int, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (c, t, x) => (c, t, "user", x, null: String,
      new java.sql.Timestamp(TranscriptSynth.BaseTsMillis + t * 1000L)) }
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  test("a minhash pass whose label propagation does not converge releases every cache") {
    val t = table("release-no-converge")
    // two near-duplicates (the last of 40 words differs; their signatures
    // agree on 31 of 32 positions): one edge, so the first round changes a
    // label and one round cannot converge
    val words = (0 until 40).map(i => s"w$i")
    t.append(turns(Seq(("c1", 0, words.mkString(" ")),
      ("c2", 0, (words.init :+ "other").mkString(" ")), ("c3", 0, "unrelated"))), "init")
    val e = releases("an unconverged minhash pass") {
      intercept[IllegalStateException](
        Dedupe.runPass(t, "no-converge", mode = "minhash", maxIters = 1))
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
    assert(t.scan().df.count() == 3, "a refused pass deletes nothing")
  }

  test("every maintenance operation and a full cycle release every cache") {
    import spark.implicits._
    val t = table("release-ops")
    val base = TranscriptSynth.turns(spark, 30, seed = 42L)
    t.append(base.repartition(4), "init")
    t.append(base.where(col("conv_id") < "c00000010")
      .withColumn("conv_id", concat(lit("z"), col("conv_id"))).coalesce(1), "copies")
    val drop = Seq(("c00000001", "0", "user", "PATCHED", "", 0L),
      ("n00000001", "0", "user", "NEW", "", 1L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")

    releases("MERGE")(MergeInto.merge(t, drop, "drop-1"))
    releases("shuffled MERGE")(TestSpark.withShuffledMerge(MergeInto.merge(t, drop, "drop-2")))
    for (mode <- Seq("exact", "minhash", "simhash"))
      releases(s"$mode dedupe")(Dedupe.runPass(t, s"r-dedupe-$mode", mode = mode))
    for (mode <- Seq("exact", "minhash"))
      releases(s"$mode conversation dedupe") {
        Dedupe.runPass(t, s"r-conv-$mode", mode = mode, unit = "conversation")
      }
    releases("DELETE")(DeleteFrom.run(t, "r-delete", "turn_idx = 1"))
    releases("clustering")(Clustering.cluster(t, "r-cluster", targetFileRows = 200))
    releases("expire")(Expire.expire(t, retainLast = 1))
    releases("orphan GC")(OrphanGc.removeOrphans(t, olderThanMs = 0, adoptGuardMs = 0))
    val cycle = releases("maintenance cycle") {
      Maintenance.runCycle(t, "r-cycle", targetFileRows = 200,
        groupTargetBytes = 64L << 10, dedupeMode = Some("minhash"),
        rowRetentionMs = Some(20L * 60000),
        nowMs = TranscriptSynth.BaseTsMillis + 3600000L)
    }
    assert(cycle.rowRetention.exists(_.deletedRows > 0), "the cycle's retention ran")
  }
}
