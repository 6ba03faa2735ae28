package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LakeTable, Typed}
import graft.maintain.Clustering
import graft.plans.GraftPlans
import graft.synth.TranscriptSynth

class TypedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("typed Dataset[Turn] scan and snapshot listing newest-first") {
    val root = s"target/test-typed/${System.nanoTime()}"
    val t = LakeTable.create(spark, root, TranscriptSynth.schema)
    t.append(TranscriptSynth.turns(spark, 15, seed = 42L).repartition(6), "init")
    Clustering.cluster(t, "typed-cluster")

    val turns = Typed.scanTurns(t)
    val first = turns.filter(_.conv_id == "c00000001").collect().minBy(_.turn_idx)
    assert(first.turn_idx == 0 && Set("user", "assistant", "tool")(first.role))
    assert(turns.count() == t.scan().df.count())

    val snaps = GraftPlans.snapshots(spark, t).collect()
    assert(snaps.length == 3) // create, append, cluster
    assert(snaps.head.getString(4) == "cluster") // newest first
    assert(snaps.map(_.getLong(0)).toSeq == snaps.map(_.getLong(0)).sorted.reverse.toSeq)
  }
}
