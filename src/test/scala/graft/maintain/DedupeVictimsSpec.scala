package graft.maintain

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.Dedup
import graft.lake.LakeTable
import graft.synth.TranscriptSynth

/** The exact-mode victim set of [[Dedupe.computeVictims]] (one window over
  * the normalized text) against the keeper aggregate + join it replaced,
  * which is kept here as the reference.
  */
class DedupeVictimsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The replaced plan: each normalized text's keeper from a grouped
    * aggregate, joined back to every member of the group.
    */
  private def keeperJoinVictims(table: LakeTable, minTokens: Int): DataFrame = {
    val rows = table.readData(table.currentFiles.map(f => table.absData(f.path)))
      .select(col("conv_id"), col("turn_idx"), col("text"),
        concat(lit("data/"), element_at(split(input_file_name(), "/"), -1)).as("__src"))
      .withColumn("__tn", Dedup.normalizedText(col("text")))
      .where(length(col("__tn")) > 0 && size(split(col("__tn"), " ")) >= minTokens)
    val keepers = rows
      .groupBy(xxhash64(col("__tn")).as("__h"), col("__tn"))
      .agg(min(struct(col("conv_id"), col("turn_idx"))).as("__keep"),
        count(lit(1)).as("__n"))
      .where(col("__n") > 1)
      .select(col("__h"), col("__tn"), col("__keep"))
    rows.join(keepers, Seq("__tn"))
      .where(struct(col("conv_id"), col("turn_idx")) =!= col("__keep"))
      .select("conv_id", "turn_idx", "__src")
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getString(0), r.getInt(1), r.getString(2)))

  test("exact victims: one window == keeper aggregate + join over generated tables") {
    import spark.implicits._
    // texts that differ only in case, inner whitespace, tabs, newlines or
    // padding; one to three tokens; empty, null and whitespace-only texts
    val text = Gen.oneOf("ok", "OK", " ok ", "copy me", "Copy  ME", "copy\tme",
      "copy\nme", "  copy me", "a b c", "A  b\tC ", "a b c\n", "", " ", "\t", "\n", null)
    val row = for (c <- Gen.choose(0, 5); t <- Gen.choose(0, 3); x <- text)
      yield (f"c$c%02d", t, x)
    val table = for {
      n <- Gen.choose(1, 14)
      rows <- Gen.listOfN(n, row)
      again <- Gen.choose(0, n - 1)
      x <- text
    } yield (rows.distinctBy(r => (r._1, r._2)), again, x)
    def frame(rows: Seq[(String, Int, String)]) =
      rows.map { case (c, t, x) => (c, t, "user", x, null: String,
        new java.sql.Timestamp(1704067200000L + t * 1000L)) }
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    var seed = Seed(11L)
    var checked = 0
    var victims = 0
    while (checked < 16) {
      table(Gen.Parameters.default, seed).foreach { case (rows, again, x) =>
        val minTokens = checked % 4
        val t = LakeTable.create(spark,
          Paths.get("target", "test-lake", s"victims-$checked-${System.nanoTime()}").toString,
          TranscriptSynth.schema)
        t.append(frame(rows).coalesce(1), "init")
        // one key appended a second time, in a file of its own
        val (c, ti, _) = rows(again % rows.size)
        t.append(frame(Seq((c, ti, x))), "again")
        val expected = sorted(keeperJoinVictims(t, minTokens))
        victims += expected.size
        withClue(s"rows $rows, again ($c, $ti, $x), minTokens $minTokens: ") {
          val (one, oneWork) = TestSpark.countWork(
            Dedupe.computeVictims(t, "exact", minTokens)(sorted))
          assert(one == expected)
          assert(oneWork.exchanges == 0, s"one-task plan: $oneWork")
          val (shuffled, shuffledWork) = TestSpark.withShuffledRewrites(
            TestSpark.countWork(Dedupe.computeVictims(t, "exact", minTokens)(sorted)))
          assert(shuffled == expected)
          assert(shuffledWork.exchanges >= 1, s"shuffled plan: $shuffledWork")
        }
        checked += 1
      }
      seed = seed.next
    }
    assert(victims > 0, "no generated table held a duplicate")
  }
}
