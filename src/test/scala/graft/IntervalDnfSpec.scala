package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, InSet}
import org.apache.spark.sql.catalyst.optimizer.OptimizeIn
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Bounds, IntervalDnf, KeyRange}
import graft.synth.TranscriptSynth

/** `IntervalDnf.extract` over a table of predicates: each row is the SQL
  * text and the boxes it must give, compared as a set. The condition is
  * analyzed and folded as the lake folds it, then passed through the
  * optimizer's IN rewrite, which turns a list of more than 10 literals
  * into an `InSet`, as the SQL scan rule sees it.
  */
class IntervalDnfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def condition(sql: String): Expression = {
    val cond = IntervalDnf.analyzedCondition(spark, TranscriptSynth.schema, sql)
    OptimizeIn(Filter(cond, LocalRelation(cond.references.toSeq)))
      .asInstanceOf[Filter].condition
  }
  private def boxes(sql: String): Set[KeyRange] = IntervalDnf.extract(condition(sql)).toSet

  private type B[T] = (Option[T], Option[T])
  private def any[T]: B[T] = (None, None)
  private def pt[T](v: T): B[T] = (Some(v), Some(v))
  private def ge[T](v: T): B[T] = (Some(v), None)
  private def le[T](v: T): B[T] = (None, Some(v))
  private def box(conv: B[String] = any, turn: B[Int] = any, ts: B[Long] = any): KeyRange =
    KeyRange(Bounds(conv._1, conv._2), Bounds(turn._1, turn._2), Bounds(ts._1, ts._2))
  private val All = Set(box())

  private def us(n: Int) = s"timestamp_micros($n)"
  private def list(vs: Seq[String]) = vs.mkString("(", ", ", ")")
  private val convs = (1 to 12).map(i => f"c$i%02d")

  private val comparisons: Seq[(String, Set[KeyRange])] = Seq(
    "conv_id = 'c05'" -> Set(box(conv = pt("c05"))),
    "'c05' = conv_id" -> Set(box(conv = pt("c05"))),
    "conv_id < 'c05'" -> Set(box(conv = le("c05"))),
    "conv_id <= 'c05'" -> Set(box(conv = le("c05"))),
    "conv_id > 'c05'" -> Set(box(conv = ge("c05"))),
    "conv_id >= 'c05'" -> Set(box(conv = ge("c05"))),
    "'c05' < conv_id" -> Set(box(conv = ge("c05"))),
    "'c05' <= conv_id" -> Set(box(conv = ge("c05"))),
    "'c05' > conv_id" -> Set(box(conv = le("c05"))),
    "'c05' >= conv_id" -> Set(box(conv = le("c05"))),
    "conv_id BETWEEN 'c01' AND 'c05'" -> Set(box(conv = (Some("c01"), Some("c05")))),
    "conv_id IN ('c01', 'c03')" -> Set(box(conv = pt("c01")), box(conv = pt("c03"))),
    s"conv_id IN ${list(convs.map(c => s"'$c'"))}" -> convs.map(c => box(conv = pt(c))).toSet,
    "CAST(conv_id AS INT) = 5" -> All,

    "turn_idx = 5" -> Set(box(turn = pt(5))),
    "5 = turn_idx" -> Set(box(turn = pt(5))),
    "turn_idx < 5" -> Set(box(turn = le(5))),
    "turn_idx <= 5" -> Set(box(turn = le(5))),
    "turn_idx > 5" -> Set(box(turn = ge(5))),
    "turn_idx >= 5" -> Set(box(turn = ge(5))),
    "5 < turn_idx" -> Set(box(turn = ge(5))),
    "5 <= turn_idx" -> Set(box(turn = ge(5))),
    "5 > turn_idx" -> Set(box(turn = le(5))),
    "5 >= turn_idx" -> Set(box(turn = le(5))),
    "turn_idx BETWEEN 1 AND 5" -> Set(box(turn = (Some(1), Some(5)))),
    "turn_idx IN (1, 3)" -> Set(box(turn = pt(1)), box(turn = pt(3))),
    s"turn_idx IN ${list((1 to 12).map(_.toString))}" -> (1 to 12).map(i => box(turn = pt(i))).toSet,
    "CAST(turn_idx AS BIGINT) = 5" -> All,

    s"ts = ${us(5000)}" -> Set(box(ts = pt(5000L))),
    s"${us(5000)} = ts" -> Set(box(ts = pt(5000L))),
    s"ts < ${us(5000)}" -> Set(box(ts = le(5000L))),
    s"ts <= ${us(5000)}" -> Set(box(ts = le(5000L))),
    s"ts > ${us(5000)}" -> Set(box(ts = ge(5000L))),
    s"ts >= ${us(5000)}" -> Set(box(ts = ge(5000L))),
    s"${us(5000)} < ts" -> Set(box(ts = ge(5000L))),
    s"${us(5000)} <= ts" -> Set(box(ts = ge(5000L))),
    s"${us(5000)} > ts" -> Set(box(ts = le(5000L))),
    s"${us(5000)} >= ts" -> Set(box(ts = le(5000L))),
    s"ts BETWEEN ${us(1000)} AND ${us(5000)}" -> Set(box(ts = (Some(1000L), Some(5000L)))),
    s"ts IN (${us(1000)}, ${us(3000)})" -> Set(box(ts = pt(1000L)), box(ts = pt(3000L))),
    s"ts IN ${list((1 to 12).map(i => us(i * 1000)))}" -> (1 to 12).map(i => box(ts = pt(i * 1000L))).toSet,
    "CAST(ts AS DATE) = DATE'2024-01-01'" -> All)

  private val connectives: Seq[(String, Set[KeyRange])] = Seq(
    "conv_id >= 'c01' AND conv_id <= 'c05'" -> Set(box(conv = (Some("c01"), Some("c05")))),
    "conv_id = 'c01' AND turn_idx > 3" -> Set(box(conv = pt("c01"), turn = ge(3))),
    "conv_id = 'c01' AND conv_id = 'c02'" -> Set.empty[KeyRange],
    "conv_id = 'c01' AND text = 'x'" -> Set(box(conv = pt("c01"))),
    "conv_id = 'c01' OR turn_idx = 3" -> Set(box(conv = pt("c01")), box(turn = pt(3))),
    "conv_id = 'c01' OR text = 'x'" -> All,
    s"(conv_id = 'c01' OR conv_id = 'c02') AND ts < ${us(1000)}" ->
      Set(box(conv = pt("c01"), ts = le(1000L)), box(conv = pt("c02"), ts = le(1000L))),
    "text = 'x'" -> All)

  // 64 boxes is the cap: one more and the subtree is the all-box
  private val caps: Seq[(String, Set[KeyRange])] = {
    val c8 = convs.take(8)
    def and(nc: Int) =
      s"conv_id IN ${list(convs.take(nc).map(c => s"'$c'"))} AND turn_idx IN ${list((1 to 8).map(_.toString))}"
    def or(n: Int) = (0 until n).map(i => s"turn_idx = $i").mkString(" OR ")
    Seq(
      and(8) -> (for (c <- c8; t <- 1 to 8) yield box(conv = pt(c), turn = pt(t))).toSet,
      and(9) -> All,
      or(64) -> (0 until 64).map(i => box(turn = pt(i))).toSet,
      or(65) -> All,
      s"turn_idx IN ${list((0 until 64).map(_.toString))}" -> (0 until 64).map(i => box(turn = pt(i))).toSet,
      s"turn_idx IN ${list((0 until 65).map(_.toString))}" -> All)
  }

  test("extract: a list of more than 10 literals reaches it as an InSet") {
    Seq(s"conv_id IN ${list(convs.map(c => s"'$c'"))}",
        s"turn_idx IN ${list((1 to 12).map(_.toString))}",
        s"ts IN ${list((1 to 12).map(i => us(i * 1000)))}").foreach { sql =>
      assert(condition(sql).isInstanceOf[InSet], sql)
    }
  }

  for ((name, rows) <- Seq("comparisons" -> comparisons, "AND / OR" -> connectives,
                           "box cap" -> caps))
    test(s"extract: $name") {
      rows.foreach { case (sql, want) =>
        assert(boxes(sql) == want, s"boxes of: ${sql.take(120)}")
      }
    }
}
