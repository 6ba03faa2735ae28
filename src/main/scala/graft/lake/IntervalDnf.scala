package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{StringType, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Conservative interval-DNF analysis of predicates over the transcript
  * key columns — THE pruning semantics shared by the SQL optimizer rule
  * ([[graft.plans.PruneGraftScans]]) and predicate-driven maintenance DML
  * ([[graft.maintain.DeleteFrom]]): a predicate becomes a union of
  * (conv range × turn range × ts range) boxes, and a file/manifest is a
  * candidate iff its persisted stats overlap ANY box. Anything the
  * analysis cannot bound degrades to the EVERYTHING box at exactly that
  * subtree — pruning is only ever a sound superset of the matching files.
  *
  * Three dimensions: `conv_id` ([[ConvOrder]]), `turn_idx` (int), and `ts`
  * (event time, epoch MICROseconds — the unit Parquet TIMESTAMP_MICROS
  * stats persist), so a row-retention predicate like
  * `ts < timestamp_millis(...)` prunes candidate files exactly the way
  * conv ranges prune scans.
  */
object IntervalDnf {

  /** `conv_id` order: UTF-8 bytes, which is Spark's string order and the
    * order of Parquet's binary min/max stats. `String.compareTo` (UTF-16
    * code units) disagrees with it once a key holds a character above
    * U+FFFF next to one in U+E000..U+FFFF.
    */
  val ConvOrder: Ordering[String] = (a: String, b: String) =>
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Possibly one-sided bounds; a missing side never prunes. */
  final case class Bounds[T](lo: Option[T], hi: Option[T]) {
    def overlaps(mn: Option[T], mx: Option[T])(implicit ord: Ordering[T]): Boolean =
      (mn, mx) match {
        case (Some(a), Some(b)) =>
          lo.forall(l => ord.gteq(b, l)) && hi.forall(h => ord.lteq(a, h))
        case _ => true // missing stats: always scanned (safe)
      }
    def isAll: Boolean = lo.isEmpty && hi.isEmpty
    /** Bounds lie INSIDE [l, h] — i.e. the predicate provably cannot match
      * outside that range. An unbounded side is NOT contained.
      */
    def within(l: T, h: T)(implicit ord: Ordering[T]): Boolean =
      lo.exists(ord.gteq(_, l)) && hi.exists(ord.lteq(_, h))
    def intersect(o: Bounds[T])(implicit ord: Ordering[T]): Option[Bounds[T]] = {
      val nlo = (lo.toSeq ++ o.lo.toSeq).reduceOption(ord.max(_, _))
      val nhi = (hi.toSeq ++ o.hi.toSeq).reduceOption(ord.min(_, _))
      (nlo, nhi) match {
        case (Some(a), Some(b)) if ord.gt(a, b) => None // statically empty
        case _ => Some(Bounds(nlo, nhi))
      }
    }
  }

  /** One (conv range × turn range × ts range) box of the interval DNF. */
  final case class Conj(conv: Bounds[String], turn: Bounds[Int], ts: Bounds[Long]) {
    def isAll: Boolean = conv.isAll && turn.isAll && ts.isAll
    def intersect(o: Conj): Option[Conj] =
      for {
        c <- conv.intersect(o.conv)(ConvOrder)
        t <- turn.intersect(o.turn)
        s <- ts.intersect(o.ts)
      } yield Conj(c, t, s)
    def overlapsFile(f: DataFile): Boolean =
      conv.overlaps(f.minConv, f.maxConv)(ConvOrder) && turn.overlaps(f.minTurn, f.maxTurn) &&
        ts.overlaps(f.minTsUs, f.maxTsUs)
    def overlapsManifest(r: ManifestRef): Boolean =
      conv.overlaps(r.minConv, r.maxConv)(ConvOrder) && turn.overlaps(r.minTurn, r.maxTurn) &&
        ts.overlaps(r.minTsUs, r.maxTsUs)
  }
  object Conj {
    val all: Conj =
      Conj(Bounds[String](None, None), Bounds[Int](None, None), Bounds[Long](None, None))
    def convRange(lo: String, hi: String): Conj =
      all.copy(conv = Bounds(Some(lo), Some(hi)))
  }

  /** Resolve + constant-fold a predicate's SQL text against a table schema,
    * so the extraction below sees bare `AttributeReference`s compared to
    * plain `Literal`s (e.g. `timestamp_millis(123)` folds to a TIMESTAMP
    * literal). Analysis only — nothing executes; an expression that cannot
    * fold stays as-is (its subtree degrades to unpruned, never wrong).
    */
  def analyzedCondition(spark: SparkSession, schema: StructType,
                        predicateSql: String): Expression = {
    val df = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      .where(expr(predicateSql))
    val cond = df.queryExecution.analyzed.collectFirst {
      case f: LFilter => f.condition
    }.getOrElse(throw new IllegalArgumentException(
      s"predicate did not analyze to a filter: $predicateSql"))
    cond.transformUp {
      // the analyzer leaves BETWEEN & friends as RuntimeReplaceable wrappers
      // (the optimizer's ReplaceExpressions normally unwraps them); the
      // extraction needs the canonical And(>=, <=) form
      case r: RuntimeReplaceable => r.replacement
    }.transformUp {
      // replacements use With/CommonExpressionRef sharing (the optimizer's
      // RewriteWithExpression normally inlines it) — substitute each ref by
      // its definition so bare column comparisons surface
      case w: With =>
        val byId = w.defs.map(d => d.id -> d.child).toMap
        w.child.transformUp {
          case ref: CommonExpressionRef if byId.contains(ref.id) => byId(ref.id)
        }
    }.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        try Literal.create(e.eval(EmptyRow), e.dataType) catch { case _: Exception => e }
    }
  }

  /** The extraction: AND = box intersection (cross-product), OR = box
    * union, =, >=, <=, >, <, BETWEEN, IN / InSet over the three key
    * columns — always comparing the BARE named column (no Cast — a coerced
    * comparison evaluates in a different ordering domain than the
    * string/int/us manifest stats, so pruning on it would be WRONG) against
    * literals of the column's own stats type. Box counts are capped (64):
    * a pathological predicate falls back to a full (correct, unpruned)
    * scan rather than exploding the planner.
    */
  def extract(cond: Expression): Seq[Conj] = {
    val MaxBoxes = 64
    def convLit(e: Expression): Option[String] = e match {
      case Literal(v: UTF8String, StringType) => Some(v.toString)
      case _ => None
    }
    def turnLit(e: Expression): Option[Int] = e match {
      case Literal(v: Int, _) => Some(v)
      case Literal(v: Long, t) if t != TimestampType &&
        v >= Int.MinValue && v <= Int.MaxValue => Some(v.toInt)
      case Literal(v: Short, _) => Some(v.toInt)
      case _ => None
    }
    // epoch micros: Catalyst's internal Long for TimestampType literals
    def tsLit(e: Expression): Option[Long] = e match {
      case Literal(v: Long, TimestampType) => Some(v)
      case _ => None
    }
    def isCol(e: Expression, name: String): Boolean = e match {
      case a: AttributeReference => a.name == name
      case _ => false
    }
    def conv(lo: Option[String], hi: Option[String]) =
      Seq(Conj.all.copy(conv = Bounds(lo, hi)))
    def turn(lo: Option[Int], hi: Option[Int]) =
      Seq(Conj.all.copy(turn = Bounds(lo, hi)))
    def ts(lo: Option[Long], hi: Option[Long]) =
      Seq(Conj.all.copy(ts = Bounds(lo, hi)))
    val all = Seq(Conj.all)

    def go(e: Expression): Seq[Conj] = e match {
      case And(a, b) =>
        val (da, db) = (go(a), go(b))
        if (da.size.toLong * db.size > MaxBoxes) all
        else for { x <- da; y <- db; m <- x.intersect(y) } yield m
      case Or(a, b) =>
        val u = go(a) ++ go(b)
        if (u.size > MaxBoxes || u.exists(_.isAll)) all else u

      case In(c, vs) if isCol(c, "conv_id") =>
        val pts = vs.map(convLit)
        if (pts.forall(_.isDefined) && pts.size <= MaxBoxes)
          pts.flatten.flatMap(v => conv(Some(v), Some(v))) else all
      case In(c, vs) if isCol(c, "turn_idx") =>
        val pts = vs.map(turnLit)
        if (pts.forall(_.isDefined) && pts.size <= MaxBoxes)
          pts.flatten.flatMap(v => turn(Some(v), Some(v))) else all
      case InSet(c, hs) if isCol(c, "conv_id") && hs.size <= MaxBoxes =>
        val pts = hs.toSeq.map {
          case v: UTF8String => Some(v.toString)
          case v: String => Some(v)
          case _ => None
        }
        if (pts.forall(_.isDefined))
          pts.flatten.sorted(ConvOrder).flatMap(v => conv(Some(v), Some(v))) else all
      case InSet(c, hs) if isCol(c, "turn_idx") && hs.size <= MaxBoxes =>
        val pts = hs.toSeq.map {
          case v: Int => Some(v)
          case v: Long if v >= Int.MinValue && v <= Int.MaxValue => Some(v.toInt)
          case _ => None
        }
        if (pts.forall(_.isDefined))
          pts.flatten.sorted.flatMap(v => turn(Some(v), Some(v))) else all

      case EqualTo(c, v) if isCol(c, "conv_id") =>
        convLit(v).map(x => conv(Some(x), Some(x))).getOrElse(all)
      case EqualTo(v, c) if isCol(c, "conv_id") =>
        convLit(v).map(x => conv(Some(x), Some(x))).getOrElse(all)
      case EqualTo(c, v) if isCol(c, "turn_idx") =>
        turnLit(v).map(x => turn(Some(x), Some(x))).getOrElse(all)
      case EqualTo(v, c) if isCol(c, "turn_idx") =>
        turnLit(v).map(x => turn(Some(x), Some(x))).getOrElse(all)
      case EqualTo(c, v) if isCol(c, "ts") =>
        tsLit(v).map(x => ts(Some(x), Some(x))).getOrElse(all)
      case EqualTo(v, c) if isCol(c, "ts") =>
        tsLit(v).map(x => ts(Some(x), Some(x))).getOrElse(all)

      case GreaterThanOrEqual(c, v) if isCol(c, "conv_id") => conv(convLit(v), None)
      case GreaterThan(c, v) if isCol(c, "conv_id") => conv(convLit(v), None)
      case LessThanOrEqual(c, v) if isCol(c, "conv_id") => conv(None, convLit(v))
      case LessThan(c, v) if isCol(c, "conv_id") => conv(None, convLit(v))
      case GreaterThanOrEqual(v, c) if isCol(c, "conv_id") => conv(None, convLit(v))
      case GreaterThan(v, c) if isCol(c, "conv_id") => conv(None, convLit(v))
      case LessThanOrEqual(v, c) if isCol(c, "conv_id") => conv(convLit(v), None)
      case LessThan(v, c) if isCol(c, "conv_id") => conv(convLit(v), None)

      case GreaterThanOrEqual(c, v) if isCol(c, "turn_idx") => turn(turnLit(v), None)
      case GreaterThan(c, v) if isCol(c, "turn_idx") => turn(turnLit(v), None)
      case LessThanOrEqual(c, v) if isCol(c, "turn_idx") => turn(None, turnLit(v))
      case LessThan(c, v) if isCol(c, "turn_idx") => turn(None, turnLit(v))
      case GreaterThanOrEqual(v, c) if isCol(c, "turn_idx") => turn(None, turnLit(v))
      case GreaterThan(v, c) if isCol(c, "turn_idx") => turn(None, turnLit(v))
      case LessThanOrEqual(v, c) if isCol(c, "turn_idx") => turn(turnLit(v), None)
      case LessThan(v, c) if isCol(c, "turn_idx") => turn(turnLit(v), None)

      // strict < / > keep the bound INCLUSIVE — a one-microsecond-wider box
      // only ever selects a superset of files (sound), never misses one
      case GreaterThanOrEqual(c, v) if isCol(c, "ts") => ts(tsLit(v), None)
      case GreaterThan(c, v) if isCol(c, "ts") => ts(tsLit(v), None)
      case LessThanOrEqual(c, v) if isCol(c, "ts") => ts(None, tsLit(v))
      case LessThan(c, v) if isCol(c, "ts") => ts(None, tsLit(v))
      case GreaterThanOrEqual(v, c) if isCol(c, "ts") => ts(None, tsLit(v))
      case GreaterThan(v, c) if isCol(c, "ts") => ts(None, tsLit(v))
      case LessThanOrEqual(v, c) if isCol(c, "ts") => ts(tsLit(v), None)
      case LessThan(v, c) if isCol(c, "ts") => ts(tsLit(v), None)

      case _ => all
    }
    go(cond)
  }
}
