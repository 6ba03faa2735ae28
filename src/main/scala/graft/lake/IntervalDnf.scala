package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, StringType, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Conservative interval-DNF analysis of predicates over the transcript
  * key columns — THE pruning semantics shared by the SQL optimizer rule
  * ([[graft.plans.PruneGraftScans]]) and predicate-driven maintenance DML
  * ([[graft.maintain.DeleteFrom]]): a predicate becomes a union of
  * [[KeyRange]] boxes, and a file/manifest is a candidate iff its persisted
  * range overlaps ANY box. Anything the analysis cannot bound degrades to
  * the EVERYTHING box at exactly that subtree — pruning is only ever a
  * sound superset of the matching files. With `ts` bounded in epoch
  * microseconds, a row-retention predicate like `ts < timestamp_millis(...)`
  * prunes candidate files exactly the way conv ranges prune scans.
  */
object IntervalDnf {

  private val MaxBoxes = 64
  private val All = Seq(KeyRange.all)

  /** One key column as the extraction sees it: the literal of its stats
    * type (a Catalyst value and its type), and the box bounded on it alone.
    */
  private final case class KeyCol[T](box: Bounds[T] => KeyRange)(
      lit: PartialFunction[(Any, DataType), T]) {
    private def value(e: Expression): Option[T] = e match {
      case Literal(v, t) => lit.lift((v, t))
      case _ => None
    }

    /** `col op v`. Strict < / > keep the bound INCLUSIVE — a one-unit-wider
      * box only ever selects a superset of files (sound), never misses one.
      */
    def compare(op: BinaryComparison, v: Expression): Seq[KeyRange] = {
      val x = value(v)
      op match {
        case _: EqualTo => Seq(box(Bounds(x, x)))
        case _: GreaterThan | _: GreaterThanOrEqual => Seq(box(Bounds(x, None)))
        case _: LessThan | _: LessThanOrEqual => Seq(box(Bounds(None, x)))
        case _ => All
      }
    }

    /** One point box per value, if each is a literal of the column's type. */
    def points(vs: Seq[Option[T]]): Seq[KeyRange] =
      if (vs.size <= MaxBoxes && vs.forall(_.isDefined))
        vs.flatten.map(v => box(Bounds(Some(v), Some(v))))
      else All
    def in(vs: Seq[Expression]): Seq[KeyRange] = points(vs.map(value))
    def inSet(hs: Set[Any], t: DataType): Seq[KeyRange] = points(hs.toSeq.map(v => lit.lift((v, t))))
  }

  private val KeyCols: Map[String, KeyCol[_]] = Map(
    KeyRange.ConvCol -> KeyCol(KeyRange.onConv) { case (v: UTF8String, StringType) => v.toString },
    KeyRange.TurnCol -> KeyCol(KeyRange.onTurn) {
      case (v: Int, _) => v
      case (v: Long, t) if t != TimestampType && v.isValidInt => v.toInt
      case (v: Short, _) => v.toInt
    },
    // epoch micros: Catalyst's internal Long for TimestampType values
    KeyRange.TsCol -> KeyCol(KeyRange.onTs) { case (v: Long, TimestampType) => v })

  /** A BARE key column (no Cast — a coerced comparison evaluates in a
    * different ordering domain than the stats, so pruning on it would be
    * WRONG). */
  private object Key {
    def unapply(e: Expression): Option[KeyCol[_]] = e match {
      case a: AttributeReference => KeyCols.get(a.name)
      case _ => None
    }
  }

  /** `v op col` as `col op' v`. */
  private def mirror(c: BinaryComparison): BinaryComparison = c match {
    case LessThan(v, k) => GreaterThan(k, v)
    case LessThanOrEqual(v, k) => GreaterThanOrEqual(k, v)
    case GreaterThan(v, k) => LessThan(k, v)
    case GreaterThanOrEqual(v, k) => LessThanOrEqual(k, v)
    case symmetric => symmetric
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
    * union, =, >=, <=, >, <, BETWEEN, IN / InSet over the bare key columns
    * against literals of the column's own stats type. Box counts are capped
    * (64): a pathological predicate falls back to a full (correct,
    * unpruned) scan rather than exploding the planner.
    */
  def extract(cond: Expression): Seq[KeyRange] = cond match {
    case And(a, b) =>
      val (da, db) = (extract(a), extract(b))
      if (da.size.toLong * db.size > MaxBoxes) All
      else for { x <- da; y <- db; m <- x.intersect(y) } yield m
    case Or(a, b) =>
      val u = extract(a) ++ extract(b)
      if (u.size > MaxBoxes || u.exists(_.isAll)) All else u
    case In(Key(k), vs) => k.in(vs)
    case InSet(c @ Key(k), hs) => k.inSet(hs, c.dataType)
    case c: BinaryComparison => (c.left, c.right) match {
      case (Key(k), v) => k.compare(c, v)
      case (v, Key(k)) => k.compare(mirror(c), v)
      case _ => All
    }
    case _ => All
  }
}
