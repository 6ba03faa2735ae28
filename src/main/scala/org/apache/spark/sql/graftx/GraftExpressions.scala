/** Bridge package: lives under org.apache.spark.sql so our library can reach
  * the `private[sql]` seams every third-party Spark extension needs —
  * Expression <-> Column conversion and `AbstractDataType` for input-type
  * coercion. Nothing here touches Spark internals beyond those two.
  */
package org.apache.spark.sql.graftx

import org.apache.spark.sql.{classic, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructType, TypeCollection}
import org.apache.spark.unsafe.types.UTF8String

object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan (Dataset.ofRows is private[sql]) —
    * needed to hand a custom leaf node (graft.plans.GraftTableScan) to users
    * as an ordinary DataFrame.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed LogicalPlan behind a DataFrame (queryExecution is sql-private
    * in the interface hierarchy; the classic Dataset exposes it).
    */
  def planOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  /** The optimizer's size estimate of a DataFrame's plan, in bytes — the
    * figure Spark compares with `spark.sql.autoBroadcastJoinThreshold`.
    */
  def sizeInBytes(df: org.apache.spark.sql.DataFrame): BigInt =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.optimizedPlan.stats.sizeInBytes

  /** A DataFrame's rows as Catalyst rows: taken off the plan when the
    * optimizer folded it into a local relation (no job, no generated
    * code), collected otherwise, as a tracked SQL execution (listeners see
    * its plan, as they do `Dataset.collect`'s).
    */
  def internalRows(df: DataFrame): Seq[InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    qe.optimizedPlan match {
      case l: LocalRelation => l.data
      case _ => SQLExecution.withNewExecutionId(qe, Some("collect"))(
        qe.executedPlan.executeCollect().toSeq)
    }
  }

  /** A local relation over Catalyst rows of `schema`, every column nullable. */
  def localRelation(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema.asNullable), rows))

  /** The executed SparkPlan of a DataFrame — plan-evidence hook for tests
    * (file counts in FileSourceScanExec, codegen spans).
    */
  def executedPlanOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan

  /** `EXPLAIN FORMATTED` text of a DataFrame, as a String (the public
    * explain() only prints to stdout).
    */
  def explainFormatted(df: org.apache.spark.sql.DataFrame): String =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Register the engine's custom expressions for SQL callers:
    * `SELECT zorder64(a, b)` works after this (FunctionRegistry is a
    * private[sql] seam, hence registration lives in this bridge package).
    */
  /** Cut a DataFrame's LINEAGE and its STATISTICS chain for iterative
    * algorithms: materializable cached rows behind a fresh [[LogicalRDD]]
    * leaf whose stats are a caller-supplied CONSTANT.
    *
    * Why not `localCheckpoint`: it truncates the plan but carries the
    * child's COMPUTED statistics into the leaf (rewriteStatsAndConstraints),
    * and join-stat estimation multiplies children's sizeInBytes — so in a
    * loop whose round-r leaf feeds ~3 joins, the carried BigInt's DIGIT
    * COUNT triples per round and by round ~25 the driver burns minutes per
    * round in Toom-Cook multiplication just to estimate sizes. A constant
    * per round keeps stat products bounded forever.
    *
    * The returned thunk unpersists the backing block RDD — call it once the
    * NEXT round (or the final output) has materialized; relying on the
    * ContextCleaner instead leaks one corpus-sized cache per round.
    * Rows are defensively copied (toRdd reuses mutable UnsafeRows — caching
    * them uncopied stores one row object per partition, all aliased).
    */
  def detach(df: org.apache.spark.sql.DataFrame,
             sizeInBytes: Long = 1L << 30)
      : (org.apache.spark.sql.DataFrame, () => Unit) = {
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val session = cdf.sparkSession
    val rdd = cdf.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val plan = org.apache.spark.sql.execution.LogicalRDD(
      cdf.queryExecution.analyzed.output, rdd)(session,
      Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
        sizeInBytes = BigInt(sizeInBytes))), None)
    (org.apache.spark.sql.classic.Dataset.ofRows(session, plan),
      () => { rdd.unpersist(blocking = false); () })
  }

  def registerFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("zorder64",
      exprs => ZOrder64(exprs.head, exprs(1)), "scala_udf")
  }
}

/** `zorder64(a, b)` — native Catalyst expression computing the 64-bit Morton
  * interleave of two int32 keys. Codegen emits one static call to
  * [[graft.functions.Morton.interleave]] so the clustering-key computation
  * stays inside whole-stage codegen (north rule: 64-bit key interleave).
  */
case class ZOrder64(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(IntegerType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder64"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.Morton.interleave(a.asInstanceOf[Int], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Morton.interleave($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder64 =
    copy(left = newLeft, right = newRight)
}

/** `hilbert64(a, b, order)` — 2-D Hilbert index of two int keys on a
  * 2^order grid; the alternative clustering curve (better worst-case
  * locality than Z). Codegen emits one static call.
  */
case class Hilbert64(left: Expression, right: Expression, order: Int)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(IntegerType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert64"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.Morton.hilbert(order, a.asInstanceOf[Int], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Morton.hilbert($order, $a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Hilbert64 =
    copy(left = newLeft, right = newRight)
}

/** `dot_f32(a, b)` — native dot product of two float/double array columns as
  * a double. The `aggregate(zip_with(...))` formulation it replaces runs
  * interpreted higher-order lambdas PER ELEMENT (boxing every float and
  * allocating the zipped array per row); this emits one static call to a
  * tight primitive loop over ArrayData, keeping similarity scoring inside
  * whole-stage codegen — the ANN paths compute corpus x centroid /
  * bucket-pair dots, where the per-element interpreter tax dominated.
  * `array<double>` inputs are read at full precision (no implicit downcast
  * to float — the HOF chain computed in double, and results must not
  * change for double-typed callers); other numeric arrays coerce to DOUBLE
  * (ArrayType(DoubleType) leads the TypeCollection, so the implicit cast
  * picks it first — matching the HOF double math).
  * Null semantics match the old chain: length mismatch or a null element
  * gives null; empty arrays give 0.0.
  */
case class DotF32(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(DoubleType), ArrayType(FloatType)),
      TypeCollection(ArrayType(DoubleType), ArrayType(FloatType)))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_f32"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.VecMath.dotMixed(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double ${ev.value}_r = graft.functions.VecMath.dotMixed(
         |  $a, $b, ${isFloat(left)}, ${isFloat(right)});
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotF32 =
    copy(left = newLeft, right = newRight)
}

/** `simhash64_f(text)` — 64-bit SimHash of a string in ONE codegen'd kernel
  * pass (bit-identical to the `aggregate`-fold and explode->groupBy Column
  * shapes, see [[graft.functions.SketchKernels.simhash64]]): the sketch is
  * computed inside the scan projection with no token explode and no
  * shuffle — the shape a 100 TB corpus pass wants.
  */
case class SimHash64F(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64_f"

  override protected def nullSafeEval(s: Any): Any =
    graft.functions.SketchKernels.simhash64(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.SketchKernels.simhash64($s)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64F =
    copy(child = newChild)
}

/** `minhash_sig_f(text, k, n)` — MinHash signature (n 64-bit mins over
  * k-word shingles) in one codegen'd kernel pass, bit-identical to the
  * explode(wordShingles) -> groupBy-min shape
  * ([[graft.functions.SketchKernels.minhashSig]]). Beyond dropping the
  * explode stage, a single expression is immune to the CollapseProject
  * inlining that made the pure-Column signature recompute its shingle array
  * numHashes times per row.
  */
case class MinHashSigF(child: Expression, shingleK: Int, numHashes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig_f"

  override protected def nullSafeEval(s: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      graft.functions.SketchKernels.minhashSig(
        s.asInstanceOf[UTF8String], shingleK, numHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(" +
        s"graft.functions.SketchKernels.minhashSig($s, $shingleK, $numHashes))")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigF =
    copy(child = newChild)
}

/** `lsh_bucket_f32(v, nPlanes)` — random-hyperplane LSH bucket id of an
  * `array<float>` vector: nPlanes sign bits, plane signs derived from the
  * same xxhash64 chain as the Column formulation it replaces (bit-identical
  * buckets), computed in one primitive loop instead of nPlanes interpreted
  * `aggregate(zip_with(...))` passes per row.
  */
case class LshBucketF32(child: Expression, nPlanes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_bucket_f32"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.VecMath.lshBucketF32(v.asInstanceOf[ArrayData], nPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      v => s"graft.functions.VecMath.lshBucketF32($v, $nPlanes)")

  override protected def withNewChildInternal(newChild: Expression): LshBucketF32 =
    copy(child = newChild)
}

/** `bucket_by_cuts(v, cuts)` — quantile bucketing: returns the index of the
  * first cut > v (binary search), i.e. which of the `cuts.length + 1`
  * quantile buckets `v` falls into. Used to normalize clustering dimensions
  * onto a BALANCED grid before Z-interleaving — min/max linear scaling is
  * catastrophically outlier-sensitive (one far-away key collapses all real
  * keys into one bucket), quantiles are not. `cuts` is a driver-computed
  * sorted array shipped as a codegen reference object.
  */
case class BucketByCuts(child: Expression, cuts: Array[Long])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bucket_by_cuts"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.Buckets.of(v.asInstanceOf[Long], cuts)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cutsRef = ctx.addReferenceObj("cuts", cuts, "long[]")
    defineCodeGen(ctx, ev, v => s"graft.functions.Buckets.of($v, $cutsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): BucketByCuts =
    copy(child = newChild)
}

/** `ivf_probes_f32(v)` — the `nProbe` nearest IVF cells of a vector against
  * a driver-built centroid table ([[graft.functions.IvfCentroids]], bounded
  * by the nLists constant), ordered exactly as
  * row_number() OVER (ORDER BY ccos DESC, cell ASC) over the old
  * corpus x centroid cross join; element 0 doubles as the inverted-list
  * assignment (== max_by(cell, struct(ccos, -cell))). Replaces the
  * n x nLists crossJoin -> groupBy(id)/Window pair with ONE codegen'd pass
  * per row: no exchange carries the vectors to score the centroids, the
  * per-id Window sort disappears, and the scored intermediate (and its
  * cache) cease to exist. Never null: a NULL vector ranks every ccos null,
  * which orders cells ascending — the exact Window behavior.
  */
case class IvfProbesF32(child: Expression,
                        cents: graft.functions.IvfCentroids, nProbe: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(DoubleType), ArrayType(FloatType)))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "ivf_probes_f32"

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    cents.probes(
      if (v == null) null else v.asInstanceOf[ArrayData], isFloat, nProbe)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val centsRef = ctx.addReferenceObj("ivfCents", cents,
      classOf[graft.functions.IvfCentroids].getName)
    val c = child.genCode(ctx)
    ev.copy(code = c.code + code"""
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        $centsRef.probes(${c.isNull} ? null : ${c.value}, $isFloat, $nProbe);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): IvfProbesF32 =
    copy(child = newChild)
}
