package steadybench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.lake.LakeTable
import graft.maintain.MergeInto
import graft.plans.GraftPlans

/** lake_read: the table is built and maintained during setup and never
  * written while timing. Narrow reads cover 1% and 0.1% `conv_id` ranges,
  * each both through `LakeTable.scan` and through SQL over a
  * `GraftPlans.registerTable` view; there is also a `turn_idx` range and a
  * time-travel read over a `registerAsOf` view. Every read is collected in
  * full. Every `AggEvery`-th op is a full-table aggregate.
  */
final class LakeRead(ctx: Ctx) extends Workload {
  import LakeRead._
  import ctx.spark

  val name = "lake_read"
  val mainKind = "read"
  /** Long enough for the JIT to settle on the read path: with two
    * aggregate rounds only, CPU per read still varied 20% between runs. */
  val warmupOps: Int = 8 * AggEvery

  private val lakeDir = ctx.work.resolve("lake")
  var table: LakeTable = _
  private var opNo = 0

  private val convs = BaseConvs + LateConvs

  /** A `conv_id` range starting at a seeded conversation below `within`
    * that holds `share` of the table's turns, so every seed reads as much.
    */
  private def range(i: Int, share: Double, within: Int): (String, String) = {
    val turns = (0 until convs).map(Gen.nTurns(ctx.seed, _))
    val want = share * turns.sum
    val lo = Gen.pick(within * 9 / 10, ctx.seed, i, 41)
    var hi = lo
    var got = turns(lo).toDouble
    while (got < want && hi + 1 < within) { hi += 1; got += turns(hi) }
    (Gen.convId(lo), Gen.convId(hi))
  }

  /** The pool of narrow reads, cycled through in order. */
  private val queries: Vector[Query] = (0 until Pool).map { i =>
    i % 6 match {
      case 0 => Query("scan_1pct", Some(range(i, 0.01, convs)), None, sql = false, asOf = false)
      case 1 => Query("sql_1pct", Some(range(i, 0.01, convs)), None, sql = true, asOf = false)
      case 2 => Query("scan_01pct", Some(range(i, 0.001, convs)), None, sql = false, asOf = false)
      case 3 => Query("sql_01pct", Some(range(i, 0.001, convs)), None, sql = true, asOf = false)
      case 4 =>
        val t = 6 + (i / 6) % 3
        Query("scan_turn", None, Some((t, t)), sql = false, asOf = false)
      case _ => Query("asof_1pct", Some(range(i, 0.01, BaseConvs)), None, sql = true, asOf = true)
    }
  }.toVector

  private var expected = Vector.empty[(Int, Long)]  // per query: rows, checksum
  private var expectedAgg = Set.empty[Row]

  private def corrections: Vector[Turn] = {
    val keys = (0 until Corrections).map { i =>
      val seq = Gen.pick(BaseConvs, ctx.seed, i, 43)
      (seq, Gen.pick(Gen.nTurns(ctx.seed, seq), ctx.seed, i, 44))
    }.distinct
    keys.map { case (seq, t) => Gen.turn(ctx.seed, seq, t).copy(text = Gen.text(ctx.seed, seq, t, 1)) }
      .toVector
  }

  /** The table's content as a plain-Spark frame: base turns with the
    * corrections applied, plus late conversations; `asOf` = base only.
    */
  private def oracle(asOf: Boolean): DataFrame = {
    val base = Gen.turnsDf(spark, Gen.convs(ctx.seed, 0, BaseConvs))
    if (asOf) base
    else {
      val fix = Gen.turnsDf(spark, corrections).select(col("conv_id"), col("turn_idx"),
        col("text").as("fixed"))
      base.join(fix, Seq("conv_id", "turn_idx"), "left")
        .select(col("conv_id"), col("turn_idx"), col("role"),
          coalesce(col("fixed"), col("text")).as("text"), col("tool"), col("ts"))
        .unionByName(Gen.turnsDf(spark, Gen.convs(ctx.seed, BaseConvs, convs)))
    }
  }

  /** Oracle answers of the whole query pool from one plain-Spark job: the
    * oracle rows joined to the pool by each query's ranges.
    */
  def prepare(): Unit = {
    import spark.implicits._
    val cur = oracle(asOf = false)
    val rows = cur.withColumn("as_of", lit(false))
      .unionByName(oracle(asOf = true).withColumn("as_of", lit(true)))
    val pool = queries.zipWithIndex.map { case (q, i) =>
      (i, q.asOf, q.conv.map(_._1), q.conv.map(_._2), q.turn.map(_._1), q.turn.map(_._2))
    }.toDF("qi", "q_as_of", "conv_lo", "conv_hi", "turn_lo", "turn_hi")
    val hit = col("as_of") === col("q_as_of") &&
      (col("conv_lo").isNull || col("conv_id").between(col("conv_lo"), col("conv_hi"))) &&
      (col("turn_lo").isNull || col("turn_idx").between(col("turn_lo"), col("turn_hi")))
    val answers = rows.join(broadcast(pool), hit)
      .select((col("qi") +: Gen.schema.fieldNames.toSeq.map(col)): _*).collect()
      .groupBy(_.getInt(0)).map { case (qi, rs) => qi -> rs.map(r => Row.fromSeq(r.toSeq.tail)) }
    expected = queries.indices.map { qi =>
      val rs = answers.getOrElse(qi, Array.empty[Row])
      (rs.length, Workload.checksum(rs))
    }.toVector
    cur.createOrReplaceTempView("oracle_cur")
    expectedAgg = spark.sql(aggSql("oracle_cur")).collect().toSet
  }

  def build(): Unit = {
    Workload.freshDir(lakeDir)
    table = LakeTable.create(spark, lakeDir.toString, Gen.schema)
    val base = Gen.convs(ctx.seed, 0, BaseConvs)
    base.grouped((base.size + 3) / 4).zipWithIndex.foreach { case (part, i) =>
      table.append(Gen.turnsDf(spark, part), s"base$i")
    }
    Tick.run(table, "setup1", Gen.convTs(0), dedupe = false, RetainLast)
    val asOfMs = table.currentSnapshot.get.timestampMs
    Thread.sleep(2) // later commits get a later timestamp than the pin
    val fix = Gen.turnsDf(spark, corrections).select(col("conv_id"),
      col("turn_idx").cast("string").as("turn_idx"), lit("").as("role"), col("text"),
      lit("").as("tool"), lit("").as("ts"))
    MergeInto.merge(table, fix, "fix", targetFileRows = Tick.FileRows)
    table.append(Gen.turnsDf(spark, Gen.convs(ctx.seed, BaseConvs, convs)), "late")
    Tick.run(table, "setup2", Gen.convTs(0), dedupe = false, RetainLast)
    GraftPlans.registerTable(spark, table, "lake")
    GraftPlans.registerAsOf(spark, table, "lake_asof", asOfTsMs = Some(asOfMs))
    opNo = 0
  }

  def next(): Op = {
    opNo += 1
    if (opNo % AggEvery == 0) new AggOp else new ReadOp((opNo - 1) % Pool)
  }

  private final class ReadOp(qi: Int) extends Op {
    private val q = queries(qi)
    val kind = "read"
    private var rows: Array[Row] = Array.empty
    private var prune: Option[LakeTable#PruneStats] = None
    def run(): Unit =
      if (q.sql) {
        val (lo, hi) = q.conv.get
        val view = if (q.asOf) "lake_asof" else "lake"
        rows = Tracer.span("read.materialize")(spark.sql(
          s"SELECT * FROM $view WHERE conv_id BETWEEN '$lo' AND '$hi'").collect())
      } else {
        val s = Tracer.span("lake.scan_plan")(table.scan(convRange = q.conv, turnRange = q.turn))
        prune = Some(s.prune)
        rows = Tracer.span("read.materialize")(s.df.collect())
      }
    def check(): Option[String] = {
      val (n, sum) = expected(qi)
      if (rows.length != n) Some(s"${q.name}#$qi: ${rows.length} rows, oracle $n")
      else if (Workload.checksum(rows) != sum) Some(s"${q.name}#$qi: row checksum differs from the oracle")
      else None
    }
    def turns: Long = rows.length.toLong
    override def layerCounts: Map[String, Double] = prune.map { p =>
      Map("lake.files_selected_frac" -> p.selectedFiles.toDouble / math.max(1L, p.totalFiles),
        "lake.manifests_opened_frac" -> p.openedManifests.toDouble / math.max(1L, p.totalManifests))
    }.getOrElse(Map.empty)
  }

  private final class AggOp extends Op {
    val kind = "scan"
    private var rows: Array[Row] = Array.empty
    def run(): Unit = rows = Tracer.span("read.materialize")(spark.sql(aggSql("lake")).collect())
    def check(): Option[String] =
      if (rows.toSet != expectedAgg) Some("full-table aggregate differs from the oracle") else None
    def turns: Long = rows.map(_.getLong(1)).sum
  }

  def finish(): Option[String] = None
}

final case class Query(name: String, conv: Option[(String, String)], turn: Option[(Int, Int)],
                       sql: Boolean, asOf: Boolean)

object LakeRead {
  val BaseConvs = 3000
  val LateConvs = 300
  val Corrections = 300
  val Pool = 48
  val AggEvery = 8
  val RetainLast = 20

  def aggSql(view: String): String =
    s"SELECT role, count(*) AS n, sum(length(text)) AS chars, max(ts) AS last_ts, " +
      s"sum(cast(xxhash64(conv_id, turn_idx, text, tool) AS decimal(20,0))) AS h FROM $view GROUP BY role"
}
