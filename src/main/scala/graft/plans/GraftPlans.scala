package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LocalRelation, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.{IntervalDnf, KeyRange, LakeTable}

/** SQL-transparent lake scans: a custom Catalyst leaf [[GraftTableScan]] +
  * an optimizer [[Rule]] that plans it — the (c) tier of the build contract
  * (custom LogicalPlan + Rule, registered through session hooks) used where
  * it genuinely buys something: SQL users (`spark.sql("... WHERE conv_id
  * BETWEEN ...")` over a registered view) get MANIFEST-LEVEL pruning
  * without ever calling the programmatic `LakeTable.scan(convRange)` API.
  *
  * How it plans: the leaf is opaque to every built-in rule, so predicates
  * naturally come to rest in a Filter directly above it. [[PruneGraftScans]]
  * extracts conv_id/turn_idx/ts range conjuncts from that Filter (shared
  * [[IntervalDnf]] analysis — the same semantics DELETE FROM prunes with),
  * asks the table's snapshot metadata for the overlapping files (manifests
  * whose persisted range misses the predicate are never opened), and
  * rewrites the leaf into a plain parquet relation over ONLY those files —
  * attribute ids preserved via an aliasing Project, the original Filter
  * retained above, so Spark's FileSourceStrategy still pushes the residual
  * predicate into the Parquet row-group reader. Planning work is
  * metadata-only: the same two-level prune a `scan()` call does, now driven
  * by the optimizer.
  */
final case class GraftTableScan(
    root: String,
    snapshotId: Option[Long],
    output: Seq[Attribute],
    sizeInBytes: Long = 0L,
    rowCount: Long = -1L) extends LeafNode {

  /** Real statistics from the snapshot's persisted manifest byte/row sums
    * (filled by [[GraftPlans.scan]] — O(1) metadata, no manifest opens), so
    * joins against the lake view size it correctly: a small table
    * broadcasts, a huge one never does. Parquet bytes under-state the
    * in-memory row size, so the (compressed, columnar) size is scaled by
    * the session's compression factor the way LogicalRelation does for
    * file relations. Snapshots from before byte sums were persisted report
    * 0 — fall back to a deliberately LARGE size (1 GiB): the safe failure
    * mode is a missed broadcast, never an OOM'd one.
    */
  override def computeStats(): Statistics = {
    if (sizeInBytes <= 0L) Statistics(sizeInBytes = BigInt(1) << 30)
    else {
      val factor = conf.fileCompressionFactor
      Statistics(
        sizeInBytes = BigInt(math.max(1L, (sizeInBytes * factor).toLong)),
        rowCount = if (rowCount >= 0) Some(BigInt(rowCount)) else None)
    }
  }
}

/** LIVE snapshot-history leaf for `<name>_snapshots`: re-resolved from the
  * table's metadata at PLAN time by [[PruneGraftScans]], so a registered
  * listing reflects commits made after registration — the round-4 frozen
  * listing is gone. Driver-side metadata only (O(snapshots)); orphan snap
  * files of crashed commits are excluded, exactly as
  * [[graft.lake.LakeTable.committedSnapshots]] reads.
  */
final case class GraftSnapshotsScan(root: String, output: Seq[Attribute])
    extends LeafNode {
  override def computeStats(): Statistics = Statistics(sizeInBytes = BigInt(1) << 16)
}

object GraftPlans {

  /** The table as a DataFrame whose scan is PLANNED BY THE OPTIMIZER —
    * filters applied later (by DataFrame ops or SQL over a temp view) prune
    * at the metadata level. Requires [[install]] once per session.
    */
  def scan(spark: SparkSession, table: LakeTable,
           snapshotId: Option[Long] = None): DataFrame = {
    val snap = snapshotId.map(table.snapshot).orElse(table.currentSnapshot)
      .getOrElse(throw new IllegalStateException("no snapshot to scan"))
    val attrs = snap.schema.toStruct.map(f =>
      AttributeReference(f.name, f.dataType, nullable = true)())
    // Byte sums are trusted ONLY when every non-empty manifest reports
    // them: a mixed table (legacy pre-bytes manifests carried verbatim by
    // commitDelta + one post-upgrade manifest) would otherwise report just
    // the new slice — a massive UNDERSTATEMENT whose failure mode is a
    // wrongly-broadcast huge table. All-or-nothing keeps the fallback
    // (1 GiB, never broadcast) until a manifest rewrite refreshes stats.
    val allHaveBytes = snap.manifests.forall(r => r.entryCount == 0 || r.bytes > 0)
    // An explicitly pinned snapshot id stays pinned (VERSION AS OF); a
    // None stays None IN THE LEAF so the planning rule re-resolves the
    // CURRENT snapshot at every query — a registered "live" view must not
    // freeze at registration time.
    Bridge.ofRows(spark, GraftTableScan(table.root, snapshotId, attrs,
      sizeInBytes = if (allHaveBytes) snap.manifests.map(_.bytes).sum else 0L,
      rowCount = snap.manifests.map(_.rows).sum))
  }

  private[plans] val snapshotsSchema: StructType = StructType(Seq(
    StructField("snapshot_id", LongType),
    StructField("parent_id", LongType),
    StructField("sequence", LongType),
    StructField("committed_at", TimestampType),
    StructField("operation", StringType),
    StructField("n_files", LongType),
    StructField("n_rows", LongType),
    StructField("n_bytes", LongType)))

  /** The table's committed snapshot history as a LIVE DataFrame, newest
    * first — the reference's created_at-ordered metadata listing
    * (file_repository.py:112-118) as a queryable relation, re-resolved at
    * plan time (a commit after registration shows up on the next query).
    * Requires [[install]] once per session.
    */
  def snapshots(spark: SparkSession, table: LakeTable): DataFrame = {
    install(spark)
    val attrs = snapshotsSchema.map(f =>
      AttributeReference(f.name, f.dataType, nullable = true)())
    Bridge.ofRows(spark, GraftSnapshotsScan(table.root, attrs))
  }

  /** Register the SQL surface for a lake table: `<name>` AND
    * `<name>_snapshots` are both LIVE views — each carries a leaf the
    * planning rule re-resolves against the table's CURRENT metadata at
    * every query, so later commits are visible without re-registration
    * (pin explicitly with [[registerAsOf]]). A SQL user picks a version
    * from the snapshots listing and opens it with [[registerAsOf]].
    * In sessions built with [[GraftSparkExtensions]], SQL DML statements
    * (`DELETE FROM <name> WHERE ...`) route to the table for as long as
    * `<name>` is this view.
    */
  def registerTable(spark: SparkSession, table: LakeTable, name: String): Unit = {
    install(spark)
    scan(spark, table).createOrReplaceTempView(name)
    snapshots(spark, table).createOrReplaceTempView(s"${name}_snapshots")
  }

  /** SQL time travel: register view `name` pinned at `snapshotId`
    * (VERSION AS OF) or at the newest snapshot committed at-or-before
    * `asOfTsMs` (TIMESTAMP AS OF). The pinned view stays metadata-pruned
    * like any scan; maintenance committing newer snapshots never disturbs
    * it (immutable files + versioned metadata).
    */
  def registerAsOf(spark: SparkSession, table: LakeTable, name: String,
                   snapshotId: Option[Long] = None,
                   asOfTsMs: Option[Long] = None): Unit = {
    install(spark)
    val sid = snapshotId.orElse(asOfTsMs.map(ts =>
      table.snapshotAsOf(ts).getOrElse(throw new IllegalArgumentException(
        s"no committed snapshot at or before $ts in ${table.root}")).id))
    scan(spark, table, sid).createOrReplaceTempView(name)
  }

  /** Register the planning rule on an existing session (idempotent). Also
    * installable at session build time via
    * `.config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")`
    * — which ADDITIONALLY enables the SQL DML statement surface
    * (`DELETE FROM` / `MERGE INTO` over registered lake views); the parser
    * hook only exists at session build time, so install() on a foreign
    * session provides read-side planning only.
    */
  def install(spark: SparkSession): Unit = {
    val has = spark.experimental.extraOptimizations.exists(_.isInstanceOf[PruneGraftScans])
    if (!has)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new PruneGraftScans(spark)
  }
}

/** `spark.sql.extensions` entry point: injects the scan-planning rule AND
  * the DML statement parser into every session built with this class
  * configured (or via `SparkSession.builder().withExtensions(new
  * GraftSparkExtensions)`).
  */
class GraftSparkExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(session => new PruneGraftScans(session))
    ext.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
  }
}

/** Rewrites [[GraftTableScan]] leaves into pruned parquet relations, using
  * range/IN/OR predicates found directly above them, and resolves
  * [[GraftSnapshotsScan]] leaves into the table's CURRENT committed
  * history.
  */
class PruneGraftScans(spark: SparkSession) extends Rule[LogicalPlan] {

  // transformDown, NOT transformUp: the bare-leaf fallback must only fire
  // when no enclosing Filter claimed the leaf first (up-order would rewrite
  // the leaf unpruned before the Filter case could see it).
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case Filter(cond, g: GraftTableScan) =>
      Filter(cond, pruned(g, cond))
    case Filter(cond, p @ Project(projList, g: GraftTableScan))
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      // column pruning may slide a plain Project between filter and leaf
      Filter(cond, p.copy(child = pruned(g, cond)))
    case g: GraftTableScan => rewrite(g)
    case s: GraftSnapshotsScan => snapshotRows(s)
  }

  private def pruned(g: GraftTableScan, cond: Expression): LogicalPlan =
    rewrite(g, IntervalDnf.extract(cond))

  /** The committed history, resolved NOW (plan time): each query over a
    * registered `<name>_snapshots` view sees the listing as of itself.
    */
  private def snapshotRows(s: GraftSnapshotsScan): LogicalPlan = {
    val table = LakeTable.load(spark, s.root)
    val rows = table.committedSnapshots.sortBy(-_.id).map { sn =>
      InternalRow(sn.id, sn.parentId, sn.sequence,
        sn.timestampMs * 1000L, // TimestampType: epoch micros
        UTF8String.fromString(sn.operation),
        sn.manifests.map(_.entryCount).sum,
        sn.manifests.map(_.rows).sum,
        sn.manifests.map(_.bytes).sum)
    }
    LocalRelation(s.output, rows)
  }

  private def rewrite(g: GraftTableScan,
                      boxes: Seq[KeyRange] = Seq(KeyRange.all)): LogicalPlan = {
    val table = LakeTable.load(spark, g.root)
    val snap = g.snapshotId.map(table.snapshot)
      .getOrElse(table.currentSnapshot.get)
    // a file/manifest is scanned iff ANY box overlaps its stats; an EMPTY
    // box list (statically unsatisfiable predicate) scans nothing
    val selected = table.overlappingEntriesBoxes(snap, boxes).entries.map(_.file)
    val st = snap.schema.toStruct
    val rel: LogicalPlan =
      if (selected.isEmpty) LocalRelation(g.output)
      else {
        val base = Bridge.planOf(
          table.readData(selected.map(f => table.absData(f.path)), st))
        // preserve the leaf's attribute ids for everything referencing them
        Project(base.output.zip(g.output).map { case (n, o) =>
          Alias(n, o.name)(exprId = o.exprId)
        }, base)
      }
    rel
  }
}
