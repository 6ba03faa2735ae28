package graft.lake

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.types._

/** Table-format metadata: an Iceberg-style (field-ID-mapped, snapshot +
  * manifest) layout built from scratch — no Iceberg jars exist in this
  * environment, and the north rule demands a from-scratch engine.
  *
  * The design lifts the reference's metadata-document semantics
  * (file_repository.py:41-54: filename, status, fields, records_count,
  * created_at) into versioned, immutable table metadata:
  *   - [[TableSchema]]: insertion-ordered fields, each with a STABLE int
  *     field-ID — the reference's "append-only evolving field list"
  *     (docs/processing-engine.md:147-154) made rename/reorder-safe;
  *   - [[DataFile]]: one Parquet file + per-file min/max stats on
  *     (conv_id, turn_idx) driving scan pruning;
  *   - [[Manifest]]: a group of DataFile entries (own JSON file);
  *   - [[Snapshot]]: an immutable table version pointing at manifests.
  *
  * Scale posture: at 10^12 turns / ~10^6 data files, entries live in many
  * manifests (bounded entries per manifest, rewritten by key range), so
  * planning reads only manifests whose aggregate range overlaps a query —
  * the driver never loads one giant file list eagerly.
  */
final case class FieldDef(id: Int, name: String, dtype: String) {
  def dataType: DataType = DataType.fromDDL(dtype)
}

final case class TableSchema(fields: Vector[FieldDef], lastFieldId: Int) {
  def toStruct: StructType =
    StructType(fields.map(f => StructField(f.name, f.dataType,
      metadata = new MetadataBuilder().putLong("graft.field.id", f.id.toLong).build())))

  def fieldNames: Vector[String] = fields.map(_.name)

  /** Append-only evolution: unknown incoming columns get fresh field-IDs at
    * the end (docs/processing-engine.md:149-154 "new keys are appended
    * dynamically"); existing names resolve to their stable IDs.
    */
  def evolve(incoming: Seq[(String, DataType)]): TableSchema = {
    val known = fields.map(_.name).toSet
    val fresh = incoming.filterNot { case (n, _) => known(n) }
    if (fresh.isEmpty) this
    else {
      var next = lastFieldId
      val added = fresh.map { case (n, t) => next += 1; FieldDef(next, n, t.sql) }
      TableSchema(fields ++ added, next)
    }
  }
}

object TableSchema {
  def fromStruct(st: StructType): TableSchema =
    TableSchema(st.fields.zipWithIndex.map { case (f, i) =>
      FieldDef(i + 1, f.name, f.dataType.sql)
    }.toVector, st.fields.length)
}

/** One immutable Parquet data file with pruning stats. `path` is relative
  * to the table root. Missing stats (null mins) disable pruning for the
  * file — it is always selected (safe).
  *
  * `minTsUs`/`maxTsUs`: event-time range in epoch MICROseconds (Parquet
  * TIMESTAMP_MICROS footer stats), driving row-retention pruning the same
  * way conv/turn ranges drive scan pruning. `sketch`: the consolidated
  * sketch batch (table-relative dir) covering this file's near-dup
  * signatures, if one was published — coverage truth lives HERE, in the
  * manifest entry, not in a per-file directory stat (the 10^6-file
  * design point makes dir-per-file listing the bottleneck).
  */
final case class DataFile(
    path: String,
    rows: Long,
    bytes: Long,
    minConv: Option[String],
    maxConv: Option[String],
    minTurn: Option[Int],
    maxTurn: Option[Int],
    minTsUs: Option[Long] = None,
    maxTsUs: Option[Long] = None,
    sketch: Option[String] = None)

final case class Manifest(path: String, entries: Vector[DataFile])

/** Snapshot-level manifest entry: path + aggregate stats persisted IN the
  * snapshot, so scan planning prunes whole manifests without opening them
  * and commits sum file/row totals without re-reading carried manifests.
  * Missing bounds (no stats in any entry) disable pruning — always scanned.
  */
final case class ManifestRef(
    path: String,
    entryCount: Long,
    rows: Long,
    minConv: Option[String],
    maxConv: Option[String],
    minTurn: Option[Int],
    maxTurn: Option[Int],
    bytes: Long = 0L, // 0 = written before byte sums were persisted
    minTsUs: Option[Long] = None,
    maxTsUs: Option[Long] = None)

object ManifestRef {
  /** Aggregate a manifest's entries into its snapshot-level ref. A single
    * stats-less entry widens the bound to "unknown" (never-pruned), keeping
    * manifest-level pruning exactly as safe as file-level pruning.
    */
  def of(path: String, entries: Vector[DataFile]): ManifestRef = {
    def agg[T](get: DataFile => Option[T], pick: Vector[T] => T): Option[T] = {
      val vs = entries.map(get)
      if (vs.isEmpty || vs.exists(_.isEmpty)) None else Some(pick(vs.flatten))
    }
    ManifestRef(path, entries.size.toLong, entries.map(_.rows).sum,
      agg[String](_.minConv, _.min(IntervalDnf.ConvOrder)),
      agg[String](_.maxConv, _.max(IntervalDnf.ConvOrder)),
      agg[Int](_.minTurn, _.min), agg[Int](_.maxTurn, _.max),
      bytes = entries.map(_.bytes).sum,
      minTsUs = agg[Long](_.minTsUs, _.min), maxTsUs = agg[Long](_.maxTsUs, _.max))
  }
}

final case class Snapshot(
    id: Long,
    parentId: Long, // -1 = none
    sequence: Long,
    timestampMs: Long,
    operation: String,
    schema: TableSchema,
    manifests: Vector[ManifestRef],
    summary: Map[String, String]) {
  def manifestPaths: Vector[String] = manifests.map(_.path)
}

/** Hand-rolled JSON codecs over Jackson (bundled with Spark — no new deps).
  * Explicit tree construction: no reflection, stable field order.
  */
object MetaJson {
  val mapper = new ObjectMapper()

  def schemaToJson(s: TableSchema): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("last_field_id", s.lastFieldId)
    val arr = o.putArray("fields")
    s.fields.foreach { f =>
      val fo = arr.addObject()
      fo.put("id", f.id); fo.put("name", f.name); fo.put("type", f.dtype)
    }
    o
  }

  def schemaFromJson(n: JsonNode): TableSchema = {
    val fields = iter(n.get("fields")).map { fo =>
      FieldDef(fo.get("id").asInt, fo.get("name").asText, fo.get("type").asText)
    }.toVector
    TableSchema(fields, n.get("last_field_id").asInt)
  }

  def dataFileToJson(d: DataFile): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("path", d.path); o.put("rows", d.rows); o.put("bytes", d.bytes)
    d.minConv.foreach(o.put("min_conv", _)); d.maxConv.foreach(o.put("max_conv", _))
    d.minTurn.foreach(o.put("min_turn", _)); d.maxTurn.foreach(o.put("max_turn", _))
    d.minTsUs.foreach(o.put("min_ts_us", _)); d.maxTsUs.foreach(o.put("max_ts_us", _))
    d.sketch.foreach(o.put("sketch", _))
    o
  }

  def dataFileFromJson(n: JsonNode): DataFile = DataFile(
    n.get("path").asText, n.get("rows").asLong, n.get("bytes").asLong,
    opt(n, "min_conv").map(_.asText), opt(n, "max_conv").map(_.asText),
    opt(n, "min_turn").map(_.asInt), opt(n, "max_turn").map(_.asInt),
    minTsUs = opt(n, "min_ts_us").map(_.asLong),
    maxTsUs = opt(n, "max_ts_us").map(_.asLong),
    sketch = opt(n, "sketch").map(_.asText))

  def manifestToJson(m: Manifest): ObjectNode = {
    val o = mapper.createObjectNode()
    val arr = o.putArray("entries")
    m.entries.foreach(e => arr.add(dataFileToJson(e)))
    o
  }

  def manifestFromJson(path: String, n: JsonNode): Manifest =
    Manifest(path, iter(n.get("entries")).map(dataFileFromJson).toVector)

  def manifestRefToJson(r: ManifestRef): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("path", r.path); o.put("entry_count", r.entryCount); o.put("rows", r.rows)
    o.put("bytes", r.bytes)
    r.minConv.foreach(o.put("min_conv", _)); r.maxConv.foreach(o.put("max_conv", _))
    r.minTurn.foreach(o.put("min_turn", _)); r.maxTurn.foreach(o.put("max_turn", _))
    r.minTsUs.foreach(o.put("min_ts_us", _)); r.maxTsUs.foreach(o.put("max_ts_us", _))
    o
  }

  def manifestRefFromJson(n: JsonNode): ManifestRef = ManifestRef(
    n.get("path").asText, n.get("entry_count").asLong, n.get("rows").asLong,
    opt(n, "min_conv").map(_.asText), opt(n, "max_conv").map(_.asText),
    opt(n, "min_turn").map(_.asInt), opt(n, "max_turn").map(_.asInt),
    bytes = opt(n, "bytes").map(_.asLong).getOrElse(0L),
    minTsUs = opt(n, "min_ts_us").map(_.asLong),
    maxTsUs = opt(n, "max_ts_us").map(_.asLong))

  def snapshotToJson(s: Snapshot): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("snapshot_id", s.id); o.put("parent_id", s.parentId)
    o.put("sequence", s.sequence); o.put("timestamp_ms", s.timestampMs)
    o.put("operation", s.operation)
    o.set[ObjectNode]("schema", schemaToJson(s.schema))
    val mf = o.putArray("manifests")
    s.manifests.foreach(r => mf.add(manifestRefToJson(r)))
    val sm = o.putObject("summary")
    s.summary.toSeq.sortBy(_._1).foreach { case (k, v) => sm.put(k, v) }
    o
  }

  def snapshotFromJson(n: JsonNode): Snapshot = {
    val sm = opt(n, "summary").map { s =>
      iterFields(s).map { case (k, v) => k -> v.asText }.toMap
    }.getOrElse(Map.empty[String, String])
    Snapshot(
      n.get("snapshot_id").asLong, n.get("parent_id").asLong,
      n.get("sequence").asLong, n.get("timestamp_ms").asLong,
      n.get("operation").asText, schemaFromJson(n.get("schema")),
      iter(n.get("manifests")).map(manifestRefFromJson).toVector, sm)
  }

  def write(n: ObjectNode): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n)
  def read(s: String): JsonNode = mapper.readTree(s)

  private def iter(n: JsonNode): Iterator[JsonNode] = {
    val it = n.elements(); Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
  }
  private def iterFields(n: JsonNode): Iterator[(String, JsonNode)] = {
    val it = n.fields(); Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(e => e.getKey -> e.getValue)
  }
  private def opt(n: JsonNode, k: String): Option[JsonNode] =
    Option(n.get(k)).filterNot(_.isNull)
}
