package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** The key range as file stats, manifest stats and on-disk metadata. */
class KeyRangeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def range(conv: (String, String), turn: (Int, Int),
                    ts: Option[(Long, Long)]): KeyRange =
    KeyRange(Bounds(Some(conv._1), Some(conv._2)), Bounds(Some(turn._1), Some(turn._2)),
      Bounds(ts.map(_._1), ts.map(_._2)))

  test("file stats: conv_id bounds across row groups compare as UTF-8 bytes") {
    import spark.implicits._
    // U+FF61 sorts before U+1F600 in UTF-8 bytes (Parquet's and Spark's
    // order) but after it in UTF-16 code units (String.compareTo)
    val (wide, emoji) = ("\uFF61a", "\uD83D\uDE00b")
    val dir = Paths.get("target", "test-lake", "rowgroups-" + System.nanoTime()).toString
    val ts = (t: Long) => new java.sql.Timestamp(t)
    // one row group per key: the writer checks its buffered size every 50
    // rows, and any size passes the 1-byte block size; the first group's ts
    // column is all null
    (Seq.fill(50)((wide, 1, Option.empty[java.sql.Timestamp])) ++
      Seq.fill(50)((emoji, 2, Some(ts(1000L)))) ++ Seq((emoji, 3, Some(ts(2000L)))))
      .toDF("conv_id", "turn_idx", "ts").coalesce(1)
      .write.option("parquet.block.size", "1")
      .option("parquet.page.size.row.check.min", "50")
      .option("parquet.page.size.row.check.max", "50").parquet(dir)
    val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head.getPath
    val conf = spark.sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
    try assert(reader.getFooter.getBlocks.size >= 2, "the file needs several row groups")
    finally reader.close()

    val keys = ParquetStats.read(file, conf).keys
    assert(keys == range((wide, emoji), (1, 3), Some((1000000L, 2000000L))),
      "an all-null row group adds nothing to the ts range")
    assert(KeyRange.onConv(Bounds(Some(wide), Some(wide))).overlaps(keys),
      "a box on a key the file holds must select the file")
  }

  private def fixture(name: String): String =
    new String(getClass.getResourceAsStream(s"/golden/$name").readAllBytes(), UTF_8)

  // Written by the codecs before the key range existed: entries with and
  // without stats, one with a sketch, non-BMP conv keys, and a snapshot
  // whose last manifest ref predates persisted byte sums.
  private val (a, b, c, d) = (
    range(("c001", "c005"), (0, 9), Some((1704067200000000L, 1704067260000000L))),
    range(("\uFF61a", "\uD83D\uDE00b"), (2, 40), Some((1704067300000000L, 1704067900000000L))),
    KeyRange.all,
    range(("c002", "c004"), (1, 3), None))

  test("metadata format: snapshot and manifest JSON re-serialize byte-identically") {
    val manifestText = fixture("manifest.json")
    val m = MetaJson.manifestFromJson("manifest-3-abcd1234-0.json", MetaJson.read(manifestText))
    assert(MetaJson.write(MetaJson.manifestToJson(m)) == manifestText)
    assert(m.entries.map(_.keys) == Vector(a, b, c, d))
    assert(m.entries.map(_.sketch) == Vector(None, Some("_sketches/batch-init-1a2b3c4d"), None, None))

    val snapText = fixture("snap-3.json")
    val snap = MetaJson.snapshotFromJson(MetaJson.read(snapText))
    assert(MetaJson.write(MetaJson.snapshotToJson(snap)) == snapText)
    assert(snap.manifests.map(_.keys) == Vector(KeyRange.all, a.hull(b), d))
    assert(snap.manifests.head == ManifestRef.of(m.path, m.entries),
      "a manifest's range is the hull of its entries'")

    val legacy = MetaJson.snapshotFromJson(MetaJson.read(fixture("snap-legacy.json")))
    assert(legacy.manifests.map(_.bytes) == Vector(3442L, 2221L, 0L))
    assert(legacy.manifests.map(_.keys) == snap.manifests.map(_.keys))
    assert(MetaJson.write(MetaJson.snapshotToJson(legacy)) == fixture("snap-legacy-rewritten.json"))
  }

  test("metadata format: fixture ranges prune as before") {
    val m = MetaJson.manifestFromJson("m", MetaJson.read(fixture("manifest.json")))
    val snap = MetaJson.snapshotFromJson(MetaJson.read(fixture("snap-3.json")))
    val refs = snap.manifests.map(_.path.stripSuffix(".json").takeRight(10))
    def select(box: KeyRange) = (
      snap.manifests.zip(refs).collect { case (r, n) if box.overlaps(r.keys) => n },
      m.entries.filter(f => box.overlaps(f.keys)).map(_.path.stripPrefix("data/").take(1)))
    val (m1, m2, m3) = (refs(0), refs(1), refs(2))
    assert(select(KeyRange.onConv(Bounds(Some("c003"), Some("c003")))) ==
      (Vector(m1, m2, m3), Vector("a", "c", "d")))
    assert(select(KeyRange.onConv(Bounds(Some("\uFF61a"), Some("\uFF61a")))) ==
      (Vector(m1, m2), Vector("b", "c")))
    assert(select(KeyRange.onTurn(Bounds(Some(10), None))) == (Vector(m1, m2), Vector("b", "c")))
    assert(select(KeyRange.onTs(Bounds(None, Some(1704067250000000L)))) ==
      (Vector(m1, m2, m3), Vector("a", "c", "d")))
    assert(select(KeyRange.onTs(Bounds(Some(1704068000000000L), None))) ==
      (Vector(m1, m3), Vector("c", "d")))
  }
}
