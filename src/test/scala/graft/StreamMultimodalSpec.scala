package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.Multimodal
import graft.lake.LakeTable
import graft.streaming.StreamIngest
import graft.synth.TranscriptSynth

class StreamIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming drops are sanitized and merged into the table") {
    val base = Paths.get("target", "test-stream", "s" + System.nanoTime())
    val dropDir = base.resolve("drops"); Files.createDirectories(dropDir)
    val t = LakeTable.create(spark, base.resolve("table").toString,
      TranscriptSynth.schema)
    t.append(TranscriptSynth.turns(spark, 10, seed = 42L), "init")
    val before = t.scan().df.count()

    // drop 1: new conversation + injection payload; drop 2: update turn 0,
    // its columns in another order (aligned by name, as a batch drop is)
    Files.writeString(dropDir.resolve("d1.csv"),
      "conv_id,turn_idx,role,text,tool\nzz001,0,user,=SUM(A1),\nzz001,1,assistant,ok,\n")
    Files.writeString(dropDir.resolve("d2.csv"),
      "text,turn_idx,conv_id,role,tool\nupdated,0,zz001,user,\n")

    val q = StreamIngest.start(t, dropDir.toString,
      checkpointDir = Some(base.resolve("ckpt").toString))
    try q.processAllAvailable() finally q.stop()

    val rows = t.scan(convRange = Some(("zz001", "zz001"))).df
      .orderBy("turn_idx").collect()
    assert(rows.length == 2)
    // drops merge in (modification time, path) order, one MERGE each, so
    // d2's value replaces d1's sanitized formula
    val texts = rows.map(_.getString(3)).toSet
    assert(texts.contains("ok"))
    assert(rows(0).getString(3) == "updated")
    assert(t.scan().df.count() == before + 2)
    // at least one stream merge committed
    assert(t.allSnapshots.exists(_.summary.get("merge_tag").exists(_.startsWith("stream-"))))
  }

  test("a streamed drop takes the batch drop path: multiline, dialect, new column, vertical") {
    val base = Paths.get("target", "test-stream", "s" + System.nanoTime())
    val dropDir = base.resolve("drops"); Files.createDirectories(dropDir)
    val t = LakeTable.create(spark, base.resolve("table").toString,
      TranscriptSynth.schema)
    t.append(TranscriptSynth.turns(spark, 10, seed = 42L), "init")
    val before = t.scan().df.count()

    // written in this order, each a second later than the one before
    val drops = Seq(
      "a1.csv" -> ("conv_id,turn_idx,role,text,tool\n" +
        "zs001,0,user,\"line one\nline two\",\nzs001,1,assistant,first answer,\n"),
      "a2.csv" -> ("conv_id;turn_idx;role;text;tool\n" +
        "zs002;0;user;semi text;\nzs002;1;assistant;semi answer;\n"),
      "a3.csv" -> "conv_id,turn_idx,role,text,tool,note\nzs003,0,user,noted,,hello note\n",
      "a4.csv" -> ("conv_id,zs004\nturn_idx,0\nrole,user\ntext,vertical text\n" +
        "conv_id,zs004\nturn_idx,1\nrole,assistant\ntext,vertical answer\n"),
      "notes.txt" -> "not a drop\n",
      "a5.csv" -> "conv_id,turn_idx,role,text,tool\nzs001,1,assistant,corrected answer,\n")
    val t0 = System.currentTimeMillis() - 60000L
    drops.zipWithIndex.foreach { case ((name, body), i) =>
      val f = dropDir.resolve(name)
      Files.writeString(f, body)
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
    }

    val q = StreamIngest.start(t, dropDir.toString,
      checkpointDir = Some(base.resolve("ckpt").toString))
    try {
      q.processAllAvailable()
      // the stray file was skipped, not fatal
      assert(q.isActive && q.exception.isEmpty)
    } finally q.stop()

    val got = t.scan(convRange = Some(("zs001", "zs004"))).df
      .select("conv_id", "turn_idx", "role", "text", "note").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    assert(got.keySet == Set(("zs001", 0), ("zs001", 1), ("zs002", 0), ("zs002", 1),
      ("zs003", 0), ("zs004", 0), ("zs004", 1)))
    assert(got(("zs001", 0)).getString(3) == "line one\nline two")
    assert(got(("zs001", 1)).getString(3) == "corrected answer")
    assert(got(("zs002", 0)).getString(3) == "semi text")
    assert(got(("zs002", 1)).getString(2) == "assistant")
    assert(got(("zs003", 0)).getString(4) == "hello note")
    assert(got(("zs004", 0)).getString(3) == "vertical text")
    assert(got(("zs004", 1)).getString(2) == "assistant")
    assert(t.schema.toStruct.fieldNames.contains("note"))
    assert(t.scan().df.count() == before + 7)
  }
}

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("fake media table: schema, deterministic metadata, chunking") {
    import spark.implicits._
    val docs = Seq((1L, "a" * 100), (2L, "b" * 64), (3L, "")).toDF("doc_id", "text")
    val media = Multimodal.fakeMediaFromText(docs, "doc_id", "text")
    assert(media.schema.fieldNames.toSeq ==
      Multimodal.mediaSchema.fieldNames.toSeq)
    val m = media.orderBy("media_id").collect()
    assert(m(0).getLong(3) == 100L) // n_bytes = utf-8 length
    assert(m.forall(r => r.getInt(4) >= 16 && r.getInt(5) >= 16))

    val chunks = media.select(col("media_id"),
      Multimodal.binaryChunks(col("content"), 64).as("ch")).orderBy("media_id").collect()
    val c0 = chunks(0).getSeq[Array[Byte]](1)
    assert(c0.length == 2 && c0.head.length == 64 && c0(1).length == 36)
    assert(chunks(1).getSeq[Array[Byte]](1).length == 1)
    assert(chunks(2).getSeq[Array[Byte]](1).isEmpty)

    // decode stub: deterministic pseudo-features with the declared dim
    val feats = media.select(Multimodal.decodeStub(col("content"), 8)).collect()
    assert(feats.forall(_.getSeq[Double](0).length == 8))
    val again = media.select(Multimodal.decodeStub(col("content"), 8)).collect()
    assert(feats.map(_.getSeq[Double](0)).toSeq == again.map(_.getSeq[Double](0)).toSeq)
  }

  test("decode seam CONTRACT: binary -> fixed-width bounded vector, null-safe, deterministic") {
    // Pins the seam a real decoder must honor to drop in WITHOUT touching
    // callers (the ANN/index pipelines consume exactly this shape):
    //   1. output type is array<double> of EXACTLY the requested dim;
    //   2. every element is finite and bounded in [-1, 1];
    //   3. identical payloads give identical vectors (deterministic) and
    //      distinct payloads are allowed to differ;
    //   4. null and empty payloads are SAFE: a well-formed vector, no crash.
    import spark.implicits._
    val rnd = new scala.util.Random(42) // fixed seed: the property corpus is stable
    val payloads: Seq[Array[Byte]] = (0 until 30).map { i =>
      val b = new Array[Byte](i * 7 % 50); rnd.nextBytes(b); b
    } :+ Array.empty[Byte]
    val df = payloads.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("id", "content")
      .union(Seq((9999L, null.asInstanceOf[Array[Byte]])).toDF("id", "content"))
    for (dim <- Seq(4, 8, 16)) {
      val out = df.select(col("id"), Multimodal.decodeStub(col("content"), dim).as("v"))
      assert(out.schema("v").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
        out.schema("v").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
          .elementType == org.apache.spark.sql.types.DoubleType)
      val rows = out.orderBy("id").collect()
      rows.foreach { r =>
        val v = r.getSeq[Double](1)
        assert(v != null && v.length == dim, s"dim contract broken for id ${r.getLong(0)}")
        assert(v.forall(x => !x.isNaN && !x.isInfinite && x >= -1.0 && x <= 1.0),
          s"bound contract broken: $v")
      }
      // determinism across independent evaluations
      val rows2 = df.select(col("id"), Multimodal.decodeStub(col("content"), dim).as("v"))
        .orderBy("id").collect()
      assert(rows.map(_.getSeq[Double](1)).toSeq == rows2.map(_.getSeq[Double](1)).toSeq)
    }
    // identical payloads map to identical vectors
    val twin = Seq((1L, "same bytes"), (2L, "same bytes")).toDF("id", "s")
      .select(col("id"), Multimodal.decodeStub(encode(col("s"), "UTF-8"), 8).as("v"))
      .collect().map(_.getSeq[Double](1))
    assert(twin(0) == twin(1))
  }
}

class CsvSinkSpec extends AnyFunSuite {
  test("sanitized CSV writer: header + empty-fill roundtrip") {
    val spark = TestSpark.spark
    import spark.implicits._
    val out = s"target/test-csvsink/${System.nanoTime()}"
    val df = Seq(("1", "'=x", null: String), ("2", "ok", "t")).toDF("id", "text", "tool")
    graft.ingest.Ingest.writeSanitizedCsv(df, out)
    val back = spark.read.option("header", "true").csv(out)
      .orderBy("id").collect()
    assert(back(0).getString(1) == "'=x" && back(0).getString(2) == null) // "" reads back null
    assert(back(1).getString(2) == "t")
  }
}
