package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.lake.{Crypto, FileIO, LakeTable}
import graft.maintain.{Clustering, Dedupe, DeleteFrom, Maintenance, MergeInto}
import graft.synth.TranscriptSynth

/** Encryption at rest (Parquet Modular Encryption): an encrypted table must
  * behave IDENTICALLY to a plaintext one through every engine surface —
  * scans, pruning, merge, the full maintenance cycle, dedup over encrypted
  * sketches — while its bytes on disk are actually ciphertext and access
  * without the key fails loudly. The reference's Fernet-at-rest contract
  * (security.py:29-36) held Spark-natively.
  */
class CryptoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpTable(name: String): String = {
    val p = Paths.get("target", "test-lake", name + "-" + System.nanoTime())
    LakeTable.deleteRecursively(p)
    p.toString
  }

  private def withKey[A](key: String)(f: => A): A = {
    val prev = spark.conf.get(Crypto.SessionKeyConf, "")
    spark.conf.set(Crypto.SessionKeyConf, key)
    try f finally {
      if (prev.isEmpty) spark.conf.unset(Crypto.SessionKeyConf)
      else spark.conf.set(Crypto.SessionKeyConf, prev)
    }
  }

  private def synth(n: Int) = TranscriptSynth.turns(spark, n, seed = 42L)

  test("encrypted table: full maintenance lifecycle, result-identical to plaintext") {
    val key = Crypto.newMasterKeyB64()
    val root = tmpTable("enc-lifecycle")
    val rowsOf = (t: LakeTable) => t.scan().df
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .orderBy("conv_id", "turn_idx").collect().toSeq

    // plaintext twin for the equality check
    val plain = LakeTable.create(spark, tmpTable("enc-twin"), TranscriptSynth.schema)
    plain.append(synth(80).repartition(8), "init")

    val expected = withKey(key) {
      val t = LakeTable.create(spark, root, TranscriptSynth.schema, encrypted = true)
      assert(t.encrypted)
      t.append(synth(80).repartition(8), "init")

      // raw bytes on disk must be CIPHERTEXT: no vocabulary word and no
      // conv id literal may appear in any data file
      val probe = "context" // a synth vocab word certain to occur in text
      t.currentFiles.foreach { f =>
        val bytes = Files.readAllBytes(Paths.get(t.absData(f.path)))
        val hay = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
        assert(!hay.contains(probe), s"plaintext text leaked into ${f.path}")
        assert(!hay.contains("c00000001"), s"plaintext conv id leaked into ${f.path}")
        assert(hay.startsWith("PARE"), s"${f.path} must carry the encrypted-parquet magic")
      }
      // footer stats STILL drive pruning (readable with the key)
      assert(t.currentFiles.forall(f => f.keys.conv.lo.isDefined && f.keys.ts.lo.isDefined))

      // merge + full maintenance cycle over ciphertext
      import spark.implicits._
      val staged = Seq(("c00000002", "0", "user", "CORRECTED-ENC", "", 0L))
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "_seq")
      MergeInto.merge(t, staged, "enc-drop")
      MergeInto.merge(plain, staged, "plain-drop")
      val r = Maintenance.runCycle(t, "enc-cycle", targetFileRows = 100,
        groupTargetBytes = 64L << 10, retainLast = 2, dedupeMode = Some("minhash"))
      Maintenance.runCycle(plain, "plain-cycle", targetFileRows = 100,
        groupTargetBytes = 64L << 10, retainLast = 2, dedupeMode = Some("minhash"))
      assert(r.cluster.rowsRewritten > 0)
      // clustered ciphertext still meets the prune bar
      val scan = t.scan(convRange = Some(("c00000010", "c00000019")))
      assert(scan.prune.ratio >= 0.5, s"prune over encrypted files: ${scan.prune.ratio}")
      // sketch batches are encrypted too
      val store = Paths.get(t.root, "sketches")
      val batches = FileIO.Local.list(store.toString).map(store.resolve)
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("batch-"))
      assert(batches.nonEmpty, "minhash cycle must have built sketch batches")
      val parts = batches.flatMap(b => FileIO.Local.list(b.toString).map(b.resolve))
        .filter(_.getFileName.toString.endsWith(".parquet"))
      parts.foreach { p =>
        val hay = new String(Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        assert(hay.startsWith("PARE"), s"sketch batch $p must be encrypted")
      }
      // row-level DELETE over ciphertext
      val del = DeleteFrom.run(t, "enc-del", "conv_id = 'c00000007'")
      DeleteFrom.run(plain, "plain-del", "conv_id = 'c00000007'")
      assert(del.deletedRows > 0)
      rowsOf(t)
    }
    assert(expected == rowsOf(plain),
      "encrypted table must be result-identical to its plaintext twin")

    // access WITHOUT the key fails loudly (scan + footer stats)
    val blind = LakeTable.load(spark, root)
    assert(blind.encrypted)
    intercept[Exception] { blind.scan().df.count() }
    // and with a WRONG key too — the access token is bound to the key
    // material, so parquet's in-process KEK/KMS caches are partitioned per
    // key and the earlier authorized reads cannot leak decryption to a
    // different-key caller
    withKey(Crypto.newMasterKeyB64()) {
      intercept[Exception] { LakeTable.load(spark, root).scan().df.count() }
    }
    // with the right key again: still readable
    withKey(key) {
      assert(LakeTable.load(spark, root).scan().df.count() > 0)
    }
  }

  test("SQL DML over an ENCRYPTED registered view composes (parser -> delete -> ciphertext)") {
    val key = Crypto.newMasterKeyB64()
    withKey(key) {
      val t = LakeTable.create(spark, tmpTable("enc-sqldml"), TranscriptSynth.schema,
        encrypted = true)
      t.append(synth(30).repartitionByRange(3, col("conv_id"), col("turn_idx")), "init")
      graft.plans.GraftPlans.registerTable(spark, t, "enc_t")
      val before = spark.sql("SELECT count(*) FROM enc_t").head().getLong(0)
      val gone = spark.sql(
        "SELECT count(*) FROM enc_t WHERE conv_id = 'c00000003'").head().getLong(0)
      assert(gone > 0)
      val res = spark.sql("DELETE FROM enc_t WHERE conv_id = 'c00000003'")
      assert(res.head().getLong(0) == gone)
      assert(spark.sql("SELECT count(*) FROM enc_t").head().getLong(0) == before - gone)
      // survivors re-encrypted: every data file still carries the PARE magic
      t.currentFiles.foreach { f =>
        val head = new String(Files.readAllBytes(Paths.get(t.absData(f.path))).take(4),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        assert(head == "PARE", s"${f.path} must stay encrypted after SQL DELETE")
      }
      // key material must never surface in user-visible plan output
      val plan = org.apache.spark.sql.graftx.Bridge.explainFormatted(t.scan().df)
      assert(!plan.contains(key), "EXPLAIN must not leak the master key")
      assert(!plan.contains(key.take(16)), "EXPLAIN must not leak key fragments")
    }
  }

  test("plaintext tables are untouched by the encryption machinery") {
    val t = LakeTable.create(spark, tmpTable("plain-check"), TranscriptSynth.schema)
    t.append(synth(10), "init")
    assert(!t.encrypted)
    // plain parquet magic, ordinary read path
    val f = t.currentFiles.head
    val bytes = Files.readAllBytes(Paths.get(t.absData(f.path)))
    assert(new String(bytes.take(4),
      java.nio.charset.StandardCharsets.ISO_8859_1) == "PAR1")
    assert(t.scan().df.count() == synth(10).count())
    // creating an encrypted table without a key fails at CREATE
    intercept[IllegalArgumentException] {
      LakeTable.create(spark, tmpTable("enc-nokey"), TranscriptSynth.schema,
        encrypted = true)
    }
  }

  test("wrap/unwrap: AES-GCM envelope round-trips and rejects a wrong key") {
    val master = new Array[Byte](32)
    new java.security.SecureRandom().nextBytes(master)
    val dek = new Array[Byte](16)
    new java.security.SecureRandom().nextBytes(dek)
    val w1 = Crypto.wrap(master, dek)
    val w2 = Crypto.wrap(master, dek)
    assert(w1 != w2, "random IV: two wraps of one key must differ")
    assert(Crypto.unwrap(master, w1).toSeq == dek.toSeq)
    assert(Crypto.unwrap(master, w2).toSeq == dek.toSeq)
    val other = new Array[Byte](32)
    intercept[Exception] { Crypto.unwrap(other, w1) }
  }
}
