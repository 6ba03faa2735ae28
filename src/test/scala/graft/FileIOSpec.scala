package graft

import java.nio.file.{FileAlreadyExistsException, Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{FileIO, LakeTable}
import graft.maintain.{MergeInto, OrphanGc}
import graft.synth.TranscriptSynth

/** A [[FileIO]] that models a crash at the `crashAt`-th mutating call
  * (counted from 0): that call and every later one throws before touching
  * storage. Reads keep working — they change nothing on disk. With
  * `Int.MaxValue` it only counts the calls of a fault-free run.
  */
final class CrashingIO(crashAt: Int) extends FileIO.Local {
  private val n = new AtomicInteger(0)
  def calls: Int = n.get

  private def step[T](what: String)(act: => T): T =
    if (n.getAndIncrement() >= crashAt)
      throw new java.io.IOException(s"injected crash at mutating call $crashAt: $what")
    else act

  override def createNew(path: String, body: String): Boolean =
    step(s"createNew $path")(super.createNew(path, body))
  override def replace(path: String, body: String): Unit =
    step(s"replace $path")(super.replace(path, body))
  override def rename(from: String, to: String): Unit =
    step(s"rename $from")(super.rename(from, to))
  override def delete(path: String): Boolean =
    step(s"delete $path")(super.delete(path))
}

/** The storage seam: the local implementation's contract, the races it
  * closes, the GC sweeps it feeds, and a guard that keeps the engine on it.
  */
class FileIOSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(name: String): String = {
    val p = Paths.get("target", "test-fileio", name + "-" + System.nanoTime())
    LakeTable.deleteRecursively(p)
    p.toString
  }

  private def future: Long = System.currentTimeMillis() + 60000

  test("FileIO.Local: absent reads, create-if-absent, atomic replace, no-overwrite rename") {
    val io = FileIO.Local
    val dir = tmpDir("contract")
    val f = FileIO.path(dir, "a", "b.txt")
    assert(io.read(f).isEmpty && io.stat(f).isEmpty)
    assert(io.list(FileIO.path(dir, "a")).isEmpty, "an absent directory lists empty")
    assert(io.createNew(f, "one"), "writes create their parent directories")
    assert(!io.createNew(f, "two") && io.read(f).contains("one"))
    io.replace(f, "three")
    assert(io.read(f).contains("three"))
    assert(io.list(FileIO.path(dir, "a")) == Vector("b.txt"), "replace leaves no temp behind")
    assert(io.list(f).isEmpty, "a file lists empty")
    val g = FileIO.path(dir, "c", "d.txt")
    assert(io.createNew(g, "x"))
    intercept[FileAlreadyExistsException](io.rename(g, f))
    assert(io.read(f).contains("three") && io.read(g).contains("x"))
    io.rename(g, FileIO.path(dir, "e", "d.txt"))
    assert(io.stat(FileIO.path(dir, "e")).exists(_.isDir))
    assert(io.stat(f).exists(s => !s.isDir && s.size == 5))
    // reads decode leniently: a malformed byte is replaced, never an error
    Files.write(Paths.get(dir, "bad.txt"), Array[Byte]('o', 'k', 0xff.toByte))
    assert(io.read(FileIO.path(dir, "bad.txt")).contains("ok\uFFFD"))
    assert(io.delete(dir), "delete removes a whole tree")
    assert(!io.delete(dir) && io.stat(dir).isEmpty)
  }

  test("engine packages reach storage only through FileIO") {
    val banned = """java\.nio\.file|(?<!\w)Files\.|(?<!\w)Paths\.""".r
    val forwarder = "def deleteRecursively(p: java.nio.file.Path)"
    val offenders = for {
      pkg <- Seq("lake", "maintain", "ingest", "plans", "functions", "streaming", "synth")
      file <- {
        val s = Files.walk(Paths.get("src", "main", "scala", "graft", pkg))
        try s.iterator().asScala.toVector finally s.close()
      }
      name = file.getFileName.toString
      if name.endsWith(".scala") && name != "FileIO.scala"
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if banned.findFirstIn(line).isDefined &&
        !(name == "LakeTable.scala" && line.trim.startsWith(forwarder))
    } yield s"$file:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("direct file I/O outside FileIO:\n", "\n", ""))
  }

  /** Every `file:line: text` under `src/main/scala` matching `pattern`,
    * in the given `graft` packages (all files when `packages` is empty).
    */
  private def sourceLines(pattern: scala.util.matching.Regex,
                          packages: Seq[String] = Nil): Seq[String] = for {
    dir <- if (packages.isEmpty) Seq(Paths.get("src", "main", "scala"))
           else packages.map(Paths.get("src", "main", "scala", "graft", _))
    file <- {
      val s = Files.walk(dir)
      try s.iterator().asScala.toVector finally s.close()
    }
    if file.toString.endsWith(".scala")
    (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
    if pattern.findFirstIn(line).isDefined
  } yield s"$file:${i + 1}: ${line.trim}"

  test("engine packages never write a session conf") {
    // a lake write sets its Parquet timestamp type on its own write job;
    // Crypto's Hadoop `Configuration.set` is per read, not a session write
    val offenders = sourceLines("""\.conf\.(set|setConf|unset)\(""".r,
      Seq("lake", "maintain", "ingest", "functions", "plans"))
    assert(offenders.isEmpty, offenders.mkString("session conf writes:\n", "\n", ""))
  }

  test("frames are cached only through Cached.withCached, Bridge.detach and materializeAndRelease") {
    val persists = sourceLines("""\.(persist|cache)\(""".r)
    assert(persists.map(l => Paths.get(l.takeWhile(_ != ':')).getFileName.toString).sorted ==
      Seq("Cached.scala", "Dedup.scala", "GraftExpressions.scala"),
      persists.mkString("cache sites:\n", "\n", ""))
  }

  test("only the lake package names a row's source file (input_file_name)") {
    val offenders = for {
      file <- {
        val s = Files.walk(Paths.get("src", "main", "scala"))
        try s.iterator().asScala.toVector finally s.close()
      }
      if file.toString.endsWith(".scala") &&
        !file.startsWith(Paths.get("src", "main", "scala", "graft", "lake"))
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if line.contains("input_file_name")
    } yield s"$file:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      offenders.mkString("input_file_name outside graft/lake (use LakeTable.sourceFile):\n", "\n", ""))
  }

  test("concurrent adopters of one orphan both end in a retryable conflict") {
    val t = LakeTable.create(spark, tmpDir("adopt-race"), TranscriptSynth.schema)
    t.append(TranscriptSynth.turns(spark, 5, seed = 42L), "first")
    val orphan = t.currentSnapshotId.get
    val meta = Paths.get(t.root, "metadata")
    // a commit that crashed between snap-json CREATE_NEW and the pointer swing
    Files.writeString(meta.resolve("version-hint.txt"), (orphan - 1).toString)

    // adopter 1 stalls between writing its pointer temp and moving it
    val atSwap = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val held = new FileIO.Local {
      override protected def swap(tmp: String, path: String): Unit = {
        if (path.endsWith("version-hint.txt")) {
          atSwap.countDown()
          release.await(60, TimeUnit.SECONDS)
        }
        super.swap(tmp, path)
      }
    }
    val first = Future(Try(new LakeTable(t.root, spark, held)
      .commitDelta(Vector.empty, Vector.empty, "racer-1")))(ExecutionContext.global)
    assert(atSwap.await(60, TimeUnit.SECONDS), "adopter 1 must reach its pointer move")
    val e2 = intercept[LakeTable.CommitConflictException] {
      LakeTable.load(spark, t.root).commitDelta(Vector.empty, Vector.empty, "racer-2")
    }
    assert(e2.getMessage.contains("adopted"))
    assert(t.currentSnapshotId.contains(orphan))
    release.countDown()
    val r1 = Await.result(first, 60.seconds)
    assert(r1.failed.toOption.exists(_.isInstanceOf[LakeTable.CommitConflictException]),
      s"the stalled adopter must also see a retryable conflict, got $r1")
    assert(t.currentSnapshotId.contains(orphan), "the pointer stays on the orphan")
    assert(!FileIO.Local.list(meta.toString).exists(FileIO.isTemp), "both temps were moved")

    // pointer temps of every generation are swept past grace
    val residue = Seq("version-hint.tmp-7", "version-hint.adopt-7", "version-hint.txt.tmp-0badf00d")
    residue.foreach(n => Files.writeString(meta.resolve(n), "7"))
    val gc = OrphanGc.removeOrphans(t, olderThanMs = 0, nowMs = future, adoptGuardMs = 0)
    assert(residue.forall(gc.deletedMeta.contains), s"swept ${gc.deletedMeta}")
    assert(t.currentSnapshotId.contains(orphan))
  }

  test("orphan GC: a data file removed by another process mid-sweep is skipped") {
    val t = LakeTable.create(spark, tmpDir("gc-vanish"), TranscriptSynth.schema)
    t.append(TranscriptSynth.turns(spark, 5, seed = 42L), "init")
    val orphans = t.writeDataFiles(TranscriptSynth.turns(spark, 6, seed = 7L).repartition(3),
      "crashed").map(_.path)
    assert(orphans.size > 1)
    val gone = t.absData(orphans.head)
    // another sweeper deletes the file between this sweep's listing and its stat
    val racing = new FileIO.Local {
      override def stat(path: String): Option[FileIO.Stat] = {
        if (path == gone) Files.deleteIfExists(Paths.get(path))
        super.stat(path)
      }
    }
    val res = OrphanGc.removeOrphans(new LakeTable(t.root, spark, racing),
      olderThanMs = 0, nowMs = future, adoptGuardMs = 0)
    assert(res.failures.isEmpty, s"unexpected failures: ${res.failures}")
    assert(res.deleted.toSet == orphans.tail.toSet, "the rest of the sweep goes on")
  }

  test("orphan GC sweeps a crashed data write's staging dir past the grace age") {
    val t = LakeTable.create(spark, tmpDir("gc-staging"), TranscriptSynth.schema)
    t.append(TranscriptSynth.turns(spark, 5, seed = 42L), "init")
    val drop = TranscriptSynth.turns(spark, 2, seed = 9L)
    // the write crashes before publishing its first staged part file
    intercept[java.io.IOException] {
      MergeInto.merge(new LakeTable(t.root, spark, new CrashingIO(0)), drop, "crashed")
    }
    def staging = FileIO.Local.list(t.root).filter(_.startsWith("_staging-"))
    val crashed = staging
    assert(crashed.size == 1)
    val young = OrphanGc.removeOrphans(t, olderThanMs = 60000)
    assert(staging == crashed && young.failures.isEmpty, "a young staging dir may be in flight")
    val old = OrphanGc.removeOrphans(t, olderThanMs = 0, nowMs = future)
    assert(old.deletedMeta == crashed && old.failures.isEmpty, s"swept ${old.deletedMeta}")
    assert(staging.isEmpty)
  }
}
