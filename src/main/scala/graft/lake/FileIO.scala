package graft.lake

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file._
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

/** The one storage seam under the lake (Iceberg's FileIO): every metadata,
  * ledger, sketch-store and staging file operation of the engine goes
  * through these seven calls, so a test can fail any step of the protocol.
  * The commit needs two atomic primitives of the store: [[createNew]]
  * (create-if-absent) for `snap-<id>.json`, so exactly one of two racing
  * writers wins an id, and [[replace]] for `metadata/version-hint.txt`, so
  * a reader sees the old pointer or the new one, never a torn one. Paths
  * are plain strings; writes create their parent directories. [[Local]]
  * (POSIX, `java.nio`) is the only implementation.
  */
trait FileIO {
  /** The whole file as UTF-8 (malformed bytes replaced), None when absent. */
  def read(path: String): Option[String]
  /** Create `path` holding `body` unless it exists: false (and untouched) if it does. */
  def createNew(path: String, body: String): Boolean
  /** Atomic replace: writes a temp unique to this call (`<name>.tmp-<uuid>`,
    * see [[FileIO.isTemp]]), then moves it over `path`.
    */
  def replace(path: String, body: String): Unit
  /** Move a file or directory; refuses to overwrite `to`, fails when `from` is gone. */
  def rename(from: String, to: String): Unit
  /** Child names, sorted, no per-child stat; empty for an absent or non-directory `dir`. */
  def list(dir: String): Vector[String]
  def stat(path: String): Option[FileIO.Stat]
  /** Delete a file or a whole tree; false when nothing was there. */
  def delete(path: String): Boolean
}

object FileIO {

  final case class Stat(size: Long, mtimeMs: Long, isDir: Boolean)

  /** `first/more...`, normalized like a filesystem path. */
  def path(first: String, more: String*): String = Paths.get(first, more: _*).toString

  /** A [[FileIO.replace]] temp (or an older writer's `version-hint.tmp-<id>`):
    * crash residue once its writer is gone.
    */
  def isTemp(name: String): Boolean = name.contains(".tmp-")

  /** The error a required read of an absent file raises. */
  def missing(path: String): Nothing = throw new NoSuchFileException(path)

  class Local extends FileIO {

    def read(path: String): Option[String] =
      try Some(new String(Files.readAllBytes(Paths.get(path)), UTF_8))
      catch { case _: NoSuchFileException => None }

    def createNew(path: String, body: String): Boolean =
      try { write(Paths.get(path), body); true }
      catch { case _: FileAlreadyExistsException => false }

    def replace(path: String, body: String): Unit = {
      val tmp = s"$path.tmp-${java.util.UUID.randomUUID().toString.take(8)}"
      write(Paths.get(tmp), body)
      swap(tmp, path)
    }

    /** The atomic step of [[replace]]: move the written temp over `path`. */
    protected def swap(tmp: String, path: String): Unit =
      Files.move(Paths.get(tmp), Paths.get(path),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)

    def rename(from: String, to: String): Unit =
      Files.move(Paths.get(from), mkParent(Paths.get(to))) // no REPLACE_EXISTING

    def list(dir: String): Vector[String] =
      try {
        val s = Files.newDirectoryStream(Paths.get(dir))
        try s.asScala.map(_.getFileName.toString).toVector.sorted finally s.close()
      } catch { case _: NoSuchFileException | _: NotDirectoryException => Vector.empty }

    def stat(path: String): Option[Stat] =
      try {
        val a = Files.readAttributes(Paths.get(path), classOf[BasicFileAttributes])
        Some(Stat(a.size, a.lastModifiedTime.toMillis, a.isDirectory))
      } catch { case _: NoSuchFileException => None }

    def delete(path: String): Boolean = {
      val p = Paths.get(path)
      val tree =
        try { val s = Files.walk(p); try s.iterator().asScala.toVector finally s.close() }
        catch { case _: NoSuchFileException => Vector.empty[Path] }
      tree.drop(1).reverseIterator.foreach(Files.deleteIfExists(_))
      Files.deleteIfExists(p)
    }

    private def mkParent(p: Path): Path = {
      Option(p.toAbsolutePath.getParent).foreach(Files.createDirectories(_))
      p
    }

    private def write(p: Path, body: String): Unit =
      Files.write(mkParent(p), body.getBytes(UTF_8), StandardOpenOption.CREATE_NEW)
  }

  object Local extends Local
}
