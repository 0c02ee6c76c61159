package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import graft.streaming.SparkSpec

/** [[GraftRawLocalFileSystem]] answers like Hadoop's `RawLocalFileSystem`
  * without starting a process per call. */
class GraftLocalFileSystemSpec extends SparkSpec {

  private def initialized[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private val hadoop = initialized(new RawLocalFileSystem)
  private val graft = initialized(new GraftRawLocalFileSystem)

  private def tempDir(): JPath = Files.createTempDirectory("graft-localfs")

  /** The full mode, special bits included. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def chmod(p: JPath, bits: String): Unit =
    assert(new ProcessBuilder("chmod", bits, p.toString).start().waitFor() === 0)

  /** Sets `perm` through `fs` on a fresh file (or directory), first
    * chmod-ed to `initial` when given; returns the path. */
  private def setOnFresh(fs: RawLocalFileSystem, dir: Boolean, perm: FsPermission,
                         initial: Option[String] = None): JPath = {
    val root = tempDir()
    val p = if (dir) Files.createDirectory(root.resolve("d")) else Files.createFile(root.resolve("f"))
    initial.foreach(chmod(p, _))
    fs.setPermission(new Path(p.toUri), perm)
    p
  }

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  for (dir <- Seq(false, true); perm <- Seq("600", "644", "700", "755")) {
    val kind = if (dir) "directory" else "file"
    test(s"setPermission $perm on a $kind sets the mode RawLocalFileSystem sets") {
      def readBack(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      val want = octal(perm)
      assert(readBack(setOnFresh(hadoop, dir, want)) === want.toString)
      assert(readBack(setOnFresh(graft, dir, want)) === want.toString)
    }
  }

  test("setPermission with the sticky bit and on a setgid directory matches RawLocalFileSystem") {
    val sticky = octal("1777")
    assert(mode(setOnFresh(hadoop, dir = true, sticky)) === Integer.parseInt("1777", 8))
    assert(mode(setOnFresh(graft, dir = true, sticky)) === Integer.parseInt("1777", 8))
    // a numeric chmod keeps a directory's setgid bit; java.nio would drop it
    val withSetgid = mode(setOnFresh(hadoop, dir = true, octal("700"), Some("2755")))
    assert(mode(setOnFresh(graft, dir = true, octal("700"), Some("2755"))) === withSetgid)
  }

  /** What a caller can observe of a link status, or the exception class. */
  private def linkStatus(fs: RawLocalFileSystem, p: Path): Either[Class[_], Seq[Any]] =
    Try(fs.getFileLinkStatus(p)).toEither.left.map(_.getClass).map { s: FileStatus =>
      Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
        s.getPermission, s.getOwner, s.getGroup, if (s.isSymlink) s.getSymlink else None)
    }

  test("getFileLinkStatus matches RawLocalFileSystem on files, directories, missing paths and symlinks") {
    val root = tempDir()
    val file = Files.write(root.resolve("file"), "abc".getBytes)
    val dir = Files.createDirectory(root.resolve("dir"))
    val missing = root.resolve("missing")
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    for (p <- Seq(file, dir, missing, link, dangling);
         path <- Seq(new Path(p.toUri), new Path(p.toString))) { // qualified and bare
      assert(linkStatus(graft, path) === linkStatus(hadoop, path), s"at $path")
    }
    assert(linkStatus(graft, new Path(missing.toUri)) === Left(classOf[FileNotFoundException]))
    assert(linkStatus(graft, new Path(file.toUri)).exists(_(1) == true))
  }

  /** Names and modes of everything under `dir`, `.crc` files included. */
  private def tree(dir: JPath): Map[String, Int] =
    Files.walk(dir).iterator.asScala.map(p => dir.relativize(p).toString -> mode(p)).toMap

  test("checkpoint writes leave the same files, checksums and modes as Hadoop's local file system") {
    def writeAll(conf: Configuration): Map[String, Int] = {
      val root = tempDir()
      val manager = CheckpointFileManager.create(new Path(root.toUri), conf)
      manager.mkdirs(new Path(root.resolve("log").toUri))
      for (name <- Seq("log/0", "log/1", "log/0")) {
        val out = manager.createAtomic(new Path(root.resolve(name).toUri), true)
        out.write(name.getBytes)
        out.close()
      }
      tree(root)
    }
    val viaGraft = writeAll(spark.sessionState.newHadoopConf())
    assert(viaGraft.keySet.exists(_.endsWith(".crc")))
    assert(viaGraft === writeAll(new Configuration()))
  }

  /** Forks since boot, the `processes` line of `/proc/stat`. */
  private def forks(stat: JPath): Long =
    Files.readAllLines(stat).asScala.collectFirst {
      case l if l.startsWith("processes ") => l.split(" +")(1).toLong
    }.get

  /** The guard against a child process per checkpoint write. With
    * Hadoop's own local file system and no native `libhadoop`, 100
    * writes start about 1,000 processes (`chmod` per create, `readlink`
    * twice per rename); through the graft classes they start none. The
    * count is machine-wide, so other work adds a little to it.
    *
    * The checkpoint manager writes through `FileContext`, whose
    * AbstractFileSystem is created per use from the conf, so this half
    * always applies. `FileSystem` instances are cached per scheme per
    * JVM: the `fs.file.impl` half applies only if no `file:`
    * FileSystem was created before the session. */
  test("100 checkpoint writes through the session's Hadoop conf start no process each") {
    val stat = Paths.get("/proc/stat")
    assume(Files.exists(stat), "no /proc/stat to count processes from")
    val dir = new Path(tempDir().toUri)
    val manager = CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())
    def write(name: String): Unit = {
      val out = manager.createAtomic(new Path(dir, name), false)
      out.write(name.getBytes)
      out.close()
    }
    write("warm-up")
    val before = forks(stat)
    (0 until 100).foreach(i => write(i.toString))
    val spawned = forks(stat) - before
    assert(spawned < 50, s"$spawned processes started for 100 checkpoint writes")
    assert(manager.list(dir).count(s => !s.getPath.getName.startsWith(".")) === 101)
  }
}
