package graft.extensions

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its two per-file shell-outs done
  * in-process through `java.nio.file`.
  *
  * Without `libhadoop` (the "Unable to load native-hadoop library" warning
  * at startup) the stock [[RawLocalFileSystem]] forks `chmod` for every
  * `setPermission`, which every file create and mkdir calls (`.crc` files
  * and `_temporary` dirs included), and `readlink` for every
  * `getFileLinkStatus`, which every `FileContext` rename calls on both
  * paths — the streaming checkpoint's offset log and commit log rename a
  * file per micro-batch. Each fork adds milliseconds to the work that
  * called it.
  *
  * Both overrides keep the stock result and fall back to it where NIO
  * cannot give it: a sticky bit (POSIX permission sets carry no sticky
  * bit), a file store without a POSIX attribute view, and a symlink
  * (whose status the stock code builds from the link target).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      try Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(permission))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object NioRawLocalFileSystem {
  // the nine mode bits, from 0400 down to 0001
  private val byBit = Seq(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE, GROUP_READ, GROUP_WRITE,
    GROUP_EXECUTE, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE).zipWithIndex

  /** The POSIX permission set of `permission`'s low nine mode bits. */
  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] =
    byBit.collect { case (perm, i) if (permission.toShort >> (8 - i) & 1) == 1 => perm }.toSet.asJava
}

/** The `fs.file.impl` filesystem: Hadoop's checksummed [[LocalFileSystem]]
  * over [[NioRawLocalFileSystem]].
  *
  * Without the key, `file:` resolves to whichever `LocalFileSystem` the
  * classpath's `FileSystem` service files register last. With Spark's
  * jars (hive-exec among them) that can be Hive's `ProxyLocalFileSystem`,
  * whose one override is kept here: a rename onto an existing file returns
  * false, as Hadoop's `FileSystem` contract asks, instead of replacing it
  * as a POSIX rename would.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** The `fs.AbstractFileSystem.file.impl` filesystem, which a `FileContext`
  * (the streaming checkpoint's file manager) resolves: Hadoop's
  * `LocalFs` — checksums over a raw filesystem — with
  * [[NioRawLocalFileSystem]] as the raw one. Hadoop instantiates it
  * reflectively through this `(URI, Configuration)` constructor. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]]: the same four overrides. */
private class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object NioLocalFileSystem {
  /** Points `conf`'s `file:` scheme at the NIO filesystems, for both the
    * `FileSystem` and the `FileContext` API. */
  def install(conf: Configuration): Unit = {
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
  }
}
