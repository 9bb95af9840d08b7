package graft.extensions

import java.io.{FileNotFoundException, OutputStream}
import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without three per-file costs of the stock
  * [[RawLocalFileSystem]]: two shell-outs, done in-process through
  * `java.nio.file`, and a flush on every overwriting create.
  *
  * Without `libhadoop` (the "Unable to load native-hadoop library" warning
  * at startup) the stock class forks `chmod` for every
  * `setPermission`, which every file create and mkdir calls (`.crc` files
  * and `_temporary` dirs included), and `readlink` for every
  * `getFileLinkStatus`, which every `FileContext` rename calls on both
  * paths — the streaming checkpoint's offset log and commit log rename a
  * file per micro-batch. Each fork adds milliseconds to the work that
  * called it.
  *
  * The two NIO overrides keep the stock result and fall back to it where NIO
  * cannot give it: a sticky bit (POSIX permission sets carry no sticky
  * bit), a file store without a POSIX attribute view, and a symlink
  * (whose status the stock code builds from the link target).
  *
  * The third is the stock overwriting create, which reopens an existing
  * file with truncation. On ext4 (`auto_da_alloc`, the default) a file
  * that is truncated and rewritten is flushed to disk when closed, and from
  * its third rewrite on a truncating open costs 35–65 ms on a virtio disk,
  * where deleting and creating it costs 0.2 ms. Every append into an
  * existing output directory rewrites the committer's `_SUCCESS` marker and
  * its `.crc` that way, so each refresh micro-batch paid it per sink.
  * [[createOutputStreamWithMode]] deletes such a file first, and the create
  * makes a new one. The visible difference is that the new file is a new
  * inode: a reader that holds the old file open, or another hard link to
  * it, keeps the old bytes, as after an overwriting create on HDFS.
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

  /** Every create reaches this hook: both `create`s, both
    * `createNonRecursive`s, `append`, the checksummed filesystems' `.crc`
    * writes and `FileContext` creates through [[NioLocalFs]]. A create that
    * does not append deletes a regular file at `f` first; a symlink (written
    * through), a directory (the stock error) and an append take the stock
    * path. */
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
                                                    permission: FsPermission): OutputStream = {
    val file = pathToFile(f).toPath
    if (!append && Files.isRegularFile(file, LinkOption.NOFOLLOW_LINKS)) Files.deleteIfExists(file)
    super.createOutputStreamWithMode(f, append, permission)
  }
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
