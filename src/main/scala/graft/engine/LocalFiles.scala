package graft.engine

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem every session of this program writes through
  * ([[Sessions.tune]] installs it). Without Hadoop's native library,
  * `RawLocalFileSystem` forks a `chmod` process on every file create and
  * every mkdir, and a `readlink` process on every `FileContext` rename (the
  * streaming checkpoint commit). [[Raw]] does those two operations through
  * `java.nio` in the driver's own process, with the same result; everything
  * else, checksums and `.crc` files included, is Hadoop's unchanged, and
  * [[Local]] keeps the rename rule of the class it replaces.
  *
  * Four classes, because Hadoop reaches the local disk two ways, each with
  * a checksumming wrapper over a raw one: `FileSystem` (`fs.file.impl`:
  * [[Local]] over [[Raw]]) and `FileContext` (`fs.AbstractFileSystem.file.impl`:
  * [[LocalFs]] over [[RawFs]] over [[Raw]]). */
object LocalFiles {

  /** Points both `file:` keys of `conf` at this module's classes. Hadoop
    * caches one `FileSystem` per scheme for the whole JVM, so this takes
    * effect only if no `file:` FileSystem was cached before it. */
  def install(conf: Configuration): Unit = {
    conf.set("fs.file.impl", classOf[Local].getName)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
  }

  private val unix = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  // st_mode bits, written in hex because Scala has no octal literals
  private val S_IFMT = 0xF000    // 0170000
  private val S_IFDIR = 0x4000   // 0040000
  private val S_ISUGID = 0xC00   // 0006000: set-user-ID and set-group-ID

  /** `RawLocalFileSystem` without the forks. */
  class Raw extends RawLocalFileSystem {

    /** The stock code runs `chmod %04o <canonical path>`. GNU chmod given a
      * four-digit mode sets exactly those bits (sticky bit included), except
      * that it keeps a directory's set-user-ID and set-group-ID bits; so
      * does this, through one stat and one chmod call on the followed path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!unix) super.setPermission(p, permission)
      else {
        val file = pathToFile(p).toPath
        val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        val kept = if ((mode & S_IFMT) == S_IFDIR) mode & S_ISUGID else 0
        Files.setAttribute(file, "unix:mode", Integer.valueOf(kept | permission.toShort))
      }

    /** The stock result, link target qualified the same way. */
    override def getFileLinkStatus(f: Path): FileStatus = {
      val st = linkStatus(f)
      if (st.isSymlink)
        st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
    }

    override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

    /** Mirrors the stock `deprecatedGetFileLinkStatusInternal`, with
      * `FileUtil.readLink`'s `readlink` process replaced by `readSymbolicLink`.
      * The link is read at `new File(f.toString)` as there, so a
      * scheme-qualified path reads as no link, as it does in the stock code. */
    private def linkStatus(f: Path): FileStatus = {
      val link = new File(f.toString).toPath
      val target =
        if (!Files.isSymbolicLink(link)) ""
        else try Files.readSymbolicLink(link).toString.trim catch { case _: IOException => "" }
      if (target.isEmpty) getFileStatus(f)
      else try {
        val s = getFileStatus(f)
        new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize, s.getModificationTime,
          s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException => // a dangling link
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
      }
    }
  }

  /** `LocalFileSystem` (checksums) over [[Raw]]: `fs.file.impl`.
    *
    * Without the key, Hadoop takes the `file:` class from the jars' service
    * files, and in the Spark distribution Hive's `ProxyLocalFileSystem`
    * registers last: a `LocalFileSystem` whose `rename` returns false when
    * `dst` is an existing file. This keeps that rule, so renames behave as
    * before. */
  class Local extends LocalFileSystem(new Raw) {
    override def rename(src: Path, dst: Path): Boolean = {
      val dstIsFile = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
      !dstIsFile && super.rename(src, dst)
    }
  }

  /** `org.apache.hadoop.fs.local.RawLocalFs` over [[Raw]]; that class's
    * constructors are package-private and build their own raw filesystem. */
  class RawFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort(): Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `org.apache.hadoop.fs.local.LocalFs` (checksums) over [[RawFs]]:
    * `fs.AbstractFileSystem.file.impl`. Like it, ignores `uri`. */
  class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))
}
