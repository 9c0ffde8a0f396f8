package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its process spawns. Without the
  * native `libhadoop`, `RawLocalFileSystem` runs `chmod` for every file
  * and directory it creates and `readlink` for every `getFileLinkStatus`
  * (each streaming checkpoint-log rename calls it), about 6 ms a spawn.
  * This subclass does both through `java.nio` with the same results:
  *
  *   - `setPermission` for a mode within 0777 sets the POSIX bits
  *     directly; a sticky or setuid mode still goes to the shell.
  *   - `getFileLinkStatus` reads the link of `new File(f.toString)`, the
  *     path `FileUtil.readLink` hands to `readlink`, and treats any
  *     failure as "not a link" as the shell path does (a `file:`-qualified
  *     path is never a link there either). It is the non-native
  *     `RawLocalFileSystem` code with that one call replaced.
  *
  * [[GraftLocalFileSystem]] (`fs.file.impl`) and [[GraftLocalFs]]
  * (`fs.AbstractFileSystem.file.impl`), which `graft.GraftSession.builder`
  * installs, wrap it the way Hadoop's `LocalFileSystem` and `LocalFs` wrap
  * the stock one, so `.crc` sidecars are written and verified as before.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists OWNER_READ (0400) … OTHERS_EXECUTE (0001)
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(f.toString).toPath).toString
      catch { case _: IOException | _: InvalidPathException => "" }
    val status =
      try {
        val st = getFileStatus(f)
        if (target.isEmpty) st
        else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty => // a dangling link
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (status.isSymlink)
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath,
        status.getSymlink))
    status
  }
}

/** `fs.file.impl`: the checksummed local `FileSystem` over
  * [[NioRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (what `FileContext` and so the
  * streaming checkpoint logs use): the checksummed local `AbstractFileSystem`
  * over [[NioRawLocalFileSystem]]. Hadoop's `LocalFs`/`RawLocalFs` cannot be
  * reused: their constructors are package-private and build a stock
  * `RawLocalFileSystem`. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
private[sources] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // like RawLocalFileSystem, leave name validation to the OS
  override def isValidName(src: String): Boolean = true
}

object LocalFs {
  /** `fs` without client-side checksums: the raw filesystem under a
    * checksummed one. `FileSystem.get` hands every caller in the JVM the
    * same cached instance, so switching that instance's checksums off
    * would switch them off for every other writer and reader too. */
  def unchecked(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }
}
