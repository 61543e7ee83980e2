package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system (`.crc` files kept) whose raw
  * layer sets permissions through `java.nio.file` instead of a process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * runs `chmod` in a new process for every file, `.crc` file and
  * directory a write creates. This class sets the same nine `rwx` bits
  * with `Files.setPosixFilePermissions`, with or without the native
  * library (every other raw operation is Hadoop's own); it stays a
  * `LocalFileSystem` because `FileSystem.getLocal` casts to that type.
  * `SparkSessionFactory` installs it as `fs.file.impl`.
  *
  * Hadoop's semantics are kept: the bits passed are set exactly (the
  * caller has applied the umask); a mode with sticky, setuid or setgid
  * bits goes to the stock shell path; symlinks are followed, as `chmod`
  * follows them; a missing path raises `FileNotFoundException`.
  *
  * `FileContext` writers (Spark's streaming checkpoints and file-sink
  * metadata logs) resolve `fs.AbstractFileSystem.file.impl` instead;
  * [[NioLocalFs]] is the same raw layer in that API's shape, and
  * `SparkSessionFactory` installs it there.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The permission of each mode bit, from 0400 down to 0001. */
  private val ModeBits: Array[PosixFilePermission] = Array(
    OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
    GROUP_READ, GROUP_WRITE, GROUP_EXECUTE,
    OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        for (i <- ModeBits.indices if (mode & (0x100 >> i)) != 0)
          perms.add(ModeBits(i))
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch {
          case e: NoSuchFileException =>
            throw new FileNotFoundException(s"File $p does not exist")
              .initCause(e)
        }
      }
    }
  }
}

/** `file:` for `FileContext`: Hadoop's `LocalFs` (a checksummed
  * `ChecksumFs` over the `DelegateToFileSystem` `RawLocalFs`) with
  * [[NioLocalFileSystem.Raw]] as the delegate, so streaming checkpoint
  * and sink-log writes set permissions through NIO too. Like `LocalFs`,
  * it serves `file:///` whatever URI it is constructed with. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {

  /** Hadoop's `RawLocalFs` over the NIO raw file system. */
  class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioLocalFileSystem.Raw, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    // local paths may hold names HDFS rejects (':' in a component)
    override def isValidName(src: String): Boolean = true
  }
}
