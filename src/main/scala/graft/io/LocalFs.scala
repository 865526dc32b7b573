package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system (`.crc` sidecars included),
  * minus one process per created file: without Hadoop's native library
  * `RawLocalFileSystem.setPermission` forks a `chmod` for every file
  * and directory it creates with a mode (each part file, its `.crc`, each
  * `_SUCCESS`). Here that is the same chmod(2) through the JDK.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  private val Impl = "fs.file.impl"
  private val NoCache = s"$Impl.disable.cache"

  /** The raw half: every `setPermission` (file creation and
    * `mkdirs(path, perm)` run through it) sets the mode bits, sticky bit
    * included, with `Files.setAttribute(_, "unix:mode", _)`.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      java.nio.file.Files.setAttribute(pathToFile(p).toPath, "unix:mode",
        Integer.valueOf(perm.toShort.toInt))
  }

  /** `conf`, with `file:` paths on [[LocalFs]] unless it already names a
    * `file:` implementation (a user's choice stays). Uncached: Hadoop
    * caches file systems by scheme, authority and user, not by conf, so
    * through the cache a conf gets whichever `file:` instance was asked
    * for first.
    */
  def install(conf: Configuration): Configuration = {
    if (conf.get(Impl) == null) {
      conf.set(Impl, classOf[LocalFs].getName)
      conf.set(NoCache, "true")
    }
    conf
  }

  /** `conf`'s `file:` settings, as options that carry them into a conf
    * Spark builds itself (a DataFrameWriter's).
    */
  def options(conf: Configuration): Map[String, String] =
    Seq(Impl, NoCache).flatMap(k => Option(conf.get(k)).map(k -> _)).toMap
}
