package graft.io

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FSDataInputStream, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] against Hadoop's own `LocalFileSystem`: the same bytes,
  * the same `.crc` sidecars, the same modes, the same checksum check.
  */
class LocalFsSpec extends AnyFunSuite {

  private def conf(umask: String): Configuration = {
    val c = new Configuration(false)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** Hadoop's default `file:` file system, a fresh instance on `c`. */
  private def hadoopFs(c: Configuration): FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  /** [[LocalFs]] as a conf resolves it once installed. */
  private def ours(c: Configuration): FileSystem = {
    val fs = new Path("file:///").getFileSystem(LocalFs.install(new Configuration(c)))
    assert(fs.getClass == classOf[LocalFs])
    fs
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Everything under `root`: relative path → (mode, bytes of a file). */
  private def tree(root: JPath): Map[String, (Int, Seq[Byte])] = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        (mode(p), if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq)
    }.toMap finally s.close()
  }

  /** What one writer does: nested creates (implicit parent dirs), an
    * explicit-mode dir, a sticky-bit dir (umasked and set explicitly)
    * and an explicit file mode.
    */
  private def writeAll(fs: FileSystem, root: JPath): Unit = {
    val data = new Array[Byte](5000)
    new scala.util.Random(7).nextBytes(data)
    val base = new Path(root.toUri)
    val out = fs.create(new Path(base, "t/p/part-0.parquet"), true)
    try out.write(data) finally out.close()
    fs.create(new Path(base, "t/_SUCCESS"), true).close()
    assert(fs.mkdirs(new Path(base, "d750"), new FsPermission("750")))
    assert(fs.mkdirs(new Path(base, "sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort)))
    assert(fs.mkdirs(new Path(base, "sticky_set")))
    fs.setPermission(new Path(base, "sticky_set"), new FsPermission(Integer.parseInt("1777", 8).toShort))
    fs.setPermission(new Path(base, "t/_SUCCESS"), new FsPermission("640"))
  }

  for (umask <- Seq("022", "077")) test(s"files, .crc sidecars and modes match Hadoop's LocalFileSystem (umask $umask)") {
    val (a, b) = (Files.createTempDirectory("graft_localfs_a"), Files.createTempDirectory("graft_localfs_b"))
    writeAll(hadoopFs(conf(umask)), a)
    writeAll(ours(conf(umask)), b)
    val (ta, tb) = (tree(a), tree(b))
    assert(ta.keySet.contains("t/p/.part-0.parquet.crc"), ta.keySet)
    assert(ta.keySet.contains("t/._SUCCESS.crc"), ta.keySet)
    def modes(t: Map[String, (Int, Seq[Byte])]) = t.map { case (k, (m, _)) => k -> m.toOctalString }
    assert(modes(ta) == modes(tb))
    assert(ta.keySet.forall(k => ta(k)._2 == tb(k)._2))
    // the modes are set, not left to the process umask: mkdirs applies
    // the conf's umask (which drops the sticky bit, as Hadoop's does),
    // setPermission sets the mode exactly, sticky bit included
    val u = Integer.parseInt(umask, 8)
    assert(tb("d750")._1 == (Integer.parseInt("750", 8) & ~u))
    assert(tb("sticky")._1 == (Integer.parseInt("777", 8) & ~u))
    assert(tb("sticky_set")._1 == Integer.parseInt("1777", 8))
    assert(tb("t/_SUCCESS")._1 == Integer.parseInt("640", 8))
  }

  test("a flipped byte in a checksummed file still fails the read") {
    val root = Files.createTempDirectory("graft_localfs_crc")
    val p = new Path(root.resolve("f.bin").toUri)
    val fs = ours(conf("022"))
    val data = Array.tabulate[Byte](3000)(_.toByte)
    val out = fs.create(p, true)
    try out.write(data) finally out.close()
    val file = root.resolve("f.bin")
    val bytes = Files.readAllBytes(file)
    bytes(1234) = (bytes(1234) ^ 1).toByte
    Files.write(file, bytes)
    // LocalFileSystem would move a corrupt file to a bad_files dir at the
    // top of its device; this instance only reports the failure
    val quiet = new LocalFs {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
          sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    quiet.initialize(URI.create("file:///"), LocalFs.install(conf("022")))
    val in = quiet.open(p)
    try intercept[ChecksumException](in.readFully(new Array[Byte](3000)))
    finally in.close()
  }
}
