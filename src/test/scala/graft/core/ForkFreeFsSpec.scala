package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkTestBase

/** The fork-free local filesystem behaves as Hadoop's own: the same
  * modes under the umask, the same rename, the same link status. */
class ForkFreeFsSpec extends SparkTestBase {

  private val Local = URI.create("file:///")

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff

  /** Hadoop's local filesystem and the fork-free one, each initialized
    * with `conf` and uncached. */
  private def both(conf: Configuration): Seq[LocalFileSystem] =
    Seq(new LocalFileSystem, new ForkFreeLocalFileSystem).map { f => f.initialize(Local, conf); f }

  private def tempDir(prefix: String): Path = new Path(Files.createTempDirectory(prefix).toUri)

  test("the shared session resolves both Hadoop APIs to the fork-free classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = FileSystem.get(Local, conf)
    assert(f.isInstanceOf[ForkFreeLocalFileSystem])
    assert(f.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(FileSystem.getLocal(conf) eq f)
    assert(FileContext.getFileContext(Local, conf).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
  }

  test("created files and made dirs get Hadoop's modes under the configured umask") {
    for (umask <- Seq("022", "027")) {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.permissions.umask-mode", umask)
      val modes = both(conf).map { f =>
        val root = tempDir("forkfree-modes")
        f.create(new Path(root, "file"), true).close()
        f.mkdirs(new Path(root, "a/b"))
        val chmodded = new Path(root, "private")
        f.create(chmodded, true).close()
        f.setPermission(chmodded, new FsPermission(Integer.parseInt("600", 8).toShort))
        Seq("file", ".file.crc", "a", "a/b", "private").map(n => mode(new Path(root, n)))
      }
      val expected = if (umask == "022") Seq("644", "644", "755", "755", "600")
        else Seq("640", "640", "750", "750", "600")
      assert(modes.head == expected.map(Integer.parseInt(_, 8)), s"Hadoop's modes, umask $umask")
      assert(modes.last == modes.head, s"umask $umask")
    }
  }

  test("a sticky-bit mode goes through Hadoop's chmod") {
    val f = both(spark.sparkContext.hadoopConfiguration).last
    val dir = new Path(tempDir("forkfree-sticky"), "shared")
    f.mkdirs(dir)
    f.setPermission(dir, new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1777", 8))
  }

  test("a FileContext rename with OVERWRITE replaces the target's bytes and checksum") {
    val fc = FileContext.getFileContext(Local, spark.sparkContext.hadoopConfiguration)
    val root = tempDir("forkfree-rename")
    def put(p: Path, text: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }
    val (src, dst) = (new Path(root, "src"), new Path(root, "dst"))
    put(dst, "the old and longer pointer")
    put(src, "new")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    val in = fc.open(dst) // a checksummed read: a stale .crc would fail it
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    assert(text == "new")
    assert(!fc.util.exists(src))
  }

  test("getFileLinkStatus reports symlinks as Hadoop does and throws on a missing path") {
    val root = tempDir("forkfree-links")
    val target = new Path(root, "target")
    Files.write(Paths.get(target.toUri), "rows".getBytes(StandardCharsets.UTF_8))
    val link = new Path(root, "link")
    Files.createSymbolicLink(Paths.get(link.toUri), Paths.get(target.toUri))
    val unqualified = new Path(link.toUri.getPath) // Hadoop's readlink sees only plain paths
    val statuses = both(spark.sparkContext.hadoopConfiguration).map(_.getFileLinkStatus(unqualified))
    statuses.foreach { s =>
      assert(s.isSymlink)
      assert(s.getSymlink.toUri.getPath == target.toUri.getPath)
    }
    assert(statuses.map(_.getSymlink).distinct.size == 1)
    val plain = both(spark.sparkContext.hadoopConfiguration).map(_.getFileLinkStatus(target))
    assert(plain.forall(s => !s.isSymlink && s.isFile && s.getLen == 4))
    both(spark.sparkContext.hadoopConfiguration).foreach { f =>
      intercept[FileNotFoundException](f.getFileLinkStatus(new Path(root, "missing")))
    }
  }
}
