package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.engine.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem, GraftRawLocalFs}

/** The session's `file://` filesystem ([[graft.engine.GraftLocalFileSystem]]
  * and its `FileContext` twin): installed for both APIs, and every
  * permission it sets without forking `chmod` is the one Hadoop's own
  * local filesystem sets.
  */
class LocalFsSpec extends SparkSpec {

  private val local = new URI("file:///")

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  /** `conf` with Hadoop's stock local filesystems for both APIs. */
  private def stockConf: Configuration = {
    val c = new Configuration(conf)
    c.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }

  /** The full mode bits of a local path, sticky bit included. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0x0fff

  private def perms(p: Path) = Files.getPosixFilePermissions(Paths.get(p.toUri))

  test("the session's file:// FileSystem and FileContext filesystem are the fork-free ones") {
    val fs = FileSystem.get(local, conf)
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[GraftLocalFileSystem].getRaw.getClass == classOf[GraftRawLocalFileSystem])
    // Spark's writers resolve paths through the session's Hadoop conf
    assert(new Path(graft.sources.Spool.tempRoot("lfs")).getFileSystem(
      spark.sessionState.newHadoopConf()).getClass == classOf[GraftLocalFileSystem])
    val afs = FileContext.getFileContext(local, conf).getDefaultFileSystem
    assert(afs.getClass == classOf[GraftLocalFs])
    assert(afs.asInstanceOf[GraftLocalFs].getRawFs.getClass == classOf[GraftRawLocalFs])
  }

  test("creates, mkdirs and setPermission set the bits Hadoop's chmod path sets") {
    val root = graft.sources.Spool.tempRoot("lfs_bits")
    val ours = (FileSystem.get(local, conf), FileContext.getFileContext(local, conf))
    val stock = (FileSystem.newInstance(local, stockConf), FileContext.getFileContext(local, stockConf))
    assert(stock._1.getClass != classOf[GraftLocalFileSystem])
    assert(stock._2.getDefaultFileSystem.getClass != classOf[GraftLocalFs])
    try {
      def run(side: String, fs: FileSystem, fc: FileContext): Seq[Path] = {
        val dir = new Path(s"file://$root/$side")
        val made = new Path(dir, "made/nested")
        assert(fs.mkdirs(made))
        val viaFs = new Path(dir, "fs.bin")
        val out = fs.create(viaFs)
        out.write(Array[Byte](1, 2, 3))
        out.close()
        val viaFc = new Path(dir, "fc.bin")
        val out2 = fc.create(viaFc, java.util.EnumSet.of(CreateFlag.CREATE))
        out2.write(Array[Byte](4, 5))
        out2.close()
        val chmodded = new Path(dir, "chmod.bin")
        fs.create(chmodded).close()
        fs.setPermission(chmodded, new FsPermission(Integer.parseInt("640", 8).toShort))
        // each data file's .crc sibling is written through the same create
        Seq(made, new Path(dir, "made"), viaFs, new Path(dir, ".fs.bin.crc"), viaFc,
          new Path(dir, ".fc.bin.crc"), chmodded)
      }
      val want = run("stock", stock._1, stock._2)
      val got = run("ours", ours._1, ours._2)
      want.zip(got).foreach { case (w, g) =>
        assert(perms(g) == perms(w), s"$g: ${perms(g)} vs Hadoop's ${perms(w)}")
        assert(mode(g) == mode(w), s"$g: mode ${mode(g).toOctalString} vs ${mode(w).toOctalString}")
      }
      // the bits themselves: rw-r--r-- files, rwxr-xr-x dirs, the explicit 0640
      assert(got.map(p => mode(p).toOctalString) ==
        Seq("755", "755", "644", "644", "644", "644", "640"))
    } finally stock._1.close()
  }

  test("a sticky-bit permission takes Hadoop's own path") {
    val fs = FileSystem.get(local, conf)
    val dir = new Path(s"file://${graft.sources.Spool.tempRoot("lfs_sticky")}/sticky")
    assert(fs.mkdirs(dir))
    // java.nio has no spelling for the sticky bit: only chmod sets it
    fs.setPermission(dir, new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert(mode(dir).toOctalString == "1755")
    assert(fs.getFileStatus(dir).getPermission.getStickyBit)
  }
}
