package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem,
  Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.io.LocalFs

/** [[LocalFs]] against Hadoop's stock `LocalFileSystem`: the same
  * modes on everything either creates, the sticky bit kept, `.crc`
  * checksums still verified on read, and the session's `file:`
  * filesystem is the graft one. Instances are built directly, so
  * Hadoop's JVM-wide filesystem cache is left alone. */
class LocalFsSpec extends SparkSpec {
  private def fs(stock: Boolean, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    val f = if (stock) new LocalFileSystem() else new LocalFs
    f.initialize(URI.create("file:///"), conf)
    f
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  /** Mode of every path under `root` (by relative path) after `fs`
    * creates files and dirs the ways Spark and the engine do. */
  private def created(fs: FileSystem, root: java.nio.file.Path)
      : Map[String, Int] = {
    val r = new Path(root.toUri)
    fs.create(new Path(r, "plain")).close()
    fs.create(new Path(r, "a/b/nested")).close()
    fs.create(new Path(r, "owned"), new FsPermission("640"), true,
      4096, 1.toShort, 1L << 20, null).close()
    fs.mkdirs(new Path(r, "dir/sub"))
    fs.mkdirs(new Path(r, "restricted"), new FsPermission("750"))
    val os = fs.create(new Path(r, "data"))
    os.write(Array.fill[Byte](3000)(7)); os.close()
    val walk = Files.walk(root)
    try walk.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_ != root).map(p => root.relativize(p).toString -> mode(p))
      .toMap
    finally walk.close()
  }

  Seq("022", "077").foreach { umask =>
    test(s"files and dirs get the stock modes under umask $umask") {
      val stock = created(fs(stock = true, umask),
        Files.createTempDirectory("lfs-stock"))
      val ours = created(fs(stock = false, umask),
        Files.createTempDirectory("lfs-graft"))
      assert(stock.keySet.exists(_.endsWith(".crc")), stock)
      assert(ours === stock)
      val file = oct(if (umask == "022") "644" else "600")
      assert((ours("plain") & oct("7777")) === file)
      assert((ours(".plain.crc") & oct("7777")) === file)
    }
  }

  test("setPermission(01777) on a dir keeps the sticky bit") {
    Seq(true, false).foreach { stock =>
      val d = Files.createTempDirectory("lfs-sticky")
      fs(stock, "022").setPermission(new Path(d.toUri),
        new FsPermission("1777"))
      assert(mode(d) === oct("41777"), s"stock = $stock")
    }
  }

  test("a flipped byte still fails the read with ChecksumException") {
    val f = fs(stock = false, "022")
    val p = Files.createTempDirectory("lfs-crc").resolve("data")
    val os = f.create(new Path(p.toUri))
    os.write(Array.tabulate[Byte](3000)(i => (i % 101).toByte)); os.close()
    assert(Files.exists(p.resolveSibling(".data.crc")))
    val raw = new java.io.RandomAccessFile(p.toFile, "rw")
    try {
      raw.seek(1500); val b = raw.read()
      raw.seek(1500); raw.write(b ^ 0xff)
    } finally raw.close()
    val in = f.open(new Path(p.toUri))
    try intercept[ChecksumException](in.readFully(new Array[Byte](3000)))
    finally in.close()
  }

  test("the session's file: filesystem is the graft class") {
    val sessionFs = FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(sessionFs.getClass === classOf[LocalFs])
  }
}
