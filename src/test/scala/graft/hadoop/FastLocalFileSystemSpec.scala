package graft.hadoop

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** A warehouse written partly by the stock local FS (with `.crc`
  * siblings) and partly by [[FastLocalFileSystem]] (without) must stay
  * readable through both: overwriting or renaming a checksummed file
  * through the fast FS has to drop or carry its sibling, never leave a
  * stale one that fails the next read with a `ChecksumException`. */
class FastLocalFileSystemSpec extends AnyFunSuite {
  private def initialized(fs: FileSystem): FileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }
  private def write(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
  }
  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("stock-checksummed files stay readable after fast-FS overwrite and rename") {
    val stock = initialized(new LocalFileSystem())
    val fast = initialized(new FastLocalFileSystem())
    val dir = new Path(Files.createTempDirectory("graft-crc").toUri)
    def crc(name: String) = new java.io.File(new Path(dir, s".$name.crc").toUri)
    val (a, b, c, d) = (new Path(dir, "a"), new Path(dir, "b"),
      new Path(dir, "c"), new Path(dir, "d"))
    Seq(a, b, c).foreach(p => write(stock, p, s"stock ${p.getName}"))
    assert(Seq("a", "b", "c").forall(crc(_).exists), "stock FS writes .crc siblings")

    // overwrite in place: a longer body under a stale checksum would fail
    write(fast, a, "fast overwrite of a, longer than the stock body")
    assert(!crc("a").exists, "overwrite drops the stale sibling")
    // rename onto a checksummed target: the target's sibling must go
    write(fast, new Path(dir, "tmp"), "fast replacement of b")
    assert(fast.rename(new Path(dir, "tmp"), b))
    assert(!crc("b").exists, "rename over a checksummed file drops its sibling")
    // rename of a checksummed source: the sibling moves with it
    assert(fast.rename(c, d))
    assert(crc("d").exists && !crc("c").exists)

    Seq(stock, fast).foreach { fs =>
      assert(read(fs, a) === "fast overwrite of a, longer than the stock body")
      assert(read(fs, b) === "fast replacement of b")
      assert(read(fs, d) === "stock c")
    }
  }
}
