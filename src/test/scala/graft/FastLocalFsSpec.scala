package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.fs.{FastLocalFileSystem, FastLocalFs}

/** The fast `file:` filesystem is a `LocalFileSystem`: `getLocal` and
  * its casts work under it, it writes no `.crc` sidecars, it does not
  * verify a stale one, and its listings hide `.crc` names as the stock
  * filesystem's do. */
class FastLocalFsSpec extends AnyFunSuite {

  private def conf(): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[FastLocalFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c.set("fs.AbstractFileSystem.file.impl", classOf[FastLocalFs].getName)
    c
  }

  private def tmp(): String = Files.createTempDirectory(
    Paths.get("target"), "fastfs-").toAbsolutePath.toString

  test("FileSystem.getLocal works under the fast file: impl") {
    val fs = FileSystem.getLocal(conf())
    assert(fs.isInstanceOf[FastLocalFileSystem])
    assert(fs.getScheme === "file")
  }

  test("writes leave no .crc, stale .crc files are neither verified nor " +
      "listed") {
    val fs = FileSystem.getLocal(conf())
    val dir = tmp()
    val p = new Path(dir, "a.bin")
    val out = fs.create(p)
    out.write(Array[Byte](1, 2, 3)); out.close()
    assert(!Files.exists(Paths.get(dir, ".a.bin.crc")))
    // a checksum the bytes do not match: read back all the same
    Files.write(Paths.get(dir, ".a.bin.crc"), Array[Byte](9, 9, 9, 9, 9, 9, 9, 9))
    val in = fs.open(p)
    val got = new Array[Byte](3)
    in.readFully(got); in.close()
    assert(got.toSeq === Seq[Byte](1, 2, 3))
    assert(fs.listStatus(new Path(dir)).map(_.getPath.getName).toSeq === Seq("a.bin"))
  }

  test("the FileContext face creates, renames with overwrite and lists") {
    val dir = tmp()
    val fc = FileContext.getFileContext(new Path(dir).toUri, conf())
    val tmpP = new Path(dir, "t.tmp")
    val out = fc.create(tmpP, java.util.EnumSet.of(
      org.apache.hadoop.fs.CreateFlag.CREATE), Options.CreateOpts.createParent())
    out.write(7); out.close()
    val dst = new Path(dir, "t")
    fc.rename(tmpP, dst, Options.Rename.OVERWRITE)
    assert(Files.readAllBytes(Paths.get(dir, "t")).toSeq === Seq[Byte](7))
    val names = fc.util().listStatus(new Path(dir)).map(_.getPath.getName).toSeq
    assert(names === Seq("t"))
  }
}
