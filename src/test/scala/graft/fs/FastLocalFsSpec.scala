package graft.fs

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local FS must be byte- and bit-compatible with the
  * stock Hadoop local FS: same permission bits applied on create and
  * setPermission, same checksum behavior, same rename/list semantics.
  * The whole suite exercises it through SparkSpec; this spec pins the
  * NIO permission path against the stock Shell-fork path directly. */
class FastLocalFsSpec extends AnyFunSuite {

  private def tmpDir(): String =
    Files.createTempDirectory("fastfs").toString

  private def newFastFs(): FastLocalFileSystem = {
    val fs = new FastLocalFileSystem
    fs.initialize(new java.net.URI("file:///"), new Configuration())
    fs
  }

  private def newStockRaw(): RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(new java.net.URI("file:///"), new Configuration())
    fs
  }

  test("FsPermission → NIO permission-set mapping covers all 512 modes") {
    (0 until 512).foreach { bits =>
      val p = new FsPermission(bits.toShort)
      val nio = FastRawLocalFileSystem.toNio(p)
      val back = org.apache.hadoop.fs.permission.FsPermission
        .valueOf("-" + java.nio.file.attribute.PosixFilePermissions
          .toString(nio))
      assert(back.toShort == bits.toShort, s"bits $bits round-trip")
    }
  }

  test("special bits (setuid/setgid/sticky) fall back to the stock path") {
    intercept[IllegalArgumentException] {
      FastRawLocalFileSystem.toNio(new FsPermission(0x3FF.toShort))
    }
  }

  test("setPermission applies the same bits as the stock Shell path") {
    val dir = tmpDir()
    val fast = newFastFs(); val stock = newStockRaw()
    val a = new Path(s"$dir/a"); val b = new Path(s"$dir/b")
    fast.create(a).close(); stock.create(b).close()
    Seq("644", "600", "755", "444", "731").foreach { mode =>
      val p = new FsPermission(Integer.parseInt(mode, 8).toShort)
      fast.setPermission(a, p)
      stock.setPermission(b, p)
      val got = Files.getPosixFilePermissions(Paths.get(s"$dir/a"))
      val exp = Files.getPosixFilePermissions(Paths.get(s"$dir/b"))
      assert(got == exp, s"mode $mode")
    }
  }

  test("create/mkdirs/rename/list/checksum semantics match LocalFileSystem") {
    val dir = tmpDir()
    val fast = newFastFs()
    val d = new Path(s"$dir/sub/deep")
    assert(fast.mkdirs(d, new FsPermission(Integer.parseInt("755", 8).toShort)))
    val f = new Path(s"$dir/sub/deep/data.bin")
    val out = fast.create(f)
    out.write(Array.tabulate[Byte](1000)(_.toByte)); out.close()
    // checksummed wrapper: a .crc sibling exists on disk but is HIDDEN
    // from listStatus (ChecksumFileSystem contract)
    assert(Files.exists(Paths.get(s"$dir/sub/deep/.data.bin.crc")))
    assert(fast.listStatus(d).map(_.getPath.getName).toSet == Set("data.bin"))
    // read verifies the checksum
    val in = fast.open(f)
    val buf = new Array[Byte](1000)
    in.readFully(0L, buf); in.close()
    assert(buf.toSeq == Array.tabulate[Byte](1000)(_.toByte).toSeq)
    // rename moves data and checksum together
    val g = new Path(s"$dir/sub/deep/renamed.bin")
    assert(fast.rename(f, g))
    assert(!Files.exists(Paths.get(s"$dir/sub/deep/data.bin")))
    val in2 = fast.open(g); in2.readFully(0L, buf); in2.close()
    assert(buf(999) == 999.toByte)
    fast.delete(new Path(s"$dir/sub"), true)
    assert(!Files.exists(Paths.get(s"$dir/sub")))
  }

  test("FileContext path (fs.AbstractFileSystem.file.impl) resolves and writes") {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", classOf[FastLocalFs].getName)
    val fc = FileContext.getFileContext(new java.net.URI("file:///"), conf)
    val dir = tmpDir()
    val f = new Path(s"$dir/fc.txt")
    val out = fc.create(f,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    out.write("hello".getBytes("UTF-8")); out.close()
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/fc.txt")),
      "UTF-8") == "hello")
    assert(fc.getFileStatus(f).getLen == 5L)
  }

  test("getFileLinkStatus matches the stock fork path: regular, symlink, dangling") {
    val dir = tmpDir()
    val fastRaw = new FastRawLocalFileSystem
    fastRaw.initialize(new java.net.URI("file:///"), new Configuration())
    val stock = newStockRaw()
    // regular file
    val reg = Paths.get(s"$dir/reg.txt")
    Files.write(reg, "abc".getBytes("UTF-8"))
    val fr = fastRaw.getFileLinkStatus(new Path(reg.toString))
    val sr = stock.getFileLinkStatus(new Path(reg.toString))
    assert(fr.getLen == sr.getLen && fr.isSymlink == sr.isSymlink &&
      fr.isDirectory == sr.isDirectory)
    assert(!fr.isSymlink)
    // live symlink: follow-the-link length, target recorded
    val link = Paths.get(s"$dir/link.txt")
    Files.createSymbolicLink(link, reg)
    val fl = fastRaw.getFileLinkStatus(new Path(link.toString))
    val sl = stock.getFileLinkStatus(new Path(link.toString))
    assert(fl.isSymlink && sl.isSymlink)
    assert(fl.getSymlink.toString == sl.getSymlink.toString)
    assert(fl.getLen == sl.getLen && fl.getLen == 3L)
    // symlink to a DIRECTORY: a link status, not the followed one — the
    // stock path reports isDirectory = false for every symlink, so the
    // fast path must too (a FileContext rename then moves the link,
    // never the tree behind it)
    val sub = Files.createDirectory(Paths.get(s"$dir/sub"))
    val dlink = Paths.get(s"$dir/dlink")
    Files.createSymbolicLink(dlink, sub)
    val fdl = fastRaw.getFileLinkStatus(new Path(dlink.toString))
    val sdl = stock.getFileLinkStatus(new Path(dlink.toString))
    assert(fdl.isSymlink && sdl.isSymlink)
    assert(fdl.isDirectory == sdl.isDirectory && !fdl.isDirectory)
    assert(fdl.getLen == sdl.getLen)
    assert(fdl.getSymlink.toString == sdl.getSymlink.toString)
    // dangling symlink: synthetic zero status, target still recorded
    val dang = Paths.get(s"$dir/dangling")
    Files.createSymbolicLink(dang, Paths.get(s"$dir/nowhere"))
    val fd = fastRaw.getFileLinkStatus(new Path(dang.toString))
    val sd = stock.getFileLinkStatus(new Path(dang.toString))
    assert(fd.isSymlink && sd.isSymlink)
    assert(fd.getSymlink.toString == sd.getSymlink.toString)
    assert(fd.getLen == sd.getLen)
    // missing path: FileNotFoundException, same as stock
    intercept[java.io.FileNotFoundException] {
      fastRaw.getFileLinkStatus(new Path(s"$dir/missing"))
    }
    intercept[java.io.FileNotFoundException] {
      stock.getFileLinkStatus(new Path(s"$dir/missing"))
    }
    // and the FileContext rename the checkpoint manager drives goes
    // through without the readlink fork (behavioral parity: rename
    // with OVERWRITE replaces the destination)
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", classOf[FastLocalFs].getName)
    val fc = FileContext.getFileContext(new java.net.URI("file:///"), conf)
    val src = new Path(s"$dir/tmp.log"); val dst = new Path(s"$dir/0.log")
    val o1 = fc.create(src,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    o1.write("v1".getBytes("UTF-8")); o1.close()
    val o2 = fc.create(dst,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    o2.write("v0".getBytes("UTF-8")); o2.close()
    fc.rename(src, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/0.log")),
      "UTF-8") == "v1")
    assert(!Files.exists(Paths.get(s"$dir/tmp.log")))
  }

  test("FileSystem.get with fs.file.impl serves the fast class for file://") {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[FastLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    assert(fs.isInstanceOf[FastLocalFileSystem])
  }
}
