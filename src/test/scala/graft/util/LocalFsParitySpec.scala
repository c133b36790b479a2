package graft.util

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** [[GraftLocalFileSystem]] / [[GraftLocalFs]] against Hadoop's stock
  * local filesystems: the same mode bits, link statuses, `.crc`
  * sidecars and checksum failures — and a `GraftSession` session
  * resolves `file:` to them through both Hadoop entry points.
  */
class LocalFsParitySpec extends SparkSpec {

  private val root = URI.create("file:///")

  private def conf(umask: String): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def stockFs(c: Configuration): FileSystem = {
    val fs = new LocalFileSystem(); fs.initialize(root, c); fs
  }
  private def graftFs(c: Configuration): FileSystem = {
    val fs = new GraftLocalFileSystem(); fs.initialize(root, c); fs
  }

  /** Mode bits as the kernel holds them, sticky bit included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  test("file and directory mode bits match the stock filesystem under the umask") {
    for (umask <- Seq("022", "027", "077")) {
      val c = conf(umask)
      val results = Seq("stock" -> stockFs(c), "graft" -> graftFs(c)).map {
        case (name, fs) =>
          val dir = tmpDir(s"fs-mode-$name")
          val f = new Path(s"$dir/a/b/file.bin")
          val out = fs.create(f); out.write(Array[Byte](1, 2, 3)); out.close()
          fs.mkdirs(new Path(s"$dir/d1/d2"))
          fs.mkdirs(new Path(s"$dir/explicit"), new FsPermission("750"))
          val g = new Path(s"$dir/g.bin")
          fs.create(g).close()
          fs.setPermission(g, new FsPermission("604"))
          fs.mkdirs(new Path(s"$dir/sticky"))
          fs.setPermission(new Path(s"$dir/sticky"), new FsPermission("1777"))
          Seq("a", "a/b", "a/b/file.bin", "a/b/.file.bin.crc", "d1", "d1/d2",
            "explicit", "g.bin", "sticky").map(r => r -> mode(s"$dir/$r"))
      }
      assert(results(0) === results(1), s"umask $umask")
      val byName = results(1).toMap
      val expectFile = 0x1b6 & ~Integer.parseInt(umask, 8)
      assert(byName("a/b/file.bin") === expectFile, s"umask $umask")
      assert(byName("g.bin") === Integer.parseInt("604", 8))
      assert(byName("sticky") === Integer.parseInt("1777", 8))
    }
  }

  test("setPermission on a missing file fails like any missing path") {
    val fs = graftFs(conf("022"))
    intercept[FileNotFoundException](fs.setPermission(
      new Path(s"${tmpDir("fs-missing")}/nope"), new FsPermission("644")))
  }

  test("getFileLinkStatus matches stock on a file, a directory, a symlink and a dangling symlink") {
    val dir = tmpDir("fs-links")
    Files.write(Paths.get(s"$dir/file"), Array[Byte](1, 2, 3, 4))
    Files.createDirectory(Paths.get(s"$dir/dir"))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/file"))
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get(s"$dir/gone"))
    val c = conf("022")
    def shape(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
      try {
        val st: FileStatus = fs.getFileLinkStatus(p)
        Right(Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink,
          st.getLen, if (st.isSymlink) st.getSymlink else null))
      } catch { case e: java.io.IOException => Left(e.getClass.getName) }
    val (stock, graft) = (stockFs(c), graftFs(c))
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         p <- Seq(new Path(s"$dir/$name"), new Path(s"file:$dir/$name"))) {
      assert(shape(graft, p) === shape(stock, p), s"$p")
    }
    // the stock answer does tell the link apart, so parity is not vacuous
    assert(shape(graft, new Path(s"$dir/link")).exists(_(3) == true))
    assert(shape(graft, new Path(s"$dir/file")).exists(_(3) == false))
  }

  /** Flip the first data byte of a file on disk, behind the checksum. */
  private def flipFirstByte(p: String): Unit = {
    val raf = new RandomAccessFile(p, "rw")
    try { val b = raf.read(); raf.seek(0); raf.write(b ^ 0xff) } finally raf.close()
  }

  test("FileSystem: .crc sidecars match stock and a flipped byte raises ChecksumException") {
    val c = conf("022")
    val data = Array.tabulate[Byte](5000)(i => (i * 31).toByte)
    val crcs = Seq(stockFs(c), graftFs(c)).map { fs =>
      val dir = tmpDir("fs-crc")
      val out = fs.create(new Path(s"$dir/data.bin")); out.write(data); out.close()
      val crc = Files.readAllBytes(Paths.get(s"$dir/.data.bin.crc"))
      flipFirstByte(s"$dir/data.bin")
      val in = fs.open(new Path(s"$dir/data.bin"))
      try intercept[ChecksumException](in.readFully(new Array[Byte](data.length)))
      finally in.close()
      crc.toSeq
    }
    assert(crcs(0) === crcs(1))
  }

  test("FileContext: .crc sidecars match stock LocalFs and a flipped byte raises ChecksumException") {
    val c = conf("022")
    val data = Array.tabulate[Byte](5000)(i => (i * 17).toByte)
    val stock = classOf[LocalFs].getDeclaredConstructor(classOf[URI], classOf[Configuration])
    stock.setAccessible(true)
    val crcs = Seq(stock.newInstance(root, c), new GraftLocalFs(root, c)).map { afs =>
      val fc = FileContext.getFileContext(afs, c)
      val dir = tmpDir("fc-crc")
      val tmp = new Path(s"$dir/data.tmp")
      val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent())
      out.write(data); out.close()
      fc.rename(tmp, new Path(s"$dir/data.bin"), Options.Rename.OVERWRITE)
      val crc = Files.readAllBytes(Paths.get(s"$dir/.data.bin.crc"))
      assert(!Files.exists(Paths.get(s"$dir/.data.tmp.crc")))
      assert(mode(s"$dir/data.bin") === Integer.parseInt("644", 8))
      flipFirstByte(s"$dir/data.bin")
      // open(path, bufferSize): FilterFs forwards the one-argument open
      // straight to the raw filesystem, so stock LocalFs verifies only here
      val in = fc.open(new Path(s"$dir/data.bin"), 4096)
      try intercept[ChecksumException](in.readFully(new Array[Byte](data.length)))
      finally in.close()
      crc.toSeq
    }
    assert(crcs(0) === crcs(1))
  }

  test("a GraftSession session resolves file: to the graft classes through both entry points") {
    val c = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, c).isInstanceOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(c).isInstanceOf[GraftLocalFileSystem])
    assert(new Path(tmpDir("fs-resolve")).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(c).getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    assert(FileContext.getFileContext(new URI(s"file:${tmpDir("fc-resolve")}"), c)
      .getDefaultFileSystem.isInstanceOf[GraftLocalFs])
  }
}
