package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sinks.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The engine's local file system ([[graft.sinks.NioLocalFileSystem]]) is
  * Hadoop's, minus its process forks: the same mode bits, `.crc`
  * sidecars, rename semantics and link statuses as stock Hadoop 3.4.
  */
class LocalFileSystemSpec extends SparkSpec {

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  /** Stock Hadoop's checksummed local file system, built directly so the
    * JVM-wide `file:` cache entry stays the session's.
    */
  private def stockLocal: LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), hadoopConf)
    fs
  }

  private def stockRaw: RawLocalFileSystem = {
    val fs = new RawLocalFileSystem()
    fs.initialize(URI.create("file:///"), hadoopConf)
    fs
  }

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("the session resolves file: paths to the engine's classes, through the JVM-wide cache and FileContext") {
    // Hadoop caches one `file:` FileSystem per JVM whatever the conf asks,
    // so the first lookup decides; the session must have made it
    assert(FileSystem.get(URI.create("file:///"), hadoopConf).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(hadoopConf).getRaw.getClass == classOf[NioRawLocalFileSystem])
    assert(new Path(tmpDir("graft-localfs-class")).getFileSystem(
      spark.sessionState.newHadoopConf()).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }

  test("a part written through the session has stock Hadoop's mode bits and .crc sidecars") {
    val root = tmpDir("graft-localfs-modes")
    val part = s"$root/session/delta_b0"
    spark.range(5).coalesce(1).write.parquet(part)
    // the same dir and files made by stock Hadoop in a sibling dir
    val stock = stockLocal
    val sibling = s"$root/stock/delta_b0"
    assert(stock.mkdirs(new Path(sibling)))
    val names = new java.io.File(part).list().toSeq.filterNot(_.endsWith(".crc"))
    assert(names.exists(_.endsWith(".parquet")) && names.contains("_SUCCESS"), names)
    for (n <- names) {
      val out = stock.create(new Path(sibling, n))
      try out.write(Files.readAllBytes(Paths.get(part, n))) finally out.close()
    }
    assert(new java.io.File(part).list().toSet == new java.io.File(sibling).list().toSet)
    assert(new java.io.File(part).list().count(_.endsWith(".crc")) == names.size)
    for (n <- Seq("", "/..") ++ new java.io.File(part).list().map("/" + _))
      assert(mode(part + n) == mode(sibling + n), s"$n: session ${mode(part + n)}, stock ${mode(sibling + n)}")
  }

  test("setPermission sets each of the nine mode bits as Hadoop's chmod does") {
    val root = tmpDir("graft-localfs-chmod")
    val ours = FileSystem.getLocal(hadoopConf).getRaw
    val stock = stockRaw
    for (bits <- (0 until 9).map(1 << _) ++ Seq(0, 0x1ff, 0x1a4)) {
      val perm = new FsPermission(bits.toShort)
      Seq("ours" -> ours, "stock" -> stock).foreach { case (side, fs) =>
        val f = new Path(s"$root/$side-$bits")
        fs.create(f).close()
        fs.setPermission(f, perm)
      }
      assert(mode(s"$root/ours-$bits") == mode(s"$root/stock-$bits"), f"mode 0$bits%o")
      assert(mode(s"$root/ours-$bits") == perm.toString, f"mode 0$bits%o")
    }
  }

  test("FileContext rename keeps its no-overwrite and overwrite semantics, .crc sidecars included") {
    val dir = new Path(tmpDir("graft-localfs-rename"))
    val fc = FileContext.getFileContext(URI.create("file:///"), spark.sessionState.newHadoopConf())
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    def read(p: Path): String = {
      val in = fc.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val (src, dst) = (new Path(dir, "src"), new Path(dir, "dst"))
    write(src, "new")
    write(dst, "old")
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(read(src) == "new" && read(dst) == "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src) && read(dst) == "new")
    val files = new java.io.File(dir.toUri.getPath).list().toSet
    assert(files == Set("dst", ".dst.crc"), files)
    // a plain rename to a free name moves the sidecar too
    fc.rename(dst, src)
    assert(new java.io.File(dir.toUri.getPath).list().toSet == Set("src", ".src.crc"))
    assert(read(src) == "new")
  }

  test("getFileLinkStatus matches stock Hadoop: a qualified path is never read as a link, a bare one is") {
    val dir = tmpDir("graft-localfs-links")
    Files.write(Paths.get(dir, "target"), "12345".getBytes("UTF-8"))
    Files.createSymbolicLink(Paths.get(dir, "link"), Paths.get(dir, "target"))
    Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get(dir, "missing"))
    val ours = FileSystem.getLocal(hadoopConf).getRaw
    val stock = stockRaw
    def fields(st: FileStatus) = (st.getPath, st.isSymlink, st.isDirectory, st.getLen,
      if (st.isSymlink) Some(st.getSymlink) else None)
    val qualified = (n: String) => new Path(s"file:$dir/$n")
    val bare = (n: String) => new Path(s"$dir/$n")
    for (path <- Seq(qualified, bare); n <- Seq("target", "link")) {
      val st = ours.getFileLinkStatus(path(n))
      assert(fields(st) == fields(stock.getFileLinkStatus(path(n))), path(n))
    }
    // Hadoop runs `readlink` on the path's string, a `file:` URI for a
    // qualified path, so it falls through to the link's target status
    assert(!ours.getFileLinkStatus(qualified("link")).isSymlink)
    assert(ours.getFileLinkStatus(qualified("link")).getLen == 5)
    assert(ours.getFileLinkStatus(bare("link")).isSymlink)
    assert(ours.getFileLinkStatus(bare("link")).getSymlink == new Path(s"file:$dir/target"))
    // a dangling link: a link status for a bare path, not found for a qualified one
    assert(fields(ours.getFileLinkStatus(bare("dangling"))) ==
      fields(stock.getFileLinkStatus(bare("dangling"))))
    intercept[java.io.FileNotFoundException](ours.getFileLinkStatus(qualified("dangling")))
    intercept[java.io.FileNotFoundException](stock.getFileLinkStatus(qualified("dangling")))
  }
}
