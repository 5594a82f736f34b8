package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import graft.functions.GraftExtensions
import graft.sources.{GraftLocalFileSystem, GraftLocalFs, LocalFs}
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** graft's fork-free local filesystem keeps Hadoop's semantics for the
  * calls it takes over (permissions, link status) and is what a graft
  * session resolves `file:` paths to, through both Hadoop APIs. */
class LocalFsSpec extends SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()
  private def fs: FileSystem = FileSystem.get(new URI("file:///"), conf)
  private def fc: FileContext = FileContext.getLocalFSFileContext(conf)

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def umasked(octal: String): String =
    new FsPermission(octal).applyUMask(FsPermission.getUMask(conf)).toString
  private def withDir[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the shared session resolves file: paths to graft's classes") {
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    assert(fc.getDefaultFileSystem.getClass == classOf[GraftLocalFs])
    // Spark's isLocal is an `instanceof LocalFs` check, so it turns false;
    // in spark-sql 4.1.2 only ChecksumCheckpointFileManager reads it
    withDir("graft_lfs_mgr") { dir =>
      assert(!CheckpointFileManager.create(new Path(dir.toUri), conf).isLocal)
    }
  }

  test("create and mkdirs set the umasked mode, through both APIs") {
    withDir("graft_lfs_perm") { dir =>
      fs.mkdirs(new Path(dir.resolve("a").toUri), new FsPermission("750"))
      assert(mode(dir.resolve("a")) == umasked("750"))
      fs.create(new Path(dir.resolve("a/f").toUri), new FsPermission("640"),
        true, 4096, 1.toShort, 1L << 25, null).close()
      assert(mode(dir.resolve("a/f")) == umasked("640"))
      // FileContext applies the umask itself: 0777 and 0666 come out umasked
      fc.mkdir(new Path(dir.resolve("b/c").toUri), new FsPermission("777"), true)
      assert(mode(dir.resolve("b/c")) == umasked("777"))
      fc.create(new Path(dir.resolve("b/c/g").toUri),
        java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(new FsPermission("666"))).close()
      assert(mode(dir.resolve("b/c/g")) == umasked("666"))
    }
  }

  test("link status matches Hadoop's; symlinks keep their target, missing paths throw") {
    // Hadoop's own classes, for the same calls
    val stockConf = new org.apache.hadoop.conf.Configuration(conf)
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val stockFs = new org.apache.hadoop.fs.LocalFileSystem()
    stockFs.initialize(new URI("file:///"), stockConf)
    val stockFc = FileContext.getLocalFSFileContext(stockConf)
    withDir("graft_lfs_link") { dir =>
      val target = Files.write(dir.resolve("t"), Array[Byte](1, 2, 3))
      val link = Files.createSymbolicLink(dir.resolve("l"), target)
      def seen(st: org.apache.hadoop.fs.FileStatus) =
        (st.isSymlink, if (st.isSymlink) st.getSymlink.toUri.getPath else "",
          st.isFile, st.getLen)
      // a bare path and a file: URI path, through both APIs
      for (p <- Seq(link, target); path <- Seq(new Path(p.toString), new Path(p.toUri))) {
        assert(seen(fs.getFileLinkStatus(path)) == seen(stockFs.getFileLinkStatus(path)), path)
        assert(seen(fc.getFileLinkStatus(path)) == seen(stockFc.getFileLinkStatus(path)), path)
      }
      assert(seen(fs.getFileLinkStatus(new Path(link.toString))) ==
        ((true, target.toString, false, 3L)))
      assert(seen(fs.getFileLinkStatus(new Path(target.toString))) ==
        ((false, "", true, 3L)))
      val missing = new Path(dir.resolve("missing").toUri)
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
    }
  }

  test("FileContext.rename with OVERWRITE replaces the destination") {
    withDir("graft_lfs_mv") { dir =>
      def write(name: String, text: String): Path = {
        val p = new Path(dir.resolve(name).toUri)
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE))
        try out.write(text.getBytes("UTF-8")) finally out.close()
        p
      }
      val src = write("src", "new")
      val dst = write("dst", "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!Files.exists(dir.resolve("src")))
      assert(new String(Files.readAllBytes(dir.resolve("dst")), "UTF-8") == "new")
      val in = fc.open(dst) // checksummed read: the .crc moved with the file
      try assert(new String(in.readAllBytes(), "UTF-8") == "new") finally in.close()
    }
  }

  test("apply sets the filesystem classes only when the properties are unset") {
    spark // the shared session is built before the properties are touched
    val keys = LocalFs.Confs.map(_._1)
    val saved = keys.map(k => k -> sys.props.get(k))
    try {
      keys.foreach(k => sys.props(k) = "x.Mine")
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(keys.forall(k => sys.props(k) == "x.Mine"))
      keys.foreach(k => sys.props -= k)
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(LocalFs.Confs.forall { case (k, v) => sys.props(k) == v })
    } finally saved.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None) => sys.props -= k
    }
  }
}
