package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileSystems, Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag,
  FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` file system against Hadoop's own: the two
  * overridden calls give the parent's answers, the wrappers keep the
  * `.crc` sidecars and FileContext's overwrite-rename, and a harness
  * session resolves `file:` to these classes.
  */
class LocalFileSystemSpec extends SparkSpec {

  private def fileSystem(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val graftFs = fileSystem(new GraftRawLocalFileSystem)
  private lazy val hadoopFs = fileSystem(new RawLocalFileSystem)

  private def withDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_localfs_spec")
    try body(dir)
    finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def perm(mode: Int) = new FsPermission(mode.toShort)
  /** The full mode bits, sticky bit included, as `stat -c %a` shows them. */
  private def modeOf(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & octal("7777")
  private def reset(p: JPath): Unit =
    Files.setPosixFilePermissions(p, GraftRawLocalFileSystem.posix(0))

  test("setPermission, create and mkdirs set the bits Hadoop's chmod sets") {
    withDir { dir =>
      for (m <- Seq("600", "644", "755", "000", "777", "421", "750")) {
        val mode = octal(m)
        withClue(s"mode $m: ") {
          val f = Files.createFile(dir.resolve(s"set_$m"))
          val p = new Path(f.toString)
          hadoopFs.setPermission(p, perm(mode))
          val parent = modeOf(f)
          reset(f)
          graftFs.setPermission(p, perm(mode))
          modeOf(f) shouldBe parent
          parent shouldBe mode

          def created(fs: RawLocalFileSystem, name: String): Int = {
            val c = dir.resolve(name)
            fs.create(new Path(c.toString), perm(mode), false, 4096, 1.toShort,
              1L << 20, null).close()
            modeOf(c)
          }
          created(graftFs, s"graft_$m") shouldBe created(hadoopFs, s"hadoop_$m")

          def made(fs: RawLocalFileSystem, name: String): Int = {
            val d = dir.resolve(name)
            fs.mkdirs(new Path(d.toString), perm(mode)) shouldBe true
            try modeOf(d) finally Files.setPosixFilePermissions(d,
              GraftRawLocalFileSystem.posix(octal("700")))
          }
          made(graftFs, s"graft_dir_$m") shouldBe made(hadoopFs, s"hadoop_dir_$m")
        }
      }
    }
  }

  test("a sticky-bit mode and a file system without POSIX modes fall back to the parent") {
    withDir { dir =>
      val sticky = octal("1777")
      val d = Files.createDirectory(dir.resolve("sticky"))
      hadoopFs.setPermission(new Path(d.toString), perm(sticky))
      val parent = modeOf(d)
      reset(d)
      graftFs.setPermission(new Path(d.toString), perm(sticky))
      modeOf(d) shouldBe parent
      parent shouldBe sticky

      // java.nio sees the file through a zip file system, which has no
      // POSIX view and throws UnsupportedOperationException; the
      // parent's chmod still reaches the real file
      val zip = FileSystems.newFileSystem(dir.resolve("view.zip"),
        java.util.Map.of("create", "true"))
      try {
        val viaZip = fileSystem(new GraftRawLocalFileSystem {
          override def pathToFile(p: Path): File = {
            val real = super.pathToFile(p)
            new File(real.getPath) {
              override def toPath: JPath = zip.getPath("/" + real.getName)
            }
          }
        })
        val f = Files.createFile(dir.resolve("plain"))
        an[UnsupportedOperationException] should be thrownBy
          Files.setPosixFilePermissions(viaZip.pathToFile(new Path(f.toString)).toPath,
            GraftRawLocalFileSystem.posix(octal("640")))
        reset(f)
        viaZip.setPermission(new Path(f.toString), perm(octal("640")))
        modeOf(f) shouldBe octal("640")
      } finally zip.close()
    }
  }

  test("getFileLinkStatus matches the parent on a file, a symlink and a missing path") {
    withDir { dir =>
      val target = Files.write(dir.resolve("target"), "abc".getBytes(UTF_8))
      val link = Files.createSymbolicLink(dir.resolve("link"), target)
      for (fs <- Seq(hadoopFs, graftFs)) withClue(s"${fs.getClass.getSimpleName}: ") {
        val s = fs.getFileLinkStatus(new Path(link.toString))
        s.isSymlink shouldBe true
        s.getSymlink shouldBe hadoopFs.getFileLinkStatus(new Path(link.toString)).getSymlink
      }
      for (p <- Seq(new Path(target.toString), new Path(target.toUri))) {
        val (g, h) = (graftFs.getFileLinkStatus(p), hadoopFs.getFileLinkStatus(p))
        g.isSymlink shouldBe false
        (g.getPath, g.getLen, g.isFile, g.getPermission, g.getOwner, g.getGroup,
          g.getModificationTime) shouldBe
          (h.getPath, h.getLen, h.isFile, h.getPermission, h.getOwner, h.getGroup,
            h.getModificationTime)
      }
      val missing = new Path(dir.resolve("missing").toString)
      a[FileNotFoundException] should be thrownBy hadoopFs.getFileLinkStatus(missing)
      a[FileNotFoundException] should be thrownBy graftFs.getFileLinkStatus(missing)
    }
  }

  test("a FileContext rename with OVERWRITE replaces the destination and keeps its checksum") {
    withDir { dir =>
      val conf = new Configuration()
      conf.set("fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      def write(name: String, text: String): Path = {
        val p = new Path(dir.toUri.toString, name)
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(text.getBytes(UTF_8)) finally out.close()
        p
      }
      def read(p: Path): String = {
        val in = fc.open(p)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      val src = write("src", "new state")
      val dst = write("dst", "old state")
      val srcCrc = Files.readAllBytes(dir.resolve(".src.crc"))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      read(dst) shouldBe "new state"
      Files.exists(dir.resolve("src")) shouldBe false
      Files.exists(dir.resolve(".src.crc")) shouldBe false
      Files.readAllBytes(dir.resolve(".dst.crc")) shouldBe srcCrc
      // the FileSystem API verifies against the sidecar (FileContext's
      // open reads the raw file): a flipped byte fails the read
      val fs = new GraftLocalFileSystem
      fs.initialize(URI.create("file:///"), conf)
      def readFs(): String = {
        val in = fs.open(dst)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      readFs() shouldBe "new state"
      Files.write(dir.resolve("dst"), "new stat!".getBytes(UTF_8))
      a[ChecksumException] should be thrownBy readFs()
    }
  }

  test("a localSession resolves file: to the graft classes for FileSystem and FileContext") {
    val shared = spark
    val keys = GraftConf.localConfigs(2).keys.toSeq
    val prior = keys.map(k => k -> shared.conf.getOption(k))
    val s = GraftConf.localSession(2)
    try {
      val conf = s.sparkContext.hadoopConfiguration
      val fs = FileSystem.get(URI.create("file:///"), conf)
      fs shouldBe a[GraftLocalFileSystem]
      fs.asInstanceOf[LocalFileSystem].getRaw shouldBe a[GraftRawLocalFileSystem]
      FileSystem.getLocal(conf) shouldBe a[GraftLocalFileSystem]
      FileContext.getFileContext(URI.create("file:///"), conf)
        .getDefaultFileSystem shouldBe a[GraftLocalFs]
      AbstractFileSystem.get(URI.create("file:///"), conf) shouldBe a[GraftLocalFs]
    } finally prior.foreach { case (k, v) =>
      // the suite's session is shared: put back what localSession changed
      if (s.conf.getOption(k) != v) v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }
}
