package graft.io

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FsConstants, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** [[LocalFs]] behaves exactly like Hadoop's `org.apache.hadoop.fs.local.LocalFs`
  * on everything a streaming checkpoint touches: each scenario runs on both
  * filesystems in a fresh temp dir and the observed records must be equal. */
class LocalFsSpec extends SparkSpec {

  /** Run `scenario` in a fresh temp dir through the `FileContext` that the
    * `file:` implementation `impl` resolves to; return what it saw, with
    * the temp dir's path replaced by `$d` so both runs compare. */
  private def observe(impl: String)(
      scenario: (FileContext, Path) => Seq[String]): Seq[String] = {
    val c = new Configuration()
    c.set(LocalFs.ImplKey, impl)
    val fc = FileContext.getFileContext(FsConstants.LOCAL_FS_URI, c)
    assert(fc.getDefaultFileSystem.getClass.getName == impl)
    val dir = Files.createTempDirectory("graft-localfs")
    try {
      val root = new Path(dir.toUri)
      scenario(fc, root).map(_.replace(root.toString, "$d").replace(dir.toString, "$d"))
    } finally FileUtils.deleteQuietly(dir.toFile)
  }

  private def parity(scenario: (FileContext, Path) => Seq[String]): Seq[String] = {
    val stock = observe(classOf[org.apache.hadoop.fs.local.LocalFs].getName)(scenario)
    val graft = observe(classOf[LocalFs].getName)(scenario)
    assert(graft == stock)
    graft
  }

  /** Full mode bits (sticky included) as octal, read outside Hadoop. */
  private def mode(p: Path): String =
    Integer.toOctalString(
      Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff)

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def listing(p: Path): Seq[String] =
    Option(new java.io.File(p.toUri).list()).map(_.toSeq.sorted).getOrElse(Nil)

  test("create and mkdir leave the same POSIX permissions under the default umask") {
    val seen = parity { (fc, d) =>
      val f = new Path(d, "f")
      write(fc, f, "x")
      val sub = new Path(d, "sub")
      fc.mkdir(sub, FsPermission.getDirDefault, false)
      val nested = new Path(d, "a/b")
      fc.mkdir(nested, FsPermission.getDirDefault, true)
      Seq(s"f ${mode(f)}", s".f.crc ${mode(new Path(d, ".f.crc"))}",
        s"sub ${mode(sub)}", s"a ${mode(new Path(d, "a"))}", s"a/b ${mode(nested)}")
    }
    assert(seen.head == "f 644", seen) // the scenario really ran under umask 022
  }

  test("setPermission: a sticky-bit mode takes Hadoop's own path, a plain mode java.nio, same results") {
    val seen = parity { (fc, d) =>
      val sub = new Path(d, "shared")
      fc.mkdir(sub, FsPermission.getDirDefault, false)
      fc.setPermission(sub, new FsPermission(Integer.parseInt("1777", 8).toShort))
      val f = new Path(d, "g")
      write(fc, f, "y")
      // user, group and other all differ, so a mixed-up class shows
      fc.setPermission(f, new FsPermission(Integer.parseInt("640", 8).toShort))
      Seq(s"shared ${mode(sub)}", s"g ${mode(f)}")
    }
    assert(seen == Seq("shared 1777", "g 640"))
  }

  test("rename with OVERWRITE moves the file and its .crc") {
    val seen = parity { (fc, d) =>
      write(fc, new Path(d, "src"), "new")
      write(fc, new Path(d, "dst"), "old")
      fc.rename(new Path(d, "src"), new Path(d, "dst"), Options.Rename.OVERWRITE)
      val in = fc.open(new Path(d, "dst"))
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      listing(d) :+ text
    }
    assert(seen == Seq(".dst.crc", "dst", "new"))
  }

  test("getFileLinkStatus on a file, a directory, a missing path and a symlink") {
    val seen = parity { (fc, d) =>
      val f = new Path(d, "f")
      write(fc, f, "abc")
      val sub = new Path(d, "sub")
      fc.mkdir(sub, FsPermission.getDirDefault, false)
      val link = new Path(d, "link")
      Files.createSymbolicLink(Paths.get(link.toUri), Paths.get(f.toUri))
      def status(p: Path): String =
        try {
          val st = fc.getFileLinkStatus(p)
          Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink,
            if (st.isSymlink) st.getSymlink else "-", if (st.isFile) st.getLen else -1)
            .mkString(" ")
        } catch { case e: FileNotFoundException => e.getClass.getSimpleName }
      Seq(f, sub, new Path(d, "missing"), link).map(status)
    }
    assert(seen(2) == "FileNotFoundException")
    assert(seen.head.endsWith(" true false false - 3"), seen)
  }

  test("install sets graft's filesystem once, and a user's value wins") {
    val fresh = spark.newSession()
    LocalFs.install(fresh)
    LocalFs.install(fresh)
    assert(fresh.conf.get(LocalFs.ImplKey) == classOf[LocalFs].getName)

    val stock = classOf[org.apache.hadoop.fs.local.LocalFs].getName
    val userSet = spark.newSession()
    userSet.conf.set(LocalFs.ImplKey, stock)
    LocalFs.install(userSet)
    assert(userSet.conf.get(LocalFs.ImplKey) == stock)

    val hadoopConf = new Configuration()
    assert(!LocalFs.userConfigured(hadoopConf)) // only core-default.xml names it
    hadoopConf.set(LocalFs.ImplKey, stock)
    assert(LocalFs.userConfigured(hadoopConf))
  }
}
