package graft.sinks

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] against Hadoop's own local file system: the same mode
  * bits on disk, the same `.crc` sidecars.
  */
class LocalFsSpec extends AnyFunSuite {

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init[F <: FileSystem](fs: F, c: Configuration): F = {
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  /** Permission bits, sticky bit included. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)

  /** Mode bits left by creating a file, a nested directory and explicit
    * `setPermission` calls under `root`, keyed by what made them.
    */
  private def modesLeftBy(fs: FileSystem, root: JPath, perms: Seq[String]): Seq[(String, Int)] = {
    val base = new Path(root.toUri)
    val out = fs.create(new Path(base, "created.bin"))
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(fs.mkdirs(new Path(base, "outer/inner")))
    Seq("created.bin" -> mode(root.resolve("created.bin")),
      "outer" -> mode(root.resolve("outer")),
      "outer/inner" -> mode(root.resolve("outer/inner"))) ++
      perms.flatMap { perm =>
        val file = new Path(base, s"file_$perm")
        fs.create(file).close()
        fs.setPermission(file, new FsPermission(perm))
        val dir = new Path(base, s"dir_$perm")
        fs.mkdirs(dir)
        fs.setPermission(dir, new FsPermission(perm))
        Seq(s"file $perm" -> mode(root.resolve(s"file_$perm")),
          s"dir $perm" -> mode(root.resolve(s"dir_$perm")))
      }
  }

  test("differential: create, mkdirs and setPermission leave Hadoop's mode bits") {
    val perms = Seq("600", "644", "700", "755")
    val byUmask = Seq("022", "027", "077").map { umask =>
      val c = conf(umask)
      val nio = modesLeftBy(init(new LocalFs.NioRaw, c),
        Files.createTempDirectory(s"nio_$umask"), perms)
      val hadoop = modesLeftBy(init(new RawLocalFileSystem, c),
        Files.createTempDirectory(s"hadoop_$umask"), perms)
      assert(nio == hadoop, s"umask $umask")
      nio.toMap
    }
    // the umask reaches the created modes: 0644, 0640, 0600
    assert(byUmask.map(_("created.bin")) == Seq("644", "640", "600").map(Integer.parseInt(_, 8)))
    assert(byUmask.forall(_("file 755") == Integer.parseInt("755", 8)))
  }

  test("a sticky mode falls back to Hadoop's own setPermission") {
    val c = conf("022")
    Seq(new LocalFs.NioRaw, new RawLocalFileSystem).foreach { raw =>
      val fs = init(raw, c)
      val dir = Files.createTempDirectory("sticky")
      fs.setPermission(new Path(dir.toUri), new FsPermission("1777"))
      assert(mode(dir) == Integer.parseInt("1777", 8), raw.getClass.getName)
    }
  }

  test("LocalFs writes the .crc sidecar; the default LocalFileSystem verifies it") {
    val fs = init(new LocalFs, conf("022"))
    val dir = Files.createTempDirectory("crc")
    val file = new Path(dir.toUri.toString, "data.bin")
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val out = fs.create(file)
    try out.write(bytes) finally out.close()
    assert(Files.exists(dir.resolve(".data.bin.crc")))

    val default = init(new LocalFileSystem, conf("022"))
    def readBack(): Array[Byte] = {
      val in = default.open(file)
      try in.readAllBytes() finally in.close()
    }
    assert(readBack().sameElements(bytes))
    // flip one data byte behind the checksum's back: the read must fail
    val raw = dir.resolve("data.bin")
    val changed = Files.readAllBytes(raw)
    changed(100) = (changed(100) ^ 0xff).toByte
    Files.write(raw, changed)
    intercept[ChecksumException](readBack())
  }
}
