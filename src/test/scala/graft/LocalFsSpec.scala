package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FsConstants, Options, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.io.LocalFs]] against Hadoop's stock `file:` AbstractFileSystem
  * (`org.apache.hadoop.fs.local.LocalFs`), both through `FileContext` as
  * the streaming checkpoint writes them: the same modes on disk, the same
  * link status, the same missing-path error, the same checksum files. */
class LocalFsSpec extends AnyFunSuite {

  private val impls = Seq(
    "stock" -> "org.apache.hadoop.fs.local.LocalFs",
    "graft" -> classOf[graft.io.LocalFs].getName)

  private def context(impl: String, umask: String): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", impl)
    conf.set("fs.permissions.umask-mode", umask)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
  }

  private def withDir[T](f: JPath => T): T = {
    val d = Files.createTempDirectory("localfs_spec_")
    try f(d) finally graft.io.Scratch.delete(d)
  }

  private def hpath(p: JPath): Path = new Path(p.toUri)

  private def write(c: FileContext, p: JPath, bytes: Array[Byte], opts: CreateOpts*): Unit = {
    val out = c.create(hpath(p), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE), opts: _*)
    try out.write(bytes) finally out.close()
  }

  /** Every entry under `root` with its mode, e.g. `a/.f.crc -> rw-r--r--`. */
  private def modes(root: JPath): Seq[(String, String)] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))
    }.toSeq.sorted

  for ((umask, dirMode) <- Seq("022" -> "rwxr-xr-x", "077" -> "rwx------")) {
    test(s"create and mkdir set stock permissions under umask $umask") {
      withDir { d =>
        val Seq(stock, ours) = impls.map { case (name, impl) =>
          val root = Files.createDirectory(d.resolve(name))
          val c = context(impl, umask)
          c.mkdir(hpath(root.resolve("a/b")), FsPermission.getDirDefault, true)
          write(c, root.resolve("a/b/f"), Array[Byte](1, 2, 3))
          write(c, root.resolve("c/g"), Array[Byte](4), CreateOpts.createParent(),
            CreateOpts.perms(new FsPermission("640")))
          modes(root)
        }
        assert(ours === stock)
        assert(stock.map(_._1) === Seq("a", "a/b", "a/b/.f.crc", "a/b/f", "c", "c/.g.crc", "c/g"))
        assert(stock.toMap.apply("a") === dirMode)
      }
    }

    test(s"getFileLinkStatus agrees with stock under umask $umask; a missing path throws") {
      withDir { d =>
        val file = Files.write(d.resolve("f"), Array[Byte](1))
        val dir = Files.createDirectory(d.resolve("sub"))
        val link = Files.createSymbolicLink(d.resolve("link"), file)
        val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("nowhere"))
        val Seq(stock, ours) = impls.map { case (_, impl) => context(impl, umask) }
        for (p <- Seq(file, dir, link))
          assert(ours.getFileLinkStatus(hpath(p)).toString ===
            stock.getFileLinkStatus(hpath(p)).toString, p.getFileName)
        for (c <- Seq(stock, ours); p <- Seq(d.resolve("missing"), dangling))
          intercept[FileNotFoundException](c.getFileLinkStatus(hpath(p)))
      }
    }

    test(s"rename with OVERWRITE moves the checksum file under umask $umask") {
      withDir { d =>
        val Seq(stock, ours) = impls.map { case (name, impl) =>
          val root = Files.createDirectory(d.resolve(name))
          val c = context(impl, umask)
          write(c, root.resolve("src"), Array[Byte](1, 2, 3))
          write(c, root.resolve("dst"), Array[Byte](9))
          c.rename(hpath(root.resolve("src")), hpath(root.resolve("dst")), Options.Rename.OVERWRITE)
          // the read checks dst against the checksum file that came with it
          val in = c.open(hpath(root.resolve("dst")))
          try assert(in.readAllBytes().toSeq === Seq[Byte](1, 2, 3)) finally in.close()
          (modes(root), Files.readAllBytes(root.resolve(".dst.crc")).toSeq)
        }
        assert(ours === stock)
        assert(stock._1.map(_._1) === Seq(".dst.crc", "dst"))
      }
    }
  }
}
