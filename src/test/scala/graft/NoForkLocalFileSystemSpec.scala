package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local filesystem must apply the same mode bits as Hadoop's
  * `RawLocalFileSystem`, special bits included. */
class NoForkLocalFileSystemSpec extends AnyFunSuite {

  private def withFs(body: (NoForkRawLocalFileSystem, java.nio.file.Path) => Unit): Unit = {
    val dir = Files.createTempDirectory("nofork")
    val fs = new NoForkRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    try body(fs, dir)
    finally {
      Files.setPosixFilePermissions(dir,
        java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
      Files.delete(dir)
      fs.close()
    }
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue & 0xFFF

  test("setPermission keeps the sticky bit") {
    withFs { (fs, dir) =>
      fs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
      assert(mode(dir) == Integer.parseInt("1777", 8), f"mode ${mode(dir)}%o")
    }
  }

  test("setPermission applies plain rwx bits") {
    withFs { (fs, dir) =>
      fs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("750", 8).toShort))
      assert(mode(dir) == Integer.parseInt("750", 8), f"mode ${mode(dir)}%o")
    }
  }
}
