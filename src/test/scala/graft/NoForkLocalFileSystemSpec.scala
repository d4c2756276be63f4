package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

class NoForkLocalFileSystemSpec extends AnyFunSuite {

  test("a sticky-bit request is applied, not masked to its 0777 bits") {
    val dir = Files.createTempDirectory("noforkperm")
    val fs = new NoForkLocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    def octal(s: String) = Integer.parseInt(s, 8)
    def mode = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & octal("7777")
    try {
      fs.setPermission(new Path(dir.toUri), new FsPermission(octal("1777").toShort))
      assert(mode == octal("1777"), f"mode after a 01777 request: 0$mode%o")
      // plain bits still take the in-process path
      fs.setPermission(new Path(dir.toUri), new FsPermission(octal("755").toShort))
      assert(mode == octal("755"), f"mode after a 0755 request: 0$mode%o")
    } finally fs.close()
  }
}
