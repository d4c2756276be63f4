package graft

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` filesystem whose permission ops never fork a child process.
  *
  * Stock Hadoop `RawLocalFileSystem.setPermission` (and the mkdir/create
  * paths that call it) shells out to `chmod` unless libhadoop native IO
  * is loaded — one `fork(2)` of the whole JVM per directory/file
  * created. In a long suite or a many-small-writes maintenance job this
  * both costs wall time and, deep into a large-heap run, starts FAILING:
  * the r18 driver verification died with `Shell.execCommand →
  * RawLocalFileSystem.setPermission` unable to fork while creating a
  * `.spark-staging-*` dir ~36k stages into `sbt test` (VERDICT r18
  * item 1). Overriding `setPermission` with the in-process NIO call
  * removes every such fork — same permissions applied, nothing left to
  * fail under memory/PID pressure.
  *
  * Registered via `spark.hadoop.fs.file.impl` by [[GraftSession]], for
  * every entrypoint and the test session. Local-scheme only by construction: a
  * production deployment on HDFS/object stores never routes through
  * this class, so the 100 TB posture is untouched.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    // NIO's POSIX view cannot express the setuid/setgid/sticky bits, so a
    // request carrying any of them takes the stock (forking) path
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else try {
      val perms = java.util.EnumSet.noneOf(
        classOf[java.nio.file.attribute.PosixFilePermission])
      import java.nio.file.attribute.PosixFilePermission._
      val m: Int = permission.toShort
      if ((m & 0x100) != 0) perms.add(OWNER_READ)
      if ((m & 0x080) != 0) perms.add(OWNER_WRITE)
      if ((m & 0x040) != 0) perms.add(OWNER_EXECUTE)
      if ((m & 0x020) != 0) perms.add(GROUP_READ)
      if ((m & 0x010) != 0) perms.add(GROUP_WRITE)
      if ((m & 0x008) != 0) perms.add(GROUP_EXECUTE)
      if ((m & 0x004) != 0) perms.add(OTHERS_READ)
      if ((m & 0x002) != 0) perms.add(OTHERS_WRITE)
      if ((m & 0x001) != 0) perms.add(OTHERS_EXECUTE)
      java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    } catch {
      // non-POSIX store: the stock fork path still works, it is just slow
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
}

/** Checksummed wrapper, the drop-in `fs.file.impl` replacement for
  * Hadoop's default `LocalFileSystem` (must have a no-arg constructor —
  * Hadoop instantiates it reflectively). */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)
