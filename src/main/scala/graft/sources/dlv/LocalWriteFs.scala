package graft.sources.dlv

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of every dlv-owned write: data files and
  * CDC blobs ([[DlvTable.writeInPlace]]), checkpoints, vector and
  * clone sidecars ([[LocalWriteFs.writerOptions]]) and [[HadoopIo]]'s
  * control files. It differs from Hadoop's default local FS in two
  * ways:
  *   - it is the raw FS, so no `.<name>.crc` sibling is written (a
  *     read of a file without one skips verification);
  *   - `setPermission` sets the mode through `java.nio`. Without the
  *     native Hadoop library the stock raw FS forks a `chmod` process
  *     for every file it creates and every directory it makes.
  *
  * Hadoop applies the umask before it calls `setPermission`, so files
  * and directories get the modes the stock local FS gives them. */
final class LocalWriteFs extends RawLocalFileSystem {
  // the raw FS leaves the scheme to its checksummed wrapper
  override def getScheme: String = "file"

  override def setPermission(p: Path, perm: FsPermission): Unit =
    // java.nio cannot set the sticky bit; no create or mkdirs asks
    // for it, but an explicit caller still gets it
    if (perm.getStickyBit) super.setPermission(p, perm)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(perm.getUserAction.SYMBOL +
        perm.getGroupAction.SYMBOL + perm.getOtherAction.SYMBOL))
}

private[dlv] object LocalWriteFs {
  /** The Hadoop conf entries that route `file:` to [[LocalWriteFs]],
    * uncached: the FileSystem cache keys by scheme, not by class, so
    * once any `file:` FS is cached a pinned `fs.file.impl` alone is
    * ignored. Passed as the options of every dlv `DataFrameWriter`
    * write (Spark copies writer options into the job's Hadoop conf). */
  val writerOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalWriteFs].getName,
    "fs.file.impl.disable.cache" -> "true")
}
