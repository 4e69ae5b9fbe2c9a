package graft.fs

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` scheme without fork/exec syscalls (guide §6: I/O and file
  * layout — per-file open/create overhead).
  *
  * Hadoop ships no JNI native library on this image, so permission
  * work on the local filesystem falls back to shelling out:
  * `RawLocalFileSystem.setPermission` forks a `chmod` process once
  * per created file or directory (measured ~8.5 ms per fork on this
  * host, vs ~0.1 ms for the data write itself), and the default
  * `LocalFileSystem` additionally wraps every file in a `.crc`
  * sidecar — doubling both the file count and the forks. Every
  * parquet task write, every commit-protocol temp dir, and every
  * structured-streaming checkpoint file (offsets / commits / state
  * deltas — dozens per micro-batch) pays that price.
  *
  * On a single-user local store the POSIX permission bits carry no
  * information (nothing ever reads them back), so this subclass makes
  * `setPermission` a no-op: creates and mkdirs stop forking, while
  * data bytes, rename/commit atomicity, and directory semantics are
  * untouched. Registered via `fs.file.impl` (the FileSystem API) and
  * `fs.AbstractFileSystem.file.impl` (the FileContext API, which the
  * streaming checkpoint manager uses). Object-store and HDFS schemes
  * never load this class, so production deployments are unaffected;
  * the configs are set only by this repo's local-mode entry points.
  *
  * Visibility change: without the checksum layer, `listStatus` no
  * longer hides `.crc` sidecars, so a directory written earlier by a
  * stock `LocalFileSystem` lists its `.name.crc` files too.
  * `TableStore`'s recursive `file:` listing skips them; any other
  * unfiltered listing of such a directory sees them. */
class FastRawLocalFileSystem extends RawLocalFileSystem {
  // RawLocalFileSystem inherits FileSystem.getScheme's throwing default
  // (only the ChecksumFileSystem wrapper overrides it upstream)
  override def getScheme: String = "file"
  override def setPermission(p: Path, permission: FsPermission): Unit = ()
}

/** FileContext face of [[FastRawLocalFileSystem]] for
  * `fs.AbstractFileSystem.file.impl` (structured streaming's
  * checkpoint writes resolve through AbstractFileSystem, not
  * FileSystem). Replacing the default checksum layer also halves the
  * checkpoint file count; checkpoint crash-consistency rests on the
  * rename protocol, not on `.crc` sidecars. */
class FastLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(
    uri, new FastRawLocalFileSystem, conf, "file", false)
