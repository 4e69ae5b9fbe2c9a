package graft.fs

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
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
  * untouched. Registered, through [[FastLocalFileSystem]], via
  * `fs.file.impl` (the FileSystem API) and
  * `fs.AbstractFileSystem.file.impl` (the FileContext API, which the
  * streaming checkpoint manager uses). Object-store and HDFS schemes
  * never load this class, so production deployments are unaffected;
  * the configs are set only by this repo's local-mode entry points. */
class FastRawLocalFileSystem extends RawLocalFileSystem {
  // RawLocalFileSystem inherits FileSystem.getScheme's throwing default
  // (only the ChecksumFileSystem wrapper overrides it upstream)
  override def getScheme: String = "file"
  override def setPermission(p: Path, permission: FsPermission): Unit = ()
}

/** The `fs.file.impl` class: a `LocalFileSystem` (so
  * `FileSystem.getLocal` and every `LocalFileSystem` cast keep working)
  * over [[FastRawLocalFileSystem]], with checksums neither written nor
  * verified — no `.crc` sidecar per file. Listings still hide `.crc`
  * names, as the stock filesystem does. */
class FastLocalFileSystem extends LocalFileSystem(new FastRawLocalFileSystem) {
  setVerifyChecksum(false)
  setWriteChecksum(false)
}

/** FileContext face of [[FastLocalFileSystem]] for
  * `fs.AbstractFileSystem.file.impl` (structured streaming's
  * checkpoint writes resolve through AbstractFileSystem, not
  * FileSystem). Replacing the default checksum layer also halves the
  * checkpoint file count; checkpoint crash-consistency rests on the
  * rename protocol, not on `.crc` sidecars. */
class FastLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(
    uri, new FastLocalFileSystem, conf, "file", false)
