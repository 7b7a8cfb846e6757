package graft.sds

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, FileUtil, Path, RawLocalFileSystem}

/** Local filesystem whose `rename` is deliberately NON-atomic: a full
  * copy followed by a delete of the source — the way S3A emulates
  * rename over an object store that has none. Registered under the
  * `nonatomic://` scheme via `fs.nonatomic.impl`.
  *
  * Purpose: prove the Scd2Store commit protocol's crash matrix does not
  * depend on rename atomicity. The store's own protocol performs no
  * renames: every table and the blocks log become visible only through
  * a create-exclusive `ManifestLog` publish. The renames that remain are
  * Hadoop's committer renaming task output inside directories no
  * manifest references yet, where non-atomicity is harmless. Running the crash-injection tests over this scheme
  * exercises exactly that claim.
  */
class NonAtomicRenameFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "nonatomic"
  override def getUri: URI = URI.create("nonatomic:///")

  // RawLocalFileSystem's statuses load permissions LAZILY via
  // `new java.io.File(status.getPath.toUri)`, which rejects any scheme
  // but file: — rebuild each status with defaults loaded eagerly
  private def eager(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      null, null, null, st.getPath)

  override def getFileStatus(f: Path): FileStatus = eager(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(eager)

  override def rename(src: Path, dst: Path): Boolean = {
    if (!exists(src)) return false
    // FileSystem rename contract: an existing directory dst means
    // "move src INTO dst"
    val target =
      if (exists(dst) && getFileStatus(dst).isDirectory) new Path(dst, src.getName)
      else dst
    if (exists(target)) return false
    // copy fully materializes target while src still exists — an
    // observer (or a crash) between the two steps sees BOTH paths
    FileUtil.copy(this, src, this, target, false, getConf)
    delete(src, true)
    true
  }
}
