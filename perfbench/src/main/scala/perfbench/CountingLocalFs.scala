package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with its call counts kept in Hadoop's statistics
  * for the `file` scheme (the stock one counts bytes only): opens and
  * status probes are read ops, listings large read ops, and creates,
  * renames, deletes and mkdirs write ops. Installed for traced runs only.
  */
class CountingLocalFs extends LocalFileSystem {
  // the checksummed wrapper has no statistics object of its own
  @annotation.nowarn("cat=deprecation")
  private lazy val st = org.apache.hadoop.fs.FileSystem.getStatistics("file", classOf[CountingLocalFs])

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    st.incrementReadOps(1); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    st.incrementReadOps(1); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    st.incrementLargeReadOps(1); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    st.incrementWriteOps(1)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    st.incrementWriteOps(1); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    st.incrementWriteOps(1); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    st.incrementWriteOps(1); super.mkdirs(f, permission)
  }
}
