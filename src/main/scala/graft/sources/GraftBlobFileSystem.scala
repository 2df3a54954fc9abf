package graft.sources

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** An object-store-style Hadoop FileSystem with its own URI scheme
  * (`graftblob://`), backed by the local FS — the proof-of-seam for
  * SURVEY §7's stance that storage is a CONNECTOR detail, not engine
  * semantics: register the scheme and point [[AtomicWarehouse]] at a
  * `graftblob:` root, and the entire engine (EP1 pipeline, merge layer,
  * ledger, dedup stream) runs against the new scheme with zero changes in
  * `operators/` (ConnectorSpec proves it). A production deployment swaps in
  * `abfs://`/`s3a://` against the reference's Azure Blob storage
  * (core/storage.py:23-110) exactly the same way: a Hadoop FS
  * implementation + one configuration key, no engine code.
  */
class GraftBlobFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftblob"
  override def getUri: URI = URI.create("graftblob:///")

  // object stores report no POSIX owner/permission; the local parent's
  // statuses load them lazily through a `file:`-only code path, which
  // throws on this scheme as soon as a recursive listing (`listFiles`)
  // asks — so statuses leave here as plain ones with default permissions
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))

  private def plain(s: FileStatus): FileStatus = new FileStatus(s.getLen, s.isDirectory,
    s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
}

object GraftBlobFileSystem {
  /** Register the scheme on the session's Hadoop configuration. */
  def install(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftblob.impl", classOf[GraftBlobFileSystem].getName)
}
