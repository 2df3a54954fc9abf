package perfbench

import graft.sources.{AtomicWarehouse, DvDeleteResult, FilePred, MergeIntoResult, Warehouse}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The warehouse handed to the program: an [[AtomicWarehouse]] whose public
  * methods open a span per call, tagged with the table's first path segment
  * (`ledger`, `staging`, `dims`, `dedup`, `fts`, ...) and a category (read,
  * write, dml). `atomically` has no table; its spans carry the layer `tx`.
  * Writes inside a transaction go to the transaction's own view, so their
  * time is the `atomically` span's.
  */
class TracedWarehouse(spark: SparkSession, root: String, t: Tracer)
    extends AtomicWarehouse(spark, root) {

  private def rd[T](n: String, table: String)(b: => T): T = t.span(n, table, "read")(b)
  private def wr[T](n: String, table: String)(b: => T): T = t.span(n, table, "write")(b)
  private def dml[T](n: String, table: String)(b: => T): T = t.span(n, table, "dml")(b)

  override def exists(table: String): Boolean = rd("exists", table)(super.exists(table))
  override def sizeBytes(table: String): Long = rd("sizeBytes", table)(super.sizeBytes(table))
  override def read(table: String, schema: StructType): DataFrame =
    rd("read", table)(super.read(table, schema))
  override def versions(): Seq[Int] = rd("versions", "log")(super.versions())
  override def changesBetween(table: String, schema: StructType,
      fromVersion: Int, toVersion: Int): DataFrame =
    rd("changesBetween", table)(super.changesBetween(table, schema, fromVersion, toVersion))

  override def append(table: String, df: DataFrame): Unit =
    wr("append", table)(super.append(table, df))
  override def replace(table: String, df: DataFrame): Unit =
    wr("replace", table)(super.replace(table, df))
  override def delete(table: String): Unit = wr("delete", table)(super.delete(table))
  override def atomically(fn: Warehouse => Unit): Unit =
    wr("atomically", null)(super.atomically(fn))

  override def mergeInto(table: String, schema: StructType, source: DataFrame,
      keyCols: Seq[String], whenMatchedUpdate: Seq[(String, Column)],
      whenMatchedDelete: Option[Column], updateWhen: Option[Column],
      insertUnmatched: Boolean, insertWhen: Option[Column],
      insertAssign: Seq[(String, Column)], notMatchedBySourceUpdate: Seq[(String, Column)],
      nmbsUpdateWhen: Option[Column], notMatchedBySourceDelete: Option[Column],
      nmbsPrune: Seq[FilePred], alsoInTx: Warehouse => Unit): MergeIntoResult =
    dml("mergeInto", table)(super.mergeInto(table, schema, source, keyCols,
      whenMatchedUpdate, whenMatchedDelete, updateWhen, insertUnmatched, insertWhen,
      insertAssign, notMatchedBySourceUpdate, nmbsUpdateWhen, notMatchedBySourceDelete,
      nmbsPrune, alsoInTx))
  override def updateWhere(table: String, schema: StructType, preds: Seq[FilePred],
      sets: Seq[(String, Column)]): Long =
    dml("updateWhere", table)(super.updateWhere(table, schema, preds, sets))
  override def deleteWhere(table: String, schema: StructType, preds: Seq[FilePred]): Long =
    dml("deleteWhere", table)(super.deleteWhere(table, schema, preds))
  override def deleteWhereDvAll(targets: Seq[(String, StructType, Seq[FilePred])],
      maxDvPerFile: Int, alsoInTx: Warehouse => Unit): Seq[DvDeleteResult] =
    dml("deleteWhereDv", targets.headOption.map(_._1).orNull)(
      super.deleteWhereDvAll(targets, maxDvPerFile, alsoInTx))
}
