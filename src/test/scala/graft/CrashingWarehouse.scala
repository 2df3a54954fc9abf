package graft

import graft.sources.{AtomicWarehouse, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Crash injection for the transactional contract. While `failOn` names a
  * table, every transaction body receives a forwarding view of its
  * transaction that throws on any write to that table — so the crash lands
  * mid-transaction, after the writes staged before it. Single-table writes
  * (`append`, `replace`, ...) are one-write transactions and crash the same
  * way.
  */
class CrashingWarehouse(spark: SparkSession, root: String)
    extends AtomicWarehouse(spark, root) {

  @volatile var failOn: Option[String] = None

  override def atomically(fn: Warehouse => Unit): Unit =
    if (failOn.isEmpty) super.atomically(fn)
    else super.atomically(tx => fn(new FailingView(tx)))

  private class FailingView(w: Warehouse) extends Warehouse(w.spark, w.root) {
    private def write[T](table: String)(op: => T): T =
      if (failOn.contains(table))
        throw new java.io.IOException(s"injected crash writing $table")
      else op

    override def exists(t: String): Boolean = w.exists(t)
    override def sizeBytes(t: String): Long = w.sizeBytes(t)
    override def inferSchema(t: String): Option[StructType] = w.inferSchema(t)
    override def read(t: String, s: StructType): DataFrame = w.read(t, s)
    override def append(t: String, df: DataFrame): Unit = write(t)(w.append(t, df))
    override def appendPartitioned(t: String, df: DataFrame, cols: Seq[String]): Unit =
      write(t)(w.appendPartitioned(t, df, cols))
    override def replace(t: String, df: DataFrame): Unit = write(t)(w.replace(t, df))
    override def delete(t: String): Unit = write(t)(w.delete(t))
    override def compactWith(t: String, s: StructType, f: DataFrame => DataFrame): Unit =
      write(t)(w.compactWith(t, s, f))
    override def atomically(fn: Warehouse => Unit): Unit = fn(this)
  }
}
