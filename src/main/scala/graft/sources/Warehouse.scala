package graft.sources

import java.util.concurrent.{ExecutionException, ExecutorService, Executors}

import scala.util.{Failure, Try}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** The table-write interface every operator takes: a warehouse of parquet
  * tables under `root`, standing in for the reference's SQL Server database
  * (SURVEY.md §7 design stance: storage specifics are connector details, not
  * engine semantics).
  *
  * There is ONE write contract and one implementation: [[AtomicWarehouse]].
  * Every write is staged and published by a manifest commit, so a group of
  * writes inside [[atomically]] becomes visible all at once or not at all —
  * the guarantee the reference gets from a SQL Server transaction around its
  * staging→merge→ledger batch. The other subclass is that warehouse's
  * in-transaction view, the `Warehouse` an `atomically` body receives (and
  * the shape test fakes forward through). A crash anywhere before the
  * commit leaves every table at its prior snapshot, so operators need no
  * write-order reasoning: independent writes of one commit may run in any
  * order, concurrently ([[stageAll]]).
  */
abstract class Warehouse(val spark: SparkSession, val root: String) {

  protected def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def path(table: String): String = s"$root/$table"

  def exists(table: String): Boolean

  /** Stored bytes of a table's visible files (0 when absent) — cheap enough
    * to consult per micro-batch for size-adaptive planning decisions (see
    * [[graft.streaming.DedupStream]]'s probe gate).
    */
  def sizeBytes(table: String): Long

  /** A table's current schema (None when absent or empty). Maintenance
    * tooling needs this: [[compact]] takes an explicit schema, and an ops
    * pass doesn't know every table's layout.
    */
  def inferSchema(table: String): Option[StructType]

  /** Read a table; empty frame with the declared schema when absent. */
  def read(table: String, schema: StructType): DataFrame

  def append(table: String, df: DataFrame): Unit

  /** Append with hive-style partition directories (`col=value/`). The layout
    * choice that makes 100 TB scans affordable: a filter on a partition
    * column prunes whole directories at PLANNING time — the files are never
    * listed into the scan (LayoutSpec asserts the pruned plan). Choose
    * low-cardinality columns (date, source); per-key directories for a
    * high-cardinality key melt the namenode/listing instead of helping.
    */
  def appendPartitioned(table: String, df: DataFrame, partitionCols: Seq[String]): Unit

  /** Replace a table's contents; safe when `df` reads the old contents. */
  def replace(table: String, df: DataFrame): Unit

  def delete(table: String): Unit

  /** Rewrite a table through an arbitrary LAYOUT transform — [[compact]] is
    * the `coalesce` + sort instance; a Z-order re-layout
    * ([[graft.operators.Layout.zorder]]) is another. The transform must be a
    * pure re-layout (same rows out as in): readers treat the rewrite as
    * invisible maintenance. The rewrite is conflict-checked: it commits only
    * if the table's visible files are still the ones it read.
    */
  def compactWith(table: String, schema: StructType,
      transform: DataFrame => DataFrame): Unit

  /** Run a group of writes as one transaction: every write in `fn` stages,
    * and a single manifest commit publishes them all — how operators declare
    * their transaction boundaries (EP1's merge section, a stream's per-batch
    * admit). Nested calls join the ambient transaction.
    */
  def atomically(fn: Warehouse => Unit): Unit

  /** Run INDEPENDENT write thunks of one logical commit concurrently, so
    * their job latencies collapse into one wave. Inside a transaction the
    * staged files are invisible until the commit, so sibling writes only
    * share the (synchronized) stage bookkeeping; outside one each thunk is
    * its own commit. Every thunk gets its own pool thread (none queues
    * behind a sibling) and runs under the caller's Spark thread-locals (job
    * description, active session). Every thunk settles before the first
    * failure is rethrown, so an abort never leaves a sibling mid-stage.
    */
  def stageAll(writes: Seq[() => Unit]): Unit = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val running = writes.map(w =>
      SQLExecution.withThreadLocalCaptured(session, Warehouse.stagePool)(w()))
    running.map(f => Try(f.get())).collectFirst {
      case Failure(e: ExecutionException) if e.getCause != null => throw e.getCause
      case Failure(e) => throw e
    }
  }

  /** Rewrite a table's accumulated small files into `targetFiles` — the
    * maintenance pass every append-heavy table needs (each micro-batch
    * append leaves one file per task; thousands of small files turn scan
    * planning and open() overhead into the bottleneck). `coalesce` keeps the
    * rewrite shuffle-free. Unpartitioned tables only.
    *
    * `sortCols` re-sorts within the rewritten partitions: tables whose scan
    * pruning depends on tight parquet min/max stats on a join column (the
    * dedup band index) would otherwise come out of compaction as
    * concatenated sorted runs, widening every row-group's stats range to
    * near-useless.
    */
  def compact(table: String, schema: StructType, targetFiles: Int = 1,
      sortCols: Seq[String] = Nil): Unit = {
    require(targetFiles > 0, "targetFiles must be positive")
    compactWith(table, schema, { df =>
      val coalesced = df.coalesce(targetFiles)
      if (sortCols.isEmpty) coalesced
      else coalesced.sortWithinPartitions(
        sortCols.map(org.apache.spark.sql.functions.col): _*)
    })
  }

  /** Append with WRITE-TIME range clustering: rows range-partition and sort
    * on `clusterCols`, so each written file owns a contiguous, minimally
    * overlapping key range — the footer stats the commit records are then
    * maximally tight, and scanWhere/countWhere/deleteWhere prune as if the
    * table had been hand-banded. This is the write-side half of clustering;
    * [[recluster]] is the maintenance half for tables whose appends arrived
    * interleaved.
    */
  def appendClustered(table: String, df: DataFrame, clusterCols: Seq[String],
      numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be positive, got $numFiles")
    val cols = clusterCols.map(org.apache.spark.sql.functions.col)
    append(table, df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*))
  }

  /** Re-layout a whole table into `numFiles` range-clustered files — the
    * maintenance pass that restores data skipping after interleaved appends
    * (each append's files span the full key range, so every scan keeps every
    * file; after reclustering a range predicate keeps only its band). Unlike
    * [[compact]]'s coalesce+sort — concatenated sorted runs, near-useless
    * file bounds — this range-partitions globally first. Routed through
    * [[compactWith]], so it is conflict-checked against racing commits and
    * refreshes the manifest stats.
    */
  def recluster(table: String, schema: StructType, clusterCols: Seq[String],
      numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be positive, got $numFiles")
    val cols = clusterCols.map(org.apache.spark.sql.functions.col)
    compactWith(table, schema, df => df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*))
  }

  /** Connection "awakening" retry: ≤3 attempts, exponential backoff 1s, 2s —
    * mirrors core/database.py:38-50 as a sink-connector concern.
    */
  def withRetry[T](attempts: Int = 3, firstBackoffMs: Long = 1000)(f: => T): T = {
    var backoff = firstBackoffMs
    var remaining = attempts
    while (true) {
      try return f
      catch {
        case e: Exception =>
          remaining -= 1
          if (remaining <= 0) throw e
          Thread.sleep(backoff)
          backoff *= 2
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object Warehouse {
  /** [[Warehouse.stageAll]]'s threads: unbounded (a call's thunks never wait
    * for each other, and a thunk may itself call stageAll), daemon (never
    * holds the JVM open), idle threads retire after a minute.
    */
  private val stagePool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-stage")
    t.setDaemon(true)
    t
  }
}
