package graft.operators

import java.sql.Timestamp

import graft.model.Schemas
import graft.model.Schemas.FileStatus
import graft.sources.Warehouse
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** File-level idempotency ledger — the engine's ProcessFile table
  * (S8/S10: core/etl_orchestrator.py:46-58 status lookup, :285-344 lifecycle
  * 2 → 3/4). The ledger is intentionally a *queryable table*, not just a
  * checkpoint, mirroring the reference where operators can inspect status.
  *
  * Storage is an APPEND-ONLY status log: `markInProgress` appends the attempt
  * row at SeqNo 0 and `setStatus` appends a one-row flip event at SeqNo+1 —
  * no rewrite of previously-written data, so a status flip is O(1) writes
  * regardless of how many files the deployment has ever ingested (the old
  * read-modify-replace was O(total files) per flip, quadratic over the
  * deployment's lifetime). [[all]] exposes the same ProcessFile contract as a
  * latest-row-per-attempt view (`max_by` over SeqNo — partial-aggregating,
  * one shuffle of attempt-count rows). Point lookups read a file-count-sized
  * column-pruned parquet log; long-lived deployments compact the log by
  * periodically replacing it with the materialized view.
  *
  * SINGLE-WRITER contract: `markInProgress` mints ids by scanning max(Id), so
  * two concurrent pipelines (or a second StreamRunner on the same warehouse)
  * could mint duplicate ids. The reference delegates this to the database's
  * transactionality; here it holds because the driver runs one pipeline and
  * foreachBatch is sequential. Appends are not conflict-checked against
  * each other, so multi-writer deployments key attempts by (container,
  * fileName, batchGuid) instead. Flips themselves are append-only and
  * therefore lost-update-free.
  */
class Ledger(wh: Warehouse) {
  private val table = "ledger/ProcessFile"

  private val logSchema: StructType =
    StructType(Schemas.processFile.fields :+ StructField("SeqNo", IntegerType, nullable = false))

  private def log = wh.read(table, logSchema)

  private val viewCols = Schemas.processFile.fieldNames.toIndexedSeq

  /** Latest-status view: one row per attempt Id, ProcessFile schema. */
  def all(): org.apache.spark.sql.DataFrame =
    log.groupBy(col("Id"))
      .agg(max_by(struct(viewCols.map(col): _*), col("SeqNo")).as("r"))
      .select(viewCols.map(c => col(s"r.$c").as(c)): _*)

  /** S8/P7 — point status lookup; 1 (not seen) when absent. */
  def statusOf(container: String, fileName: String): Int = {
    val rows = all()
      .filter(col("Container") === container && col("FileName") === fileName)
      .select(col("StatusId"), col("Id"))
      .orderBy(col("Id").desc)
      .limit(1)
      .collect()
    if (rows.isEmpty) FileStatus.NotSeen else rows.head.getInt(0)
  }

  /** S10 — append an in-progress attempt row (status 2), returning its id. */
  def markInProgress(container: String, fileName: String, blobSize: Option[Long] = None,
      contentType: Option[String] = None): Int = {
    val r = log.agg(max(col("Id"))).head()
    val nextId = (if (r.isNullAt(0)) 0 else r.getInt(0)) + 1
    import wh.spark.implicits._
    val row = Seq(Schemas.ProcessFileRow(nextId, container, fileName, FileStatus.InProgress,
      new Timestamp(System.currentTimeMillis()), blobSize, contentType, None)).toDF()
      .withColumn("SeqNo", lit(0))
    wh.append(table, row.select(logSchema.fieldNames.map(col).toIndexedSeq: _*))
    nextId
  }

  /** S10 — flip status (2 → 3 success / 4 failed) on ONE attempt row (the id
    * returned by markInProgress), preserving the history of earlier attempts
    * exactly as the reference updates only the current ProcessFile row. The
    * flip is an appended event: the attempt's latest row is re-emitted with
    * the new status at the next SeqNo, and the view picks it up.
    */
  def setStatus(rowId: Int, statusId: Int): Unit = {
    val flip = log.filter(col("Id") === rowId)
      .orderBy(col("SeqNo").desc)
      .limit(1)
      .withColumn("StatusId", lit(statusId))
      .withColumn("SeqNo", col("SeqNo") + 1)
    wh.append(table, flip.select(logSchema.fieldNames.map(col).toIndexedSeq: _*))
  }
}
