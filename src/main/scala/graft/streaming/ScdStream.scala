package graft.streaming

import graft.operators.ScdDimension
import graft.sources.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming SCD2 dimension maintenance — the continuous-ingest loop for
  * [[graft.operators.ScdDimension]], completing the batch / incremental /
  * streaming triple the dedup, IVF and FTS indexes already have: dimension
  * update batches arrive as parquet files, each micro-batch folds into the
  * persisted `dim/<name>/History` table as one SCD2 upsert at the next
  * batch sequence, and history survives across batches as a warehouse
  * table. At 100 TB dimension churn this is "apply the day's updates", not
  * "rebuild the dimension".
  *
  * ==Replay idempotency==
  * The history replace and a `(batch_id)` ingest-ledger row publish in the
  * SAME atomic section (exactly-once — the [[IvfStream]] arrangement): a
  * checkpoint retry of a committed micro-batch sees its id in the ledger
  * and no-ops.
  * SCD2 has a second, semantic safety net the other indexes lack: a replay
  * that somehow re-applied an identical batch would change nothing anyway
  * (identical attributes are the upsert's no-op case) — but it would burn a
  * sequence number and rewrite the history files, so the ledger still
  * carries the contract.
  *
  * ==Ordering contract==
  * SCD2 is order-SENSITIVE: batches must arrive in dimension-update order.
  * [[start]] pins `maxFilesPerTrigger = 1`, so the file source delivers one
  * file per micro-batch in its discovery order (modification time) — write
  * update files sequentially, as every stream fixture here does. This is
  * the same contract SQL MERGE-based SCD loaders carry; an out-of-order
  * feed needs an upstream sequencer, not a smarter fold.
  */
class ScdStream(wh: Warehouse, name: String, keyCols: Seq[String],
    attrCols: Seq[String], baseSchema: StructType) {

  val dim = new ScdDimension(wh, name, keyCols, attrCols, baseSchema)
  val ledgerTable = s"dim/$name/IngestLedger"
  val ledgerSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType, nullable = false)))

  // Single-writer CURSOR state: the stream is the dimension's only writer
  // (class doc — the same assumption every index stream here makes), so
  // the ingest ledger and the next sequence are read from their tables
  // ONCE per stream instance and then advance in memory. The previous
  // shape re-scanned the ledger AND re-derived max(valid_from) as two
  // driver jobs per micro-batch — at a 3-batch AvailableNow drain those
  // scans were a measurable share of the floor (BASELINE.md r17). The
  // cursor stays exactly the DERIVED value: it advances only when the
  // batch actually OPENED version rows ([[graft.operators.ScdDimension
  // .upsertIn]] reports that as an observed metric riding the history
  // write), so an all-unchanged batch still consumes no sequence. A
  // restart re-reads both tables; the atomic commit leaves either the
  // whole batch or nothing, so the re-read state can never be desynced.
  @volatile private var applied: scala.collection.mutable.Set[Long] = null
  @volatile private var cursor: Long = -1L

  /** True when `batchId` was already applied (a checkpoint replay). */
  def ingested(batchId: Long): Boolean = {
    if (applied == null)
      applied = if (wh.exists(ledgerTable))
        scala.collection.mutable.Set(wh.read(ledgerTable, ledgerSchema)
          .collect().map(_.getLong(0)).toSeq: _*)
      else scala.collection.mutable.Set.empty[Long]
    applied.contains(batchId)
  }

  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (ingested(batchId)) return
    if (cursor < 0) cursor = dim.nextSeq()
    val seq = cursor
    // ONE admission aggregate answers both gates — an empty micro-batch
    // (file-source bookkeeping) must not burn a sequence or rewrite
    // identical history files, and a duplicate key would corrupt the fold
    // (the scd2Upsert contract) — where isEmpty + the upsert's own dup
    // probe cost two driver jobs per batch
    val (rows, maxDup) = graft.operators.Scd.batchStats(batch, keyCols)
    require(maxDup <= 1L,
      s"scd2 stream batch $batchId has duplicate keys on " +
        s"(${keyCols.mkString(", ")}) — one row per key per batch " +
        "(the SQL MERGE source contract)")
    var opened = 0L
    wh.atomically { w =>
      if (rows > 0) opened = dim.upsertPrevalidatedIn(w, batch, seq)
      w.append(ledgerTable, wh.spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(Long.box(batchId))),
        ledgerSchema))
    }
    // only a committed batch marks applied / advances the cursor: a retry
    // of a failed commit re-runs the whole fold, exactly as before
    applied += batchId
    if (opened > 0L) cursor = seq + 1L
  }

  /** Watch `dir` for parquet dimension-update files (key + attr columns);
    * one file per micro-batch IN ORDER (class doc). The dimension needs no
    * prior build — the first batch is genesis.
    */
  def start(dir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    wh.spark.readStream
      .schema(baseSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => processBatch(batch, batchId) }
      .start()
}
