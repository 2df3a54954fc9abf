package graft.streaming

import graft.functions.Transforms
import graft.operators.Similarity
import graft.sources.AtomicWarehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

/** Streaming SemDeDup — [[graft.operators.Dedup.semanticDedup]]'s
  * continuous-ingest form, completing the dedup-family symmetry (exact and
  * LSH dedup both have batch + incremental + streaming members; this is the
  * semantic member). Embedding batches arrive as parquet files; each batch
  * is assigned to its nearest persisted centroid, probed against the
  * accumulated CELL INDEX for earlier same-cell neighbors at
  * `cosine ≥ minCosine`, and only un-matched vectors are admitted as
  * survivors.
  *
  * ==Semantics: first-arrival-wins, arrival retention = batch equivalence==
  * Any already-arrived same-cell neighbor drops a batch vector regardless of
  * id (the [[ExactDedupStream]] contract); within a batch, lower id wins.
  * The cell index retains EVERY arrived vector, admitted or not — because
  * the batch drop rule counts any earlier near-duplicate, not just surviving
  * ones (the A~B~C chain in [[graft.operators.Dedup.semanticDedup]]'s doc).
  * With id-ordered batches every index member has a lower id than the batch,
  * so the streamed survivor set is bit-identical to batch `semanticDedup`
  * over the full corpus — which is why the `dedup_semantic_stream` driver
  * query shares `dedup_semantic`'s DuckDB oracle (the dedup_stream
  * micro-batch ≡ batch argument, semantic edition). An admit-only index
  * would instead compute a greedy independent set — a different policy,
  * deliberately not offered.
  *
  * ==Per-batch cost at corpus scale==
  * Assignment is a broadcast-centroid argmax (batch-sized). The neighbor
  * probe reads only the BATCH's cells from the index: the distinct cell ids
  * (≤ batch size, capped at `probeCellLimit`) are pushed into the scan as an
  * `In` literal over cell-sorted files — planning-time row-group pruning,
  * the [[graft.operators.PersistedIvf.topK]] mechanism. Work per batch
  * tracks batch size × cell width, never the accumulated corpus.
  *
  * ==Replay idempotency==
  * The admit (index append + survivors append + `(batch_id)` ledger row) is
  * one `atomically` section, so a crash leaves the prior snapshot and the
  * checkpoint replay re-runs the batch (CrashConsistencySpec); a retry of a
  * committed batch sees its ledger row and no-ops — exactly-once.
  */
class SemanticDedupStream(wh: AtomicWarehouse, minCosine: Double,
    probeCellLimit: Int = 1000, idCol: String = "vec_id",
    vecCol: String = "embedding") {

  val centroidsTable = "semdedup/Centroids"
  val indexTable = "semdedup/CellIndex"
  val survivorsTable = "semdedup/Survivors"
  val ledgerTable = "semdedup/IngestLedger"
  val statsTable = "semdedup/AssignStats"

  val centroidSchema: StructType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("centroid", ArrayType(FloatType), nullable = true)))
  val statsSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType, nullable = false),
    StructField("kind", org.apache.spark.sql.types.StringType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("mean_cos", org.apache.spark.sql.types.DoubleType, nullable = true)))
  val indexSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("cell", IntegerType, nullable = false),
    StructField("vec", ArrayType(FloatType), nullable = true)))
  val survivorSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("cell", IntegerType, nullable = false)))
  val ledgerSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType, nullable = false)))

  def vecSchema: StructType = StructType(Seq(
    StructField(idCol, LongType, nullable = false),
    StructField(vecCol, ArrayType(FloatType), nullable = true)))

  /** Install the (cell, centroid) partitioning before streaming — e.g.
    * [[Similarity.trainCentroids]] output or a [[graft.operators.PersistedIvf]]'s
    * centroids table (ANN and semantic dedup share the structure).
    */
  def init(centroids: DataFrame): Unit = wh.atomically { w =>
    w.replace(centroidsTable, centroids.select(
      col("cell").cast(IntegerType).as("cell"),
      col("centroid").cast(ArrayType(FloatType)).as("centroid")))
    // fresh geometry → fresh drift baseline (the first batch records it)
    if (wh.exists(statsTable)) w.delete(statsTable)
    baselineSeen = false
  }

  def survivors(): DataFrame = wh.read(survivorsTable, survivorSchema)
  def index(): DataFrame = wh.read(indexTable, indexSchema)
  private[graft] def ledger(): DataFrame = wh.read(ledgerTable, ledgerSchema)
  def assignStats(): DataFrame = wh.read(statsTable, statsSchema)

  /** (row count, mean winning cosine) of `assigned` against the standing
    * centroids — the drift statistic, fused into ONE batch-sized aggregate
    * so the ledger costs a single extra job per admit.
    */
  private def countAndMeanCos(assigned: DataFrame): (Long, Option[Double]) = {
    val cents = wh.read(centroidsTable, centroidSchema)
    val r = assigned.join(broadcast(cents), Seq("cell"))
      .agg(count(lit(1)),
        avg(when(Transforms.vecNorm(col("vec")) === 0 ||
            Transforms.vecNorm(col("centroid")) === 0, lit(0.0))
          .otherwise(Transforms.vecDot(col("vec"), col("centroid"))
            / (Transforms.vecNorm(col("vec")) * Transforms.vecNorm(col("centroid"))))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))
  }

  // "has a train baseline" is monotone between init/retrain resets, so one
  // table probe per stream lifetime suffices — not one per batch
  @volatile private var baselineSeen = false

  /** True when the latest batch's vectors sit materially farther from
    * their cells than the baseline did — the [[graft.operators.PersistedIvf.drifted]]
    * gauge, wired into the semantic stream: seed centroids otherwise live
    * forever while the embedding distribution moves under them, silently
    * degrading cell locality (near-duplicates land in different cells and
    * stop being compared). The baseline is the first batch after
    * [[init]]/[[retrain]] (`kind="train"`); later batches record
    * `kind="batch"` rows in the same admit commit.
    */
  def drifted(margin: Double = 0.05): Boolean = {
    if (!wh.exists(statsTable)) return false
    val rows = assignStats().collect()
    val base = rows.find(_.getString(1) == "train").flatMap(r =>
      if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val latest = rows.filter(_.getString(1) == "batch").sortBy(_.getLong(0))
      .lastOption.flatMap(r => if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    (base, latest) match {
      case (Some(t), Some(b)) => b < t - margin
      case _ => false
    }
  }

  /** Re-train the cell geometry from the ACCUMULATED index and re-assign
    * everything to it — the action [[drifted]] triggers, mirroring
    * [[graft.operators.PersistedIvf.retrain]]. One atomic commit replaces
    * centroids, the cell index (every arrived vector re-celled), the
    * survivors' cell labels, and the drift baseline. The SURVIVOR ID SET
    * is untouched — retraining changes where FUTURE batches look for
    * neighbors, never un-decides a past dedup — and the dedup contract
    * (first-arrival-wins against every arrived vector) is preserved
    * because the whole index moves cells together.
    */
  def retrain(numCells: Int, iterations: Int = 3): Unit = {
    require(wh.exists(indexTable), s"$indexTable absent — nothing to retrain from")
    val idx = index().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = graft.operators.Similarity
        .trainCentroids(idx.select(col("id"), col("vec")), "id", "vec",
          numCells, iterations)
        .select(col("cell_id").cast(IntegerType).as("cell"),
          col("centroid").cast(ArrayType(FloatType)).as("centroid"))
      val reassigned = graft.operators.Similarity
        .assignCells(idx.select(col("id"), col("vec")),
          cents.select(col("cell"), col("centroid").as("vec")), "id", "cell", "vec")
        .select(col("id"), col("cell").cast(IntegerType).as("cell"), col("vec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val newCells = reassigned.select(col("id"), col("cell"))
        val surv = survivors().select(col("id")).join(newCells, Seq("id"))
          .select(col("id"), col("cell"))
        // baseline against the NEW geometry, from the full re-assignment
        val r = reassigned.join(broadcast(cents), Seq("cell"))
          .agg(count(lit(1)),
            avg(when(Transforms.vecNorm(col("vec")) === 0 ||
                Transforms.vecNorm(col("centroid")) === 0, lit(0.0))
              .otherwise(Transforms.vecDot(col("vec"), col("centroid"))
                / (Transforms.vecNorm(col("vec")) * Transforms.vecNorm(col("centroid"))))))
          .head()
        wh.atomically { w =>
          w.replace(centroidsTable, cents)
          w.replace(indexTable, reassigned.sortWithinPartitions("cell"))
          w.replace(survivorsTable, surv)
          w.replace(statsTable, wh.spark.createDataFrame(
            java.util.Arrays.asList(org.apache.spark.sql.Row(
              Long.box(-1L), "train", Long.box(r.getLong(0)),
              if (r.isNullAt(1)) null else Double.box(r.getDouble(1)))),
            statsSchema))
        }
        baselineSeen = true
      } finally reassigned.unpersist(false)
    } finally idx.unpersist(false)
  }

  // single-writer cursor (the ScdStream discipline, BASELINE.md r17): the
  // ingest ledger is read ONCE per stream instance, the applied set then
  // advances in memory; a restart re-reads, a failed-commit retry re-runs
  // (only a committed batch is marked applied).
  @volatile private var applied: scala.collection.mutable.Set[Long] = null

  private def ingested(batchId: Long): Boolean = {
    if (applied == null)
      applied = if (wh.exists(ledgerTable))
        scala.collection.mutable.Set(
          ledger().collect().map(_.getLong(0)).toSeq: _*)
      else scala.collection.mutable.Set.empty[Long]
    applied.contains(batchId)
  }

  def processBatch(batch0: DataFrame, batchId: Long): Unit = {
    if (ingested(batchId)) return
    require(wh.exists(centroidsTable), s"$centroidsTable absent — init() first")
    val cents = wh.read(centroidsTable, centroidSchema)
      .select(col("cell"), col("centroid").as("vec"))
    val norm = batch0.select(col(idCol).cast(LongType).as("id"),
      col(vecCol).cast(ArrayType(FloatType)).as("vec"))
    // (id, cell, vec) — materialized once: referenced by the probe, the
    // within-batch pair join, and the admit (the semanticDedupAssigned ×3
    // argument, paid here as one batch-sized persist)
    val assigned = Similarity.assignCells(norm, cents, "id", "cell", "vec")
      .select(col("id"), col("cell").cast(IntegerType).as("cell"), col("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // probe only the batch's cells: ≤ batch-distinct literals, row-group
      // pruning on the cell-sorted index files; past the cap, full scan
      val cellIds = assigned.select(col("cell")).distinct()
        .limit(probeCellLimit + 1).collect().map(_.getInt(0))
      val idx = if (wh.exists(indexTable)) {
        val all = index()
        if (cellIds.length <= probeCellLimit)
          all.filter(col("cell").isin(cellIds.map(Int.box): _*)) else all
      } else wh.spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), indexSchema)
      // FIRST-ARRIVAL-WINS (the ExactDedupStream contract): any
      // already-arrived same-cell neighbor drops a batch vector regardless
      // of id; within the batch, lower id wins. With id-ordered batches
      // every index member has a lower id anyway, so this coincides with
      // batch semanticDedup's rule — the oracle-equivalence case
      def near(x: DataFrame, y: DataFrame) = x
        .select(col("cell"), col("id").as("id_a"),
          col("vec").as("v_a"), Transforms.vecNorm(col("vec")).as("n_a"))
        .join(y.select(col("cell"), col("id").as("id_b"),
          col("vec").as("v_b"), Transforms.vecNorm(col("vec")).as("n_b")),
          Seq("cell"))
      val cos6 = round(
        when(col("n_a") === 0 || col("n_b") === 0, lit(0.0))
          .otherwise(Transforms.vecDot(col("v_a"), col("v_b"))
            / (col("n_a") * col("n_b"))), 6)
      // id_b =!= id_a: ids are unique corpus-wide, so an index row with a
      // batch vector's own id is that vector, never its neighbour
      val dropped = near(assigned, idx).filter(col("id_b") =!= col("id_a"))
        .filter(cos6 >= minCosine)
        .select(col("id_a").as("id"))
        .unionByName(near(assigned, assigned)
          .filter(col("id_b") < col("id_a")).filter(cos6 >= minCosine)
          .select(col("id_a").as("id")))
        .distinct()
      val admitted = assigned.join(dropped, Seq("id"), "left_anti")
        .select(col("id"), col("cell"))
      // drift ledger row: the first batch after init/retrain sets the
      // baseline, later batches record against it — ONE fused aggregate on
      // the already-persisted batch, baseline existence probed once per
      // stream lifetime
      val (nAssigned, mc) = countAndMeanCos(assigned)
      if (!baselineSeen)
        baselineSeen = wh.exists(statsTable) &&
          !wh.read(statsTable, statsSchema).filter(col("kind") === "train").isEmpty
      val kind = if (baselineSeen) "batch" else "train"
      baselineSeen = true
      wh.atomically { w =>
        // cell-sorted within files — the next batch's probe pruning rides
        // on tight per-row-group cell min/max stats
        w.append(indexTable, assigned.sortWithinPartitions("cell"))
        w.append(survivorsTable, admitted)
        w.append(ledgerTable, wh.spark.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(Long.box(batchId))),
          ledgerSchema))
        w.append(statsTable, wh.spark.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(
            Long.box(batchId), kind, Long.box(nAssigned),
            mc.map(Double.box).orNull)),
          statsSchema))
      }
      applied += batchId
    } finally assigned.unpersist(false)
  }

  /** Small-file maintenance; the index re-sorts by cell on rewrite (see
    * [[DedupStream.compactAll]] on why a concatenating rewrite would ruin
    * the probe's row-group stats).
    */
  def compactAll(targetFiles: Int = 1): Unit = {
    wh.compact(indexTable, indexSchema, targetFiles, sortCols = Seq("cell"))
    wh.compact(survivorsTable, survivorSchema, targetFiles)
    wh.vacuum()
  }

  /** Watch `dir` for parquet embedding files (idCol, vecCol); see
    * [[DedupStream.start]] for trigger/batch-size tradeoffs.
    */
  def start(dir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 1): StreamingQuery =
    wh.spark.readStream
      .schema(vecSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => processBatch(batch, batchId) }
      .start()
}
