package graft.streaming

import graft.operators.Dedup
import graft.sources.AtomicWarehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming incremental EXACT dedup — the most common continuous-ingest
  * dedup: each micro-batch is probed against the persisted content-hash
  * index ([[Dedup.incrementalExactNew]]); only novel-content rows are
  * admitted, and their hashes join the index. Per-batch cost tracks the
  * batch (bounded hash point-probe into a sha-sorted index — same measured
  * mechanism as the LSH band probe), never the accumulated corpus.
  *
  * Semantics are FIRST-ARRIVAL-WINS, which is what a stream can promise:
  * the survivor for a duplicated text is the min-id row of the EARLIEST
  * micro-batch containing that text — unlike batch [[Dedup.exactDedup]]'s
  * global min-id, a later-arriving smaller id loses to an already-admitted
  * copy. For deterministic batching (the `dedup_exact_stream` driver query
  * splits by `doc_id % 3`) that is exactly
  * `row_number() OVER (PARTITION BY hash ORDER BY batch, id) = 1`, which is
  * what the DuckDB oracle states. ExactDedupStreamSpec proves the invariant
  * directly per batch.
  *
  * The admit (survivors + their hashes) is one `atomically` section: a
  * crash can never leave a document admitted without its hash (which would
  * let a later copy in) or a hash without its document (which would
  * silently drop content).
  *
  * ==Bloom routing==
  * Once the index crosses `bloomMinIndexBytes` (negative = never bootstrap;
  * an already-persisted filter is still loaded, routed, and maintained —
  * ignoring it would let the state go stale and plant false negatives on
  * re-enable), the stream bootstraps a
  * Bloom filter over it (one scan, amortized once) and persists it as a
  * 1-row warehouse table updated IN THE SAME atomic section as each admit.
  * Subsequent batches route through [[Dedup.incrementalExactNewRouted]]:
  * bloom-negative winners (definitely novel — the common case in
  * continuous ingest) are admitted without touching the index at all;
  * only the maybe-seen sliver pays the exact anti-join. Exactness is
  * unchanged at any fpp (the bloom routes, never decides —
  * `tools/ScaleProbe` mode `exact_bloom` measures the index I/O drop).
  * The invariant that makes false negatives impossible: every hash in the
  * index was merged into the bloom in the same transaction that appended
  * it (or preceded the bloom's bootstrap scan). At saturation (`n_items` >
  * capacity) the filter is rebuilt at 2× from index ∪ batch, so the fpp
  * stays honest as the corpus grows; a missing/corrupt bloom row just
  * re-bootstraps from the index.
  */
class ExactDedupStream(wh: AtomicWarehouse, probeHashLimit: Int = 1000,
    compactEvery: Int = 0, bloomMinIndexBytes: Long = 64L << 20,
    bloomFpp: Double = 0.01, bloomInitialCapacity: Long = 1L << 20) {

  val indexTable = "dedup/ExactHashIndex"
  val corpusTable = "dedup/ExactSurvivors"
  val bloomTable = "dedup/ExactBloomState"

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))
  val idxSchema: StructType = StructType(Seq(
    StructField("text_sha", StringType, nullable = false)))
  val bloomSchema: StructType = StructType(Seq(
    StructField("capacity", LongType, nullable = false),
    StructField("n_items", LongType, nullable = false),
    StructField("bloom", org.apache.spark.sql.types.BinaryType, nullable = false)))

  /** Probe one micro-batch against the index and admit the novel rows. */
  def processBatch(batch0: DataFrame): Unit = {
    val batch = batch0.select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
    // an existing bloom MUST be used and maintained regardless of the size
    // gate — skipping a batch's hashes would plant future false negatives;
    // the gate (including a negative = disabled value) only decides when to
    // BOOTSTRAP. The persisted row is read once per stream lifetime, not
    // per batch: processBatch runs sequentially on the stream thread, so
    // the in-memory copy IS the state, re-read only after a failed commit
    val bloomState = {
      if (!bloomLoaded) { bloomCache = readBloomState(); bloomLoaded = true }
      bloomCache
    }.orElse {
      if (bloomMinIndexBytes >= 0 && wh.sizeBytes(indexTable) >= bloomMinIndexBytes) {
        val idx = wh.read(indexTable, idxSchema)
        val n = idx.count()
        val cap = math.max(bloomInitialCapacity, n * 2)
        Some((cap, n, buildBloom(idx.select(col("text_sha")), cap)))
      } else None
    }
    // persisted because it is written twice below AND its plan reads the
    // index table the second write appends to — materializing once keeps
    // the read's file set fixed (same pattern as DedupStream's batchSigs)
    val admitted = (bloomState match {
      case Some((_, _, bf)) => Dedup.incrementalExactNewRouted(
        batch, wh.read(indexTable, idxSchema), "doc_id", "text", bf, probeHashLimit)
      case None => Dedup.incrementalExactNew(
        batch, wh.read(indexTable, idxSchema), "doc_id", "text", probeHashLimit)
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val admittedHashes = admitted
        .select(coalesce(sha2(col("text"), 256), lit("__null_text__")).as("text_sha"))
      val newBloomRow = bloomState.map { case (cap, n, bf) =>
        // count + build in ONE pass over the admitted hashes (a separate
        // count() job was half the forced-on mode's per-batch overhead)
        val (admBf, nAdm) = buildBloomCounting(admittedHashes, cap)
        val newN = n + nAdm
        if (newN > cap) {
          // saturated: rebuild at 2× from index ∪ batch so fpp stays honest
          val ncap = math.max(cap * 2, newN * 2)
          (ncap, newN, buildBloom(wh.read(indexTable, idxSchema)
            .select(col("text_sha")).unionByName(admittedHashes), ncap))
        } else {
          // same (capacity, fpp) → identical bit layout → mergeable
          if (nAdm > 0) bf.mergeInPlace(admBf)
          (cap, newN, bf)
        }
      }
      wh.atomically { w =>
        newBloomRow.foreach { case (cap, n, bf) =>
          w.replace(bloomTable, bloomRowDf(cap, n, bf))
        }
        w.append(corpusTable, admitted)
        // sha-sorted within files: the point-probe's row-group pruning rides
        // on tight min/max stats for this column
        w.append(indexTable, admittedHashes.sortWithinPartitions("text_sha"))
      }
      // committed: the in-memory filter is the state for the next batch
      bloomCache = newBloomRow.orElse(bloomCache)
    } catch {
      // failed commit → table vs memory unknown (mergeInPlace already
      // mutated the cached filter): reload before the checkpoint retries
      case e: Throwable => bloomLoaded = false; bloomCache = None; throw e
    } finally admitted.unpersist(false)
    batchesSinceCompact += 1
    if (compactEvery > 0 && batchesSinceCompact >= compactEvery) {
      compactAll()
      batchesSinceCompact = 0
    }
  }

  private var batchesSinceCompact = 0

  /** GDPR-style retraction: purge survivor docs AND their hashes from the
    * admission index in ONE manifest commit
    * ([[graft.sources.AtomicWarehouse.deleteWhereDvAll]] — two sequential
    * commits would leave a crash window where either an orphaned hash
    * refuses legitimate re-admission forever, or a surviving doc readmits
    * its text as a duplicate). Survivors are exactly-deduped, so each
    * purged doc's sha is witnessed by no other survivor and freeing it is
    * sound: the SAME text arriving later is admitted as a NEW document —
    * the erasure semantics, not a dedup leak. The persisted bloom is NOT
    * retracted (Blooms cannot delete): the stale positive only routes the
    * probe to the index, which now says no — the routing/deciding split
    * this stream is built on. Returns (survivor rows purged, hashes freed).
    */
  def retract(ids: Seq[Long]): (Long, Long) = {
    require(ids.nonEmpty, "retract with no ids")
    val distinct = ids.distinct
    val shas = wh.read(corpusTable, docSchema)
      .filter(col("doc_id").isInCollection(distinct))
      .select(coalesce(sha2(col("text"), 256), lit("__null_text__")).as("text_sha"))
      .distinct().collect().map(_.getString(0)).toSeq
    if (shas.isEmpty) return (0L, 0L)
    val rs = wh.deleteWhereDvAll(Seq(
      (corpusTable, docSchema, Seq(graft.sources.ColIn("doc_id", distinct))),
      (indexTable, idxSchema, Seq(graft.sources.ColIn("text_sha", shas)))))
    (rs.head.deleted, rs(1).deleted)
  }

  // bloom state cache — same sequential-stream argument as the counter;
  // `bloomLoaded` distinguishes "not read yet" from "read, and absent"
  private var bloomLoaded = false
  private var bloomCache: Option[(Long, Long, org.apache.spark.util.sketch.BloomFilter)] = None

  /** Insert `hashes` into a fresh filter AND count them in one distributed
    * pass; see [[DedupStream.buildBloomCounting]] (hashes are never null
    * here — `coalesce` stamps `__null_text__`).
    */
  private def buildBloomCounting(hashes: DataFrame,
      cap: Long): (org.apache.spark.util.sketch.BloomFilter, Long) =
    hashes.rdd.treeAggregate((org.apache.spark.util.sketch.BloomFilter.create(cap, bloomFpp), 0L))(
      { case ((bf, n), row) =>
        if (!row.isNullAt(0)) bf.putString(row.getString(0)); (bf, n + 1) },
      { case ((a, na), (b, nb)) => a.mergeInPlace(b); (a, na + nb) })

  /** The persisted bloom, or None when absent/unreadable (either way the
    * stream re-bootstraps from the index — the bloom is derived state).
    */
  private[graft] def readBloomState():
      Option[(Long, Long, org.apache.spark.util.sketch.BloomFilter)] =
    try wh.read(bloomTable, bloomSchema).collect().headOption.map { r =>
      (r.getLong(0), r.getLong(1), org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom"))))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `stat.bloomFilter` NPEs on an empty frame (null aggregate buffer) —
    * an empty input gets a fresh filter of the same layout instead.
    */
  private def buildBloom(hashes: DataFrame,
      cap: Long): org.apache.spark.util.sketch.BloomFilter =
    if (hashes.isEmpty) org.apache.spark.util.sketch.BloomFilter.create(cap, bloomFpp)
    else hashes.stat.bloomFilter("text_sha", cap, bloomFpp)

  private def bloomRowDf(cap: Long, n: Long,
      bf: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    wh.spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(cap, n, bos.toByteArray)),
      bloomSchema)
  }

  /** Small-file maintenance; the index re-sorts by hash on rewrite (see
    * [[DedupStream.compactAll]] on why concatenating rewrites would ruin
    * the probe's row-group stats).
    */
  def compactAll(targetFiles: Int = 1): Unit = {
    wh.compact(indexTable, idxSchema, targetFiles, sortCols = Seq("text_sha"))
    wh.compact(corpusTable, docSchema, targetFiles)
    // also fold the manifest log + collect superseded files (see
    // DedupStream.compactAll)
    wh.vacuum()
  }

  /** Every admitted (first-arrival-unique) document so far. */
  def survivors(): DataFrame = wh.read(corpusTable, docSchema)

  /** Watch `dir` for parquet document files (doc_id, text); see
    * [[DedupStream.start]] for trigger/batch-size tradeoffs.
    */
  def start(dir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 1): StreamingQuery =
    wh.spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => processBatch(batch) }
      .start()
}
