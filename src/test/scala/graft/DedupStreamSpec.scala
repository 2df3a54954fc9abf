package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.operators.Dedup
import graft.sources.AtomicWarehouse
import graft.streaming.DedupStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming incremental dedup must reproduce the from-scratch batch run:
  * every pair is emitted exactly once, in the micro-batch containing its
  * later document, so the accumulated pairs table after draining equals
  * `lshVerifiedPairs` over the full corpus regardless of batching.
  */
class DedupStreamSpec extends SparkSpec {
  import spark.implicits._

  test("3 micro-batches of documents accumulate exactly the full-corpus pairs") {
    val inDir = Files.createTempDirectory("graft-dstream-in-").toString
    val ckpt = Files.createTempDirectory("graft-dstream-ck-").toString
    val whDir = Files.createTempDirectory("graft-dstream-wh-").toString

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("long").as("doc_id"), $"text")

    // three id-ordered chunk files -> three micro-batches
    val rows = docs.orderBy("doc_id").as[(Long, String)].collect()
    rows.grouped((rows.length + 2) / 3).zipWithIndex.foreach { case (chunk, i) =>
      val tmp = Files.createTempDirectory(s"graft-dstream-c$i-").toString + "/out"
      chunk.toSeq.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = graft.LocalFs.onlyParquet(tmp)
      Files.move(part, Paths.get(inDir, f"chunk_$i%02d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }

    val ds = new DedupStream(new AtomicWarehouse(spark, whDir),
      minJaccard = 0.35, minSigMatchesOverride = 4)
    val q = ds.start(inDir, ckpt, Trigger.AvailableNow())
    assert(q.awaitTermination(300000), "stream failed to drain within 300 s")

    val streamed = ds.pairs().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Dedup.lshVerifiedPairs(docs, "doc_id", "text",
        minJaccard = 0.35, minSigMatchesOverride = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    assert(streamed == batch,
      s"streamed ${streamed.size} pairs vs batch ${batch.size}")
    assert(ds.corpus().count() == docs.count())
  }

  test("band-key bloom routing: pairs identical to the plain stream, state maintained") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("long").as("doc_id"), $"text")
      .orderBy("doc_id").limit(120).as[(Long, String)].collect()

    def drive(bloomMin: Long): (Set[(Long, Long, Double)], DedupStream, AtomicWarehouse) = {
      val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-dstream-bloom-").toString)
      val ds = new DedupStream(wh,
        minJaccard = 0.35, minSigMatchesOverride = 4, bloomMinIndexBytes = bloomMin)
      docs.grouped(30).foreach(c => ds.processBatch(c.toSeq.toDF("doc_id", "text")))
      (ds.pairs().collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet, ds, wh)
    }
    val (plain, _, _) = drive(-1)           // bloom disabled
    val (routed, ds, wh) = drive(0)         // bloom forced from the first batch
    assert(routed == plain && routed.nonEmpty,
      s"bloom routing changed the pair set: ${routed.size} vs ${plain.size}")
    // state was bootstrapped, persisted, and maintained across the batches
    val st = ds.readBloomState().getOrElse(fail("band bloom state not persisted"))
    assert(st._2 > 0, "bloom n_items never advanced")
    // superset invariant: EVERY persisted band key is bloom-positive (a
    // negative would silently lose future corpus pairs)
    val bf = st._3
    val missed = wh.read(ds.bandTable, ds.bandSchema)
      .select("key").collect().map(_.getString(0)).count(k => !bf.mightContainString(k))
    assert(missed == 0, s"$missed persisted band keys are bloom-NEGATIVE (false negatives)")
  }

  test("bloom gate flips at the size threshold; default gate stays off at test scale") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("long").as("doc_id"), $"text")
      .orderBy("doc_id").limit(90).as[(Long, String)].collect()
    val batches = docs.grouped(30).toSeq

    // threshold of 1 byte: batch 1 sees an EMPTY band table (0 bytes < 1) →
    // no bootstrap; batch 2 sees batch 1's files → bootstraps; batch 3
    // maintains through the in-memory cached state
    val wh = new AtomicWarehouse(spark, Files.createTempDirectory("graft-dstream-flip-").toString)
    val ds = new DedupStream(wh, minJaccard = 0.35, minSigMatchesOverride = 4,
      bloomMinIndexBytes = 1)
    ds.processBatch(batches(0).toSeq.toDF("doc_id", "text"))
    assert(ds.readBloomState().isEmpty, "bloom bootstrapped below the size threshold")
    ds.processBatch(batches(1).toSeq.toDF("doc_id", "text"))
    assert(ds.readBloomState().isDefined,
      "bloom did not bootstrap once the band table crossed the threshold")
    ds.processBatch(batches(2).toSeq.toDF("doc_id", "text"))
    // maintenance went through the cached filter: the PERSISTED row still
    // covers every persisted band key (superset invariant), and n_items
    // advanced for batch 3's keys
    val st = ds.readBloomState().get
    val bf = st._3
    val missed = wh.read(ds.bandTable, ds.bandSchema)
      .select("key").collect().map(_.getString(0)).count(k => !bf.mightContainString(k))
    assert(missed == 0, s"$missed persisted band keys are bloom-NEGATIVE after cached maintenance")
    assert(st._2 == wh.read(ds.bandTable, ds.bandSchema).count(),
      "persisted n_items is not the band-key ledger")

    // the DEFAULT 64 MB gate never trips at this scale: no state table, no
    // bloom jobs — small streams pay nothing for the feature
    val wh2 = new AtomicWarehouse(spark, Files.createTempDirectory("graft-dstream-defgate-").toString)
    val ds2 = new DedupStream(wh2, minJaccard = 0.35, minSigMatchesOverride = 4)
    batches.foreach(c => ds2.processBatch(c.toSeq.toDF("doc_id", "text")))
    assert(ds2.readBloomState().isEmpty, "default gate bootstrapped at test scale")

    // routing is pure optimization: both runs accumulate identical pairs
    val p1 = ds.pairs().collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val p2 = ds2.pairs().collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(p1 == p2 && p1.nonEmpty, s"gate-flip run pairs ${p1.size} != default run ${p2.size}")
  }

  test("compactEvery bounds warehouse file count across 50 micro-batches, pairs unchanged") {
    val whDir = Files.createTempDirectory("graft-dstream-compact-").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("long").as("doc_id"), $"text")
      .orderBy("doc_id").limit(100).as[(Long, String)].collect()

    // 50 two-doc batches through the exact code path foreachBatch drives;
    // no vacuum grace, so each pass's vacuum also deletes the files its
    // compaction superseded (single writer: nothing can still read them)
    val ds = new DedupStream(new AtomicWarehouse(spark, whDir, vacuumGraceMs = 0L),
      minJaccard = 0.35, minSigMatchesOverride = 4, compactEvery = 5)
    docs.grouped(2).foreach(chunk => ds.processBatch(chunk.toSeq.toDF("doc_id", "text")))

    def parquetFiles(dir: java.nio.file.Path): Long = {
      val s = Files.walk(dir)
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }
    // without compaction: >=4 tables x 50 appends = 200+ files. With
    // compactEvery=5 each table is 1 file after every 5th batch and gains
    // <=5 more before the next pass -> a few dozen at any moment
    val nFiles = parquetFiles(Paths.get(whDir, "dedup"))
    assert(nFiles <= 40, s"expected bounded file count, found $nFiles parquet files")

    // compaction is pure maintenance: accumulated pairs still equal the
    // from-scratch batch run over the same corpus
    val streamed = ds.pairs().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.lshVerifiedPairs(docs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        minJaccard = 0.35, minSigMatchesOverride = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == full, s"streamed ${streamed.size} pairs vs batch ${full.size}")
    assert(ds.corpus().count() == 100)
  }

  test("probe gate: full scan below the size threshold, point-probe above") {
    val whDir = Files.createTempDirectory("graft-dstream-gate-").toString
    val wh = new AtomicWarehouse(spark, whDir)
    val ds = new DedupStream(wh, probeKeyLimit = 1000, pointLookupMaxIds = 500,
      probeMinIndexBytes = 1024)
    assert(ds.effectiveProbeLimits(0L) == (0, 0))
    assert(ds.effectiveProbeLimits(1023L) == (0, 0))
    assert(ds.effectiveProbeLimits(1024L) == (1000, 500))
    assert(ds.effectiveProbeLimits(Long.MaxValue) == (1000, 500))

    // and the size the gate consults: absent table = 0, grows with appends
    assert(wh.sizeBytes("t") == 0L)
    wh.append("t", Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    val s1 = wh.sizeBytes("t")
    assert(s1 > 0L)
    wh.append("t", Seq((3L, "c")).toDF("doc_id", "text"))
    assert(wh.sizeBytes("t") > s1)
  }
}
