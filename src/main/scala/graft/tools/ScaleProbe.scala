package graft.tools

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import graft.GraftSession
import graft.operators.Dedup
import graft.sources.AtomicWarehouse
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale-proof for the engine's central incremental-dedup claim: the
  * per-batch probe of a persisted dedup index reads a bounded slice of the
  * index — per-batch scan BYTES stay roughly flat while the corpus doubles
  * and doubles again (`Dedup.incrementalLshVerifiedPairs` point-lookup path,
  * `DedupStream` defaults).
  *
  * Method: replicate the sf dir's documents ×N for N in `scales` (each
  * replica TOKEN-SALTED so replicas are genuinely distinct documents — no
  * manufactured near-dups), build the three index tables the way a
  * long-running stream would hold them (band index sorted by `key`,
  * signature index and corpus sorted by `doc_id`, small parquet row groups
  * to emulate many-row-group files at laptop scale), then run ONE fixed
  * micro-batch (25 novel docs + 10 planted copies of corpus docs) against
  * each corpus and measure task-level input bytes/records via a listener —
  * probe-enabled vs full-scan — plus wall time.
  *
  * Expected shape: full-scan bytes grow ~linearly with N; probe bytes stay
  * ~flat (bounded by probe keys × row-group size), and the planted pairs are
  * found at every scale. Mode `lsh_bloom` additionally routes the probe
  * through a band-key Bloom filter (DedupStream's maintained state): novel
  * band keys skip the corpus probe, so its literal list shrinks to the
  * maybe-seen sliver with the pair set unchanged. Emits a JSON line per
  * (scale, mode) to stdout AND target/scaleprobe.json (self-sufficient
  * artifact, like Bench).
  *
  * The same measurement runs for the EXACT-dedup path (modes `exact_probe` /
  * `exact_fullscan` / `exact_bloom`): `Dedup.incrementalExactNew(Routed)`
  * probing a sha-sorted content-hash index — the mechanism
  * `ExactDedupStream` rides per batch — with planted exact copies rejected
  * and novel docs admitted at every scale, and the bloom-routed mode
  * measuring how much index I/O the maintained filter saves.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scales = if (args.length > 1) args(1).split(",").map(_.trim.toInt).toSeq
      else Seq(25, 50, 100)
    // optional third arg restricts to one family: "dedup" | "ivf" | "sem" |
    // "fts" | "cc" (default: all)
    val section = if (args.length > 2) args(2) else "all"
    val spark = GraftSession.builder().appName("scale-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val bytesRead = new AtomicLong(); val recordsRead = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val im = t.taskMetrics.inputMetrics
        bytesRead.addAndGet(im.bytesRead); recordsRead.addAndGet(im.recordsRead)
      }
    })

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))

    // replica i: re-keyed ids, every token REPLACED by a replica-keyed md5
    // prefix. Shingles are CHARACTER 5-grams (TextOps.shingles), so merely
    // suffixing tokens would leave the original grams intact and make every
    // replica a near-dup of every other (a first draft did exactly that and
    // pair counts grew with corpus size); hashed tokens share only chance
    // hex grams across replicas (jaccard ~0.001) while preserving
    // within-replica similarity structure (shared tokens stay shared)
    def salted(i: Int): DataFrame = docs0.select(
      (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
      concat_ws(" ", transform(split(col("text"), " "),
        w => substring(md5(concat(w, lit(s"#$i"))), 1, 8))).as("text"))

    // fixed fresh micro-batch: novel docs (salt tag no corpus replica uses)
    // + exact copies of replica-0 docs re-keyed — so true-match work is
    // CONSTANT across scales and nonzero at every scale. Fresh ids live at
    // 10^12+, far above any replica's id range (max ~10^9): an id shared
    // between a fresh and a corpus doc would alias two different texts under
    // one key and corrupt both the verification joins and the measurement
    val freshNovel = salted(999999).filter(col("doc_id") % 1000 < 8)
      .select((col("doc_id") % 10000000L + 1000000000000L).as("doc_id"), col("text"))
    val freshPlanted = salted(0).filter(col("doc_id") % 1000 < 2)
      .select((col("doc_id") + 2000000000000L).as("doc_id"), col("text"))
    val fresh = freshNovel.union(freshPlanted)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nFresh = fresh.count()

    // small row groups: at sf0.1×100 the whole band index is ~100 MB, far
    // under one production 128 MB row group — shrink groups so the file
    // layout has the many-row-groups shape pruning acts on at 100 TB
    val writeOpts = Map("parquet.block.size" -> "32768", "parquet.page.size" -> "8192")

    def sortedWrite(df: DataFrame, path: String, sortCol: String): Unit =
      df.repartitionByRange(32, col(sortCol)).sortWithinPartitions(sortCol)
        .write.options(writeOpts).mode(SaveMode.Overwrite).parquet(path)

    val out = new StringBuilder
    def emit(line: String): Unit = { println(line); out.append(line).append('\n') }

    if (section == "all" || section == "dedup") scales.foreach { n =>
      val whDir = Files.createTempDirectory(s"graft-scaleprobe-x$n-").toString
      val wh = new AtomicWarehouse(spark, whDir)
      // rowsPerBand = 4 (2 bands of 4 minhashes): at corpus scale the band
      // width is what keeps BUCKET COLLISIONS sparse — 2-minhash bands
      // random-collide often enough at 500k docs that the candidate-id tail
      // blows past the point-lookup cap and the probe degrades to the
      // full-scan fallback (measured here before widening). Planted exact
      // dups still collide with probability 1.
      val corpus = (0 until n).map(salted).reduce(_ union _)
      val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text", 5, 8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sortedWrite(sigs, wh.path("dedup/SignatureIndex"), "doc_id")
      sortedWrite(Dedup.bandKeys(sigs, "doc_id", 8, 4, carrySigs = true),
        wh.path("dedup/BandIndex"), "key")
      sortedWrite(corpus, wh.path("dedup/Corpus"), "doc_id")
      sigs.unpersist(true)
      val idxBytes = Files.walk(java.nio.file.Paths.get(whDir))
        .filter(p => p.toString.endsWith(".parquet")).mapToLong(p => Files.size(p)).sum()

      // the sha-sorted content-hash index for the SAME corpus: the exact-
      // dedup path (Dedup.incrementalExactNew, ExactDedupStream's per-batch
      // admit) makes the same flat-probe claim as the LSH band index but via
      // a ≤1000-literal In over text_sha — measure it with the same listener
      sortedWrite(Dedup.exactGroups(corpus, "doc_id", "text"),
        wh.path("dedup/HashIndex"), "text_sha")

      val ds = new graft.streaming.DedupStream(wh, minJaccard = 0.35, minSigMatchesOverride = 4)
      // band-key bloom for mode `lsh_bloom`, built OUTSIDE the measured
      // section — it is maintained stream state in DedupStream (bootstrapped
      // once, merged per admit), not a per-batch cost. Novel docs' band keys
      // are bloom-negative and skip the corpus probe; only the maybe sliver
      // (planted copies + fpp) pays the index.
      val bandKeysDf = wh.read("dedup/BandIndex", ds.bandSchema).select(col("key"))
      val bandBloom = bandKeysDf.stat.bloomFilter(
        "key", math.max(bandKeysDf.count(), 1L), 0.01)
      // the maybe-sliver itself: how many of the batch's distinct band keys
      // survive the bloom and become probe literals (novel keys route out)
      val freshKeys = Dedup.bandKeys(
        Dedup.minhashSignatures(fresh, "doc_id", "text", 5, 8), "doc_id", 8, 4)
        .select(col("key")).distinct()
        .collect().map(_.getString(0))
      val nFreshKeys = freshKeys.length
      val nMaybeKeys = freshKeys.count(bandBloom.mightContainString)
      var pairsAcrossModes = -1L
      Seq(("probe", 1000, 1000), ("fullscan", 0, 0), ("lsh_bloom", 1000, 1000))
        .foreach { case (mode, keyLim, idLim) =>
        // warm the page cache + codegen once, then measure a clean run
        (1 to 2).foreach { rep =>
          bytesRead.set(0); recordsRead.set(0)
          val t0 = System.nanoTime()
          val pairs = Dedup.incrementalLshVerifiedPairs(
            wh.read("dedup/Corpus", ds.docSchema),
            wh.read("dedup/SignatureIndex", ds.sigSchema),
            fresh, "doc_id", "text", 5, 8, 4, 0.35, 4,
            corpusBandsPre = Some(wh.read("dedup/BandIndex", ds.bandSchema)),
            persistCorpusSigs = false, corpusBandsCarrySigs = true,
            probeKeyLimit = keyLim, pointLookupMaxIds = idLim,
            bandBloom = if (mode == "lsh_bloom") Some(bandBloom) else None)
          val nPairs = pairs.select("id_a", "id_b").distinct().count()
          val secs = (System.nanoTime() - t0) / 1e9
          val probeKeys = mode match {
            case "lsh_bloom" => nMaybeKeys
            case "probe"     => nFreshKeys
            case _           => 0
          }
          if (rep == 2) emit(
            f"""{"tool":"scaleprobe","scale_x":$n,"mode":"$mode","index_bytes":$idxBytes,"probe_bytes":${bytesRead.get()},"probe_records":${recordsRead.get()},"probe_keys":$probeKeys,"pairs":$nPairs,"sec":$secs%.2f,"fresh_docs":$nFresh}""")
          assert(nPairs >= 10, s"planted pairs missing at x$n/$mode: $nPairs")
          if (rep == 2) {
            if (pairsAcrossModes < 0) pairsAcrossModes = nPairs
            else assert(nPairs == pairsAcrossModes,
              s"mode $mode changed the pair set size at x$n: $nPairs != $pairsAcrossModes")
          }
        }
      }

      // exact-hash admit over the same corpus: batch hashes pushed into the
      // sha-sorted index scan (probe) vs plain anti-join (fullscan). The
      // planted replica-0 copies must be REJECTED at every scale (their
      // hashes are in the index); novel docs survive — identical survivor
      // sets across modes, flat probe records across scales.
      val hashSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("text_sha", org.apache.spark.sql.types.StringType, false),
        org.apache.spark.sql.types.StructField("keep_id", org.apache.spark.sql.types.LongType, true),
        org.apache.spark.sql.types.StructField("n_copies", org.apache.spark.sql.types.LongType, true)))
      var survivorsAcrossModes = -1L
      Seq(("exact_probe", 1000), ("exact_fullscan", 0)).foreach { case (mode, lim) =>
        (1 to 2).foreach { rep =>
          bytesRead.set(0); recordsRead.set(0)
          val t0 = System.nanoTime()
          val survivors = Dedup.incrementalExactNew(fresh,
            wh.read("dedup/HashIndex", hashSchema), "doc_id", "text", probeHashLimit = lim)
            .count()
          val secs = (System.nanoTime() - t0) / 1e9
          if (rep == 2) emit(
            f"""{"tool":"scaleprobe","scale_x":$n,"mode":"$mode","index_bytes":$idxBytes,"probe_bytes":${bytesRead.get()},"probe_records":${recordsRead.get()},"survivors":$survivors,"sec":$secs%.2f,"fresh_docs":$nFresh}""")
          assert(survivors > 0 && survivors < nFresh,
            s"exact admit shape wrong at x$n/$mode: $survivors of $nFresh survived " +
              "(planted copies must drop, novel docs must pass)")
          if (survivorsAcrossModes < 0) survivorsAcrossModes = survivors
          else assert(survivors == survivorsAcrossModes,
            s"probe changed exact-dedup semantics at x$n: $survivors != $survivorsAcrossModes")
        }
      }

      // bloom routing over the same index (mode `exact_bloom`): the filter
      // is MAINTAINED state in ExactDedupStream (bootstrapped once, merged
      // per admit), so it is built OUTSIDE the measured section — the
      // per-batch cost is routing plus the maybe-seen sliver's exact probe.
      // Planted copies are bloom-positive by construction and still pay the
      // index; novel docs mostly route around it entirely, so probe bytes
      // drop below even exact_probe and stay flat across scales. Survivor
      // set must be identical (the bloom routes, never decides).
      val bloomIdx = wh.read("dedup/HashIndex", hashSchema)
      val bloom = bloomIdx.stat.bloomFilter(
        "text_sha", math.max(bloomIdx.count(), 1L), 0.01)
      (1 to 2).foreach { rep =>
        bytesRead.set(0); recordsRead.set(0)
        val t0 = System.nanoTime()
        val survivors = Dedup.incrementalExactNewRouted(fresh,
          wh.read("dedup/HashIndex", hashSchema), "doc_id", "text", bloom,
          probeHashLimit = 1000).count()
        val secs = (System.nanoTime() - t0) / 1e9
        if (rep == 2) emit(
          f"""{"tool":"scaleprobe","scale_x":$n,"mode":"exact_bloom","index_bytes":$idxBytes,"probe_bytes":${bytesRead.get()},"probe_records":${recordsRead.get()},"survivors":$survivors,"sec":$secs%.2f,"fresh_docs":$nFresh}""")
        assert(survivors == survivorsAcrossModes,
          s"bloom routing changed exact-dedup semantics at x$n: $survivors != $survivorsAcrossModes")
      }
    }

    // ---- persisted-IVF probe pruning (modes `ivf_probe` / `ivf_fullscan`):
    // the same flat-probe claim as the dedup indexes, measured for ANN. The
    // assignment table is cell-sorted with small row groups (production
    // many-row-group shape); a 10-query batch at nProbe=4 probes ≤40
    // distinct cells, so with cells = √N the pushed In literal should keep
    // scanned records ≈ probedCells·(N/cells) ≈ 40·√N — SUBLINEAR in corpus
    // size, a FALLING fraction of the fullscan variant's N (literal cap
    // disabled) as the corpus grows. Same results either way: the cell
    // filter is a scan optimization, the join on `cell` already restricts
    // candidates. `probe_records` is the claim's metric; `probe_bytes` at
    // these toy 32 KB row groups is dominated by per-group metadata
    // re-reads on the filtered path (production 128 MB groups amortize
    // that) and by dictionary compression of the replicated floats on the
    // sequential path — reported for completeness, not comparability.
    if (section == "all" || section == "ivf") locally {
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      def rot(i: Int): DataFrame = {
        val r = i % 63 + 1
        if (i == 0) emb0
        else emb0.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          concat(slice(col("embedding"), r + 1, 10000),
            slice(col("embedding"), 1, r)).as("embedding"))
      }
      val queries = emb0.orderBy("vec_id").limit(10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      queries.count()
      // warehouse writes must come out many-row-grouped like the other
      // indexes (wh.replace carries no per-write options → set hadoop-level)
      val hc = spark.sparkContext.hadoopConfiguration
      val (oldBlock, oldPage) = (hc.get("parquet.block.size"), hc.get("parquet.page.size"))
      hc.setInt("parquet.block.size", 32768); hc.setInt("parquet.page.size", 8192)
      try scales.foreach { n =>
        val corpus = (0 until n).map(rot).reduce(_ union _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nVec = corpus.count()
        val cells = math.max(math.sqrt(nVec.toDouble).toInt, 8)
        // seed centroids (no Lloyd rounds): centroid QUALITY is irrelevant to
        // the scan measurement, cell COUNT is what scales the claim
        val cents = corpus.orderBy("vec_id").limit(cells)
          .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
        val wh = new AtomicWarehouse(spark,
          Files.createTempDirectory(s"graft-scaleprobe-ivf-x$n-").toString)
        new graft.operators.PersistedIvf(wh)
          .buildWith(corpus, "vec_id", "embedding", cents)
        var acrossModes = Set.empty[(Long, Long)]
        // ivf_sq8 scores the same probe on the stored int8 codes — same
        // row-group pruning (records match ivf_probe), but the scan's
        // ReadSchema drops the float vec column. The LISTENER cannot see
        // column pruning (Spark's parquet input metrics are split-level:
        // measured byte-identical across modes here), so the claim is
        // quantified from the parquet FOOTERS instead: per-column
        // compressed bytes of the assignment table = what a column-pruned
        // scan must read (vec_col_bytes vs code_col_bytes in the ivf_sq8
        // line). Result set differs from the float modes by design
        // (quantized scores), so it is excluded from the equality check.
        val colBytes: Map[String, Long] = {
          import scala.jdk.CollectionConverters._
          val conf = spark.sparkContext.hadoopConfiguration
          Files.walk(java.nio.file.Paths.get(wh.path(
              new graft.operators.PersistedIvf(wh).assignTable)))
            .iterator().asScala
            .filter(_.toString.endsWith(".parquet")).toSeq
            .flatMap { f =>
              val r = ParquetFileReader.open(HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(f.toString), conf))
              try r.getFooter.getBlocks.asScala
                .flatMap(_.getColumns.asScala)
                .map(c => c.getPath.toDotString.takeWhile(_ != '.') -> c.getTotalSize)
                .toSeq
              finally r.close()
            }
            .groupMapReduce(_._1)(_._2)(_ + _)
        }
        Seq(("ivf_probe", 1000), ("ivf_fullscan", 0), ("ivf_sq8", 1000))
          .foreach { case (mode, lim) =>
          val ivf = new graft.operators.PersistedIvf(wh, probeCellLimit = lim)
          (1 to 2).foreach { rep => // rep 1 warms page cache; rep 2 measured
            bytesRead.set(0); recordsRead.set(0)
            val t0 = System.nanoTime()
            val run = if (mode == "ivf_sq8")
              ivf.topKSq8(queries, "vec_id", "embedding", 10, nProbe = 4)
            else ivf.topK(queries, "vec_id", "embedding", 10, nProbe = 4)
            val got = run.select(col("q_id"), col("c_id")).collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet
            val secs = (System.nanoTime() - t0) / 1e9
            if (rep == 2) {
              val cols = if (mode == "ivf_sq8")
                s""","vec_col_bytes":${colBytes.getOrElse("vec", 0L)},"code_col_bytes":${colBytes.getOrElse("code", 0L)}"""
              else ""
              emit(
                f"""{"tool":"scaleprobe","scale_x":$n,"mode":"$mode","n_vec":$nVec,"cells":$cells,"probe_bytes":${bytesRead.get()},"probe_records":${recordsRead.get()},"topk_rows":${got.size}$cols,"sec":$secs%.2f}""")
            }
            assert(got.size == 10 * 10, s"IVF top-k shape wrong at x$n/$mode: ${got.size}")
            if (mode != "ivf_sq8") {
              if (acrossModes.isEmpty) acrossModes = got
              else assert(got == acrossModes,
                s"cell-literal pushdown changed IVF results at x$n/$mode")
            }
          }
        }
        corpus.unpersist(true)
      } finally {
        if (oldBlock == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", oldBlock)
        if (oldPage == null) hc.unset("parquet.page.size") else hc.set("parquet.page.size", oldPage)
      }
      queries.unpersist(true)
    }

    // ---- semantic-dedup stream: the per-batch neighbor probe reads only
    // the BATCH's cells of the accumulated cell index (In-literal row-group
    // pruning over cell-sorted files — SemanticDedupStream.processBatch).
    // Claim measured here: probed records grow ~√N with the corpus (cell
    // width at √N cells) while the pushdown-disabled path grows linearly,
    // with the ADMITTED SET identical. Modes `sem_probe` / `sem_fullscan`;
    // each mode runs on its own CLONE of the pre-built state dir because the
    // admit mutates it.
    if (section == "sem" || section == "all") locally {
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<float>").as("embedding"))
      def rot(i: Int): DataFrame = {
        val r = i % 63 + 1
        if (i == 0) emb0
        else emb0.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          concat(slice(col("embedding"), r + 1, 10000),
            slice(col("embedding"), 1, r)).as("embedding"))
      }
      // fresh batch: 25 NOVEL vectors (negations of base vectors — cosine to
      // any corpus rotation stays far from the 0.8 threshold; a rotated salt
      // would collide with a corpus replica's rotation at large N) + 25
      // re-keyed EXACT copies of replica-0 vectors (must all drop)
      val freshNovel = emb0.orderBy("vec_id").limit(25)
        .select((col("vec_id") + 1000000000000L).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      val freshCopies = emb0.orderBy("vec_id").limit(25)
        .select((col("vec_id") + 2000000000000L).as("vec_id"), col("embedding"))
      val fresh = freshNovel.union(freshCopies)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      fresh.count()
      def cloneDir(src: String): String = {
        val dst = Files.createTempDirectory("graft-scaleprobe-sem-clone-")
        val s = java.nio.file.Paths.get(src)
        Files.walk(s).forEach { p =>
          val q = dst.resolve(s.relativize(p).toString)
          if (Files.isDirectory(p)) Files.createDirectories(q)
          else Files.copy(p, q)
        }
        dst.toString
      }
      scales.foreach { n =>
        val corpus = (0 until n).map(rot).reduce(_ union _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nVec = corpus.count()
        val cells = math.max(math.sqrt(nVec.toDouble).toInt, 8)
        val cents = corpus.orderBy("vec_id").limit(cells)
          .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // pre-built stream state: centroids via init(), the cell index
        // written directly cell-sorted + many-row-grouped (the layout a
        // long-running stream's compaction maintains)
        val whDir = Files.createTempDirectory(s"graft-scaleprobe-sem-x$n-").toString
        val wh = new AtomicWarehouse(spark, whDir)
        val seed = new graft.streaming.SemanticDedupStream(wh, minCosine = 0.8)
        seed.init(cents)
        val assigned = graft.operators.Similarity.assignCells(
          corpus.select(col("vec_id").as("id"), col("embedding").as("vec")),
          cents.select(col("cell"), col("centroid").as("vec")), "id", "cell", "vec")
          .select(col("id"), col("cell").cast("int").as("cell"), col("vec"))
        sortedWrite(assigned, wh.path(seed.indexTable), "cell")
        var acrossModes = Set.empty[Long]
        Seq(("sem_probe", 1000), ("sem_fullscan", 0)).foreach { case (mode, lim) =>
          val sd = new graft.streaming.SemanticDedupStream(
            new AtomicWarehouse(spark, cloneDir(whDir)), minCosine = 0.8,
            probeCellLimit = lim)
          sd.index().count() // warm page cache; the measured rep follows
          bytesRead.set(0); recordsRead.set(0)
          val t0 = System.nanoTime()
          sd.processBatch(fresh, batchId = 0L)
          val secs = (System.nanoTime() - t0) / 1e9
          val surv = sd.survivors().collect().map(_.getLong(0)).toSet
          emit(
            f"""{"tool":"scaleprobe","scale_x":$n,"mode":"$mode","n_vec":$nVec,"cells":$cells,"probe_bytes":${bytesRead.get()},"probe_records":${recordsRead.get()},"survivors":${surv.size},"sec":$secs%.2f}""")
          assert(surv.forall(_ < 2000000000000L),
            s"planted exact copy admitted at x$n/$mode")
          assert(surv.exists(_ >= 1000000000000L),
            s"no novel vector admitted at x$n/$mode")
          if (acrossModes.isEmpty) acrossModes = surv
          else assert(surv == acrossModes,
            s"cell-literal pushdown changed the admitted set at x$n/$mode")
        }
        cents.unpersist(true); corpus.unpersist(true)
      }
      fresh.unpersist(true)
    }

    // ---- persisted-BM25 probe pruning (modes `fts_probe` / `fts_fullscan`
    // / `fts_inline`): the flat-probe claim measured for retrieval. Query
    // terms are drawn from replica 0 (they MATCH; other replicas' salted
    // tokens never collide), so matched postings stay CONSTANT while the
    // corpus and its postings grow ×N: the term-literal probe should read a
    // flat sliver, `fts_fullscan` (term cap 0 → broadcast semi-join over the
    // whole postings table) grows linearly, and `fts_inline`
    // (Retrieval.bm25 — re-tokenize the raw corpus per query batch, the
    // no-index baseline) grows linearly AND pays tokenization. Rankings must
    // be identical across all three (same corpus, same stats — the In
    // filter and the index are pure scan optimizations).
    if (section == "fts" || section == "all") locally {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true)))
      val qSchema = StructType(Seq(
        StructField("q_id", LongType, nullable = false),
        StructField("qtext", StringType, nullable = true)))
      val toks = salted(0).orderBy("doc_id").limit(2).select(col("text"))
        .collect().flatMap(r => Option(r.getString(0)).toSeq.flatMap(_.split(" ").take(4)))
      val queries = spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, toks.take(4).mkString(" ")),
        Row(2L, (toks.drop(4).take(3) :+ "zzz_absent_term").mkString(" "))), qSchema)
      val hc = spark.sparkContext.hadoopConfiguration
      val (oldBlock, oldPage) = (hc.get("parquet.block.size"), hc.get("parquet.page.size"))
      hc.setInt("parquet.block.size", 32768); hc.setInt("parquet.page.size", 8192)
      try scales.foreach { n =>
        val corpus = (0 until n).map(salted).reduce(_ union _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nDocs = corpus.count()
        val whDir = Files.createTempDirectory(s"graft-scaleprobe-fts-x$n-").toString
        val wh = new AtomicWarehouse(spark, whDir)
        val fts = new graft.operators.PersistedPostings(wh)
        fts.build(corpus, "doc_id", "text")
        // the raw corpus as a table too, so fts_inline's scan is measured
        // from disk like the index reads (a cached frame reads 0 bytes)
        sortedWrite(corpus, wh.path("fts/RawDocs"), "doc_id")
        corpus.unpersist(true)
        val idxBytes = Files.walk(java.nio.file.Paths.get(wh.path(fts.postingsTable)))
          .filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum()
        var acrossModes = Set.empty[(Long, Int, Long, Double)]
        Seq("fts_probe", "fts_fullscan", "fts_inline").foreach { mode =>
          (1 to 2).foreach { rep =>
            bytesRead.set(0); recordsRead.set(0)
            val t0 = System.nanoTime()
            val ranked = mode match {
              case "fts_probe" => fts.query(queries, "q_id", "qtext", 10)
              case "fts_fullscan" =>
                new graft.operators.PersistedPostings(wh, probeTermLimit = 0)
                  .query(queries, "q_id", "qtext", 10)
              case _ => graft.operators.Retrieval.bm25(
                wh.read("fts/RawDocs", docSchema), "doc_id", "text",
                queries, "q_id", "qtext", 10)
            }
            val rows = ranked.collect()
              .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
            val secs = (System.nanoTime() - t0) / 1e9
            if (rep == 2) {
              emit(
                f"""{"tool":"scaleprobe","scale_x":$n,"mode":"$mode","n_docs":$nDocs,"index_bytes":$idxBytes,"probe_bytes":${bytesRead.get()},"probe_records":${recordsRead.get()},"hits":${rows.size},"sec":$secs%.2f}""")
              assert(rows.nonEmpty, s"no BM25 hits at x$n/$mode — query terms lost")
              if (acrossModes.isEmpty) acrossModes = rows
              else assert(rows == acrossModes,
                s"mode $mode changed the ranking at x$n")
            }
          }
        }
      } finally {
        if (oldBlock != null) hc.set("parquet.block.size", oldBlock) else hc.unset("parquet.block.size")
        if (oldPage != null) hc.set("parquet.page.size", oldPage) else hc.unset("parquet.page.size")
      }
    }

    // ---- incremental-CC endpoint probe (modes `cc_probe` / `cc_fullscan`):
    // the persisted component state grows with every node ever seen; a
    // batch's addEdges must pay for its ENDPOINTS, not the graph. State is
    // synthesized directly (pair chains over n×100k nodes — node count is
    // what scales the claim, edge realism is irrelevant to the scan), built
    // id-sorted; ONE fixed 200-edge batch (half touching existing nodes,
    // half novel) runs against each scale and the listener measures the
    // endpoint-lookup records — flat for the In-literal probe, linear for
    // the probe-disabled broadcast-join fallback. Final labels asserted
    // identical across modes.
    if (section == "cc" || section == "all") locally {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val pairSchema = StructType(Seq(
        StructField("id_a", LongType, nullable = false),
        StructField("id_b", LongType, nullable = false)))
      def batchEdges(maxNode: Long): java.util.List[Row] = {
        val rows = new java.util.ArrayList[Row]()
        (0 until 100).foreach { i => // existing-node edges: bridge far chains
          rows.add(Row(Long.box(i * 1000L % maxNode), Long.box((i * 7777L + 13) % maxNode)))
        }
        (0 until 100).foreach { i => // novel-node edges
          rows.add(Row(Long.box(9000000000L + i), Long.box(9000000000L + i + 100)))
        }
        rows
      }
      scales.foreach { n =>
        val maxNode = n * 100000L
        // state synthesized DIRECTLY (node i in a 10-chain labeled by its
        // chain head) and written in the id-sorted many-row-group layout a
        // long-running maintainer holds — the probe measures addEdges
        // against the state, so how the state was originally computed is
        // irrelevant (a full build at 10M nodes is the thing the
        // incremental path exists to avoid)
        val whDir = Files.createTempDirectory(s"graft-scaleprobe-cc-x$n-").toString
        val wh = new AtomicWarehouse(spark, whDir)
        val cc0 = new graft.operators.PersistedComponents(wh)
        val state = spark.range(maxNode)
          .selectExpr("id", "(id div 10) * 10 AS comp")
        val hc = spark.sparkContext.hadoopConfiguration
        val (ob, op) = (hc.get("parquet.block.size"), hc.get("parquet.page.size"))
        hc.setInt("parquet.block.size", 32768); hc.setInt("parquet.page.size", 8192)
        try {
          wh.replace(cc0.stateTable,
            state.repartitionByRange(32, col("id")).sortWithinPartitions("id"))
          wh.replace(cc0.mergesTable, spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], cc0.mergesSchema))
        } finally {
          if (ob != null) hc.set("parquet.block.size", ob) else hc.unset("parquet.block.size")
          if (op != null) hc.set("parquet.page.size", op) else hc.unset("parquet.page.size")
        }
        val stateBytes = Files.walk(java.nio.file.Paths.get(whDir))
          .filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum()
        var acrossModes = Map.empty[Long, Long]
        Seq(("cc_probe", 1000), ("cc_fullscan", 0)).foreach { case (mode, lim) =>
          // clone the state so each mode folds the same batch independently
          val dst = Files.createTempDirectory(s"graft-scaleprobe-cc-$mode-")
          val src = java.nio.file.Paths.get(whDir)
          Files.walk(src).forEach { p =>
            val q = dst.resolve(src.relativize(p).toString)
            if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
          }
          val cc = new graft.operators.PersistedComponents(
            new AtomicWarehouse(spark, dst.toString), probeIdLimit = lim)
          val batch = spark.createDataFrame(batchEdges(maxNode), pairSchema)
          bytesRead.set(0); recordsRead.set(0)
          val t0 = System.nanoTime()
          cc.addEdges(batch)
          val secs = (System.nanoTime() - t0) / 1e9
          emit(
            f"""{"tool":"scaleprobe","scale_x":$n,"mode":"$mode","n_nodes":$maxNode,"state_bytes":$stateBytes,"probe_bytes":${bytesRead.get()},"probe_records":${recordsRead.get()},"sec":$secs%.2f}""")
          val labels = cc.components()
            .filter(col("id") >= 9000000000L || col("id") % 1000L === 0)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          if (acrossModes.isEmpty) acrossModes = labels
          else assert(labels == acrossModes,
            s"probe changed component labels at x$n/$mode")
        }
      }
    }

    val p = java.nio.file.Paths.get("target/scaleprobe.json")
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, out.toString.getBytes("UTF-8"))
    spark.stop()
  }
}
