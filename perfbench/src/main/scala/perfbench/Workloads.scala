package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import graft.Pipeline
import graft.model.Schemas
import graft.model.Schemas.{FileStatus, ProcessFileRow}
import graft.operators.{Canonicalize, Dedup, PersistedPostings, Retrieval, Staging, TransformPipeline}
import graft.sources.{AtomicWarehouse, CsvSource}
import graft.streaming.{DedupStream, FtsSync}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

/** Set-up times: creating and seeding the warehouse, then the warm-up. */
final case class Setup(createS: Double, warmS: Double)

/** What a workload run hands to the report. `latency` holds the samples of
  * the workload's primary operation (the end-to-end `latency_p50_s`);
  * `units` counts the work units per-layer metrics are divided by; `named`
  * holds every latency series the workload defines, by metric stem.
  */
final case class Outcome(
    setup: Setup,
    loopS: Double,
    rows: Long,
    inputRows: Long,
    inputBytes: Long,
    whRoot: String,
    primaryKinds: Set[String],
    units: Int,
    latency: Seq[Double],
    heapMb: Double,
    loopCommits: Long,
    loopFolds: Long,
    named: Seq[(String, Seq[Double])],
    checks: Seq[(String, Boolean)],
    layer: Map[String, Double] = Map.empty,
    progress: Seq[StreamingQueryProgress] = Nil)

/** `corruptExpected` perturbs one expected value, so the self-tests can show
  * that a wrong result becomes a failed operation.
  */
final case class Ctx(spark: SparkSession, t: Tracer, seed: Long, seconds: Int,
    dir: String, scale: Double, corruptExpected: Boolean = false) {
  def n(base: Int, min: Int = 1): Int = math.max(min, math.round(base * scale).toInt)

  /** A fresh warehouse: traced when tracing is on, plain otherwise. */
  def warehouse(root: String): AtomicWarehouse =
    if (t.enabled) new TracedWarehouse(spark, root, t) else new AtomicWarehouse(spark, root)

  /** The fixed number of primary operations a timed loop runs: about
    * `seconds` of work at `opS` seconds an operation, as measured when the
    * loop was sized. Every run and every commit then does the same work.
    */
  def ops(opS: Double): Int = math.max(1, math.round(seconds / opS).toInt)
}

object Workloads {
  val names: Seq[String] = Seq("ingest_files", "ingest_bulk", "dedup_stream", "corpus_sync")

  def run(name: String, c: Ctx): Outcome = name match {
    case "ingest_files" => ingest(c, "files", nNew = c.ops(10.0),
      sizes = Seq(c.n(100, 5), c.n(140, 7)), catalog = c.n(3000, 50), newShare = 0.03,
      redeliverEvery = 2, preAge = true)
    case "ingest_bulk" => ingest(c, "bulk", nNew = c.ops(30.0),
      sizes = Seq(c.n(120000, 60), c.n(100000, 50)), catalog = c.n(20000, 50),
      newShare = 0.7, redeliverEvery = 0, preAge = false)
    case "dedup_stream" => dedupStream(c)
    case "corpus_sync" => corpusSync(c)
  }

  /** Set-up: `create` makes a fresh warehouse with its lookups or index
    * seeded, then `warm` runs the workload's warm-up operations on it; each
    * is timed.
    */
  private def setUp[S](c: Ctx, label: String)(create: String => S)(warm: S => Unit)
      : (S, Setup) = {
    val t0 = Clock.now()
    val st = create(s"${c.dir}/$label-wh")
    val t1 = Clock.now()
    warm(st)
    (st, Setup((t1 - t0) / 1e9, (Clock.now() - t1) / 1e9))
  }

  private def write(path: String, s: String): Long = {
    val b = s.getBytes("UTF-8")
    Files.write(Paths.get(path), b)
    b.length.toLong
  }

  private def rowCount(wh: AtomicWarehouse, table: String, schema: StructType): Long =
    wh.read(table, schema).count()

  // ---- ingest_files / ingest_bulk ------------------------------------------

  /** The timed loop ingests `nNew` new files; after every `redeliverEvery`-th
    * one, starting with the first, an already-ingested file is re-delivered.
    *
    * `preAge` ages the warehouse in set-up with the ledger history of
    * earlier files, written as the ledger writes it: an attempt row, then
    * its Success flip, one commit each. The ledger then holds one small file
    * per commit, as an uncompacted ledger does, and the manifest log is long
    * enough that its auto-fold (past `logFoldEvery` manifests) lands inside
    * the timed loop, as it does in a long-running pipeline.
    */
  private def ingest(c: Ctx, label: String, nNew: Int, sizes: Seq[Int],
      catalog: Int, newShare: Double, redeliverEvery: Int, preAge: Boolean): Outcome = {
    import c.spark.implicits._
    // file 0 is the warm-up; the header variants come next, in order
    val nFiles = math.max(Gen.headerVariants, 1 + nNew)
    val pl = Gen.priceLists(c.seed, nFiles, sizes, catalog, newShare, label)
    val inDir = s"${c.dir}/input"
    new File(inDir).mkdirs()
    val bytes = pl.files.map(f => write(s"$inDir/${f.name}", f.csv))

    var history = Seq.empty[String]
    val (pipe, setup) = setUp(c, label) { root =>
      val wh = c.warehouse(root)
      wh.atomically { w =>
        w.replace("dims/Provider", pl.providers.filter(_.seeded)
          .map(p => (p.id, p.name, new java.sql.Timestamp(0L))).toDF("Id", "Name", "CreateDt"))
        w.replace("lookup/ProviderSynonym", pl.providers.filter(_.seeded)
          .flatMap(p => p.synonyms.map(s => (p.id, s))).zipWithIndex
          .map { case ((pid, s), i) => (i + 1, s, pid) }.toDF("Id", "Synonym", "ProviderId"))
        w.replace("dims/UnitOfMeasure", pl.units.toDF("Id", "Acronym", "Name"))
        w.replace("lookup/UnitOfMeasureAcronym",
          pl.unitAcronyms.toDF("Id", "Acronym", "UnitOfMeasureId"))
      }
      new Pipeline(c.spark, wh)
    } { p =>
      // warm-up: the first file goes through the whole path once; then the
      // parse → transform → staging plan of every header variant runs once
      // without writing, as a long-running pipeline has seen them all (a new
      // CSV shape costs seconds of code generation the first time)
      val r = p.processCsvPath(s"$inDir/${pl.files.head.name}")
      require(r.status, s"warm-up ingest failed: ${r.message}")
      pl.files.slice(1, Gen.headerVariants).foreach { f =>
        val raw = CsvSource.readPath(c.spark, s"$inDir/${f.name}")
        val b = Staging.build(TransformPipeline(
          Canonicalize.canonicalize(Canonicalize.dropJunkColumns(raw))), "warm-up")
        Seq(b.provider, b.product, b.providerProduct).foreach(_.collect())
      }
      if (preAge) {
        // the fold lands on the loop's `foldAt`-th or next commit, inside
        // the first new file (about six commits)
        val foldAt = 4
        val fold = p.wh.asInstanceOf[AtomicWarehouse].logFoldEvery + 1
        val past = math.max(0, fold - foldAt - Report.logTail(p.wh.root)) / 2
        history = (1 to past).map(i => f"history-$i%04d.csv")
        val ts = new java.sql.Timestamp(0L)
        history.zipWithIndex.foreach { case (f, i) =>
          Seq(FileStatus.InProgress, FileStatus.Success).zipWithIndex.foreach { case (st, seq) =>
            // ids after the warm-up file's 1, as the ledger would mint them
            p.wh.append("ledger/ProcessFile", Seq(
              ProcessFileRow(2 + i, "products", f, st, ts, None, None, None)).toDF()
              .withColumn("SeqNo", lit(seq)))
          }
        }
      }
    }

    val done = ArrayBuffer(0)
    val rnd = new scala.util.Random(c.seed + 7)
    val v0 = Report.logVersion(pipe.wh.root)
    val f0 = Report.logSnapshots(pipe.wh.root)
    val t0 = Clock.now()
    (1 to nNew).foreach { i =>
      val f = pl.files(i)
      c.t.op("file")(pipe.processCsvPath(s"$inDir/${f.name}"))(_ => f.rows.toLong,
        r => r.status && r.message.startsWith("Processed"))
      done += i
      if (redeliverEvery > 0 && (i - 1) % redeliverEvery == 0) {
        val g = pl.files(done(rnd.nextInt(done.size)))
        c.t.op("skip")(pipe.processCsvPath(s"$inDir/${g.name}"))(_ => 0L,
          r => r.status && r.message.contains("already processed"))
      }
    }
    val loopS = (Clock.now() - t0) / 1e9
    val heapMb = Main.heapAfterGcMb()

    val wh = pipe.wh.asInstanceOf[AtomicWarehouse]
    val ingested = done.map(pl.files)
    val (eProv0, eProd, ePair) = Gen.expectedDims(pl, ingested.toSeq)
    val eProv = if (c.corruptExpected) eProv0 + 1 else eProv0
    val ledger = pipe.ledger.all().groupBy("FileName")
      .agg(count(lit(1)).as("attempts"), sum(when(col("StatusId") === 3, 1).otherwise(0)).as("ok"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val checks = Seq(
      "ledger: one Success attempt per distinct file, none for re-deliveries" ->
        (ledger.keySet == (ingested.map(_.name) ++ history).toSet &&
          ledger.values.forall(_ == ((1L, 1L)))),
      s"Provider rows = $eProv" -> (rowCount(wh, "dims/Provider", Schemas.provider) == eProv),
      s"Product rows = $eProd" -> (rowCount(wh, "dims/Product", Schemas.product) == eProd),
      s"Provider_Product rows = $ePair" ->
        (rowCount(wh, "dims/Provider_Product", Schemas.providerProduct) == ePair))
    val files = c.t.ops.filter(_.kind == "file").map(_.wall).toSeq
    Outcome(setup, loopS, c.t.ops.map(_.rows).sum, ingested.map(_.rows.toLong).sum,
      done.map(bytes).sum, wh.root, Set("file"), files.size, files, heapMb,
      Report.logVersion(wh.root) - v0, Report.logSnapshots(wh.root) - f0,
      Seq("file_latency" -> files, "skip_latency" -> c.t.ops.filter(_.kind == "skip").map(_.wall).toSeq),
      checks)
  }

  // ---- dedup_stream ----------------------------------------------------------

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  private def dedupStream(c: Ctx): Outcome = {
    val warmBatches = 1
    val loopBatches = c.ops(3.5)
    val corpus = Gen.corpus(c.seed, nBatches = warmBatches + loopBatches,
      batchDocs = c.n(2000, 40))
    // pre-stage one parquet file per micro-batch (one write job), outside
    // every timed region
    val gen = s"${c.dir}/input"
    val rows = corpus.batches.zipWithIndex.flatMap { case (docs, b) =>
      docs.map(d => Row(d.id, d.text, b)) }
    c.spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        docSchema.add(StructField("b", IntegerType, nullable = false)))
      .repartition(corpus.batches.size, col("b")).write.partitionBy("b").parquet(gen)
    val files = corpus.batches.indices.map { i =>
      val part = new File(s"$gen/b=$i").listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new File(f"$gen/batch-$i%05d.parquet")
      Files.move(part.toPath, dst.toPath)
      dst
    }
    val src = s"${c.dir}/stream-src"
    var delivered = 0
    // deliver the next `n` files; the file source orders by modification time
    def deliver(n: Int): Unit = (0 until n).foreach { _ =>
      val f = files(delivered)
      val dst = Paths.get(src, f.getName)
      Files.copy(f.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(
        1700000000000L + delivered * 1000L))
      delivered += 1
    }
    var ckpt = ""
    val ((wh, ds), setup) = setUp(c, "dedup") { root =>
      new File(src).listFiles() match { case null => case fs => fs.foreach(_.delete()) }
      new File(src).mkdirs()
      delivered = 0
      ckpt = s"$root-ckpt"
      val wh = c.warehouse(root)
      (wh, new DedupStream(wh))
    } { case (_, ds) =>
      // warm-up: the first batch drains as part of set-up
      deliver(warmBatches)
      ds.start(src, ckpt).awaitTermination()
    }

    // the timed loop is ONE backlog drain of a fixed number of batches, so
    // the one drain start is paid once, by the first batch
    val fs0 = if (c.t.enabled) FsCounts.now() else FsCounts.zero
    val v0 = Report.logVersion(wh.root)
    val f0 = Report.logSnapshots(wh.root)
    val t0 = Clock.now()
    deliver(loopBatches)
    val q = ds.start(src, ckpt)
    q.awaitTermination()
    val ps = q.recentProgress.filter(_.numInputRows > 0).toSeq
    // file-system counters exist per drain; each batch gets an even share
    val fs = if (c.t.enabled) FsCounts.now() - fs0 else FsCounts.zero
    val k = math.max(1, ps.size)
    val progress = ps.map(_ -> FsCounts(fs.readOps / k, fs.listOps / k, fs.writeOps / k,
      fs.bytesRead / k, fs.bytesWritten / k))
    val loopS = (Clock.now() - t0) / 1e9
    val heapMb = Main.heapAfterGcMb()
    progress.foreach { case (p, fs) =>
      val s = java.time.Instant.parse(p.timestamp)
      val st = s.getEpochSecond * 1000000000L + s.getNano
      val dur = p.durationMs.get("triggerExecution").longValue() * 1000000L
      c.t.addOp(Op(c.t.nextId(), "batch", st, st + dur, ok = true, p.numInputRows, fs))
    }

    // checks, after timing: the stream's pairs equal a from-scratch
    // lshVerifiedPairs over everything admitted, with the same parameters
    val docs = corpus.batches.take(delivered).flatten
    val admitted = ds.corpus()
    val ref0 = Dedup.lshVerifiedPairs(admitted, "doc_id", "text")
      .select(col("id_a"), col("id_b"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ref = if (c.corruptExpected) ref0 + ((-1L, -2L, 1.0)) else ref0
    val got = ds.pairs().select(col("id_a"), col("id_b"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ids = docs.map(_.id).toSet
    val plantedAbove = corpus.planted
      .filter { case (a, b, j) => ids(a) && ids(b) && j >= 0.5 }.map(p => (p._1, p._2)).toSet
    val foundPlanted = got.count(p => plantedAbove((p._1, p._2)))
    val checks = Seq(
      "stream pairs = lshVerifiedPairs over the admitted corpus" -> (got == ref),
      s"corpus rows = ${docs.size}" -> (admitted.count() == docs.size))
    val batches = progress.map(_._1.durationMs.get("triggerExecution").longValue() / 1e3).toSeq
    Outcome(setup, loopS, progress.map(_._1.numInputRows).sum, docs.size.toLong,
      files.take(delivered).map(_.length).sum, wh.root, Set("batch"), batches.size, batches,
      heapMb, Report.logVersion(wh.root) - v0, Report.logSnapshots(wh.root) - f0,
      Seq("batch_latency" -> batches), checks,
      Map("dedup.pairs_found" -> got.size.toDouble,
        "dedup.planted_recall" ->
          (if (plantedAbove.isEmpty) 1.0 else foundPlanted.toDouble / plantedAbove.size)),
      progress.map(_._1).toSeq)
  }

  // ---- corpus_sync -------------------------------------------------------------

  private def corpusSync(c: Ctx): Outcome = {
    import c.spark.implicits._
    val table = "corpus/docs"
    val script = Gen.syncScript(c.seed, "bench.corpus.docs",
      initialDocs = c.n(4000, 50), nCycles = 60, rowsPerStmt = c.n(40, 4), queriesPerBatch = 8)
    def queries(i: Int) = script.queries(i).toDF("q_id", "qtext")

    val ((wh, fts, sync), setup) = setUp(c, "corpus") { root =>
      val wh = c.warehouse(root)
      c.spark.conf.set("spark.sql.catalog.bench", classOf[graft.sql.GraftCatalog].getName)
      c.spark.conf.set("spark.sql.catalog.bench.root", root)
      wh.setChangeFeed(table, on = true)
      wh.append(table, script.initial.map(d => (d.id, d.text)).toDF("doc_id", "text"))
      val fts = new PersistedPostings(wh)
      fts.build(Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
      (wh, fts, new FtsSync(wh, table, docSchema, "doc_id", "text", fts))
    } { case (_, fts, sync) =>
      // warm-up: index the initial corpus and answer one query batch
      sync.sync()
      fts.query(queries(0), "q_id", "qtext", k = 10).collect()
    }

    // the statement kinds rotate and each costs differently, so the loop
    // runs a fixed number of cycles: every run reaches the same kinds
    val nCycles = c.ops(3.5)
    var cycle = 0
    var cursor = sync.cursor()
    val cycles = ArrayBuffer[Double]()
    val v0 = Report.logVersion(wh.root)
    val f0 = Report.logSnapshots(wh.root)
    val t0 = Clock.now()
    while (cycle < nCycles) {
      val st = script.stmts(cycle)
      val c0 = Clock.now()
      c.t.op("dml")(c.spark.sql(st.sql))(_ => st.rows.toLong, _ => true)
      c.t.op("sync")(sync.sync())(_ => 0L, v => v > cursor).foreach(cursor = _)
      c.t.op("query")(fts.query(queries(cycle + 1), "q_id", "qtext", k = 10).collect())(
        _ => 0L, _.nonEmpty)
      cycles += (Clock.now() - c0) / 1e9
      cycle += 1
    }
    val loopS = (Clock.now() - t0) / 1e9
    val heapMb = Main.heapAfterGcMb()

    // checks, after timing: the table holds the script's live corpus, and
    // BM25 from the synced index equals Retrieval.bm25 over that corpus
    val live = wh.read(table, docSchema)
    val expected0 = if (cycle == 0) script.initial.map(d => d.id -> d.text).toMap
      else script.states(cycle - 1)
    val expected = if (c.corruptExpected) expected0 - expected0.keys.min else expected0
    val got = live.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def top(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id"), col("rank").cast("long"), col("id"), col("bm25")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val q = queries(cycle)
    val checks = Seq(
      s"live corpus = script state after $cycle statements" -> (got == expected),
      "synced BM25 top-k = Retrieval.bm25 over the live corpus" ->
        (top(fts.query(q, "q_id", "qtext", k = 10)) ==
          top(Retrieval.bm25(live, "doc_id", "text", q, "q_id", "qtext", k = 10))))
    val stmtBytes = script.stmts.take(cycle).map(_.sql.getBytes("UTF-8").length.toLong).sum
    Outcome(setup, loopS, c.t.ops.map(_.rows).sum,
      script.initial.size + script.stmts.take(cycle).map(_.rows.toLong).sum,
      script.initial.map(_.text.getBytes("UTF-8").length.toLong + 8).sum + stmtBytes,
      wh.root, Set("dml", "sync", "query"), cycles.size, cycles.toSeq, heapMb,
      Report.logVersion(wh.root) - v0, Report.logSnapshots(wh.root) - f0,
      Seq("cycle_latency" -> cycles.toSeq) ++ Seq("dml", "sync", "query").map(k =>
        s"${k}_latency" -> c.t.ops.filter(_.kind == k).map(_.wall).toSeq),
      checks)
  }
}
