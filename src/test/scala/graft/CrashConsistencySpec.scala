package graft

import java.nio.file.Files

import graft.model.Schemas
import graft.model.Schemas.FileStatus
import graft.operators.Dedup
import graft.sources.{AtomicWarehouse, CsvSource, Warehouse}
import graft.streaming.DedupStream
import org.apache.spark.sql.functions._

/** Adversarial proof of the crash-recovery contract. Every operator declares
  * its batch as one `atomically` transaction, so a crash anywhere inside the
  * batch must leave:
  *
  *   - every table at its PRE-BATCH snapshot — no partially merged dims, no
  *     partially admitted stream batch; and
  *   - a plain RE-RUN (EP1 re-processing the file, a stream's checkpoint
  *     replay) converging to exactly the crash-free run's end state.
  *
  * Crashes are injected at the warehouse boundary ([[CrashingWarehouse]]),
  * mid-transaction: after some of the batch's writes have staged.
  */
class CrashConsistencySpec extends SparkSpec {
  import spark.implicits._

  private def fresh(prefix: String): String = Files.createTempDirectory(prefix).toString

  private val sampleCsv =
    """Producto,Fecha 1,Provedor,Precio,,,,
      |Aceite Capullo 500ml *,07/03/2025,Vicente,1.347,,,,
      |Arroz Premium 1kg x 12,07/03/2025,DosPinos,2.500,,,,
      |Arroz Premium 1kg x 12,08/03/2025,Dos Pinos,2.600,,,,
      |Queso Tierno 400g,1/07/2025,Serrano ,1.800,,,,
      |""".stripMargin
  // a second file with a new provider AND a new product, so a partial merge
  // of it would be visible in the dims
  private val secondCsv = sampleCsv + "Leche Entera 1L,09/03/2025,Lala,0.950,,,,\n"

  private def dimState(wh: Warehouse): (Seq[String], Seq[String], Long, Seq[String]) = (
    wh.read("dims/Provider", Schemas.provider).collect().map(_.getString(1)).sorted.toSeq,
    wh.read("dims/Product", Schemas.product).collect().map(_.getString(2)).sorted.toSeq,
    wh.read("dims/Provider_Product", Schemas.providerProduct).count(),
    wh.read("dims/UnitOfMeasure", Schemas.unitOfMeasure).collect().map(_.getString(1)).sorted.toSeq)

  test("EP1 crash mid-merge: re-run converges dims to the clean end-state") {
    // clean reference run: both files
    val cleanWh = new AtomicWarehouse(spark, fresh("graft-crash-clean-"))
    val clean = new Pipeline(spark, cleanWh)
    assert(clean.processCsv(CsvSource.readString(spark, sampleCsv), "products", "a.csv").status)
    assert(clean.processCsv(CsvSource.readString(spark, secondCsv), "products", "b.csv").status)
    val want = dimState(cleanWh)

    // crashed run: the second file's UoM and Provider merges stage, then
    // the Product replace dies
    val wh = new CrashingWarehouse(spark, fresh("graft-crash-"))
    val p = new Pipeline(spark, wh)
    assert(p.processCsv(CsvSource.readString(spark, sampleCsv), "products", "a.csv").status)
    val preBatch = dimState(wh)
    assert(preBatch != want, "the second file must change the dims")
    wh.failOn = Some("dims/Product")
    val crashed = p.processCsv(CsvSource.readString(spark, secondCsv), "products", "b.csv")
    assert(!crashed.status && crashed.message.contains("injected crash"))
    assert(p.ledger.statusOf("products", "b.csv") == FileStatus.Failed)
    // NO partial merge: every dim exactly as after the first file
    assert(dimState(wh) == preBatch)

    // recovery = plain re-run, no cleanup step required
    wh.failOn = None
    assert(p.processCsv(CsvSource.readString(spark, secondCsv), "products", "b.csv").status)
    assert(dimState(wh) == want)
    assert(p.ledger.statusOf("products", "b.csv") == FileStatus.Success)
    // the failed attempt is preserved as history, not erased
    assert(p.ledger.all().filter(col("StatusId") === FileStatus.Failed).count() == 1)
    // the merge layer preserves the reference's trailing-space provider text
    assert(dimState(wh)._1.exists(_.trim == "Serrano"))
  }

  test("DedupStream crash after partial admit: replay keeps pairs/corpus set-exact") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("long").as("doc_id"), $"text")
      .orderBy("doc_id").limit(150).as[(Long, String)].collect()
    val Seq(b1, b2, b3) = docs.grouped(50).map(_.toSeq.toDF("doc_id", "text")).toSeq

    val wh = new CrashingWarehouse(spark, fresh("graft-crash-ds-"))
    val ds = new DedupStream(wh, minJaccard = 0.35, minSigMatchesOverride = 4)
    ds.processBatch(b1)
    def state() = (
      ds.pairs().collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet,
      ds.corpus().select("doc_id").collect().map(_.getLong(0)).sorted.toSeq,
      wh.read(ds.bandTable, ds.bandSchema).count(),
      wh.read(ds.indexTable, ds.sigSchema).count())
    val preBatch = state()

    // crash on the signature-index write: pairs, bands, corpus and bloom
    // stage concurrently beside it, and all of them must roll back
    wh.failOn = Some(ds.indexTable)
    val boom = intercept[java.io.IOException](ds.processBatch(b2))
    assert(boom.getMessage.contains("injected crash"))
    assert(state() == preBatch, "a crashed admit leaked part of the batch")

    // recovery = checkpoint replays the batch; then life goes on with b3
    wh.failOn = None
    ds.processBatch(b2)
    ds.processBatch(b3)

    val streamed = ds.pairs().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val scratch = Dedup.lshVerifiedPairs(docs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        minJaccard = 0.35, minSigMatchesOverride = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed.toSet == scratch, s"streamed ${streamed.toSet.size} pairs vs ${scratch.size}")
    // exactly-once: no row of the replayed batch lands twice
    assert(streamed.size == scratch.size)
    assert(ds.corpus().count() == 150)
    assert(ds.corpus().select("doc_id").distinct().count() == 150)
  }

  test("SemanticDedupStream crash mid-admit: replay survivor SET crash-free-exact") {
    def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"),
        $"embedding".cast("array<float>").as("embedding"))
    def seeds = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cell"), $"embedding".as("centroid"))
    val Seq(b1, b2, b3) = Seq(
      emb.filter($"vec_id" < 150),
      emb.filter($"vec_id" >= 150 && $"vec_id" < 300),
      emb.filter($"vec_id" >= 300))

    // crash-free reference run
    val cleanSd = new graft.streaming.SemanticDedupStream(
      new AtomicWarehouse(spark, fresh("graft-crash-sem-clean-")), minCosine = 0.45)
    cleanSd.init(seeds)
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) => cleanSd.processBatch(b, i.toLong) }
    val want = cleanSd.survivors().select("id").collect().map(_.getLong(0)).toSet

    // crashed run: the index append stages, the survivors append dies
    val wh = new CrashingWarehouse(spark, fresh("graft-crash-sem-"))
    val sd = new graft.streaming.SemanticDedupStream(wh, minCosine = 0.45)
    sd.init(seeds)
    sd.processBatch(b1, 0L)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val preBatch = (ids(sd.index()), ids(sd.survivors()))
    wh.failOn = Some(sd.survivorsTable)
    assert(intercept[java.io.IOException](sd.processBatch(b2, 1L))
      .getMessage.contains("injected crash"))
    assert((ids(sd.index()), ids(sd.survivors())) == preBatch,
      "a crashed admit leaked part of the batch")
    assert(sd.ledger().filter($"batch_id" === 1L).isEmpty,
      "batch 1 must not be ledgered after the crash")
    wh.failOn = None
    sd.processBatch(b2, 1L) // checkpoint replay
    sd.processBatch(b3, 2L)

    assert(sd.survivors().select("id").collect().map(_.getLong(0)).toSet == want,
      "replay changed the survivor set")
    // exactly-once: every arrived vector indexed once, every survivor once
    assert(sd.index().count() == 500)
    assert(sd.index().select("id").distinct().count() == 500)
    assert(sd.survivors().count() == want.size)
  }

  test("IvfStream crash between appends: replay keeps the assignment ID set intact") {
    def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"),
        $"embedding".cast("array<float>").as("embedding"))
    def run(wh: AtomicWarehouse) = {
      val st = new graft.streaming.IvfStream(wh)
      st.ivf.buildWith(emb.filter($"vec_id" < 300), "vec_id", "embedding",
        emb.filter($"vec_id" < 8).select($"vec_id".as("cell"), $"embedding".as("centroid")))
      st
    }
    def assignments(st: graft.streaming.IvfStream) = st.ivf.assignments()
      .select("id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq

    // crash-free reference run
    val clean = run(new AtomicWarehouse(spark, fresh("graft-crash-ivf-clean-")))
    clean.processBatch(emb.filter($"vec_id" >= 300), 0L)

    // the assignment append stages, the stats append dies
    val wh = new CrashingWarehouse(spark, fresh("graft-crash-ivf-"))
    val st = run(wh)
    val preBatch = assignments(st)
    wh.failOn = Some(st.ivf.statsTable)
    assert(intercept[java.io.IOException](
      st.processBatch(emb.filter($"vec_id" >= 300), 0L))
      .getMessage.contains("injected crash"))
    assert(assignments(st) == preBatch, "a crashed admit leaked assignment rows")
    assert(st.ivf.ingestLedger().isEmpty, "the crashed batch must not be ledgered")
    wh.failOn = None
    st.processBatch(emb.filter($"vec_id" >= 300), 0L) // checkpoint replay

    assert(assignments(st) == assignments(clean))
    assert(assignments(st).map(_._1).distinct.size == 500)
    assert(st.ivf.ingestLedger().collect().map(_.getLong(0)).toSet == Set(0L))
  }
}
