package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.operators.Dedup
import graft.sources.AtomicWarehouse
import graft.streaming.ExactDedupStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming exact dedup promises FIRST-ARRIVAL-WINS: the survivor of each
  * content group is the min-id row of the earliest micro-batch containing
  * that text — stated directly as
  * `row_number() OVER (PARTITION BY text_sha ORDER BY batch, id) = 1`
  * (the `dedup_exact_stream` driver oracle). The survivor CONTENT set is
  * batching-invariant even though survivor ids are not, and the two-table
  * admit must hold up under checkpoint replay on both warehouse flavors.
  */
class ExactDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select($"doc_id".cast("long").as("doc_id"), $"text")

  private def writeChunks(inDir: String, parts: Seq[DataFrame]): Unit =
    parts.zipWithIndex.foreach { case (p, i) =>
      val tmp = Files.createTempDirectory(s"graft-xstream-c$i-").toString + "/out"
      p.coalesce(1).write.parquet(tmp)
      val part = graft.LocalFs.onlyParquet(tmp)
      Files.move(part, Paths.get(inDir, f"chunk_$i%02d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }

  private def survivorSet(xs: ExactDedupStream): Set[(Long, Option[String])] =
    xs.survivors().collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet

  test("3 micro-batches admit exactly the first-arrival winners") {
    val inDir = Files.createTempDirectory("graft-xstream-in-").toString
    val ckpt = Files.createTempDirectory("graft-xstream-ck-").toString
    val whDir = Files.createTempDirectory("graft-xstream-wh-").toString
    writeChunks(inDir, (0 until 3).map(i => docs.filter(pmod($"doc_id", lit(3)) === i)))

    val xs = new ExactDedupStream(new AtomicWarehouse(spark, whDir))
    val q = xs.start(inDir, ckpt, Trigger.AvailableNow())
    assert(q.awaitTermination(300000), "stream failed to drain within 300 s")

    val expected = docs
      .withColumn("text_sha", coalesce(sha2($"text", 256), lit("__null_text__")))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"text_sha").orderBy(pmod($"doc_id", lit(3)), $"doc_id")))
      .filter($"rn" === 1).select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val got = survivorSet(xs)
    assert(got == expected, s"streamed ${got.size} survivors vs expected ${expected.size}")
  }

  test("survivor content set is batching-invariant (survivor ids are not)") {
    val d = docs
    val cut = d.agg(max($"doc_id")).head.getLong(0) / 2
    val batchings = Seq(
      (0 until 3).map(i => d.filter(pmod($"doc_id", lit(3)) === i)),
      Seq(d.filter($"doc_id" > cut), d.filter($"doc_id" <= cut))) // reversed halves
    val runs = batchings.map { parts =>
      val xs = new ExactDedupStream(
        new AtomicWarehouse(spark, Files.createTempDirectory("graft-xstream-inv-").toString))
      parts.foreach(xs.processBatch) // the exact code path foreachBatch drives
      (xs.survivors()
        .select(coalesce(sha2($"text", 256), lit("__null_text__")).as("s"))
        .collect().map(_.getString(0)).toSet,
        xs.survivors().count())
    }
    val distinctContents = d
      .select(coalesce(sha2($"text", 256), lit("__null_text__"))).distinct().count()
    runs.foreach { case (shas, n) =>
      assert(shas.size.toLong == distinctContents)
      assert(n == distinctContents, "exactly one survivor row per distinct content")
    }
    assert(runs(0)._1 == runs(1)._1)
  }

  test("checkpoint replay of a fully committed batch re-admits nothing") {
    val xs = new ExactDedupStream(new AtomicWarehouse(spark,
      Files.createTempDirectory("graft-xstream-replay-").toString))
    val b = docs.filter($"doc_id" < 50)
    xs.processBatch(b)
    val first = survivorSet(xs)
    xs.processBatch(b) // replay: batch committed but checkpoint offset lost
    assert(survivorSet(xs) == first)
    assert(xs.survivors().count() == first.size, "no duplicate admit rows")
  }

  test("crash mid-admit: the replay admits exactly once") {
    val b = docs.filter($"doc_id" < 30)
    val winners = Dedup.exactDedup(b, "doc_id", "text")
    val expected = winners.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet

    // a crash between the corpus and index appends leaves NOTHING visible,
    // so replay admits cleanly, exactly once
    val awh = new AtomicWarehouse(spark,
      Files.createTempDirectory("graft-xstream-crash-a-").toString)
    val xs = new ExactDedupStream(awh)
    intercept[RuntimeException] {
      awh.atomically { w =>
        w.append(xs.corpusTable, winners)
        throw new RuntimeException("crash mid-admit")
      }
    }
    assert(xs.survivors().count() == 0, "crashed transaction must not be visible")
    xs.processBatch(b)
    assert(survivorSet(xs) == expected)
    assert(xs.survivors().count() == expected.size)
    // the replayed hashes still reject later copies
    val copies = b.select(($"doc_id" + 100000).as("doc_id"), $"text")
    xs.processBatch(copies)
    assert(survivorSet(xs) == expected, "replayed hashes must reject later copies")
  }

  test("bloom routing: survivors identical to the plain path, state persists across instances") {
    val batches = (0 until 4).map(i => docs.filter(pmod($"doc_id", lit(4)) === i)
      .unionByName(docs.filter(pmod($"doc_id", lit(4)) === i)
        .select(($"doc_id" + 50000).as("doc_id"), $"text"))) // exact copies in every batch
    val plain = new ExactDedupStream(new AtomicWarehouse(spark,
      Files.createTempDirectory("graft-xstream-pl-").toString), bloomMinIndexBytes = -1)
    val bwh = new AtomicWarehouse(spark,
      Files.createTempDirectory("graft-xstream-bl-").toString)
    // gate 0: bloom bootstraps on the first batch; tiny capacity + high fpp
    // forces BOTH saturation rebuilds and real false positives
    batches.take(2).foreach(new ExactDedupStream(bwh, bloomMinIndexBytes = 0,
      bloomFpp = 0.25, bloomInitialCapacity = 64).processBatch(_))
    // a FRESH instance must pick the persisted bloom back up mid-stream
    val resumed = new ExactDedupStream(bwh, bloomMinIndexBytes = 0,
      bloomFpp = 0.25, bloomInitialCapacity = 64)
    assert(resumed.readBloomState().isDefined, "bloom state not persisted")
    batches.drop(2).foreach(resumed.processBatch(_))
    batches.foreach(plain.processBatch(_))
    assert(survivorSet(resumed) == survivorSet(plain),
      "bloom routing changed the survivor set")
    // the maintained count covers every admitted hash, and capacity grew
    val (cap, n, _) = resumed.readBloomState().get
    assert(n == resumed.survivors().count(), s"bloom n_items $n != survivors")
    assert(cap > 64, s"saturated bloom never rebuilt (capacity $cap)")
  }

  test("bloom state survives crash-mid-admit and never plants false negatives") {
    val awh = new AtomicWarehouse(spark,
      Files.createTempDirectory("graft-xstream-blcrash-").toString)
    val mk = () => new ExactDedupStream(awh, bloomMinIndexBytes = 0)
    val b1 = docs.filter($"doc_id" < 20)
    mk().processBatch(b1)
    // crash AFTER the bloom merge would have happened: simulate by a failed
    // transaction — atomically rolls everything (incl. the bloom row) back
    val expected = survivorSet(mk())
    intercept[RuntimeException] {
      awh.atomically { w =>
        w.replace(mk().bloomTable,
          spark.range(0).select(lit(0L).as("capacity"), lit(0L).as("n_items"),
            lit(Array.emptyByteArray).as("bloom")))
        throw new RuntimeException("crash mid-admit")
      }
    }
    val xs = mk()
    assert(xs.readBloomState().isDefined, "bloom state lost to a rolled-back tx")
    // replay + later copies: the recovered bloom must still reject all seen
    xs.processBatch(b1)
    xs.processBatch(b1.select(($"doc_id" + 90000).as("doc_id"), $"text"))
    assert(survivorSet(xs) == expected,
      "recovered bloom state admitted a duplicate (false negative)")
  }
}
