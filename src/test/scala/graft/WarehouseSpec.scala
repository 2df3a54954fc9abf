package graft

import java.nio.file.Files

import graft.model.Schemas
import graft.sources.AtomicWarehouse
import org.apache.spark.sql.functions._

/** Warehouse semantics: retry/backoff (the reference's DB-awakening contract,
  * core/database.py:38-50 — ≤3 attempts, 1s then 2s), atomic replace
  * (read-modify-write without clobbering the input mid-plan) and concurrent
  * staging (`stageAll`).
  */
class WarehouseSpec extends SparkSpec {

  private def freshWh() = new AtomicWarehouse(spark, Files.createTempDirectory("graft-whspec-").toString)

  test("withRetry: succeeds on third attempt, backoff 1s then 2s") {
    val wh = freshWh()
    var calls = 0
    val t0 = System.nanoTime()
    val r = wh.withRetry(attempts = 3, firstBackoffMs = 100) {
      calls += 1
      if (calls < 3) throw new RuntimeException("db asleep")
      "awake"
    }
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(r == "awake" && calls == 3)
    assert(elapsedMs >= 300, s"expected >= 100+200ms backoff, got $elapsedMs") // 100 + 200
  }

  test("withRetry: gives up after the attempt budget") {
    val wh = freshWh()
    var calls = 0
    val e = intercept[RuntimeException] {
      wh.withRetry(attempts = 3, firstBackoffMs = 1) { calls += 1; throw new RuntimeException("still asleep") }
    }
    assert(e.getMessage == "still asleep" && calls == 3)
  }

  test("replace: a table can be rewritten from a plan that reads itself") {
    import spark.implicits._
    val wh = freshWh()
    val t = "dims/Provider"
    wh.append(t, Seq((1, "A", new java.sql.Timestamp(0))).toDF("Id", "Name", "CreateDt"))
    // read-modify-write: bump ids by 10 reading the same table
    val updated = wh.read(t, Schemas.provider).withColumn("Id", col("Id") + 10)
    wh.replace(t, updated)
    val back = wh.read(t, Schemas.provider).collect()
    assert(back.length == 1 && back.head.getInt(0) == 11)
    // no data residue in the stage area (empty scaffold dirs are fine)
    val tmp = java.nio.file.Paths.get(s"${wh.root}/txstage")
    if (java.nio.file.Files.exists(tmp)) {
      val leftovers = java.nio.file.Files.walk(tmp).filter(java.nio.file.Files.isRegularFile(_))
        .toArray
      assert(leftovers.isEmpty, leftovers.mkString(","))
    }
  }

  test("stageAll: every thunk of a call runs at once, none queued behind a sibling") {
    val wh = freshWh()
    // one more thunk than cores, each waiting for all the others: a pool
    // with a thread per core would leave the last one queued until the
    // others time out
    val n = Runtime.getRuntime.availableProcessors + 1
    val latch = new java.util.concurrent.CountDownLatch(n)
    val passed = new java.util.concurrent.atomic.AtomicInteger(0)
    wh.atomically(_.stageAll(Seq.fill(n)(() => {
      latch.countDown()
      assert(latch.await(30, java.util.concurrent.TimeUnit.SECONDS), "thunk left queued")
      passed.incrementAndGet()
      ()
    })))
    assert(passed.get == n)
  }

  test("stageAll: a failure is rethrown only after every sibling has settled") {
    val wh = freshWh()
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException](wh.stageAll(Seq(
      () => throw new IllegalStateException("fast failure"),
      () => { Thread.sleep(500); slowDone.set(true) })))
    assert(e.getMessage == "fast failure")
    assert(slowDone.get, "the failure overtook a still-running sibling")
  }

  test("stageAll: each thunk runs under the caller's job description") {
    val wh = freshWh()
    val sc = spark.sparkContext
    sc.setJobDescription("stage-all-probe")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    try wh.stageAll(Seq.fill(3)(() => {
      seen.add(String.valueOf(sc.getLocalProperty("spark.job.description")))
      ()
    }))
    finally sc.setJobDescription(null)
    assert(seen.size == 1 && seen.contains("stage-all-probe"), s"thunks saw $seen")
  }
}
