package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark checked at a tiny size: generators are pure functions of
  * the seed, every workload runs end to end with no failed operation, the
  * traced run's self times add up, and a wrong expectation is caught.
  */
class BenchSpec extends AnyFunSuite {

  private def run(w: String, trace: Boolean = false, corrupt: Boolean = false,
      seconds: Int = 1): String = {
    val dir = Files.createTempDirectory(s"perfbench-$w-")
    try Main.run(Main.Args(w, seed = 3, seconds = seconds, trace = trace, dir = s"$dir/run",
      results = s"$dir/results", commit = "test", scale = 0.01,
      corruptExpected = corrupt))
    finally scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }

  private def field(json: String, k: String): String =
    s""""$k": ([^,}]+)""".r.findFirstMatchIn(json).map(_.group(1)).getOrElse(fail(s"no $k in $json"))

  test("generators give byte-identical inputs for one seed, different ones for another") {
    def price(seed: Long) = Gen.priceLists(seed, 5, Seq(30, 50), 100, 0.1, "f")
    assert(price(1) == price(1))
    assert(price(1).files.map(_.csv) != price(2).files.map(_.csv))
    assert(Gen.corpus(1, 3, 50) == Gen.corpus(1, 3, 50))
    assert(Gen.corpus(1, 3, 50) != Gen.corpus(2, 3, 50))
    def script(seed: Long) = Gen.syncScript(seed, "c.t.d", 30, 8, 4, 3)
    assert(script(1) == script(1))
    assert(script(1).stmts != script(2).stmts)
  }

  test("planted near-duplicates sit on both sides of the Jaccard threshold") {
    val js = Gen.corpus(5, 6, 200).planted.map(_._3)
    assert(js.exists(_ >= 0.5) && js.exists(_ < 0.5))
  }

  test("self times share each instant among the active spans and sum to the wall") {
    val op = Op(1, "file", 0L, 10000000000L, ok = true, 0, FsCounts.zero)
    val spans = Seq(
      Span(2, "append", "staging", "write", 1, 1000000000L, 3000000000L),
      Span(3, "append", "staging", "write", 2, 2000000000L, 4000000000L),
      Span(4, "atomically", "tx", "write", 1, 5000000000L, 9000000000L))
    val self = Report.selfTimes(op, spans)
    assert(math.abs(self.values.sum - 10.0) < 1e-9)
    assert(math.abs(self(("staging", "write")) - 3.0) < 1e-9)
    assert(math.abs(self(("tx", "write")) - 4.0) < 1e-9)
    assert(math.abs(self(("op", "op")) - 3.0) < 1e-9)
  }

  test("tail is the highest percentile with ten samples above it") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs) == ((30.0, 75.0, 40)))
    assert(Stats.tail(Seq(3.0, 1.0, 2.0))._1 == 2.0)
  }

  for (w <- Workloads.names) test(s"$w runs end to end with no failed operation") {
    // corpus_sync runs 14 / 3.5 = 4 cycles, one of each statement kind
    val out = run(w, seconds = if (w == "corpus_sync") 14 else 1)
    assert(field(out, "correct") == "true", out)
    assert(field(out, "failed") == "0", out)
    assert(field(out, "attempted").toInt >= 2, out)
  }

  test("a traced run reports every per-layer metric") {
    val out = run("corpus_sync", trace = true)
    assert(field(out, "correct") == "true", out)
    Seq("op.self_s", "spark.jobs", "fs.read_ops", "sql.exec_s", "postings.query_s",
      "sync.self_s", "warehouse.log_folds", "trace.spans").foreach(m => assert(out.contains(s""""$m""""), m))
  }

  for (w <- Seq("ingest_files", "dedup_stream", "corpus_sync"))
    test(s"$w: a corrupted expected value is reported as a failed operation") {
      val out = run(w, corrupt = true)
      assert(field(out, "correct") == "false", out)
      assert(field(out, "failed").toInt >= 1, out)
    }
}
