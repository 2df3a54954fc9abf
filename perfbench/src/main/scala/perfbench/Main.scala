package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --dir D --results R [--commit C]`.
  *
  * Prints every metric as `metric <name> <value> <unit>` lines, then, as the
  * last stdout line, the JSON object {correct, attempted, failed, metrics}
  * with the end-to-end metrics (trace 0) or the per-layer ones (trace 1).
  * The full record (environment, every named metric, per-kind breakdown)
  * goes to `R/<workload>-<seed>-trace<t>.json`; a traced run also writes
  * its spans there as JSON lines.
  */
object Main {
  def warn(s: String): Unit = System.err.println(s"perfbench: $s")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      dir: String, results: String, commit: String, scale: Double = 1.0,
      corruptExpected: Boolean = false)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.names.contains(w), s"unknown workload $w")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Args(w, need("seed").toLong, need("seconds").toInt, trace == "1", need("dir"),
      need("results"), m.getOrElse("commit", "unknown"))
  }

  def main(args: Array[String]): Unit = {
    val code = try {
      val r = run(parse(args))
      println(r)
      0
    } catch {
      case e: Throwable =>
        warn(s"run failed: $e")
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  /** Heap in use right after an explicit full collection, in MB. Taken when
    * the timed loop ends, where the run's live state is largest (warehouse
    * state only grows), and independent of when the collector happened to
    * run during the loop.
    */
  def heapAfterGcMb(): Double = (1 to 3).map { _ =>
    Thread.sleep(100) // lets Spark's cleaner release what the last collection freed
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def session(dir: String, trace: Boolean): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val b = GraftSession.builder(s"local[$cores]")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$dir/checkpoints")
    // traced runs count file-system calls through a counting local FS
    val s = (if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run one workload; returns the final JSON line. */
  def run(a: Args): String = {
    new File(a.dir).mkdirs()
    val t = new Tracer(a.trace)
    val s0 = Clock.now()
    val spark = session(a.dir, a.trace)
    t.install(spark)
    val sessionS = (Clock.now() - s0) / 1e9
    try {
      val o = Workloads.run(a.workload,
        Ctx(spark, t, a.seed, a.seconds, a.dir, a.scale, a.corruptExpected))
      if (a.trace) org.apache.spark.BenchBus.drain(spark.sparkContext)
      report(a, spark, t, o, sessionS)
    } finally spark.stop()
  }

  def report(a: Args, spark: SparkSession, t: Tracer, o: Outcome, sessionS: Double): String = {
    val failedOps = t.ops.count(!_.ok)
    val failedChecks = o.checks.count(!_._2)
    o.checks.filterNot(_._2).foreach { case (c, _) => warn(s"check failed: $c") }
    val attempted = t.ops.size + o.checks.size
    val failed = failedOps + failedChecks
    val (_, _, whBytes) = Report.storage(o.whRoot)
    require(o.latency.nonEmpty, "the timed loop completed no operation")
    val (_, tailPct, tailN) = Stats.tail(o.latency)
    val e2e = Seq(
      Metric("setup_s", sessionS + o.setup.createS + o.setup.warmS, "s"),
      Metric("rows_per_s", o.rows / o.loopS, "rows/s"),
      Metric("latency_p50_s", Stats.median(o.latency), "s"),
      Metric("stored_bytes_ratio", whBytes.toDouble / o.inputBytes, "ratio"),
      Metric("heap_peak_mb", o.heapMb, "MB"))
    val named = o.named.filter(_._2.nonEmpty).flatMap { case (stem, xs) =>
      Seq(Metric(s"${stem}_p50_s", Stats.median(xs), "s"),
        Metric(s"${stem}_tail_s", Stats.tail(xs)._1, "s"))
    } :+ Metric("failed_share", failed.toDouble / attempted, "ratio")

    val resultsDir = new File(a.results)
    resultsDir.mkdirs()
    val base = s"${a.workload}-${a.seed}"
    val layer =
      if (!a.trace) Nil
      else {
        // tracing overhead: this run's primary latency minus the untraced run's
        val untraced = new File(resultsDir, s"$base-trace0.json")
        val over = if (!untraced.exists()) 0.0 else {
          val txt = new String(Files.readAllBytes(untraced.toPath), "UTF-8")
          "\"latency_p50_s\": \\{\"value\": ([0-9.eE+-]+)".r.findFirstMatchIn(txt)
            .map(m => Stats.median(o.latency) - m.group(1).toDouble).getOrElse(0.0)
        }
        Report.perLayer(t, o, over)
      }
    val printed = if (a.trace) layer else e2e
    (e2e ++ named ++ layer).foreach(m => println(f"metric ${m.name} ${m.value}%.6g ${m.unit}"))
    println(f"tail percentile p$tailPct%.1f of $tailN samples")

    val env = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "cpus" -> Runtime.getRuntime.availableProcessors(), "master" -> spark.sparkContext.master,
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "commit" -> a.commit, "scale" -> a.scale,
      "input_rows" -> o.inputRows, "input_bytes" -> o.inputBytes,
      "attempted" -> attempted, "failed" -> failed,
      "tail_percentile" -> tailPct, "tail_samples" -> tailN, "latency_samples_s" -> o.latency,
      "setup_create_s" -> o.setup.createS, "setup_warm_s" -> o.setup.warmS,
      "session_start_s" -> sessionS, "loop_s" -> o.loopS, "loop_log_folds" -> o.loopFolds)
    val record = Map(
      "env" -> env,
      "metrics" -> (e2e ++ named ++ layer).map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap,
      "checks" -> o.checks.toMap,
      "kinds" -> (if (a.trace) Report.kinds(t) else Map.empty))
    Files.write(Paths.get(resultsDir.getPath, s"$base-trace${if (a.trace) 1 else 0}.json"),
      Json(record).getBytes("UTF-8"))
    println(s"env ${Json(env)}")
    if (a.trace) {
      val lines = t.ops.map(op => Json(Map("id" -> op.id, "parent" -> 0L, "op" -> op.id,
        "name" -> op.kind, "layer" -> "op", "start_ns" -> op.start, "end_ns" -> op.end))) ++
        t.spans.map { s =>
          val op = t.ops.find(op => s.start >= op.start && s.start < op.end).map(_.id).getOrElse(0L)
          Json(Map("id" -> s.id, "parent" -> op, "op" -> op, "name" -> s.name,
            "layer" -> s.layer, "category" -> s.category, "start_ns" -> s.start, "end_ns" -> s.end))
        }
      Files.write(Paths.get(resultsDir.getPath, s"$base-trace1.spans.jsonl"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    Json(Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> printed.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap))
  }
}
