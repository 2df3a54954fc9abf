package perfbench

import java.io.File

import scala.collection.mutable

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (value, percentile, samples). Fewer than eleven samples have no such
    * percentile; the median stands in and the percentile reads 50.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n >= 11) (s(n - 11), 100.0 * (n - 10) / n, n) else (median(xs), 50.0, n)
  }
}

/** Turns a run's operations, spans and listener records into metrics. */
object Report {

  /** Share each instant of an operation among the spans active then (the
    * deepest level; concurrent spans split it evenly); instants with no span
    * are the operation's own self time, keyed ("op", "op"). The shares sum
    * to the operation's wall time exactly.
    */
  def selfTimes(op: Op, spans: Seq[Span]): Map[(String, String), Double] = {
    val in = spans.filter(s => s.start < op.end && s.end > op.start)
      .map(s => (math.max(s.start, op.start), math.min(s.end, op.end), (s.layer, s.category)))
    val cuts = (in.flatMap(s => Seq(s._1, s._2)) ++ Seq(op.start, op.end)).distinct.sorted
    val acc = mutable.HashMap[(String, String), Double]().withDefaultValue(0.0)
    cuts.zip(cuts.tail).foreach { case (a, b) =>
      val dt = (b - a) / 1e9
      val active = in.filter(s => s._1 <= a && s._2 >= b)
      if (active.isEmpty) acc(("op", "op")) += dt
      else active.foreach(s => acc(s._3) += dt / active.size)
    }
    acc.toMap
  }

  /** Union length (seconds) of intervals clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur = (Long.MinValue, Long.MinValue)
    c.foreach { case (a, b) =>
      if (a > cur._2) { if (cur._2 > cur._1) total += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._2 > cur._1) total += cur._2 - cur._1
    total / 1e9
  }

  /** Per-operation counters of one set of operations, as sums. */
  final case class Agg(n: Int, wall: Double, self: Map[(String, String), Double],
      spanCount: Map[String, Int], jobs: Int, stages: Int, tasks: Int, taskS: Double,
      cpuS: Double, shRead: Long, shWrite: Long, spill: Long, driverOnlyS: Double,
      fs: FsCounts, planS: Double, execS: Double, spans: Int)

  def aggregate(ops: Seq[Op], t: Tracer): Agg = {
    val spans = t.spans.toSeq
    val jobs = t.jobs.values.toSeq
    val self = mutable.HashMap[(String, String), Double]().withDefaultValue(0.0)
    val spanCount = mutable.HashMap[String, Int]().withDefaultValue(0)
    var (nj, ns, nt, taskNs, cpuNs, shR, shW, spill) = (0, 0, 0, 0L, 0L, 0L, 0L, 0L)
    var (driverOnly, planS, execS, nSpans) = (0.0, 0.0, 0.0, 0)
    var fs = FsCounts.zero
    ops.foreach { op =>
      selfTimes(op, spans).foreach { case (k, v) => self(k) += v }
      val mine = spans.filter(s => s.start >= op.start && s.start < op.end)
      nSpans += mine.size
      mine.foreach(s => spanCount(s.layer) += 1)
      val js = jobs.filter(j => j.start >= op.start && j.start <= op.end)
      js.foreach { j =>
        nj += 1; ns += j.stages; nt += j.tasks; taskNs += j.taskNs; cpuNs += j.cpuNs
        shR += j.shuffleRead; shW += j.shuffleWrite; spill += j.spill
      }
      driverOnly += op.wall - covered(js.map(j => (j.start, if (j.end < 0) op.end else j.end)),
        op.start, op.end)
      // the statement itself is the longest query execution in its window
      val ps = t.plans.filter(p => p.start >= op.start && p.start <= op.end)
      if (ps.nonEmpty) {
        val top = ps.maxBy(_.execNs)
        planS += top.planNs / 1e9; execS += top.execNs / 1e9
      }
      fs = FsCounts(fs.readOps + op.fs.readOps, fs.listOps + op.fs.listOps,
        fs.writeOps + op.fs.writeOps, fs.bytesRead + op.fs.bytesRead,
        fs.bytesWritten + op.fs.bytesWritten)
    }
    Agg(ops.size, ops.map(_.wall).sum, self.toMap, spanCount.toMap, nj, ns, nt, taskNs / 1e9,
      cpuNs / 1e9, shR, shW, spill, driverOnly, fs, planS, execS, nSpans)
  }

  /** Files, log files and bytes under a warehouse root. */
  def storage(root: String): (Long, Long, Long) = {
    var (data, log, bytes) = (0L, 0L, 0L)
    def walk(f: File, inLog: Boolean): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .foreach(c => walk(c, inLog || c.getName == "_txlog"))
      else {
        bytes += f.length()
        if (!f.getName.startsWith(".")) { if (inLog) log += 1 else data += 1 }
      }
    walk(new File(root), inLog = false)
    (data, log, bytes)
  }

  /** Highest committed version in a warehouse's manifest log. */
  def logVersion(root: String): Long =
    Option(new File(root, "_txlog").listFiles()).toSeq.flatten.map(_.getName)
      .collect { case n if n.matches("v\\d{8}(\\.snap)?\\.tsv") => n.slice(1, 9).toLong }
      .maxOption.getOrElse(0L)

  /** Snapshot (folded) manifests in a warehouse's log. */
  def logSnapshots(root: String): Long =
    Option(new File(root, "_txlog").listFiles()).toSeq.flatten
      .count(_.getName.matches("v\\d{8}\\.snap\\.tsv")).toLong

  /** Manifests since the latest snapshot, the snapshot included: the live
    * tail an auto-fold folds once it exceeds the warehouse's `logFoldEvery`.
    */
  def logTail(root: String): Int = {
    val names = Option(new File(root, "_txlog").listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.matches("v\\d{8}(\\.snap)?\\.tsv")).sorted
    names.size - math.max(0, names.lastIndexWhere(_.endsWith(".snap.tsv")))
  }

  def perUnit(v: Double, units: Int): Double = if (units == 0) 0.0 else v / units

  /** Every per-layer metric, per unit of the workload's work (a file, a
    * micro-batch, a DML→sync→query cycle) unless it is a state size, a call
    * count or a quality ratio.
    */
  def perLayer(t: Tracer, o: Outcome, overheadS: Double): Seq[Metric] = {
    val prim = t.ops.toSeq.filter(op => o.primaryKinds(op.kind))
    val a = aggregate(prim, t)
    val u = o.units
    def pu(v: Double) = perUnit(v, u)
    def layerSelf(l: String) = pu(a.self.collect { case ((`l`, _), v) => v }.sum)
    def catSelf(c: String) = pu(a.self.collect { case ((_, `c`), v) => v }.sum)
    val named = Set("ledger", "staging", "tx", "op")
    val (dataFiles, logFiles, bytes) = storage(o.whRoot)
    val byKind = (k: String) => aggregate(t.ops.filter(_.kind == k).toSeq, t)
    val sync = byKind("sync")
    val query = byKind("query")
    def dur(key: String) = if (o.progress.isEmpty) 0.0
      else o.progress.map(p => Option(p.durationMs.get(key)).map(_.longValue()).getOrElse(0L))
        .sum / 1e3 / o.progress.size
    val fs = a.fs
    Seq(
      Metric("op.wall_s", pu(a.wall), "s"),
      Metric("op.self_s", layerSelf("op"), "s"),
      Metric("ledger.calls", pu(a.spanCount.getOrElse("ledger", 0).toDouble), "count"),
      Metric("ledger.self_s", layerSelf("ledger"), "s"),
      Metric("staging.self_s", layerSelf("staging"), "s"),
      Metric("merge_tx.self_s", layerSelf("tx"), "s"),
      Metric("warehouse.other_self_s",
        pu(a.self.collect { case ((l, _), v) if !named(l) => v }.sum), "s"),
      Metric("warehouse.commits", pu(o.loopCommits.toDouble), "count"),
      Metric("warehouse.log_folds", o.loopFolds.toDouble, "count"),
      Metric("warehouse.read_s", catSelf("read"), "s"),
      Metric("warehouse.write_s", catSelf("write"), "s"),
      Metric("warehouse.dml_s", catSelf("dml"), "s"),
      Metric("warehouse.data_files", dataFiles.toDouble, "count"),
      Metric("warehouse.log_files", logFiles.toDouble, "count"),
      Metric("warehouse.bytes", bytes.toDouble, "bytes"),
      Metric("stream.batches", o.progress.size.toDouble, "count"),
      Metric("stream.add_batch_s", dur("addBatch"), "s"),
      Metric("stream.latest_offset_s", dur("latestOffset"), "s"),
      Metric("stream.planning_s", dur("queryPlanning"), "s"),
      Metric("stream.wal_commit_s", dur("walCommit"), "s"),
      Metric("sync.calls", sync.n.toDouble, "count"),
      Metric("sync.self_s", perUnit(sync.self.getOrElse(("op", "op"), 0.0), sync.n), "s"),
      Metric("dedup.pairs_found", o.layer.getOrElse("dedup.pairs_found", 0.0), "count"),
      Metric("dedup.planted_recall", o.layer.getOrElse("dedup.planted_recall", 0.0), "ratio"),
      Metric("postings.query_s", perUnit(query.wall, query.n), "s"),
      Metric("postings.query_read_ops", perUnit(query.fs.readOps.toDouble, query.n), "count"),
      Metric("sql.plan_s", perUnit(byKind("dml").planS, byKind("dml").n), "s"),
      Metric("sql.exec_s", perUnit(byKind("dml").execS, byKind("dml").n), "s"),
      Metric("spark.jobs", pu(a.jobs.toDouble), "count"),
      Metric("spark.stages", pu(a.stages.toDouble), "count"),
      Metric("spark.tasks", pu(a.tasks.toDouble), "count"),
      Metric("spark.task_s", pu(a.taskS), "s"),
      Metric("spark.cpu_s", pu(a.cpuS), "s"),
      Metric("spark.shuffle_read_bytes", pu(a.shRead.toDouble), "bytes"),
      Metric("spark.shuffle_write_bytes", pu(a.shWrite.toDouble), "bytes"),
      Metric("spark.spill_bytes", pu(a.spill.toDouble), "bytes"),
      Metric("spark.driver_only_s", pu(a.driverOnlyS), "s"),
      Metric("fs.read_ops", pu(fs.readOps.toDouble), "count"),
      Metric("fs.list_ops", pu(fs.listOps.toDouble), "count"),
      Metric("fs.write_ops", pu(fs.writeOps.toDouble), "count"),
      Metric("fs.bytes_read", pu(fs.bytesRead.toDouble), "bytes"),
      Metric("fs.bytes_written", pu(fs.bytesWritten.toDouble), "bytes"),
      Metric("trace.spans", pu(a.spans.toDouble), "count"),
      Metric("trace.overhead_s", overheadS, "s"))
  }

  /** Per-kind breakdown for the results file: mean wall, the mean self time
    * of every layer (op = unattributed), and how far their sum is from the
    * wall time (zero up to rounding, by construction of [[selfTimes]]).
    */
  def kinds(t: Tracer): Map[String, Any] =
    t.ops.map(_.kind).distinct.map { k =>
      val a = aggregate(t.ops.filter(_.kind == k).toSeq, t)
      val layers = a.self.groupMapReduce(_._1._1)(_._2)(_ + _)
      k -> Map(
        "ops" -> a.n,
        "wall_s" -> perUnit(a.wall, a.n),
        "self_s" -> layers.map { case (l, v) => l -> perUnit(v, a.n) },
        "self_sum_minus_wall_s" -> perUnit(layers.values.sum - a.wall, a.n),
        "spark_jobs" -> perUnit(a.jobs, a.n),
        "spark_driver_only_s" -> perUnit(a.driverOnlyS, a.n),
        "fs_read_ops" -> perUnit(a.fs.readOps.toDouble, a.n),
        "fs_list_ops" -> perUnit(a.fs.listOps.toDouble, a.n),
        "sql_plan_s" -> perUnit(a.planS, a.n),
        "sql_exec_s" -> perUnit(a.execS, a.n))
    }.toMap
}

/** Minimal JSON writer for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }
      .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case x => apply(x.toString)
  }
}
