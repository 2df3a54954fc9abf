package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One operation of the closed loop: a timed call the client made (or, for
  * a stream, one micro-batch). Times are epoch nanoseconds on a clock shared
  * with the spans (see [[Clock]]).
  */
final case class Op(id: Long, kind: String, start: Long, end: Long, ok: Boolean,
    rows: Long, fs: FsCounts) {
  def wall: Double = (end - start) / 1e9
}

/** A call into one layer, recorded by the benchmark around the program's
  * public methods. Only the OUTERMOST call on a thread is a span (calls the
  * warehouse makes into itself belong to the outer call's time). Its parent
  * is the operation whose window contains it, found when the run ends.
  */
final case class Span(id: Long, name: String, layer: String, category: String,
    thread: Long, start: Long, end: Long)

/** Wall clock in epoch nanoseconds with monotonic resolution: epoch-aligned
  * so the listener bus's millisecond timestamps fall on the same axis.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epoch0 + (System.nanoTime() - nano0)
}

/** Hadoop FileSystem statistics for the `file` scheme (all threads, so
  * executor tasks in local mode count too).
  */
final case class FsCounts(readOps: Long, listOps: Long, writeOps: Long,
    bytesRead: Long, bytesWritten: Long) {
  def -(o: FsCounts): FsCounts = FsCounts(readOps - o.readOps, listOps - o.listOps,
    writeOps - o.writeOps, bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
}

object FsCounts {
  val zero: FsCounts = FsCounts(0, 0, 0, 0, 0)
  @annotation.nowarn("cat=deprecation")
  def now(): FsCounts = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    FsCounts(st.map(_.getReadOps.toLong).sum, st.map(_.getLargeReadOps.toLong).sum,
      st.map(_.getWriteOps.toLong).sum, st.map(_.getBytesRead).sum,
      st.map(_.getBytesWritten).sum)
  }
}

/** Spark job as seen by the listener; task counters accumulate per job. */
final class JobRec(val id: Int, val start: Long) {
  @volatile var end: Long = -1L
  var stages = 0
  var tasks = 0
  var taskNs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

final case class PlanRec(start: Long, planNs: Long, execNs: Long)

/** The benchmark's tracer. Operations are always recorded (they ARE the
  * end-to-end measurement); spans and listeners exist only when tracing is
  * on, so the untraced run carries none of their cost. Everything stays in
  * memory until [[Report]] reads it after the run.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val ops = ArrayBuffer[Op]()
  val spans = ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  val plans = ArrayBuffer[PlanRec]()
  val progress = ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  def nextId(): Long = ids.incrementAndGet()

  /** Time one client operation. `rows` reads the committed row count from
    * its result; `check` turns a wrong result into a failed operation, as
    * does an exception (the loop goes on). Checks run after the clock stops.
    */
  def op[T](kind: String)(body: => T)(rows: T => Long, check: T => Boolean): Option[T] = {
    val fs0 = if (enabled) FsCounts.now() else FsCounts.zero
    val t0 = Clock.now()
    val r = try Some(body) catch { case e: Exception => Main.warn(s"$kind failed: $e"); None }
    val t1 = Clock.now()
    val fs = if (enabled) FsCounts.now() - fs0 else FsCounts.zero
    val ok = r.exists(v => try check(v) catch { case _: Exception => false })
    addOp(Op(nextId(), kind, t0, t1, ok, if (ok) rows(r.get) else 0L, fs))
    r
  }

  def addOp(o: Op): Unit = ops.synchronized { ops += o }

  /** A call into a layer: a span when tracing and outermost on this thread. */
  def span[T](name: String, table: String, category: String)(body: => T): T =
    if (!enabled || depth.get() > 0) {
      if (!enabled) body
      else { depth.set(depth.get() + 1); try body finally depth.set(depth.get() - 1) }
    } else {
      depth.set(1)
      val t0 = Clock.now()
      try body
      finally {
        val t1 = Clock.now()
        depth.set(0)
        val layer = if (table == null) "tx" else table.takeWhile(_ != '/')
        spans.synchronized {
          spans += Span(nextId(), name, layer, category, Thread.currentThread().getId, t0, t1)
        }
      }
    }

  /** Register the Spark, streaming and query-execution listeners. */
  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs(e.jobId) = new JobRec(e.jobId, e.time * 1000000L)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
          j.tasks += 1
          j.taskNs += m.executorRunTime * 1000000L
          j.cpuNs += m.executorCpuTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases.values
        if (ph.nonEmpty) plans.synchronized {
          plans += PlanRec(ph.map(_.startTimeMs).min * 1000000L,
            ph.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L, durationNs)
        }
      }
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }
}
