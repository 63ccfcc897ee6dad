package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a benchmark call into a library layer. Times are
  * seconds since the run's clock origin. `parent` is -1 for a top-level
  * call span; phase spans (layer `plans`) hang under the call they ran in.
  */
final case class Span(id: Int, layer: String, name: String,
    start: Double, end: Double, parent: Int) {
  def dur: Double = end - start
}

/** One clock for spans (nanoTime) and Spark listener events (epoch ms). */
final class Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - originNs) / 1e9
  def ofEpochMs(ms: Long): Double = (ms - originMs) / 1e3
}

/** Spark's public listener surface, registered by the benchmark for the
  * traced passes only: job intervals, task counts, executor CPU, shuffle
  * and spill bytes per job, and the query executions Dataset actions ran.
  */
final class LayerListener(clock: Clock) extends SparkListener
    with QueryExecutionListener {
  final class Job(val id: Int, val start: Double) {
    var end: Double = Double.NaN
    var tasks = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val qes = mutable.ArrayBuffer[QueryExecution]()
  @volatile private var lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, clock.ofEpochMs(e.time))
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    lastEvent = System.nanoTime()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = clock.ofEpochMs(e.time))
    lastEvent = System.nanoTime()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }
    lastEvent = System.nanoTime()
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized { qes += qe; lastEvent = System.nanoTime() }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = synchronized { qes += qe; lastEvent = System.nanoTime() }

  /** Listener delivery is asynchronous: wait until every started job has
    * ended and the bus has been quiet for a moment (bounded).
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def settled = synchronized(jobs.values.forall(!_.end.isNaN)) &&
      System.nanoTime() - lastEvent > 150000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def snapshotJobs: Seq[Job] = synchronized(jobs.values.toList)
  def snapshotQes: Seq[QueryExecution] = synchronized(qes.toList)
}

/** Process-level readings that bracket the timed region. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Process CPU time less the JIT compiler threads': the work the run
    * does (driver, executors, GC, VM). Compilation is warm-up machinery;
    * in runs this short it was over half of a pass's process CPU and fell
    * pass by pass, so it would swamp the work being measured.
    */
  def cpuNs: Long = os.getProcessCpuTime - jitCpuNs

  private def read(path: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try Some(src.mkString) finally src.close()
    } catch { case NonFatal(_) => None }

  /** CPU time of this process's JIT compiler threads (`C1`/`C2
    * CompilerThread<n>`), from each thread's `/proc/self/task/<tid>/stat`
    * (user + system ticks at 100 Hz). The JVM runs with a fixed set of
    * compiler threads, so none exits and takes its time with it.
    */
  def jitCpuNs: Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty)
    tasks.iterator.flatMap(t => read(s"${t.getPath}/stat")).map { st =>
      val close = st.lastIndexOf(')')
      val comm = st.substring(st.indexOf('(') + 1, math.max(close, 0))
      if (!comm.matches("C[12] CompilerThre.*")) 0L
      else {
        val f = st.substring(close + 2).split(" ")
        (f(11).toLong + f(12).toLong) * 10000000L
      }
    }.sum
  }

  /** Peak resident set size (VmHWM) in MB. */
  def peakRssMb: Double = read("/proc/self/status").flatMap(_.linesIterator
    .find(_.startsWith("VmHWM:")))
    .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def loadavg: String = read("/proc/loadavg").map(_.trim).getOrElse("n/a")

  /** (total jiffies, idle+iowait jiffies, steal jiffies) from /proc/stat. */
  private def cpuLine: Option[(Long, Long, Long)] =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu "))).map { l =>
      val v = l.split("\\s+").drop(1).map(_.toLong)
      val steal = if (v.length > 7) v(7) else 0L
      (v.take(8).sum, v(3) + v(4), steal)
    }

  private def cgroupCores: Option[Double] = read("/sys/fs/cgroup/cpu.max")
    .map(_.trim.split("\\s+")).collect {
      case Array(q, p) if q != "max" => q.toDouble / p.toDouble
    }

  /** Load evidence over a short sampling window (never inside a timed
    * pass): load averages, steal share, the cores the host left idle and
    * the cores this process may use.
    */
  def loadSample(windowMs: Int = 400): String = {
    val a = cpuLine
    Thread.sleep(windowMs)
    val b = cpuLine
    val ncpu = Runtime.getRuntime.availableProcessors
    val (idleCores, stealPct) = (a, b) match {
      case (Some((t0, i0, s0)), Some((t1, i1, s1))) if t1 > t0 =>
        val dt = (t1 - t0).toDouble
        ((i1 - i0) / dt * ncpu, (s1 - s0) / dt * 100)
      case _ => (Double.NaN, Double.NaN)
    }
    val eff = cgroupCores.fold(ncpu.toDouble)(math.min(ncpu.toDouble, _))
    f"loadavg=[$loadavg] steal_pct=$stealPct%.2f idle_cores=$idleCores%.2f " +
      f"effective_cores=$eff%.2f nproc=$ncpu"
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least 10 samples beyond it, and its
    * label; below 20 samples that percentile would sit under the median,
    * so the tail is the maximum instead.
    */
  def tail(xs: Seq[Double]): (String, Double) = {
    val n = xs.size
    if (n < 20) (s"max of $n", xs.max)
    else {
      val p = math.floor((n - 10).toDouble / n * 100).toInt
      (s"p$p of $n", quantile(xs, p / 100.0))
    }
  }
}

/** Everything one run needs: the session, the seed, the work directory,
  * call/latency bookkeeping and (when tracing) the span log.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val workDir: String) {
  val clock = new Clock
  private var nextSpan = 0

  /** Calls attempted and failed across the run (warm-up included). */
  var attempted = 0
  private val failedCalls = mutable.HashSet[Int]()
  val failures = mutable.LinkedHashMap[String, Int]()
  def failed: Int = failedCalls.size

  /** Latencies of the calls in timed passes. */
  val latencies = mutable.ArrayBuffer[Double]()
  val callTimes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  var recording = false

  var tracing = false
  val spans = mutable.ArrayBuffer[Span]()
  /** (span id, query execution) pairs a workload hands over explicitly
    * (a materialized frame's own plan, which no listener sees). */
  val notedQes = mutable.ArrayBuffer[(Int, QueryExecution)]()
  /** Named per-pass figures a workload records for the per-layer report. */
  val figures = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def figure(name: String, v: Double): Unit =
    if (tracing) figures.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** Time spent in output checks inside a pass; excluded from its wall. */
  var excludedS = 0.0
  var excludedCpuNs = 0L

  private var current = -1
  /** Wall time of the most recent call. */
  var lastDur = 0.0

  /** Run one call into `layer`. The call's cache release is billed to the
    * call itself, blocking, so asynchronous cleanup never lands in the
    * next call's window. Returns None (and counts a failure) on error.
    */
  def call[A](layer: String, name: String)(body: => A): Option[A] = {
    val id = nextSpan
    nextSpan += 1
    current = id
    val t0 = clock.now
    val r = try Some(body) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name FAILED: $e")
        None
    } finally graft.ops.T.releaseCaches(blocking = true)
    val t1 = clock.now
    lastDur = t1 - t0
    if (tracing) spans += Span(id, layer, name, t0, t1, -1)
    attempted += 1
    if (recording) {
      latencies += t1 - t0
      callTimes.getOrElseUpdate(name, mutable.ArrayBuffer()) += t1 - t0
    }
    if (r.isEmpty) fail(id, s"$name:error")
    r
  }

  /** The id of the most recent call (the one a following check judges). */
  def lastCall: Int = current

  def noteQe(qe: QueryExecution): Unit = if (tracing) notedQes += ((current, qe))

  private def fail(callId: Int, what: String): Unit = {
    failedCalls += callId
    failures(what) = failures.getOrElse(what, 0) + 1
  }

  /** Output check for call `callId`, run outside the timed window: `ok`
    * returns why the output is wrong, if it is. A check that throws fails.
    */
  def check(callId: Int, name: String)(ok: => Option[String]): Unit =
    excluded {
      val verdict = try ok catch { case NonFatal(e) => Some(s"check threw $e") }
      verdict.foreach { why =>
        System.err.println(s"[perfbench] check $name failed: $why")
        fail(callId, name)
      }
    }

  /** Run `body` outside the pass's measured wall and CPU time. */
  def excluded[A](body: => A): A = {
    val t0 = clock.now
    val c0 = Proc.cpuNs
    try body finally {
      excludedS += clock.now - t0
      excludedCpuNs += Proc.cpuNs - c0
    }
  }
}
