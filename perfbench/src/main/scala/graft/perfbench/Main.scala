package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark workload: inputs built from the seed, a warm-up pass in
  * set-up, then closed-loop timed passes of calls into the library.
  */
trait Workload {
  def name: String
  /** Nominal seconds of one warm pass on 4 cores. A run times
    * `--seconds / passSeconds` passes (rounded, at least one), a count
    * fixed by the arguments, so every run of a workload times the same
    * passes however fast the host is.
    */
  def passSeconds: Double
  /** Extra session configuration this workload's entry points need. */
  def sessionConf: Map[String, String] = Map.empty
  /** Build the run's inputs from `ctx.seed`. */
  def generate(ctx: Ctx): Unit
  /** Build the reference models output checks compare against (untimed). */
  def prepareChecks(ctx: Ctx): Unit = ()
  /** One pass of calls; `warm` marks the set-up warm-up pass. */
  def pass(ctx: Ctx, warm: Boolean): Unit
  /** Workload figures for the human-readable report. */
  def notes(ctx: Ctx): Seq[String] = Nil
  /** Workload-specific end-to-end figures (name, value, unit). */
  def extraEndToEnd(ctx: Ctx): Seq[(String, Double, String)] = Nil
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--spans <file>]`. Prints a human-readable report and, as
  * the last stdout line, one JSON object with the run's verdict and
  * metrics.
  */
object Main {
  val Cores = 4

  def workload(name: String): Workload = name match {
    case "analytics" => new Analytics
    case "curation" => new CurationWorkload
    case "table_churn" => new TableChurn
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workload(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    Files.createDirectories(Paths.get(work))

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val builder = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
    wl.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    def timed(body: => Unit): Double = {
      val t0 = ctx.clock.now
      body
      ctx.clock.now - t0
    }
    // Set-up is session start, input generation and one cold warm-up pass,
    // so the cold/warm gap lands here and not in the timed passes.
    val genS = timed(wl.generate(ctx))
    wl.prepareChecks(ctx)
    val warmS = timed(wl.pass(ctx, warm = true))
    val setupS = sessionS + genS + warmS
    println(f"[perfbench] ${wl.name} seed=$seed setup: session=$sessionS%.3fs " +
      f"inputs=$genS%.3fs warmup=$warmS%.3fs")

    val loadBefore = Proc.loadSample()
    val jit = scala.collection.mutable.ArrayBuffer[Double]()
    def passes(seconds: Double): Seq[(Double, Double)] =
      (1 to math.max(1, math.round(seconds / wl.passSeconds).toInt)).map { _ =>
        ctx.excludedS = 0.0
        ctx.excludedCpuNs = 0L
        val c0 = Proc.cpuNs
        val j0 = Proc.jitCpuNs
        val w0 = ctx.clock.now
        wl.pass(ctx, warm = false)
        jit += (Proc.jitCpuNs - j0) / 1e9
        (ctx.clock.now - w0 - ctx.excludedS, (Proc.cpuNs - c0 - ctx.excludedCpuNs) / 1e9)
      }
    ctx.recording = true
    // A traced run brackets its traced passes with untraced ones, so the
    // tracing overhead is not confused with passes still getting faster.
    val (untraced, report) =
      if (!trace) (passes(seconds), None)
      else {
        val before = passes(seconds / 3)
        val (listener, tracedWalls) = tracedPasses(ctx, passes(seconds / 3))
        val after = passes(seconds / 3)
        (before ++ after, Some(layerReport(ctx, listener, tracedWalls,
          (before ++ after).map(_._1), opts.get("spans"))))
      }
    ctx.recording = false
    val loadAfter = Proc.loadSample()

    val walls = untraced.map(_._1)
    val (tailLabel, tailS) = Stats.tail(ctx.latencies.toSeq)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("cpu_s", Stats.median(untraced.map(_._2)), "s"),
      ("peak_rss_mb", Proc.peakRssMb, "MB"))
    // Printed, not in the result line. Wall-clock latency follows the
    // host's speed: on a shared 4-core VM whole minutes run up to twice as
    // slow with no steal showing, so across ten seeds wall_s and op_p50_s
    // spread 0.4-0.6 (interquartile range over median) where cpu_s spreads
    // under 0.1. The tail is one sample when a pass has few calls,
    // failed_frac is usually zero, JIT compiler CPU falls pass by pass, and
    // the amplification figures exist for table_churn only.
    val reportOnly = Seq(("wall_s", Stats.median(walls), "s"),
      ("jit_cpu_s", Stats.median(jit.toSeq), "s"),
      ("op_p50_s", Stats.median(ctx.latencies.toSeq), "s"),
      ("op_tail_s", tailS, "s"),
      ("failed_frac", ctx.failed.toDouble / math.max(1, ctx.attempted), "ratio")) ++
      wl.extraEndToEnd(ctx)

    println(s"[perfbench] load before timed passes: $loadBefore")
    println(s"[perfbench] load after timed passes:  $loadAfter")
    println(s"[perfbench] ${walls.size} untraced pass(es), ${ctx.latencies.size} timed calls; " +
      s"op_tail_s is the $tailLabel")
    println("[perfbench] untraced passes (wall s / cpu s): " +
      untraced.map { case (w, c) => f"$w%.3f/$c%.2f" }.mkString(" ") +
      "; JIT compiler CPU s per timed pass, not in cpu_s: " + jit.map(j => f"$j%.2f").mkString(" "))
    wl.notes(ctx).foreach(n => println(s"[perfbench] $n"))
    println("[perfbench] slowest calls (median s over timed passes): " +
      ctx.callTimes.toSeq.map { case (k, v) => k -> Stats.median(v.toSeq) }
        .sortBy(-_._2).take(8).map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    println(s"[perfbench] end-to-end (${wl.name}):")
    (e2e ++ reportOnly).foreach {
      case (n, v, u) => println(f"  $n%-16s $v%14.6f $u")
    }
    if (ctx.failures.nonEmpty)
      println(s"[perfbench] failed checks: " +
        ctx.failures.map { case (k, v) => s"$k x$v" }.mkString(", "))

    val metrics = report match {
      case Some(r) =>
        println(s"[perfbench] per-layer (${wl.name}, per traced pass):")
        r.foreach { case (n, v, u) => println(f"  $n%-32s $v%16.6f $u") }
        r
      case None => e2e
    }
    spark.stop()
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$body}}""")
  }

  /** Run `body` (traced passes) with the listeners registered and spans on. */
  private def tracedPasses(ctx: Ctx, body: => Seq[(Double, Double)])
      : (LayerListener, Seq[Double]) = {
    val listener = new LayerListener(ctx.clock)
    val sc = ctx.spark.sparkContext
    sc.addSparkListener(listener)
    ctx.spark.listenerManager.register(listener)
    ctx.tracing = true
    val walls = body.map(_._1)
    ctx.tracing = false
    listener.drain()
    sc.removeSparkListener(listener)
    ctx.spark.listenerManager.unregister(listener)
    (listener, walls)
  }

  /** Per-layer rollup of the traced passes; writes the span log. */
  private def layerReport(ctx: Ctx, listener: LayerListener,
      tracedWalls: Seq[Double], untracedWalls: Seq[Double],
      spansFile: Option[String]): Seq[(String, Double, String)] = {
    val res = LayerReport.build(ctx, listener, tracedWalls, untracedWalls)
    val base = res.metrics.map(m => m._1 -> m._2).toMap
    val wall = base("trace.wall_s")
    // Workload figures: the median over traced passes of each.
    val figures = ctx.figures.toSeq.map { case (n, vs) => n -> Stats.median(vs.toSeq) }
    val unknown = figures.map(_._1).filterNot(PerLayer.units.contains)
    require(unknown.isEmpty, s"figures missing from PerLayer.catalog: ${unknown.mkString(", ")}")
    val fixedShare = "ops.fixed_share" ->
      (if (wall > 0) (base("ops.driver_gap_s") + base("plans.self_s")) / wall else 0.0)
    ctx.check(-1, "trace_spans") {
      if (res.problems.isEmpty) None
      else Some(s"${res.problems.size} problem(s): ${res.problems.take(3).mkString("; ")}")
    }
    println(s"[perfbench] ${res.unattributedJobs} job(s) in traced passes started " +
      "outside every call span (output checks)")
    spansFile.foreach { f =>
      Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
      val lines = res.spans.sortBy(_.start).map(s =>
        s"""{"id": ${s.id}, "layer": "${s.layer}", "name": ${Json.str(s.name)}, """ +
          s""""start": ${Json.num(s.start)}, "end": ${Json.num(s.end)}, "parent": ${s.parent}}""")
      Files.write(Paths.get(f), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val all = base ++ figures + fixedShare
    PerLayer.catalog.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
  }
}

/** Every per-layer metric, in report order; a workload that does not reach
  * a layer reports zero for it.
  */
object PerLayer {
  val catalog: Seq[(String, String)] =
    LayerReport.Layers.flatMap(l => Seq(s"$l.calls" -> "count", s"$l.self_s" -> "s",
      s"$l.jobs" -> "count", s"$l.tasks" -> "count", s"$l.exec_cpu_s" -> "s",
      s"$l.shuffle_write_mb" -> "MB", s"$l.spill_mb" -> "MB", s"$l.driver_gap_s" -> "s")) ++
    Seq("plans.analysis_s" -> "s", "plans.optimization_s" -> "s", "plans.planning_s" -> "s",
      "ops.exchanges" -> "count", "ops.fixed_share" -> "ratio",
      "functions.feature_s" -> "s", "functions.ns_per_row" -> "ns",
      "operators.signatures_s" -> "s", "operators.components_s" -> "s",
      "operators.spans_s" -> "s", "operators.curate_s" -> "s", "operators.ann_s" -> "s",
      "operators.candidate_pairs" -> "count", "operators.pairs_kept" -> "count",
      "operators.pair_yield" -> "ratio", "operators.survivor_frac" -> "ratio",
      "operators.dup_group_share" -> "ratio",
      "sources.publish_s" -> "s", "sources.merge_s" -> "s", "sources.delete_mor_s" -> "s",
      "sources.read_masked_s" -> "s", "sources.read_version_s" -> "s",
      "sources.apply_deletes_s" -> "s", "sources.compact_s" -> "s", "sources.vacuum_s" -> "s",
      "sources.bytes_written_mb" -> "MB", "sources.files_added" -> "count",
      "sources.files_live" -> "count", "sources.versions" -> "count",
      "sources.write_amp" -> "ratio", "sources.space_amp" -> "ratio",
      "streaming.batches" -> "count", "streaming.add_batch_s" -> "s",
      "streaming.floor_s" -> "s",
      "trace.wall_s" -> "s", "trace.untraced_wall_s" -> "s", "trace.overhead_s" -> "s",
      "trace.uncovered_s" -> "s", "trace.self_sum_s" -> "s")
  val units: Map[String, String] = catalog.toMap
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
