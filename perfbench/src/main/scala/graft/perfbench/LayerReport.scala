package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** Interval arithmetic over [start, end) pairs. */
object Intervals {
  type I = (Double, Double)

  def union(xs: Seq[I]): Seq[I] = {
    val out = mutable.ArrayBuffer[I]()
    xs.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2)
        out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }

  def length(xs: Seq[I]): Double = union(xs).map(i => i._2 - i._1).sum

  def clip(xs: Seq[I], lo: Double, hi: Double): Seq[I] =
    xs.map(i => (math.max(i._1, lo), math.min(i._2, hi))).filter(i => i._2 > i._1)

  /** Length of `a` not covered by `b`. */
  def minus(a: Seq[I], b: Seq[I]): Double = {
    val ua = union(a)
    val ub = union(b)
    length(ua) - ua.map { case (s, e) => length(clip(ub, s, e)) }.sum
  }
}

/** Plan inspection over executed physical plans, AQE stages included. */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(n: SparkPlan): Unit = {
      out += n
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      n.children.foreach(walk)
      n.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  def exchanges(qe: QueryExecution): Int =
    nodes(qe.executedPlan).count(_.isInstanceOf[Exchange])

  /** Sum of one SQL metric over the nodes a predicate selects. */
  def metric(qe: QueryExecution, name: String)(pick: SparkPlan => Boolean): Long =
    nodes(qe.executedPlan).filter(pick).flatMap(_.metrics.get(name)).map(_.value).sum
}

/** Per-layer rollup of a traced run: the call spans the benchmark timed,
  * plan-phase child spans from each query's planning tracker, and the
  * Spark jobs the listener saw, each attributed to the innermost span it
  * started in (one driver thread issues the calls, so a job belongs to the
  * call running when it started, whichever thread submitted it). Figures
  * are per traced pass.
  *
  * Self times plus uncovered time equal the traced wall by construction
  * once the spans nest properly, so the rollup checks that instead and
  * returns every violation in `problems`: call spans that overlap or run
  * past the traced passes, plan phases outside their call, jobs that end
  * after the span they started in.
  */
object LayerReport {
  val Layers = Seq("ops", "plans", "functions", "operators", "sources", "streaming")
  val Phases = Seq("parsing", "analysis", "optimization", "planning")
  /** Slack for millisecond listener timestamps against nanoTime spans. */
  val TolS = 0.005

  final case class Result(metrics: Seq[(String, Double, String)], spans: Seq[Span],
      problems: Seq[String], unattributedJobs: Int)

  def build(ctx: Ctx, listener: LayerListener, tracedWalls: Seq[Double],
      untracedWalls: Seq[Double]): Result = {
    val passes = tracedWalls.size
    val top = ctx.spans.toList.sortBy(_.start)
    val byId = top.map(s => s.id -> s).toMap
    def owner(t: Double): Option[Span] = top.find(s => s.start <= t && t < s.end)
    val problems = mutable.ArrayBuffer[String]()
    top.sliding(2).foreach {
      case Seq(a, b) if b.start < a.end - TolS =>
        problems += f"call ${b.name} starts ${a.end - b.start}%.4f s before ${a.name} ends"
      case _ =>
    }

    // Plan-phase spans: one per distinct query execution, attributed to the
    // noted call span or to the call span the phase started in.
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())
    val phaseSum = mutable.LinkedHashMap(Phases.map(_ -> 0.0): _*)
    val children = mutable.HashMap[Int, mutable.ArrayBuffer[Intervals.I]]()
    var planCalls = 0
    val qes = ctx.notedQes.toList.map { case (id, qe) => (byId.get(id), qe) } ++
      listener.snapshotQes.map(qe => (None, qe))
    for ((noted, qe) <- qes if seen.add(qe)) {
      val phases = qe.tracker.phases.toSeq.flatMap { case (name, p) =>
        val s = ctx.clock.ofEpochMs(p.startTimeMs)
        val e = ctx.clock.ofEpochMs(p.endTimeMs)
        noted.orElse(owner(s)).map(par => (name, par, s, e))
      }
      if (phases.nonEmpty) planCalls += 1
      phases.foreach { case (name, par, s, e) =>
        if (s < par.start - TolS || e > par.end + TolS)
          problems += f"$name phase [$s%.4f, $e%.4f] outside call ${par.name} " +
            f"[${par.start}%.4f, ${par.end}%.4f]"
        // within the tolerance, clip to the call
        val (cs, ce) = (math.max(s, par.start), math.min(e, par.end))
        if (ce > cs) {
          phaseSum(name) = phaseSum.getOrElse(name, 0.0) + (ce - cs)
          children.getOrElseUpdate(par.id, mutable.ArrayBuffer()) += ((cs, ce))
        }
      }
    }
    var nextId = if (top.isEmpty) 0 else top.map(_.id).max + 1
    val planSpans = top.flatMap { par =>
      Intervals.union(children.getOrElse(par.id, Nil).toSeq).map { case (s, e) =>
        nextId += 1
        Span(nextId, "plans", "phases", s, e, par.id)
      }
    }
    val all = top ++ planSpans
    val kids = planSpans.groupBy(_.parent)

    // Jobs: the call span the job started in, refined to a plan-phase child
    // when it started inside one.
    val jobs = listener.snapshotJobs
    val jobsOf = mutable.HashMap[Int, mutable.ArrayBuffer[listener.Job]]()
    var unattributed = 0
    jobs.foreach { j =>
      owner(j.start) match {
        case Some(p) =>
          if (j.end > p.end + TolS)
            problems += f"job ${j.id} of call ${p.name} ends ${j.end - p.end}%.4f s after it"
          val tgt = kids.getOrElse(p.id, Nil)
            .find(c => c.start <= j.start && j.start < c.end).getOrElse(p)
          jobsOf.getOrElseUpdate(tgt.id, mutable.ArrayBuffer()) += j
        case None => unattributed += 1
      }
    }

    val out = mutable.ArrayBuffer[(String, Double, String)]()
    def put(n: String, v: Double, unit: String): Unit = out += ((n, v / passes, unit))
    var selfTotal = 0.0
    for (layer <- Layers) {
      val ss = all.filter(_.layer == layer)
      var self, gap, cpu = 0.0
      var nJobs, tasks, shuffle, spill = 0L
      ss.foreach { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        val js = jobsOf.getOrElse(s.id, Nil)
        val selfS = s.dur - Intervals.length(ch)
        val jobIv = Intervals.clip(js.map(j => (j.start, j.end)).toSeq, s.start, s.end)
        self += selfS
        gap += selfS - Intervals.minus(jobIv, ch)
        nJobs += js.size
        js.foreach { j => tasks += j.tasks; cpu += j.cpuNs / 1e9; shuffle += j.shuffleWrite; spill += j.spill }
      }
      selfTotal += self
      put(s"$layer.calls", if (layer == "plans") planCalls else ss.size, "count")
      put(s"$layer.self_s", self, "s")
      put(s"$layer.jobs", nJobs, "count")
      put(s"$layer.tasks", tasks, "count")
      put(s"$layer.exec_cpu_s", cpu, "s")
      put(s"$layer.shuffle_write_mb", shuffle / 1048576.0, "MB")
      put(s"$layer.spill_mb", spill / 1048576.0, "MB")
      put(s"$layer.driver_gap_s", gap, "s")
    }
    put("plans.analysis_s", phaseSum("analysis"), "s")
    put("plans.optimization_s", phaseSum("optimization"), "s")
    put("plans.planning_s", phaseSum("planning"), "s")
    // Call spans lie inside the traced passes, whose walls exclude check
    // time, so the uncovered remainder can only be negative if a call span
    // overlapped an excluded check.
    val uncovered = tracedWalls.sum - Intervals.length(top.map(s => (s.start, s.end)))
    if (uncovered < -TolS * passes)
      problems += f"call spans cover $uncovered%.4f s more than the traced wall"
    put("trace.wall_s", tracedWalls.sum, "s")
    put("trace.uncovered_s", uncovered, "s")
    put("trace.self_sum_s", selfTotal, "s")
    val untraced = Stats.median(untracedWalls)
    out += (("trace.untraced_wall_s", untraced, "s"))
    out += (("trace.overhead_s", tracedWalls.sum / passes - untraced, "s"))
    Result(out.toSeq, all, problems.toSeq, unattributed)
  }
}
