package graftbench

import scala.collection.mutable

/** Turns a run's operations, calls and Spark jobs into named metrics. */
object Report {

  /** A metric value with its unit. */
  final case class M(value: Double, unit: String)

  /** Layer totals over the measured operations. */
  final class LayerTotals {
    var calls = 0; var busyS = 0.0; var jobs = 0; var jobS = 0.0; var driverS = 0.0
    var taskS = 0.0; var planS = 0.0; var shuffleBytes = 0.0; var spillBytes = 0.0; var failedTasks = 0
    def add(o: LayerTotals): Unit = {
      calls += o.calls; busyS += o.busyS; jobs += o.jobs; jobS += o.jobS; driverS += o.driverS
      taskS += o.taskS; planS += o.planS; shuffleBytes += o.shuffleBytes
      spillBytes += o.spillBytes; failedTasks += o.failedTasks
    }
  }

  /** Per-layer totals, keyed by layer call name, plus op-level totals
    * (key "" = all measured ops, "kind:<k>" = ops of one kind), and the
    * jobs inside measured ops that no layer call's job group claimed, with
    * the op time they cover: that time is counted as driver gap. */
  final case class Breakdown(byLayer: Map[String, LayerTotals], byKind: Map[String, LayerTotals],
      harnessSelfS: Double, unattributedJobs: Int, unattributedJobS: Double)

  def breakdown(ops: Seq[OpRec], calls: Seq[CallRec], jobs: Seq[JobRec],
      planPhases: Seq[(Double, Double)]): Breakdown = {
    val jobsByCall = jobs.filter(!_.end.isNaN).groupBy(_.callId)
    val callsByOp = calls.groupBy(_.opId)
    val byLayer = mutable.LinkedHashMap.empty[String, LayerTotals]
    val byKind = mutable.LinkedHashMap.empty[String, LayerTotals]
    val orphans = jobs.filter(j => j.callId < 0 && !j.end.isNaN)
    var harnessSelf = 0.0
    var unattributed = 0
    var unattributedS = 0.0
    for (op <- ops) {
      val opTotals = new LayerTotals
      val cs = callsByOp.getOrElse(op.id, Seq.empty)
      for (c <- cs) {
        val js = jobsByCall.getOrElse(c.id, Seq.empty)
        val jobUnion = Stats.unionLength(js.map(j => (math.max(j.start, c.start), math.min(j.end, c.end))))
        val t = new LayerTotals
        t.calls = 1
        t.busyS = (c.end - c.start) / 1000
        t.jobs = js.size
        t.jobS = jobUnion / 1000
        t.driverS = t.busyS - t.jobS
        t.taskS = js.map(_.taskMs).sum / 1000.0
        t.planS = planPhases.map { case (ps, pe) =>
          math.max(0.0, math.min(pe, c.end) - math.max(ps, c.start))
        }.sum / 1000
        t.shuffleBytes = js.map(_.shuffleWriteBytes).sum.toDouble
        t.spillBytes = js.map(_.spillBytes).sum.toDouble
        t.failedTasks = js.map(_.failedTasks).sum
        byLayer.getOrElseUpdate(c.layer, new LayerTotals).add(t)
        opTotals.add(t)
      }
      val self = Stats.selfTime(op.start, op.end, cs.map(c => (c.start, c.end))) / 1000
      harnessSelf += self
      val inOp = orphans.filter(j => j.start < op.end && j.end > op.start)
      unattributed += inOp.size
      unattributedS += Stats.unionLength(inOp.map(j => (math.max(j.start, op.start), math.min(j.end, op.end)))) / 1000
      // op-level: driver time is everything outside the op's jobs
      opTotals.calls = 1
      opTotals.busyS = op.seconds
      opTotals.driverS = op.seconds - opTotals.jobS
      byKind.getOrElseUpdate("", new LayerTotals).add(opTotals)
      byKind.getOrElseUpdate("kind:" + op.kind, new LayerTotals).add(opTotals)
    }
    Breakdown(byLayer.toMap, byKind.toMap, harnessSelf, unattributed, unattributedS)
  }

  /** Module totals: layer calls grouped by the part of their name before
    * the first dot (`lake.merge` belongs to `lake`). */
  def modules(byLayer: Map[String, LayerTotals]): Map[String, LayerTotals] =
    byLayer.groupBy(_._1.takeWhile(_ != '.')).map { case (m, ls) =>
      val t = new LayerTotals
      ls.values.foreach(t.add)
      m -> t
    }

  def layerMetrics(prefix: String, t: LayerTotals, cpus: Int): Seq[(String, M)] = Seq(
    s"$prefix.calls" -> M(t.calls, "count"),
    s"$prefix.busy_s" -> M(t.busyS, "s"),
    s"$prefix.jobs" -> M(t.jobs, "count"),
    s"$prefix.job_s" -> M(t.jobS, "s"),
    s"$prefix.driver_gap_s" -> M(t.driverS, "s"),
    s"$prefix.plan_s" -> M(t.planS, "s"),
    s"$prefix.task_s" -> M(t.taskS, "s"),
    s"$prefix.core_busy_ratio" -> M(if (t.jobS > 0) t.taskS / (t.jobS * cpus) else 0.0, "ratio"),
    s"$prefix.shuffle_write_bytes" -> M(t.shuffleBytes, "bytes"))

  // ---- JSON ----

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: M => json(Map("value" -> m.value, "unit" -> m.unit))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
