package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.GraftSession
import Report.M

/** The benchmark's JVM side: one run of one workload.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <dir> --out <result.json>
  * }}}
  *
  * Writes the full result (metadata, end-to-end and per-layer metrics,
  * failures) to `--out`, the trace spans next to it, and a readable
  * report to stdout. `perfbench/run.py` builds and launches this. */
object Main {
  val LoopDeadlineS = 100
  val OpTimeoutMs = 60000L

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val workDir = new File(a("work"))
    val out = new File(a("out"))
    workDir.mkdirs()

    val spark = GraftSession("graftbench")
    val sessionReadyS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val cpus = spark.sparkContext.defaultParallelism
    val tracer = if (trace) {
      val t = new SparkTracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None
    val h = new Harness(spark, tracer, OpTimeoutMs)
    val w = Workload(workload, spark, seed, workDir)

    // set-up: one build from scratch, cold as a user meets it, then the warm-up
    val t0 = Clock.nowMs
    w.setup(h)
    val t1 = Clock.nowMs
    w.warmup(h)
    val t2 = Clock.nowMs
    val buildS = (t1 - t0) / 1000
    val warmupS = (t2 - t1) / 1000
    val setup = sessionReadyS + buildS + warmupS

    // the measured closed loop: a fixed number of whole rounds, so every
    // operation runs the same number of times in every run
    val rounds = math.max(1, (seconds / w.nominalRoundS).toInt)
    val gc0 = gcMs; val jit0 = jitMs
    val loop0 = Clock.nowMs
    h.measuring = true
    for (r <- 1 to rounds if h.aborted.isEmpty) {
      if ((Clock.nowMs - loop0) / 1000 > LoopDeadlineS)
        h.aborted = Some(s"the loop exceeded $LoopDeadlineS s after ${r - 1} of $rounds rounds")
      else w.round(h, r)
    }
    h.measuring = false
    val loopS = (Clock.nowMs - loop0) / 1000
    val gcS = (gcMs - gc0) / 1000; val jitS = (jitMs - jit0) / 1000
    w.finish(h)

    val heapMb = liveHeapMb()
    val storageMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

    val measured = h.measured
    val opS = measured.map(_.seconds).sum
    val reads = measured.filter(_.kind == "read").map(_.seconds)
    val writes = measured.filter(_.kind == "write").map(_.seconds)
    val readTail = Stats.tail(reads)
    val writeTail = Stats.tail(writes)
    val extra = w.extra(h)
    val endToEnd = Seq(
      "setup_s" -> M(setup, "s"),
      "work_per_s" -> M(w.work / opS, "1/s"),
      "read_p50_s" -> M(Stats.median(reads), "s"),
      "cpu_ms_per_unit" -> M(measured.map(_.cpuS).sum * 1000 / w.work, "ms"),
      "read_cpu_p50_ms" -> M(Stats.median(measured.filter(_.kind == "read").map(_.cpuS * 1000)), "ms")) ++
      extra.get("bytes_written_per_row").map { case (v, u) => "bytes_written_per_row" -> M(v, u) }

    val detail = Seq.newBuilder[(String, M)]
    detail += "error_rate" -> M(h.failed.toDouble / math.max(1, h.attempted), "ratio")
    detail += "live_heap_mb" -> M(heapMb, "MB")
    readTail.foreach { t =>
      detail += "read_tail_s" -> M(t.value, "s")
      detail += "read_tail_percentile" -> M(t.percentile, "%")
    }
    detail += "read_samples" -> M(reads.size, "count")
    if (writes.nonEmpty) {
      detail += "write_p50_s" -> M(Stats.median(writes), "s")
      detail += "write_samples" -> M(writes.size, "count")
    }
    writeTail.foreach { t =>
      detail += "write_tail_s" -> M(t.value, "s")
      detail += "write_tail_percentile" -> M(t.percentile, "%")
    }
    extra.removed("bytes_written_per_row").foreach { case (k, (v, u)) => detail += k -> M(v, u) }
    detail += "session_cache.storage_mb" -> M(storageMb, "MB")
    detail += "jvm.gc_s" -> M(gcS, "s")
    detail += "jvm.jit_compile_s" -> M(jitS, "s")
    measured.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, os) =>
      detail += s"op.$n.p50_s" -> M(Stats.median(os.map(_.seconds)), "s")
      detail += s"op.$n.count" -> M(os.size, "count")
    }
    h.counters.foreach { case (k, v) => detail += k -> M(v, if (k.endsWith("bytes_written")) "bytes" else "count") }

    val perLayer = Seq.newBuilder[(String, M)]
    tracer.foreach { t =>
      if (!t.drain(10000)) h.drainTimeouts += 1
      val b = Report.breakdown(measured, h.calls.toSeq, t.jobsSnapshot, t.planPhases)
      val n = math.max(1, measured.size).toDouble
      val all = b.byKind.getOrElse("", new Report.LayerTotals)
      val rd = b.byKind.getOrElse("kind:read", new Report.LayerTotals)
      val nr = math.max(1, reads.size).toDouble
      perLayer ++= Seq(
        "spark.jobs_per_op" -> M(all.jobs / n, "count"),
        "spark.job_s_per_op" -> M(all.jobS / n, "s"),
        "spark.driver_gap_s_per_op" -> M(all.driverS / n, "s"),
        "spark.task_s_per_op" -> M(all.taskS / n, "s"),
        "spark.plan_s_per_op" -> M(all.planS / n, "s"),
        "spark.core_busy_ratio" -> M(all.taskS / math.max(1e-9, all.jobS * cpus), "ratio"),
        "spark.shuffle_write_bytes_per_op" -> M(all.shuffleBytes / n, "bytes"),
        "read.jobs_per_op" -> M(rd.jobs / nr, "count"),
        "read.job_s_per_op" -> M(rd.jobS / nr, "s"),
        "read.driver_gap_s_per_op" -> M(rd.driverS / nr, "s"),
        "read.task_s_per_op" -> M(rd.taskS / nr, "s"),
        "jvm.gc_s" -> M(gcS, "s"),
        "jvm.jit_compile_s" -> M(jitS, "s"))
      b.byLayer.toSeq.sortBy(_._1).foreach { case (l, lt) => detail ++= Report.layerMetrics(l, lt, cpus) }
      Report.modules(b.byLayer).toSeq.sortBy(_._1).filter { case (m, _) => !b.byLayer.contains(m) }
        .foreach { case (m, mt) => detail ++= Report.layerMetrics(m, mt, cpus) }
      detail ++= Report.layerMetrics("spark", all, cpus)
      detail += "spark.spill_bytes" -> M(all.spillBytes, "bytes")
      detail += "spark.failed_tasks" -> M(all.failedTasks, "count")
      detail += "harness.self_s" -> M(b.harnessSelfS, "s")
      detail += "trace.unattributed_jobs" -> M(b.unattributedJobs, "count")
      detail += "trace.unattributed_job_s" -> M(b.unattributedJobS, "s")
      detail += "trace.drain_timeouts" -> M(h.drainTimeouts, "count")
      writeSpans(new File(out.getPath.stripSuffix(".json") + ".spans.jsonl"), h, t)
    }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "meta" -> Map("cpus" -> cpus, "seed" -> seed, "inputs" -> (w.inputs + ("rounds" -> rounds)),
        "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString),
      "attempted" -> h.attempted, "failed" -> h.failed, "failures" -> h.failures.take(50).toSeq,
      "aborted" -> h.aborted,
      "work" -> Map("units" -> w.work, "unit" -> w.workUnit, "rounds" -> rounds,
        "loop_s" -> loopS, "op_s" -> opS),
      "setup" -> Map("session_s" -> sessionReadyS, "build_s" -> buildS, "warmup_s" -> warmupS),
      "end_to_end" -> scala.collection.immutable.ListMap(endToEnd: _*),
      "per_layer" -> scala.collection.immutable.ListMap(perLayer.result(): _*),
      "detail" -> scala.collection.immutable.ListMap(detail.result(): _*))
    java.nio.file.Files.writeString(out.toPath, Report.json(result))

    println(s"[perfbench] $workload seed=$seed cpus=$cpus rounds=$rounds ops=${measured.size} " +
      f"work=${w.work}%.0f ${w.workUnit} loop=$loopS%.1fs attempted=${h.attempted} failed=${h.failed}")
    (endToEnd ++ perLayer.result() ++ detail.result()).foreach { case (k, m) =>
      println(f"[perfbench]   $k%-40s ${m.value}%.6g ${m.unit}")
    }
    h.failures.take(20).foreach(f => println(s"[perfbench] FAIL $f"))
    h.shutdown()
    spark.stop()
  }

  /** Heap in use right after a full collection: the smallest, over three
    * explicit collections, of what the heap pools held when one ended. */
  private def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }.min

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  private def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** The span tree (run -> op -> layer call -> Spark job), one JSON object
    * per line: id, parent, kind, name, start and end in epoch ms. */
  private def writeSpans(f: File, h: Harness, t: SparkTracer): Unit = {
    val lines = h.ops.map(o => Report.json(Map("id" -> o.id, "parent" -> 0, "kind" -> "op",
        "name" -> o.name, "start" -> o.start, "end" -> o.end, "measured" -> o.measured, "ok" -> o.ok))) ++
      h.calls.map(c => Report.json(Map("id" -> c.id, "parent" -> c.opId, "kind" -> "call",
        "name" -> c.layer, "start" -> c.start, "end" -> c.end))) ++
      t.jobsSnapshot.map(j => Report.json(Map("id" -> s"job-${j.id}", "parent" -> j.callId,
        "kind" -> "job", "name" -> s"job ${j.id}", "start" -> j.start, "end" -> j.end,
        "tasks" -> j.tasks, "task_ms" -> j.taskMs)))
    java.nio.file.Files.write(f.toPath, lines.asJava)
  }
}
