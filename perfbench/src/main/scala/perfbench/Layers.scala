package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Per-layer metrics of a traced run. Times and counts are per completed
  * op (run total / ops), so runs of different lengths compare. */
object Layers {

  /** Span-timed layer calls; each reports `<name>_ms` per op. */
  val spanLayers: Seq[String] = Seq(
    "mmeds.catalog_table", "mmeds.resolve", "mmeds.contents", "mmeds.repeated",
    "mmeds.meta_query", "mmeds.tsv_read", "mmeds.validate",
    "store.append", "store.delete", "store.probe", "store.manifest",
    "store.compact", "store.retrain")

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] =
    spanLayers.map(n => s"${n}_ms" -> "ms/op") ++ Seq(
      "mmeds.catalog_table_calls" -> "1/op",
      "mmeds.rows_returned" -> "rows/op",
      "mmeds.records_read_per_row" -> "ratio",
      "store.bytes_live" -> "B",
      "store.files_live" -> "count",
      "store.live_row_frac" -> "ratio",
      "catalyst.analysis_ms" -> "ms/op",
      "catalyst.optimization_ms" -> "ms/op",
      "catalyst.planning_ms" -> "ms/op",
      "catalyst.actions" -> "1/op",
      "codegen.compiles" -> "1/op",
      "codegen.compile_ms" -> "ms/op",
      "sched.jobs" -> "1/op",
      "sched.stages" -> "1/op",
      "sched.tasks" -> "1/op",
      "sched.task_failures" -> "1/op",
      "driver.gap_ms" -> "ms/op",
      "exec.run_ms" -> "ms/op",
      "exec.cpu_ms" -> "ms/op",
      "exec.busy_frac" -> "ratio",
      "io.bytes_read" -> "B/op",
      "io.records_read" -> "1/op",
      "io.bytes_written" -> "B/op",
      "io.records_written" -> "1/op",
      "shuffle.bytes_written" -> "B/op",
      "shuffle.bytes_read" -> "B/op",
      "shuffle.fetch_wait_ms" -> "ms/op",
      "spill.bytes" -> "B/op",
      "mem.peak_exec_mb" -> "MB",
      "jvm.gc_ms" -> "ms/op",
      "jvm.gc_count" -> "1/op",
      "jvm.heap_peak_mb" -> "MB",
      "trace.ops_per_s" -> "ops/s",
      "trace.self_residual_ms" -> "ms")

  def compute(ctx: Ctx, w: Workload, ops: Seq[OpRecord], c: SparkCounters,
      wallS: Double, opsPerS: Double): Seq[(String, (Double, String))] = {
    val n = math.max(ops.size, 1).toDouble
    val timed = ctx.tracer.all.filter(s => ops.exists(_.id == s.op))
    val spanMs = Tracer.byName(timed).map { case (k, (_, tot, _)) => k -> tot / 1e6 }
    val spanCalls = Tracer.byName(timed).map { case (k, (calls, _, _)) => k -> calls }
    val own = w.layerTotals()
    val values: Map[String, Double] =
      spanLayers.map(l => s"${l}_ms" -> spanMs.getOrElse(l, 0.0) / n).toMap ++ Map(
        "mmeds.catalog_table_calls" -> spanCalls.getOrElse("mmeds.catalog_table", 0) / n,
        "mmeds.rows_returned" -> own.getOrElse("mmeds.rows_returned", 0.0) / n,
        "mmeds.records_read_per_row" -> {
          val rows = own.getOrElse("mmeds.rows_returned", 0.0)
          if (rows > 0) c.recordsRead.sum / rows else 0.0
        },
        "store.bytes_live" -> own.getOrElse("store.bytes_live", 0.0),
        "store.files_live" -> own.getOrElse("store.files_live", 0.0),
        "store.live_row_frac" -> own.getOrElse("store.live_row_frac", 0.0),
        "catalyst.analysis_ms" -> c.analysisMs.sum / n,
        "catalyst.optimization_ms" -> c.optimizationMs.sum / n,
        "catalyst.planning_ms" -> c.planningMs.sum / n,
        "catalyst.actions" -> c.actions.sum / n,
        "codegen.compiles" -> c.codegenCompiles / n,
        "codegen.compile_ms" -> c.codegenMsEstimate / n,
        "sched.jobs" -> c.jobs.sum / n,
        "sched.stages" -> c.stages.sum / n,
        "sched.tasks" -> c.tasks.sum / n,
        "sched.task_failures" -> c.taskFailures.sum / n,
        "driver.gap_ms" -> ops.map(o => o.ms - c.jobMs(o.id)).sum / n,
        "exec.run_ms" -> c.runMs.sum / n,
        "exec.cpu_ms" -> c.cpuNs.sum / 1e6 / n,
        "exec.busy_frac" -> c.runMs.sum / (wallS * 1e3 * ctx.cores),
        "io.bytes_read" -> c.bytesRead.sum / n,
        "io.records_read" -> c.recordsRead.sum / n,
        "io.bytes_written" -> c.bytesWritten.sum / n,
        "io.records_written" -> c.recordsWritten.sum / n,
        "shuffle.bytes_written" -> c.shuffleWritten.sum / n,
        "shuffle.bytes_read" -> c.shuffleRead.sum / n,
        "shuffle.fetch_wait_ms" -> c.fetchWaitMs.sum / n,
        "spill.bytes" -> c.spill.sum / n,
        "mem.peak_exec_mb" -> c.peakExec.get / 1048576.0,
        "jvm.gc_ms" -> c.gcMs / n,
        "jvm.gc_count" -> c.gcCount / n,
        "jvm.heap_peak_mb" -> c.heapPeakMb,
        "trace.ops_per_s" -> opsPerS,
        "trace.self_residual_ms" -> selfResidualMs(timed, ops))
    names.map { case (k, u) => k -> (values(k), u) }
  }

  /** Largest gap, over ops, between the op's wall time and the sum of the
    * self times of its spans; 0 when self times account for every op. */
  def selfResidualMs(spans: Seq[Span], ops: Seq[OpRecord]): Double = {
    val self = Tracer.selfTimes(spans)
    val byOp = spans.groupBy(_.op)
    ops.map { o =>
      val ss = byOp.getOrElse(o.id, Nil)
      val root = ss.filter(_.parent == 0)
      val rootMs = root.map(s => s.end - s.start).sum / 1e6
      math.abs(rootMs - ss.map(s => self(s.id)).sum / 1e6)
    }.foldLeft(0.0)(math.max)
  }

  /** Human-readable per-layer table: calls, total and self ms per span
    * name over the timed ops. */
  def table(workload: String, spans: Seq[Span], ops: Seq[OpRecord]): String = {
    val ids = ops.map(_.id).toSet
    val timed = spans.filter(s => ids.contains(s.op))
    val rows = Tracer.byName(timed).toSeq.sortBy(-_._2._3)
    val wall = ops.map(_.ms).sum
    val sb = new StringBuilder
    sb ++= f"# per-layer self times, workload $workload, ${ops.size} ops, op wall $wall%.1f ms\n"
    sb ++= f"# ${"span"}%-28s ${"calls"}%7s ${"total_ms"}%12s ${"self_ms"}%12s ${"self_%"}%7s\n"
    rows.foreach { case (n, (calls, tot, self)) =>
      sb ++= f"# $n%-28s $calls%7d ${tot / 1e6}%12.1f ${self / 1e6}%12.1f ${100 * self / 1e6 / math.max(wall, 1e-9)}%6.1f%%\n"
    }
    sb.toString.stripSuffix("\n")
  }

  def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""")
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
