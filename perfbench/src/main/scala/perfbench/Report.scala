package perfbench

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Per-layer metrics and the per-layer report of a traced run.
  *
  * Every metric comes from the measured window alone. Span metrics are
  * self times (a span's duration minus its children's) summed over the
  * window's traced requests and divided by their count; Spark-side
  * counters (listener, codegen) are the window's totals per window
  * operation; Catalyst times count only executions first seen in the
  * window. The cold pass gets report lines of its own. The report lines
  * go to stdout ahead of the result line, and the spans to
  * `trace/<workload>-<seed>.jsonl` in the work directory. */
final class Report(ops: Seq[Op], spans: Seq[Span], counters: Map[String, Long],
    catalyst: Catalyst, codegen: Codegen.Mark, env: Run#Env, writer: Option[Lake.Writer],
    frozen: Seq[Frozen.Result], a: Args) {

  private val window = ops.filter(_.phase == 2)
  private val reads = window.filter(_.req.isDefined)
  private val traced = reads.filter(_.arm == 2)
  private val tracedReads = traced.size.max(1)
  private val childNs: Map[Long, Long] =
    spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
  private def self(s: Span): Long = s.durNs - childNs.getOrElse(s.id, 0L)
  /** Self time by span name over the spans of the given operations. */
  private def selfByName(of: Seq[Op]): Map[String, Long] = {
    val ids = of.map(_.id).toSet
    spans.filter(s => ids(s.req)).groupBy(_.name).map { case (n, ss) => n -> ss.map(self).sum }
  }
  private val windowSelf = selfByName(window.filter(_.arm == 2))
  private def perRead(names: String*): Double =
    names.map(windowSelf.getOrElse(_, 0L)).sum / 1e6 / tracedReads
  private def perOp(v: Double): Double = v / window.size.max(1)
  private def counter(k: String): Double = perOp(counters.getOrElse(k, 0L).toDouble)

  /** Mean over shapes of the difference of per-shape median latencies
    * between two arms of the measured window. */
  private def armGap(arm: Int, base: Int): Double = {
    val m = reads.filter(_.error.isEmpty)
    val gaps = m.groupBy(_.shape).values.flatMap { rs =>
      val x = rs.filter(_.arm == arm).map(_.ms)
      val y = rs.filter(_.arm == base).map(_.ms)
      if (x.isEmpty || y.isEmpty) None else Some(Util.median(x) - Util.median(y))
    }
    if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size
  }

  def layerMetrics(): Seq[(String, Double, String)] = {
    val lookups = reads.flatMap(_.cacheHit)
    val catalystReads = reads.count(_.arm > 0).max(1)
    val metrics = Seq(
      ("cubes.build_ms", perRead("cubes.build"), "ms"),
      ("parse.ms", perRead("parse"), "ms"),
      ("compile.ms", perRead("compile"), "ms"),
      ("respond.nest_ms", perRead("respond.nest"), "ms"),
      ("respond.collect_ms", perRead("respond.collect"), "ms"),
      ("respond.rows", reads.map(_.rows.toDouble).sum / reads.size.max(1), "count"),
      ("exec.self_ms", perRead("exec.request", "exec.catalog", "exec.plancache"), "ms"),
      ("exec.runner_overhead_ms", armGap(0, 1), "ms"),
      ("exec.plancache_hit_ratio",
        if (lookups.isEmpty) 0.0 else lookups.count(identity).toDouble / lookups.size, "ratio"),
      ("catalyst.analysis_ms", catalyst.get("analysis") / catalystReads, "ms"),
      ("catalyst.optimization_ms", catalyst.get("optimization") / catalystReads, "ms"),
      ("catalyst.planning_ms", catalyst.get("planning") / catalystReads, "ms"),
      ("codegen.classes", perOp(codegen.classes.toDouble), "count"),
      ("codegen.compile_ms", perOp(codegen.compileMs), "ms"),
      ("scheduler.jobs", counter("scheduler.jobs"), "count"),
      ("scheduler.stages", counter("scheduler.stages"), "count"),
      ("scheduler.stages_skipped", counter("scheduler.stages_skipped"), "count"),
      ("scheduler.tasks", counter("scheduler.tasks"), "count"),
      ("scheduler.job_wall_ms", counter("scheduler.job_wall_ms"), "ms"),
      ("executor.run_ms", counter("executor.run_ms"), "ms"),
      ("executor.cpu_ms", counter("executor.cpu_ns") / 1e6, "ms"),
      ("executor.shuffle_bytes", counter("executor.shuffle_bytes"), "bytes"),
      ("executor.spill_bytes", counter("executor.spill_bytes"), "bytes"),
      ("sources.bytes_read", counter("sources.bytes_read"), "bytes"),
      ("sources.records_read", counter("sources.records_read"), "count"),
      ("trace.overhead_ms", armGap(2, 1), "ms")) ++
      frozen.map(q => (s"queries.${q.name}_s", q.warmS, "s"))
    print(metrics)
    writeSpans()
    metrics
  }

  /** Self time per layer over the traced reads `of`: total, per read and
    * share of their request time. */
  private def layerLines(of: Seq[Op], line: String => Unit): Unit = {
    val ids = of.map(_.id).toSet
    val mine = spans.filter(s => ids(s.req))
    val wallNs = mine.filter(_.parent == 0).map(_.durNs).sum.max(1L)
    line("layer       self ms total   ms/request   share of traced request time")
    mine.groupBy(_.layer).toSeq.sortBy(-_._2.map(self).sum).foreach { case (layer, ss) =>
      val tot = ss.map(self).sum
      line(f"$layer%-10s ${tot / 1e6}%14.1f ${tot / 1e6 / of.size.max(1)}%12.3f " +
        f"${100.0 * tot / wallNs}%8.1f%%")
    }
  }

  private def print(metrics: Seq[(String, Double, String)]): Unit = {
    def line(s: String): Unit = println(s"# $s")
    line(s"per-layer report: ${a.workload} seed=${a.seed}; measured window: " +
      s"${window.size} operations, $tracedReads traced requests")
    layerLines(traced, line)
    val lookups = reads.flatMap(_.cacheHit)
    line(s"exec.plancache_hit_ratio = ${lookups.count(identity)} hits / ${lookups.size} lookups")
    line(f"exec.plancache_wait_ms = ${perRead("exec.plancache")}%.3f per traced request " +
      "(getOrCompile minus its build closure)")
    metrics.foreach { case (n, v, u) => line(f"$n%-28s $v%14.4f $u") }
    frozen.foreach(q => line(f"queries.${q.name}: cold ${q.coldS}%.3f s, warm ${q.warmS}%.3f s" +
      q.error.fold("")(e => s", FAILED $e")))
    writer.foreach { w =>
      val writes = window.filter(_.verb.isDefined)
      w.verbs.foreach { verb =>
        val ws = writes.filter(_.verb.contains(verb)).map(_.ms)
        line(f"sources.${verb}_ms = ${windowSelf.getOrElse(s"sources.$verb", 0L) / 1e6 /
          ws.size.max(1)}%.1f self per write; wall p50 ${Util.median(ws)}%.1f " +
          f"p90 ${Util.quantile(ws, 0.9)}%.1f over ${ws.size} writes")
      }
      val allWrites = writes.map(_.ms)
      line(f"write_p50_ms = ${Util.median(allWrites)}%.1f, write_p90_ms = " +
        f"${Util.quantile(allWrites, 0.9)}%.1f (${allWrites.size} writes)")
      line(f"sources.snapshot_ms = ${perRead("sources.snapshot")}%.3f per traced read")
      val table = env.lakeTable.get
      val versions = graft.sources.Manifest.versions(env.s, table)
      val (spaceAmp, liveFiles) = Lake.spaceAmp(env.s, table)
      line(s"sources.versions = ${versions.size}; sources.live_files = $liveFiles")
      val scanned = reads.filter(_.filesRead >= 0)
      val base = scanned.map(r => Lake.liveFiles(env.s, table, r.version)).sum
      line(f"sources.files_read_ratio = ${scanned.map(_.filesRead).sum.toDouble / base.max(1)}%.3f" +
        s" (${scanned.map(_.filesRead).sum} files read / $base live files, ${scanned.size} reads)")
      line(f"sources.write_amp = ${w.bytesAdded.toDouble / w.bytesChanged.max(1)}%.2f " +
        s"(${w.bytesAdded} bytes written / ${w.bytesChanged} bytes of changed rows)")
      line(f"sources.space_amp = $spaceAmp%.3f (bytes on disk / live snapshot bytes)")
    }
    val cold = ops.filter(o => o.phase == 0 && o.arm == 2 && o.req.isDefined)
    val coldS = ops.filter(_.phase == 0).map(_.ms).sum / 1e3
    line(f"cold pass, kept apart from the metrics above: $coldS%.3f s, ${cold.size} traced requests")
    layerLines(cold, line)
  }

  private def writeSpans(): Unit = {
    val dir = a.work.resolve("trace")
    Files.createDirectories(dir)
    val out = spans.sortBy(_.startNs).map(s => Util.json(scala.collection.immutable.ListMap(
      "id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.write(dir.resolve(s"${a.workload}-${a.seed}.jsonl"),
      (out.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Scan {
  private object Helper extends AdaptiveSparkPlanHelper

  /** Files the parquet scans of an executed frame read. */
  def filesRead(df: DataFrame): Long =
    Helper.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}
