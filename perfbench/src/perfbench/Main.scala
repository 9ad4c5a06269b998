package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec

/** The benchmark's JVM entry point. One closed-loop client thread drives one
  * workload: one cold set-up, then operations until the
  * timed wall reaches `--seconds`. With `--trace 1` half of that window is
  * plain and half traced, so the tracing overhead comes out of one process.
  * The last stdout line is the result object. */
object Main {
  val EndToEnd = Seq("rows_per_s" -> "rows/s", "tile_assign_rows_per_s" -> "rows/s",
    "box_join_rows_per_s" -> "rows/s", "histogram_rows_per_s" -> "rows/s",
    "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms", "setup_s" -> "s")

  val PerLayer = Seq(
    "core.gh_encode_ns" -> "ns", "core.derive_pos_ns" -> "ns", "core.covering_us" -> "us",
    "core.covering_cells" -> "count",
    "sql.analysis_ms" -> "ms/op", "sql.optimization_ms" -> "ms/op", "sql.planning_ms" -> "ms/op",
    "sql.codegen_compile_ms" -> "ms", "sql.codegen_classes" -> "count",
    "exec.cpu_s" -> "s/op", "exec.run_s" -> "s/op", "exec.gc_s" -> "s/op", "exec.busy_share" -> "ratio",
    "exec.shuffle_write_bytes" -> "bytes/op", "exec.shuffle_read_bytes" -> "bytes/op",
    "exec.spill_bytes" -> "bytes/op", "exec.jobs" -> "count/op", "exec.stages" -> "count/op",
    "exec.tasks" -> "count/op",
    "bench.self_ms" -> "ms/op", "data.self_ms" -> "ms/op", "engine.self_ms" -> "ms/op",
    "sql.self_ms" -> "ms/op", "exec.self_ms" -> "ms/op",
    "error_rate" -> "ratio")

  /** The passed operations of one measured phase, and its failures. */
  final class Phase {
    val ops = mutable.ArrayBuffer.empty[(Int, OpResult)]
    var attempted, failed = 0
    var wallNs, checkNs = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val extras = mutable.ArrayBuffer.empty[Map[String, Double]]

    def ns: Long = ops.map(_._2.ns).sum
    private def latMs: Seq[Double] = ops.map(_._2.ns / 1e6).toSeq

    /** Medians over operations (and stage samples) of rows ÷ wall, so that
      * one slow operation (a GC pause, a compaction) moves a run's figure
      * little. */
    def endToEnd(setupS: Double): Map[String, Double] = {
      def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
      def rate(k: String): Double =
        med(ops.toSeq.flatMap(_._2.stages.filter(_.kind == k)).map(s => s.rows / (s.ns / 1e9)))
      Map("rows_per_s" -> med(ops.toSeq.map(o => o._2.rows / (o._2.ns / 1e9))),
        "tile_assign_rows_per_s" -> rate("tile_assign"), "box_join_rows_per_s" -> rate("box_join"),
        "histogram_rows_per_s" -> rate("histogram"),
        "latency_p50_ms" -> (if (ops.isEmpty) 0.0 else Stats.pct(latMs, 50)),
        "latency_p90_ms" -> (if (ops.isEmpty) 0.0 else Stats.pct(latMs, 90)),
        "setup_s" -> setupS)
    }
    def summary(setupS: Double): Map[String, Any] = Map(
      "metrics" -> endToEnd(setupS), "attempted" -> attempted, "failed" -> failed,
      "samples" -> ops.size,
      "samples_beyond_p90" -> (if (ops.isEmpty) 0 else latMs.count(_ > Stats.pct(latMs, 90))),
      "timed_s" -> ns / 1e9, "wall_s" -> wallNs / 1e9, "check_s" -> checkNs / 1e9,
      "failures" -> failures.take(5).toSeq,
      "latencies_ms" -> ops.map(o => Seq(o._2.kind, o._2.ns / 1e6)).toSeq)
  }

  def loadavg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(work))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tr = new Tracer(spark)
    val ctx = new Ctx(spark, seed, a.getOrElse("scale", "1").toDouble, work, tr, a.getOrElse("inject", "none"))
    val wl: Workload = workloadName match {
      case "tile_batch" => new TileBatch(ctx)
      case "query_mix" => new QueryMix(ctx)
      case "ingest_dedup" => new IngestDedup(ctx)
      case other => spark.stop(); System.err.println(s"unknown workload $other"); sys.exit(2)
    }

    val cg0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val load0 = loadavg()
    // the first set-up in the JVM: table writes plus JIT and codegen warm-up
    val setup0 = System.nanoTime()
    wl.setup()
    val setupS = (System.nanoTime() - setup0) / 1e9
    val cg1 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

    var nextOp = 0
    def measure(ph: Phase, secs: Double, trace: Boolean): Unit = {
      tr.enabled = trace
      val wall0 = System.nanoTime()
      var timedNs = 0L
      // the wall cap bounds a run whose checks are slow or whose ops fail
      while ((timedNs < secs * 1e9 || nextOp % wl.opsPerRound != 0) &&
             System.nanoTime() - wall0 < (3 * secs + 30) * 1e9) {
        val i = nextOp; nextOp += 1
        ph.attempted += 1
        val t0 = System.nanoTime()
        val res = try Right(tr.op(i)(wl.op(i))) catch { case e: Throwable => Left(e) }
        val err = res match {
          case Left(e) => timedNs += System.nanoTime() - t0; Some(s"op $i threw $e")
          case Right(r) =>
            timedNs += r.ns
            val c0 = System.nanoTime()
            try { r.check(); None } catch { case e: Throwable => Some(s"op $i (${r.kind}): ${e.getMessage}") }
            finally ph.checkNs += System.nanoTime() - c0
        }
        (res, err) match {
          case (Right(r), None) =>
            ph.ops += ((i, r))
            if (trace) ph.extras += r.extra()
          case (_, e) =>
            ph.failed += 1; ph.failures ++= e
        }
      }
      tr.enabled = false
      ph.wallNs += System.nanoTime() - wall0
    }

    // a traced run alternates plain and traced quarters, so JIT warming
    // over the run does not bias the tracing overhead either way
    val plain = new Phase
    val tracedPhase = if (traced) Some(new Phase) else None
    tracedPhase match {
      case None => measure(plain, seconds, trace = false)
      case Some(t) => Seq(plain, t, plain, t).foreach(ph => measure(ph, seconds / 4, trace = ph eq t))
    }
    val cg2 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val load1 = loadavg()
    if (traced) tr.flush()

    val attempted = plain.attempted + tracedPhase.map(_.attempted).getOrElse(0)
    val failed = plain.failed + tracedPhase.map(_.failed).getOrElse(0)
    val codegen = Map(
      "setup" -> Map("compile_ms" -> (cg1._1 - cg0._1) / 1e6, "classes" -> (cg1._2 - cg0._2)),
      "measured" -> Map("compile_ms" -> (cg2._1 - cg1._1) / 1e6, "classes" -> (cg2._2 - cg1._2)))

    val layers: Map[String, Double] = tracedPhase.map { ph =>
      val m = Layers.compute(tr, ph, cores) ++ wl.coreProbe() ++ wl.layerFacts ++ Map(
        "sql.codegen_compile_ms" -> (cg2._1 - cg0._1) / 1e6,
        "sql.codegen_classes" -> (cg2._2 - cg0._2).toDouble,
        "error_rate" -> failed.toDouble / math.max(1, attempted))
      // partitions scanned per scan ÷ the table's partition directories
      m ++ (for (p <- m.get("sql.partitions_read"); d <- m.get("data.dirs_listed"))
        yield "sql.partitions_read_ratio" -> p / d)
    }.getOrElse(Map.empty)

    val env = Map(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "source" -> a.getOrElse("source", "unknown"), "nproc" -> cores,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "loadavg_1m_before" -> load0, "loadavg_1m_after" -> load1,
      "scale" -> ctx.scale, "inject" -> ctx.inject,
      "input_digest" -> wl.inputDigest)
    val report = mutable.LinkedHashMap[String, Any](
      "env" -> env, "layout" -> wl.layout, "codegen" -> codegen,
      "plain" -> plain.summary(setupS))
    tracedPhase.foreach { ph =>
      val p = plain.endToEnd(setupS); val t = ph.endToEnd(setupS)
      report("traced") = ph.summary(setupS)
      report("tracing_overhead") = p.keys.toSeq.sorted.map(k =>
        k -> Map("traced_minus_plain" -> (t(k) - p(k)), "share" -> (if (p(k) != 0) (t(k) - p(k)) / p(k) else 0.0))).toMap
      report("per_layer") = layers
      report("spans") = Layers.spanTable(tr)
      report("raw_spans") = (tr.spans ++ tr.jobSpans).sortBy(_.startUs).map(s =>
        Seq(s.id, s.parent, s.op, s.layer, s.name, s.startUs, s.endUs))
    }
    val reportJson = Json(report)
    a.get("results").foreach { dir =>
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(dir, s"$workloadName-seed$seed-trace${if (traced) 1 else 0}.json"), reportJson)
    }
    spark.stop()

    val metrics =
      if (traced) PerLayer.map { case (k, u) => k -> Map("value" -> layers.getOrElse(k, 0.0), "unit" -> u) }
      else { val m = plain.endToEnd(setupS); EndToEnd.map { case (k, u) => k -> Map("value" -> m(k), "unit" -> u) } }
    println("report " + reportJson)
    println(Json(mutable.LinkedHashMap("correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted, "failed" -> failed, "metrics" -> mutable.LinkedHashMap(metrics: _*))))
  }
}

/** Per-layer metrics of a traced phase, from spans, the listeners and the
  * executed plans. */
object Layers {
  private def writeCmds(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Seq(w)
    case c: CommandResultExec => writeCmds(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writeCmds(a.executedPlan)
    case other => other.children.flatMap(writeCmds)
  }

  /** Self time (ms), call count and executor totals per (layer, name). */
  def spanTable(tr: Tracer): Seq[Map[String, Any]] = {
    val all = tr.spans.toSeq ++ tr.jobSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(s => (s.layer, s.name)).toSeq.sortBy(_._1).map { case ((layer, name), ss) =>
      val t = new TaskTotals
      ss.foreach(s => Option(tr.exec.totals.get(s"span-${s.id}")).foreach(t.add))
      Map("layer" -> layer, "name" -> name, "count" -> ss.size,
        "wall_ms" -> ss.map(_.durUs).sum / 1e3,
        "self_ms" -> ss.map(s => Trace.selfUs(s, kids.getOrElse(s.id, Nil))).sum / 1e3,
        "codegen_classes" -> ss.map(_.codegenClasses).sum, "codegen_ms" -> ss.map(_.codegenNs).sum / 1e6,
        "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks, "cpu_s" -> t.cpuNs / 1e9,
        "run_s" -> t.runMs / 1e3, "gc_s" -> t.gcMs / 1e3, "shuffle_write_bytes" -> t.shuffleWrite,
        "shuffle_read_bytes" -> t.shuffleRead, "spill_bytes" -> t.spill)
    }
  }

  def compute(tr: Tracer, ph: Main.Phase, cores: Int): Map[String, Double] = {
    val opIds = ph.ops.map(_._1).toSet
    val nOps = math.max(1, opIds.size).toDouble
    val spans = tr.spans.toSeq.filter(s => opIds(s.op))
    val all = spans ++ tr.jobSpans.filter(s => opIds(s.op))
    val kids = all.groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    val out = mutable.Map.empty[String, Double]

    // self time per layer, per operation
    Seq("bench", "data", "engine", "sql", "exec").foreach { l =>
      out(s"$l.self_ms") = all.filter(_.layer == l).map(s => Trace.selfUs(s, kids.getOrElse(s.id, Nil))).sum / 1e3 / nOps
    }

    // executor totals of the spans' jobs
    def totalsOf(ss: Seq[Span]): TaskTotals = {
      val t = new TaskTotals
      ss.foreach(s => Option(tr.exec.totals.get(s"span-${s.id}")).foreach(t.add)); t
    }
    val t = totalsOf(spans)
    val wallS = ph.ns / 1e9
    out ++= Map("exec.cpu_s" -> t.cpuNs / 1e9 / nOps, "exec.run_s" -> t.runMs / 1e3 / nOps,
      "exec.gc_s" -> t.gcMs / 1e3 / nOps, "exec.busy_share" -> (if (wallS > 0) t.runMs / 1e3 / (wallS * cores) else 0.0),
      "exec.shuffle_write_bytes" -> t.shuffleWrite / nOps, "exec.shuffle_read_bytes" -> t.shuffleRead / nOps,
      "exec.spill_bytes" -> t.spill / nOps, "exec.jobs" -> t.jobs / nOps, "exec.stages" -> t.stages / nOps,
      "exec.tasks" -> t.tasks / nOps)

    // query executions, attributed to the innermost span open when planned
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[org.apache.spark.sql.execution.QueryExecution, java.lang.Boolean]())
    val qes = mutable.ArrayBuffer.empty[(Span, String, org.apache.spark.sql.execution.QueryExecution, Long)]
    tr.executed.asScala.foreach { case (f, qe, ns) =>
      val ph = qe.tracker.phases
      val at = ph.get("planning").orElse(ph.get("analysis")).map(_.startTimeMs * 1000L)
      at.flatMap(tr.spanAt).filter(s => opIds(s.op)).foreach { s =>
        if (seen.add(qe)) qes += ((s, f, qe, ns))
      }
    }
    tr.forced.foreach { case (sid, qe) =>
      byId.get(sid).foreach(s => if (seen.add(qe)) qes += ((s, "forced", qe, 0L)))
    }
    Seq("analysis", "optimization", "planning").foreach { p =>
      out(s"sql.${p}_ms") = qes.map(_._3.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)).sum / nOps
    }
    val scans = qes.toSeq.flatMap { case (_, f, qe, _) =>
      if (f == "forced") Nil else Trace.fileScans(qe.executedPlan) }
    if (scans.nonEmpty) {
      def m(k: String) = scans.map(_.metrics.get(k).map(_.value).getOrElse(0L)).sum.toDouble / scans.size
      out("sql.scans_per_op") = scans.size / nOps
      out("sql.partitions_read") = m("numPartitions")
      out("sql.files_read") = m("numFiles")
    }

    // engine calls: span wall per call, jobs per operation kind
    def within(s: Span, name: String): Boolean =
      s.name == name || (s.parent >= 0 && byId.get(s.parent).exists(within(_, name)))
    spans.groupBy(_.name).foreach { case (name, ss) =>
      if (ss.head.layer == "engine") out(s"engine.$name.wall_ms") = ss.map(_.durUs).sum / 1e3 / ss.size
    }
    val kindOf = ph.ops.map(o => o._1 -> o._2.kind).toMap
    ph.ops.map(_._2.kind).distinct.foreach { k =>
      val ss = spans.filter(s => kindOf.get(s.op).contains(k))
      out(s"engine.jobs_per_op.$k") = totalsOf(ss).jobs.toDouble / ph.ops.count(_._2.kind == k)
    }
    out.get("engine.jobs_per_op.knn").foreach(v => out("engine.knn_jobs_per_query") = v)
    val dedup = spans.filter(_.name == "dedupKeepRepresentatives")
    if (dedup.nonEmpty) out("engine.dedup_jobs") = totalsOf(dedup).jobs.toDouble / dedup.size

    // data layer: reads, extends (split into stats and write), compaction
    def meanMs(name: String): Option[Double] = {
      val ss = spans.filter(_.name == name)
      if (ss.isEmpty) None else Some(ss.map(_.durUs).sum / 1e3 / ss.size)
    }
    meanMs("IcebergLite.read").foreach(out("data.iceberg_read_ms") = _)
    meanMs("IcebergLite.compact").foreach(out("data.compact_ms") = _)
    meanMs("IcebergLite.extend").foreach { ms =>
      val ext = spans.filter(_.name == "IcebergLite.extend")
      val inExt = qes.filter(q => within(q._1, "IcebergLite.extend"))
      val (w, st) = inExt.partition(q => Trace.isWrite(q._2))
      val cmds = w.flatMap(q => writeCmds(q._3.executedPlan))
      def cm(k: String) = cmds.map(_.cmd.metrics.get(k).map(_.value).getOrElse(0L)).sum.toDouble / ext.size
      out ++= Map("data.extend_ms" -> ms, "data.extend_jobs" -> totalsOf(ext).jobs.toDouble / ext.size,
        "data.extend_stats_ms" -> st.map(_._4).sum / 1e6 / ext.size,
        "data.extend_write_ms" -> w.map(_._4).sum / 1e6 / ext.size,
        "data.files_written" -> cm("numFiles"), "data.bytes_written" -> cm("numOutputBytes"))
    }
    // traced-run-only counters the workload computed after each operation
    ph.extras.flatMap(_.keys).distinct.foreach { k =>
      val vs = ph.extras.flatMap(_.get(k)); out(k) = vs.sum / vs.size
    }
    for (c <- out.get("engine.lsh_candidates"); p <- out.get("engine.lsh_pairs_kept"))
      out("engine.lsh_kept_ratio") = if (c > 0) p / c else 0.0
    out.toMap
  }
}
