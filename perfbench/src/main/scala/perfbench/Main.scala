package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.GraftSession

/** One benchmark run in one JVM: set up the workload, warm up with one
  * cold full pass, then run timed passes back to back (one client, one op
  * at a time) for the requested seconds, and write the run record.
  * With `--trace 1` the layer measurements run before the timed passes
  * and every timed pass is traced; the traced run's pass time minus an
  * untraced run's is the tracing overhead. run.py checks outputs and
  * turns the record into metrics. */
object Main {
  /** Extract scale for the OSM workloads (1.0 = the reference's counts). */
  val OsmScale = 0.1
  val WarmupPasses = 1
  val MinTimedPasses = 2

  final case class OpRec(name: String, constructS: Double, execS: Double, cpuS: Double,
      rows: Long, error: Option[String]) {
    def seconds: Double = constructS + execS
    def toJson: String = Json.obj(
      "name" -> Json.str(name), "construct_s" -> Json.num(constructS),
      "exec_s" -> Json.num(execS), "cpu_s" -> Json.num(cpuS), "rows" -> rows.toString,
      "error" -> error.map(Json.str).getOrElse("null"))
  }
  final case class PassRec(tag: String, wallS: Double, cpuS: Double, stealShare: Double,
      ops: Seq[OpRec]) {
    def toJson: String = Json.obj("wall_s" -> Json.num(wallS), "cpu_s" -> Json.num(cpuS),
      "steal_share" -> Json.num(stealShare), "ops" -> Json.arr(ops.map(_.toJson)))
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of all of this process's threads, in seconds. */
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  /** Host CPU counters (all, steal) from /proc/stat, in ticks. */
  def hostTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (v.sum, if (v.length > 7) v(7) else 0L)
      } finally f.close()
    } catch { case NonFatal(_) => (0L, 0L) }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = GraftSession.local("perfbench")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val w: Workload = workload match {
      case "osm_etl" => new OsmEtl(work, seed, OsmScale)
      case "osm_audit" => new OsmAuditWorkload(work, seed, OsmScale)
      case "sf_quick" => new SfQuick(work, opts("data"), seed)
      case other => sys.error(s"unknown workload $other")
    }
    val trace = new Trace(spark.sparkContext)
    val setup0 = System.nanoTime()
    w.setup(spark)
    val inputsS = (System.nanoTime() - setup0) / 1e9

    var passNo = 0
    def pass(tracing: Boolean, out: String): PassRec = {
      passNo += 1
      val tag = s"p$passNo"
      val s = w.session(spark)
      // spans only in traced passes, so an untraced pass pays nothing for them
      def span[T](name: String, id: String)(body: => T): T =
        if (tracing) trace.span(name, id)(body) else body
      if (tracing) { spark.sparkContext.addSparkListener(trace); trace.watch(s) }
      // the previous pass's garbage is not charged to this one
      System.gc()
      val (ticks0, steal0) = hostTicks()
      val cpu0 = cpuSeconds()
      val t0 = System.nanoTime()
      val recs = span("pass", tag) {
        trace.withOp(s"$tag/open", "construct")(span("open", s"$tag/open")(w.openPass(s)))
        w.ops.map { op =>
          val id = s"$tag/${op.name}"
          val c0 = System.nanoTime()
          val opCpu0 = cpuSeconds()
          var c1 = c0
          try span("op", id) {
            val df = trace.withOp(id, "construct")(span("construct", id)(op.build(s)))
            c1 = System.nanoTime()
            val rows = trace.withOp(id, "exec")(span("exec", id)(op.run(df, s"$out/${op.name}")))
            val e = System.nanoTime()
            if (tracing) trace.addPhases(id, df.queryExecution)
            OpRec(op.name, (c1 - c0) / 1e9, (e - c1) / 1e9, cpuSeconds() - opCpu0, rows, None)
          } catch {
            case NonFatal(e) =>
              OpRec(op.name, (c1 - c0) / 1e9, (System.nanoTime() - c1) / 1e9,
                cpuSeconds() - opCpu0, -1, Some(s"${e.getClass.getName}: ${e.getMessage}"))
          } finally s.catalog.clearCache()
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSeconds() - cpu0
      val (ticks1, steal1) = hostTicks()
      val stealShare = if (ticks1 > ticks0) (steal1 - steal0).toDouble / (ticks1 - ticks0) else 0.0
      if (tracing) {
        trace.drain()
        trace.unwatch(s)
        spark.sparkContext.removeSparkListener(trace)
      }
      PassRec(tag, wall, cpu, stealShare, recs)
    }

    // Warm-up, charged to setup_s: a cold full pass that writes every op's
    // result for the checks, then WarmupPasses full passes. The first pass
    // after the cold one still runs 10-15% slower and burns 40% more CPU
    // (JIT); more passes would not fit the run budget.
    val wr0 = System.nanoTime()
    val resultErrors = {
      val s = w.session(spark)
      w.openPass(s)
      w.ops.flatMap { op =>
        try { w.writeResult(s, op, s"$work/results"); None }
        catch { case NonFatal(e) => Some(op.name -> s"${e.getClass.getName}: ${e.getMessage}") }
        finally s.catalog.clearCache()
      }
    }
    for (_ <- 1 to WarmupPasses) pass(tracing = false, s"$work/warmup")
    val warmupS = (System.nanoTime() - wr0) / 1e9
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        spark.sparkContext.addSparkListener(trace)
        try w.layers(spark, trace) finally spark.sparkContext.removeSparkListener(trace)
      }

    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || passes.size < MinTimedPasses)
      passes += pass(traced, s"$work/out/p${passes.size}")

    val layerJson = if (!traced) "null" else
      Json.obj((layers ++ Layers.fromPasses(trace, passes.toSeq,
        spark.sparkContext.defaultParallelism)).toSeq.sorted
        .map { case (k, v) => k -> Json.num(v) }: _*)
    if (traced)
      Files.write(Paths.get(s"$work/spans.jsonl"), trace.spansJson.toSeq.mkString("", "\n", "\n")
        .getBytes(UTF_8))
    val record = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> traced.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_graft_cpus" -> Json.str(GraftSession.cpus),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory() / (1 << 20)).toString,
      "setup_s" -> Json.num(setupS),
      "session_s" -> Json.num(sessionS),
      "inputs_s" -> Json.num(inputsS),
      "warmup_s" -> Json.num(warmupS),
      "docs_per_pass" -> w.docsPerPass.toString,
      "ops_per_pass" -> w.ops.size.toString,
      "manifest" -> w.manifestJson,
      "result_errors" -> Json.obj(resultErrors.map { case (k, v) => k -> Json.str(v) }: _*),
      "passes" -> Json.arr(passes.map(_.toJson)),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "layers" -> layerJson)
    Files.write(Paths.get(s"$work/record.json"), record.getBytes(UTF_8))
    spark.stop()
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    } catch { case NonFatal(_) => Double.NaN }
}

/** Per-layer metrics from the traced passes: each is summed over one pass
  * and reported as the median over traced passes. */
object Layers {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def fromPasses(t: Trace, traced: Seq[Main.PassRec], cores: Int): Map[String, Double] = {
    val byPass = traced.map(p => p -> t.sumWithPrefix(s"${p.tag}/"))
    def m(f: (Main.PassRec, Counts) => Double): Double =
      median(byPass.map { case (p, c) => f(p, c) })
    val base = Map(
      "tables.jobs" -> m((_, c) => c.tablesJobs),
      "tables.job_s" -> m((_, c) => c.tablesJobMs / 1e3),
      "construct.s" -> m((p, _) => p.ops.map(_.constructS).sum),
      "construct.jobs" -> m((_, c) => c.constructJobs),
      "construct.share" -> m((p, _) => p.ops.map(_.constructS).sum / p.wallS),
      "catalyst.analysis_s" -> m((_, c) => c.analysisMs / 1e3),
      "catalyst.optimization_s" -> m((_, c) => c.optimizationMs / 1e3),
      "catalyst.planning_s" -> m((_, c) => c.planningMs / 1e3),
      "exec.jobs" -> m((_, c) => c.jobs),
      "exec.stages" -> m((_, c) => c.stages),
      "exec.tasks" -> m((_, c) => c.tasks),
      "exec.task_run_s" -> m((_, c) => c.taskRunMs / 1e3),
      "exec.task_cpu_s" -> m((_, c) => c.taskCpuNs / 1e9),
      "exec.gc_s" -> m((_, c) => c.gcMs / 1e3),
      "exec.sched_wait_s" -> m((_, c) => c.schedWaitMs / 1e3),
      "exec.shuffle_read_bytes" -> m((_, c) => c.shuffleRead),
      "exec.shuffle_write_bytes" -> m((_, c) => c.shuffleWrite),
      "exec.spill_bytes" -> m((_, c) => c.spill),
      "exec.input_bytes" -> m((_, c) => c.input),
      "exec.output_bytes" -> m((_, c) => c.output),
      "exec.util" -> m((p, c) => c.taskRunMs / 1e3 / (cores * p.wallS)),
      "exec.task_failures" -> m((_, c) => c.taskFailures),
      "trace.pass_s" -> median(traced.map(_.wallS)))
    val opNames = traced.flatMap(_.ops.map(_.name)).distinct
    base ++ opNames.map(n => s"op.${n}_s" -> median(traced.flatMap(_.ops.filter(_.name == n).map(_.seconds))))
  }
}
