package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/**
 * One benchmark run of one workload in a fresh JVM (launched by `run.py`):
 *
 *   graftbench.Main --workload W --seed S --seconds T --trace 0|1
 *     --cores N --work DIR --t0-ms EPOCH_MS [--trace-out FILE] [--setup-only]
 *
 * Builds one SparkSession at `local[N]` on one driver thread, generates and
 * materializes the input, computes the references, then repeats the
 * workload's call sequence as many whole times as fit in T seconds, at least
 * once. It prints one JSON line: `metrics` holds the end-to-end metrics as
 * medians over iterations (`--trace 0`) or the per-layer metrics of traced
 * iterations (`--trace 1`); `extra` holds `job_s`, `ingest_s` and `resume_s`.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: String, t0Ms: Long, traceOut: Option[String], setupOnly: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(kv.getOrElse("--workload", ""), kv.getOrElse("--seed", "0").toLong,
      kv.getOrElse("--seconds", "1").toInt, kv.get("--trace").contains("1"),
      get("--cores").toInt, get("--work"), get("--t0-ms").toLong, kv.get("--trace-out"),
      argv.contains("--setup-only"))
  }

  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def session(a: Args): SparkSession =
    SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()

  /** End-to-end metric names and units, in output order (`run.py` adds
   *  `setup_s`). */
  val EndToEnd: Seq[(String, String)] =
    Seq("job_s" -> "s", "cpu_s" -> "s", "peak_storage_mib" -> "MiB")

  /** Seconds of single calls (and of ingest and resume), reported as `extra`
   *  with `superstep_edges_per_s`; `run.py` makes them per-layer metrics. */
  val OpSeconds: Seq[String] =
    Seq("pagerank_s", "wcc_s", "lpa_s", "triangles_s", "ingest_s", "resume_s")

  val Spans: Seq[String] = Seq("ingest.sha", "ingest.ids", "ingest.edges", "ingest.store",
    "algos.pagerank", "algos.wcc", "algos.lpa", "algos.triangles",
    "core.write", "core.ckpt_kill", "core.ckpt_resume")

  val Counters: Seq[(String, String)] = Seq("wall_s" -> "s", "exec_cpu_s" -> "s",
    "gc_s" -> "s", "jobs" -> "count", "tasks" -> "count", "shuffle_write_mib" -> "MiB",
    "spill_mib" -> "MiB", "output_mib" -> "MiB", "task_p50_ms" -> "ms", "task_tail_ms" -> "ms")

  /** Per-layer metric names and units from a traced JVM, in output order
   *  (`run.py` adds the `extra` values of an untraced JVM and
   *  `trace_overhead_s`). */
  val PerLayer: Seq[(String, String)] =
    Spans.flatMap(s => Counters.map { case (c, u) => s"$s.$c" -> u }) ++
      Seq("pagerank", "wcc").flatMap(a => Seq(s"pregel.$a.supersteps" -> "count",
        s"pregel.$a.superstep_p50_ms" -> "ms", s"pregel.$a.active_vertices" -> "count",
        s"pregel.$a.prep_s" -> "s"))

  final case class Iter(index: Int, jobS: Double, cpuS: Double, peakMiB: Double,
      pregels: Pregels, layer: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    val setupS = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    if (a.setupOnly) {
      println(s"""{"setup_s":$setupS}""")
      System.out.flush()
      Runtime.getRuntime.halt(0) // a probe has nothing to clean up but its work dir
    }
    spark.sparkContext.setLogLevel("WARN")
    try {
      val workload = Workload(a.workload, a.seed)
      val p0 = System.nanoTime()
      workload.prepare(spark, a.work)
      System.err.println(f"[graftbench] prepare_s=${(System.nanoTime() - p0) / 1e9}%.3f")
      val ops = new OpLog
      val tracer = new Tracer(spark.sparkContext, s"${a.workload}-${a.seed}")
      val listener = new TaskListener
      if (a.trace) spark.sparkContext.addSparkListener(listener)
      val storage = new StorageListener
      spark.sparkContext.addSparkListener(storage)
      val iters = mutable.ArrayBuffer.empty[Iter]
      val start = System.nanoTime()
      var last = 0.0
      // only whole iterations: every reported sequence ran to its end
      while (iters.isEmpty || (System.nanoTime() - start) / 1e9 + last <= a.seconds) {
        val t0 = System.nanoTime()
        iters += runIteration(spark, a, workload, ops, tracer, listener, storage, iters.size)
        last = (System.nanoTime() - t0) / 1e9
      }
      if (a.trace) a.traceOut.foreach(writeSpans(tracer, _))
      val its = iters.toSeq
      val metrics = if (a.trace) perLayer(its) else endToEnd(its, ops)
      val extra = Seq("job_s" -> Stats.median(its.map(_.jobS))) ++
        edgesPerSecond(its, ops).map("superstep_edges_per_s" -> _) ++
        OpSeconds.flatMap(k => workload.opSeconds.get(k)
          .flatMap(names => opMetric(its, ops, names)).map(k -> _))
      val errors = ops.records.filterNot(_.ok).map(r => s"${r.name}#${r.iteration}: ${r.error.get}")
      println(resultJson(ops.failed == 0, ops.attempted, ops.failed, metrics, extra, setupS,
        its.size, errors.toSeq, spark.version))
    } finally spark.stop()
  }

  private def runIteration(spark: SparkSession, a: Args, w: Workload, ops: OpLog,
      tracer: Tracer, listener: TaskListener, storage: StorageListener, i: Int): Iter = {
    val ctx = new Ctx(spark, a.work, ops, tracer)
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    storage.resetPeak()
    ops.iteration = i
    tracer.iteration = i
    tracer.enabled = a.trace
    val firstSpan = tracer.spans.size
    val t0 = System.nanoTime(); val c0 = processCpuNs
    val pregels = tracer.span("job")(w.iteration(ctx, i))
    val wallNs = System.nanoTime() - t0 - ctx.checkNs
    val cpuNs = processCpuNs - c0 - ctx.checkCpuNs
    tracer.enabled = false
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val peakMiB = storage.peakBytes / 1048576.0
    ctx.release(w.keep)
    val layer =
      if (!a.trace) Map.empty[String, Double]
      else layerMetrics(tracer.spans.drop(firstSpan).toSeq, listener, pregels)
    System.err.println(f"[graftbench] iteration $i job_s=${wallNs / 1e9}%.3f " +
      f"check_s=${ctx.checkNs / 1e9}%.3f " +
      ops.records.filter(_.iteration == i).map(r => f"${r.name}=${r.seconds}%.3f").mkString(" "))
    Iter(i, wallNs / 1e9, cpuNs / 1e9, peakMiB, pregels, layer)
  }

  /** Per-layer values of one traced iteration. */
  def layerMetrics(spans: Seq[Span], listener: TaskListener, pregels: Pregels): Map[String, Double] = {
    val self = Span.selfNs(spans)
    val byName = spans.groupBy(_.name)
    val spanMetrics = Spans.flatMap { name =>
      val ss = byName.getOrElse(name, Nil)
      val cs = ss.flatMap(s => listener.counters.get(s.id))
      val tasks = cs.flatMap(_.taskMs).map(_.toDouble)
      Seq(
        "wall_s" -> ss.map(s => self(s.id)).sum / 1e9,
        "exec_cpu_s" -> cs.map(_.execCpuNs).sum / 1e9,
        "gc_s" -> cs.map(_.gcMs).sum / 1e3,
        "jobs" -> cs.map(_.jobs).sum.toDouble,
        "tasks" -> tasks.size.toDouble,
        "shuffle_write_mib" -> cs.map(_.shuffleWriteBytes).sum / 1048576.0,
        "spill_mib" -> cs.map(_.spillBytes).sum / 1048576.0,
        "output_mib" -> cs.map(_.outputBytes).sum / 1048576.0,
        "task_p50_ms" -> Stats.p50(tasks),
        "task_tail_ms" -> Stats.tail(tasks)).map { case (k, v) => s"$name.$k" -> v }
    }.toMap
    val pregel = Seq("pagerank", "wcc").flatMap { algo =>
      val ms = pregels.runs.get(algo).map(_._2).getOrElse(Nil)
      val spanWall = spanMetrics(s"algos.$algo.wall_s")
      Seq(
        "supersteps" -> ms.size.toDouble,
        "superstep_p50_ms" -> (if (ms.isEmpty) 0.0 else Stats.median(ms.map(_.wallMillis.toDouble))),
        "active_vertices" -> ms.map(_.activeVertices).sum.toDouble,
        "prep_s" -> (if (ms.isEmpty) 0.0 else spanWall - ms.map(_.wallMillis).sum / 1e3))
        .map { case (k, v) => s"pregel.$algo.$k" -> v }
    }
    spanMetrics ++ pregel
  }

  /** Median over the iterations in which every named op succeeded. */
  private def opMetric(iters: Seq[Iter], ops: OpLog, names: Seq[String]): Option[Double] = {
    val xs = iters.flatMap(it => ops.seconds(it.index, names: _*))
    if (xs.isEmpty) None else Some(Stats.median(xs))
  }

  private def cleanIters(iters: Seq[Iter], ops: OpLog): Seq[Iter] =
    iters.filter(it => ops.records.forall(r => r.iteration != it.index || r.ok))

  private def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(Stats.median(xs))

  def endToEnd(iters: Seq[Iter], ops: OpLog): Seq[(String, Double, String)] = {
    val clean = cleanIters(iters, ops)
    val values: Map[String, Option[Double]] = Map(
      "job_s" -> median(clean.map(_.jobS)),
      "cpu_s" -> median(clean.map(_.cpuS)),
      "peak_storage_mib" -> median(clean.map(_.peakMiB)))
    EndToEnd.flatMap { case (k, unit) => values(k).map(v => (k, v, unit)) }
  }

  /**
   * Σ(prepared edges × supersteps) ÷ Σ superstep wall over the in-memory
   * PageRank and WCC runs, with each run's superstep wall taken as its
   * superstep count times its median superstep time, so that one superstep
   * caught by a GC pause does not swing the figure.
   */
  def edgesPerSecond(iters: Seq[Iter], ops: OpLog): Option[Double] =
    median(cleanIters(iters, ops).flatMap { it =>
      val runs = it.pregels.runs.values.toSeq.filter(_._2.nonEmpty)
      val wall = runs.map { case (_, ms) => ms.size * Stats.median(ms.map(_.wallMillis.toDouble)) }.sum
      if (runs.size < 2 || wall <= 0) None
      else Some(runs.map { case (e, ms) => e * ms.size }.sum / (wall / 1e3))
    })

  /** Medians over traced iterations of each per-layer value. */
  def perLayer(iters: Seq[Iter]): Seq[(String, Double, String)] =
    PerLayer.flatMap { case (k, unit) =>
      val xs = iters.flatMap(_.layer.get(k))
      if (xs.isEmpty) None else Some((k, Stats.median(xs), unit))
    }

  private def writeSpans(tracer: Tracer, path: String): Unit = {
    val self = Span.selfNs(tracer.spans.toSeq)
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path),
      tracer.spans.map(s => Span.toJson(s, self(s.id))).mkString("", "\n", "\n"))
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)], extra: Seq[(String, Double)], setupS: Double,
      iterations: Int, errors: Seq[String], sparkVersion: String): String = {
    val ms = metrics.map { case (k, v, u) => s"""${str(k)}:{"value":$v,"unit":${str(u)}}""" }
    val ex = extra.map { case (k, v) => s"${str(k)}:$v" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}},"extra":{${ex.mkString(",")}},""" +
      s""""setup_s":$setupS,"iterations":$iterations,""" +
      s""""errors":[${errors.map(str).mkString(",")}],"spark":${str(sparkVersion)},""" +
      s""""jdk":${str(System.getProperty("java.version"))}}"""
  }
}
