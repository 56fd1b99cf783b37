package graftbench

import graft.algos.{LabelPropagation, PageRank, TriangleCount, Wcc}
import graft.core.{CheckpointManager, ExecutionModes, PregelConfig, PregelKilledException,
  PropertyGraph, SuperstepMetrics}
import graft.ingest.CodeFiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * What one timed iteration hands back besides its op records: the superstep
 * metrics of the in-memory PageRank and WCC runs, with the number of edges
 * each prepared for its supersteps.
 */
final case class Pregels(runs: Map[String, (Long, Seq[SuperstepMetrics])])

/**
 * Shared state of one iteration: the session, the op log, the tracer, and
 * the wall and CPU time spent in output checks (taken out of `job_s` and
 * `cpu_s`).
 */
final class Ctx(val spark: SparkSession, val work: String, val ops: OpLog,
    val tracer: Tracer) {
  var checkNs = 0L
  var checkCpuNs = 0L

  /** Run one layer call as op `key` inside span `span`; `check` is untimed. */
  def op[A](key: String, span: String)(body: => A)(check: A => Option[String]): Option[A] =
    ops.run(key)(tracer.span(span)(body)) { a =>
      val t0 = System.nanoTime(); val c0 = Main.processCpuNs
      try check(a)
      finally { checkNs += System.nanoTime() - t0; checkCpuNs += Main.processCpuNs - c0 }
    }

  /** Unpersist every cached RDD except the workload's input. */
  def release(keep: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
}

sealed trait Workload {
  /** Generate the input, materialize it and compute the references. Untimed. */
  def prepare(spark: SparkSession, work: String): Unit
  /** One timed pass over the workload's call sequence. */
  def iteration(ctx: Ctx, i: Int): Pregels
  /** The ops whose seconds add up to each of `Main.OpSeconds` it reports. */
  def opSeconds: Map[String, Seq[String]]
  /** Cached RDDs that belong to the input and survive between iterations. */
  def keep: Set[Int]
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "job_dense" => new JobDense(seed)
    case "iter_sparse" => new IterSparse(seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private[graftbench] def longs(df: DataFrame, n: Int, value: String): Array[Long] = {
    val out = Array.fill(n)(Long.MinValue)
    df.select(col("id"), col(value).cast("long")).collect()
      .foreach(r => out(r.getLong(0).toInt) = r.getLong(1))
    out
  }

  private[graftbench] def doubles(df: DataFrame, n: Int, value: String): Array[Double] = {
    val out = Array.fill(n)(Double.NaN)
    df.select(col("id"), col(value).cast("double")).collect()
      .foreach(r => out(r.getLong(0).toInt) = r.getDouble(1))
    out
  }

  /** Edges PageRank prepares (distinct directed pairs) and WCC prepares
   *  (distinct pairs of the undirected view). */
  private[graftbench] def preparedEdges(e: Reference.Edges): (Long, Long) = {
    def distinct(keys: Array[Long]): Long = {
      java.util.Arrays.sort(keys)
      keys.indices.count(i => i == 0 || keys(i) != keys(i - 1)).toLong
    }
    val directed = Array.tabulate(e.size)(i => e.src(i).toLong * e.n + e.dst(i))
    val reversed = Array.tabulate(e.size)(i => e.dst(i).toLong * e.n + e.src(i))
    (distinct(directed.clone()), distinct(directed ++ reversed))
  }

  val PageRankTol = 1e-6

  private[graftbench] def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val all = java.nio.file.Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally all.close()
    }
}

/**
 * `job_dense`: the call sequence of a spark-submit user, as in
 * `GdsApp.dispatch`: `create` (sha check, ids, edge derivation, graph
 * parquet store), then for each of pagerank, wcc and triangles a load of the
 * stored graph, the algorithm and a `--mode write` output. The input is a
 * dense repo graph (average degree near 310, hub commits and paths), so
 * ingest, output and triangle count carry most of the work and supersteps
 * are few. LPA runs on `iter_sparse` only: on this graph it stops after 3 to
 * 10 iterations depending on the seed, which would make `job_s` bimodal.
 */
final class JobDense(seed: Long) extends Workload {
  import Workload._

  val Repos = 1500
  val Commits = 7000
  val WindowCap = 8

  private var input = ""
  private var n = 0
  private var shaDigest = 0L
  private var ids: Map[String, Long] = Map.empty
  private var edgeKeys: Array[Long] = Array.empty
  private var edgeWeights: Array[Double] = Array.empty
  private var prepared = (0L, 0L)
  private var wantPr: (Array[Double], Int) = (Array.empty, 0)
  private var wantWcc, wantTri: Array[Long] = Array.empty

  val keep: Set[Int] = Set.empty

  val opSeconds: Map[String, Seq[String]] = Map(
    "pagerank_s" -> Seq("pagerank", "pagerank.write"),
    "wcc_s" -> Seq("wcc", "wcc.write"),
    "triangles_s" -> Seq("triangles", "triangles.write"),
    "ingest_s" -> Seq("ingest.sha", "ingest.ids", "ingest.edges", "ingest.store"))

  private def typeBit(t: String): Long = if (t == "co_commit") 0L else 1L
  private def edgeKey(src: Long, dst: Long, t: String): Long = (src * n + dst) * 2 + typeBit(t)

  def prepare(spark: SparkSession, work: String): Unit = {
    import spark.implicits._
    val rows = Gen.codeFiles(seed, Repos, Commits)
    input = s"$work/input/code_files"
    rows.toSeq.toDF().write.mode("overwrite").parquet(input)

    val md = java.security.MessageDigest.getInstance("SHA-256")
    shaDigest = rows.iterator.map { r =>
      val hex = md.digest(r.content.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 10), 16)
    }.sum
    ids = Reference.repoIds(rows.map(_.repo))
    n = ids.size
    val derived = Reference.deriveEdges(rows.toSeq.map(r => (r.repo, r.commit, r.path)),
      ids, WindowCap).toArray.sortBy { case ((s, d, t), _) => edgeKey(s, d, t) }
    edgeKeys = derived.map { case ((s, d, t), _) => edgeKey(s, d, t) }
    edgeWeights = derived.map(_._2)
    val e = Reference.Edges(n, derived.map(_._1._1.toInt), derived.map(_._1._2.toInt),
      edgeWeights)
    prepared = preparedEdges(e)
    wantPr = Reference.pageRank(e)
    wantWcc = Reference.wcc(e)
    wantTri = Reference.triangles(e)
  }

  def iteration(ctx: Ctx, i: Int): Pregels = {
    val spark = ctx.spark
    val store = s"${ctx.work}/store/it$i"
    val out = s"${ctx.work}/out/it$i"
    var pregels = Map.empty[String, (Long, Seq[SuperstepMetrics])]

    // create
    val cf = ctx.op("ingest.sha", "ingest.sha") {
      val cf = CodeFiles.withSha(spark.read.parquet(input))
      (cf, CodeFiles.verifySha(cf))
    } { case (cf, bad) =>
      val digest = cf.agg(sum(conv(substring(col("content_sha256"), 1, 10), 16, 10)
        .cast("long"))).head().getLong(0)
      if (bad != 0) Some(s"verifySha found $bad bad rows")
      else if (digest != shaDigest) Some(s"sha256 digest $digest, want $shaDigest")
      else None
    }.map(_._1)
    val vertices = cf.flatMap(cf => ctx.op("ingest.ids", "ingest.ids") {
      CodeFiles.repoVertices(cf)
    } { v =>
      val got = v.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (got == ids) None else Some(s"ids: ${got.size} repos differ from the reference")
    })
    val edges = for (cf <- cf; v <- vertices; e <- ctx.op("ingest.edges", "ingest.edges") {
      CodeFiles.deriveEdges(cf, v)
    }(_ => None)) yield e // checked through the stored edge table below
    for (v <- vertices; e <- edges) ctx.op("ingest.store", "ingest.store") {
      val g = PropertyGraph(v.select(col("id"), col("repo").as("originalId")), e)
      g.nodes.write.mode("overwrite").parquet(s"$store/nodes")
      g.edges.write.mode("overwrite").parquet(s"$store/edges")
      (g.nodeCount, g.edgeCount)
    } { case (nodes, edgeCount) => checkStore(spark, store, nodes, edgeCount) }
    ctx.release(keep)

    def load(): PropertyGraph = PropertyGraph(
      spark.read.parquet(s"$store/nodes"), spark.read.parquet(s"$store/edges"))

    // run <algo> --mode write
    def runWrite(algo: String, result: => DataFrame, value: String)(
        check: DataFrame => Option[String]): Unit = {
      for (r <- ctx.op(algo, s"algos.$algo")(result)(_ => None))
        ctx.op(s"$algo.write", "core.write")(ExecutionModes.write(r, s"$out/$algo")) { w =>
          if (w.rowsWritten != n) Some(s"$algo wrote ${w.rowsWritten} rows, want $n")
          else check(spark.read.parquet(s"$out/$algo").select(col("id"), col(value)))
        }
      ctx.release(keep)
    }

    runWrite("pagerank", {
      val r = PageRank.runWithMetrics(load(), PageRank.Config())
      if (r.supersteps != wantPr._2)
        throw new IllegalStateException(s"pagerank ran ${r.supersteps} supersteps, want ${wantPr._2}")
      pregels += "pagerank" -> (prepared._1 -> r.metrics)
      r.vertices.select(col("id"), col("rank").as("score"))
    }, "score")(d => Reference.closeMismatch("pagerank", doubles(d, n, "score"), wantPr._1, PageRankTol))
    runWrite("wcc", {
      val (df, r) = Wcc.runWithMetrics(load(), Wcc.Config())
      pregels += "wcc" -> (prepared._2 -> r.metrics)
      df
    }, "component")(d => Reference.exactMismatch("wcc", longs(d, n, "component"), wantWcc))
    runWrite("triangles", TriangleCount.run(load()), "triangles")(
      d => Reference.exactMismatch("triangles", longs(d, n, "triangles"), wantTri))
    Pregels(pregels)
  }

  private def checkStore(spark: SparkSession, store: String, nodes: Long,
      edgeCount: Long): Option[String] = {
    val storedIds = spark.read.parquet(s"$store/nodes").collect()
      .map(r => r.getAs[String]("originalId") -> r.getAs[Long]("id")).toMap
    val key = (col("src") * n + col("dst")) * 2 + when(col("type") === "co_commit", 0L).otherwise(1L)
    val stored = spark.read.parquet(s"$store/edges").select(key, col("weight")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    if (nodes != n || storedIds != ids) Some(s"stored nodes: $nodes rows, want $n")
    else if (edgeCount != edgeKeys.length || stored.length != edgeKeys.length)
      Some(s"stored edges: $edgeCount rows, want ${edgeKeys.length}")
    else stored.indices.find(i => stored(i)._1 != edgeKeys(i) || stored(i)._2 != edgeWeights(i))
      .map(i => s"stored edge $i: ${stored(i)}, want ${(edgeKeys(i), edgeWeights(i))}")
  }
}

/**
 * `iter_sparse`: a power-law graph held in memory, run through the four
 * algorithms in stream mode (each result forced with `count()`), then
 * PageRank on the durable path: checkpoint every superstep, killed mid-run
 * through `PregelConfig.stopAfter`, resumed on the same directory to the
 * end. Eight times the vertices of `job_dense` at a thirteenth of its degree:
 * no ingest or output work, many cheap supersteps, short degree-ordered
 * lists for triangle count.
 */
final class IterSparse(seed: Long) extends Workload {
  import Workload._

  val Vertices = 12000
  val AvgDegree = 12
  val DurablePageRankSteps = 6

  private var graph: PropertyGraph = _
  private var n = 0
  private var prepared = (0L, 0L)
  private var wantPr, wantDurablePr: (Array[Double], Int) = (Array.empty, 0)
  private var wantWcc, wantLpa, wantTri: Array[Long] = Array.empty
  private var keepIds: Set[Int] = Set.empty

  def keep: Set[Int] = keepIds

  val opSeconds: Map[String, Seq[String]] = Map(
    "pagerank_s" -> Seq("pagerank"),
    "wcc_s" -> Seq("wcc"),
    "lpa_s" -> Seq("lpa"),
    "triangles_s" -> Seq("triangles"),
    "resume_s" -> Seq("pagerank.resume"))

  def prepare(spark: SparkSession, work: String): Unit = {
    import spark.implicits._
    val g = Gen.powerLaw(seed, Vertices, AvgDegree)
    n = g.vertices
    val nodes = spark.range(n).select(col("id")).persist(StorageLevel.MEMORY_ONLY)
    // from an RDD, not a local Seq: a plan holding the rows inline is
    // re-walked by every planning pass of every algorithm query
    val (src, dst) = (g.src, g.dst)
    val edges = spark.sparkContext.parallelize(src.indices)
      .map(i => (src(i), dst(i))).toDF("src", "dst")
      .select(col("src"), col("dst"), lit("REL").as("type"), lit(1.0).as("weight"))
      .localCheckpoint(true) // drops the closure that holds the arrays
    nodes.count()
    graph = PropertyGraph(nodes, edges)
    keepIds = spark.sparkContext.getPersistentRDDs.keySet.toSet

    val e = Reference.Edges.unweighted(n, g.src.map(_.toInt), g.dst.map(_.toInt))
    prepared = preparedEdges(e)
    wantPr = Reference.pageRank(e)
    wantDurablePr = Reference.pageRank(e, maxIter = DurablePageRankSteps)
    wantWcc = Reference.wcc(e)
    wantLpa = Reference.lpa(e)
    wantTri = Reference.triangles(e)
  }

  def iteration(ctx: Ctx, i: Int): Pregels = {
    var pregels = Map.empty[String, (Long, Seq[SuperstepMetrics])]

    ctx.op("pagerank", "algos.pagerank") {
      val r = PageRank.runWithMetrics(graph, PageRank.Config())
      r.vertices.count()
      r
    } { r =>
      if (r.supersteps != wantPr._2) Some(s"pagerank ran ${r.supersteps} supersteps, want ${wantPr._2}")
      else Reference.closeMismatch("pagerank", doubles(r.vertices, n, "rank"), wantPr._1, PageRankTol)
    }.foreach(r => pregels += "pagerank" -> (prepared._1 -> r.metrics))
    ctx.release(keep)
    ctx.op("wcc", "algos.wcc") {
      val (df, r) = Wcc.runWithMetrics(graph, Wcc.Config())
      df.count()
      (df, r)
    } { case (df, _) => Reference.exactMismatch("wcc", longs(df, n, "component"), wantWcc) }
      .foreach { case (_, r) => pregels += "wcc" -> (prepared._2 -> r.metrics) }
    ctx.release(keep)
    ctx.op("lpa", "algos.lpa") {
      val df = LabelPropagation.run(graph, LabelPropagation.Config())
      df.count()
      df
    }(df => Reference.exactMismatch("lpa", longs(df, n, "label"), wantLpa))
    ctx.release(keep)
    ctx.op("triangles", "algos.triangles") {
      val df = TriangleCount.run(graph)
      df.count()
      df
    }(df => Reference.exactMismatch("triangles", longs(df, n, "triangles"), wantTri))
    ctx.release(keep)

    // durable path: kill mid-run, resume on the same directory, compare with
    // the reference run uninterrupted at the same superstep cap (a short cap
    // keeps the durable supersteps affordable)
    val dir = s"${ctx.work}/ckpt/it$i"
    deleteTree(java.nio.file.Paths.get(dir)) // a leftover checkpoint would be resumed
    val killAt = DurablePageRankSteps / 2
    def durablePr(p: PregelConfig) = PageRank.runWithMetrics(graph,
      PageRank.Config(maxIterations = DurablePageRankSteps, pregel = p))
    val killed = ctx.op("pagerank.kill", "core.ckpt_kill") {
      try { durablePr(PregelConfig(checkpointDir = Some(dir), checkpointEvery = 1,
        stopAfter = Some(killAt))); -1 }
      catch { case k: PregelKilledException => k.superstep }
    } { k =>
      val latest = new CheckpointManager(dir).latestSuperstep
      if (k == killAt && latest.contains(killAt)) None
      else Some(s"pagerank kill: stopped at $k with checkpoint $latest, want $killAt")
    }
    if (killed.isDefined) ctx.op("pagerank.resume", "core.ckpt_resume") {
      val r = durablePr(PregelConfig(checkpointDir = Some(dir)))
      r.vertices.count()
      r
    } { r =>
      if (r.supersteps != wantDurablePr._2) Some(s"resumed pagerank ended at ${r.supersteps}")
      else Reference.closeMismatch("pagerank resume", doubles(r.vertices, n, "rank"),
        wantDurablePr._1, PageRankTol)
    }
    ctx.release(keep)
    Pregels(pregels)
  }
}
