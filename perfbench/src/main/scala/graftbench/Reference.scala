package graftbench

import scala.collection.mutable

/**
 * Plain-Scala reference implementations the benchmark checks graft's
 * outputs against. They share no code with graft and run on the driver
 * outside every timed region. Vertex ids are dense `0 until n`.
 */
object Reference {

  /** An edge table as parallel arrays, one entry per row (parallel rows kept). */
  final case class Edges(n: Int, src: Array[Int], dst: Array[Int], weight: Array[Double]) {
    def size: Int = src.length
  }

  object Edges {
    def unweighted(n: Int, src: Array[Int], dst: Array[Int]): Edges =
      Edges(n, src, dst, Array.fill(src.length)(1.0))
  }

  // ---------------------------------------------------------------- ingest

  /** Dense ids: the distinct repositories in ascending order. */
  def repoIds(repos: Iterable[String]): Map[String, Long] =
    repos.toSeq.distinct.sorted.zipWithIndex.map { case (r, i) => r -> i.toLong }.toMap

  /**
   * The derived repo edges, keyed by (src, dst, type) with the number of
   * groups that link the pair: inside every commit and every path, the
   * distinct member ids in ascending order, each linked to its next `cap`
   * successors.
   */
  def deriveEdges(rows: Seq[(String, String, String)], ids: Map[String, Long],
      cap: Int): Map[(Long, Long, String), Double] = {
    val out = mutable.HashMap.empty[(Long, Long, String), Double]
    def pairs(kind: String, key: ((String, String, String)) => String): Unit =
      rows.groupBy(key).values.foreach { group =>
        val m = group.map(r => ids(r._1)).distinct.sorted.toArray
        var i = 0
        while (i < m.length) {
          var j = i + 1
          while (j < m.length && j <= i + cap) {
            val k = (m(i), m(j), kind)
            out(k) = out.getOrElse(k, 0.0) + 1.0
            j += 1
          }
          i += 1
        }
      }
    pairs("co_commit", _._2)
    pairs("shared_path", _._3)
    out.toMap
  }

  // -------------------------------------------------------------- pagerank

  /**
   * Unweighted PageRank in graft's delta form: every vertex starts at
   * `1 - d`; an active vertex scatters `delta * multiplicity / outDegree`;
   * `delta = d * inbound` and a vertex stays active while its delta exceeds
   * `tol`. Stops when no delta exceeds `tol` or after `maxIter` supersteps.
   * @return (scores, supersteps)
   */
  def pageRank(e: Edges, d: Double = 0.85, tol: Double = 1e-7,
      maxIter: Int = 20): (Array[Double], Int) = {
    val n = e.n
    val deg = new Array[Double](n)
    e.src.foreach(s => deg(s) += 1.0)
    val rank = Array.fill(n)(1.0 - d)
    var delta = Array.fill(n)(1.0 - d)
    var active = Array.tabulate(n)(v => (1.0 - d) > tol && deg(v) > 0)
    var step = 0
    var converged = false
    while (!converged && step < maxIter) {
      val in = new Array[Double](n)
      var i = 0
      while (i < e.size) {
        val s = e.src(i)
        if (active(s)) in(e.dst(i)) += delta(s) / deg(s)
        i += 1
      }
      delta = in.map(_ * d)
      var v = 0
      while (v < n) { rank(v) += delta(v); v += 1 }
      active = Array.tabulate(n)(v => delta(v) > tol && deg(v) > 0)
      converged = !delta.exists(_ > tol)
      step += 1
    }
    (rank, step)
  }

  // ------------------------------------------------------------------- wcc

  /** Weakly connected components by union-find; a component is named by its
   *  smallest vertex id. */
  def wcc(e: Edges): Array[Long] = {
    val parent = Array.tabulate(e.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var i = 0
    while (i < e.size) {
      val a = find(e.src(i)); val b = find(e.dst(i))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      i += 1
    }
    Array.tabulate(e.n)(v => find(v).toLong)
  }

  // ------------------------------------------------------------------- lpa

  /**
   * Synchronous label propagation: each vertex takes the label with the
   * largest summed edge weight among its neighbours' previous labels, ties
   * to the smaller label; a vertex with no neighbours keeps its label.
   * `undirected` adds every row reversed (parallel rows each vote). Stops
   * when no label changed or after `maxIter` iterations.
   */
  def lpa(e: Edges, undirected: Boolean = true, maxIter: Int = 10): Array[Long] = {
    val n = e.n
    // pull lists in CSR form: voter v pulls (nbr(k), w(k)) for k in off(v) until off(v + 1)
    val rows = if (undirected) 2 * e.size else e.size
    val off = new Array[Int](n + 1)
    def row(k: Int): (Int, Int, Double) =
      if (k < e.size) (e.src(k), e.dst(k), e.weight(k))
      else (e.dst(k - e.size), e.src(k - e.size), e.weight(k - e.size))
    (0 until rows).foreach(k => off(row(k)._1 + 1) += 1)
    (0 until n).foreach(v => off(v + 1) += off(v))
    val fill = off.clone()
    val nbr = new Array[Int](rows)
    val w = new Array[Double](rows)
    (0 until rows).foreach { k =>
      val (v, u, x) = row(k)
      nbr(fill(v)) = u; w(fill(v)) = x; fill(v) += 1
    }
    var labels = Array.tabulate(n)(_.toLong)
    var iter = 0
    var changed = 1
    while (changed > 0 && iter < maxIter) {
      val next = labels.clone()
      var v = 0
      while (v < n) {
        if (off(v + 1) > off(v)) {
          val votes = mutable.HashMap.empty[Long, Double]
          var k = off(v)
          while (k < off(v + 1)) {
            val l = labels(nbr(k))
            votes(l) = votes.getOrElse(l, 0.0) + w(k)
            k += 1
          }
          next(v) = votes.minBy { case (l, s) => (-s, l) }._1
        }
        v += 1
      }
      changed = (0 until n).count(v => next(v) != labels(v))
      labels = next
      iter += 1
    }
    labels
  }

  // ------------------------------------------------------------- triangles

  /** Triangles each vertex belongs to, on the simple undirected graph
   *  (self-loops and parallel rows ignored), by sorted-set intersection of
   *  higher-id neighbour lists. */
  def triangles(e: Edges): Array[Long] = {
    val n = e.n
    val up = Array.fill(n)(mutable.ArrayBuilder.make[Int])
    val seen = mutable.HashSet.empty[Long]
    var i = 0
    while (i < e.size) {
      val a = math.min(e.src(i), e.dst(i)); val b = math.max(e.src(i), e.dst(i))
      if (a != b && seen.add(a.toLong * n + b)) up(a) += b
      i += 1
    }
    val adj = up.map { b => val a = b.result(); java.util.Arrays.sort(a); a }
    val count = new Array[Long](n)
    var v = 0
    while (v < n) {
      val nv = adj(v)
      var x = 0
      while (x < nv.length) {
        val u = nv(x)
        val nu = adj(u)
        // |nv ∩ nu|: both sorted ascending
        var p = 0; var q = 0
        while (p < nv.length && q < nu.length) {
          if (nv(p) < nu(q)) p += 1
          else if (nv(p) > nu(q)) q += 1
          else {
            count(v) += 1; count(u) += 1; count(nv(p)) += 1
            p += 1; q += 1
          }
        }
        x += 1
      }
      v += 1
    }
    count
  }

  /** Each triangle once. */
  def globalTriangles(perNode: Array[Long]): Long = perNode.sum / 3

  // ---------------------------------------------------------------- checks

  /** First mismatch of an exact comparison, if any. */
  def exactMismatch(name: String, got: Array[Long], want: Array[Long]): Option[String] =
    if (got.length != want.length) Some(s"$name: ${got.length} rows, want ${want.length}")
    else got.indices.find(i => got(i) != want(i))
      .map(i => s"$name: vertex $i got ${got(i)}, want ${want(i)}")

  /** First value outside `|got - want| <= tol * max(1, |want|)`, if any. */
  def closeMismatch(name: String, got: Array[Double], want: Array[Double],
      tol: Double): Option[String] =
    if (got.length != want.length) Some(s"$name: ${got.length} rows, want ${want.length}")
    else got.indices.find(i => !(math.abs(got(i) - want(i)) <= tol * math.max(1.0, math.abs(want(i)))))
      .map(i => s"$name: vertex $i got ${got(i)}, want ${want(i)}")
}
