package graftbench

import java.util.SplittableRandom

/**
 * Seeded input generators. They are plain Scala over `SplittableRandom`, so
 * the inputs depend only on the seed and the size parameters, never on
 * graft's own synthesizers (`CodeFiles.synthesize`, `RandomGraph`): a change
 * to program code cannot change what the benchmark feeds it.
 */
object Gen {

  final case class CodeFile(repo: String, path: String, commit: String,
      lang: String, content: String)

  /** A directed edge list over vertices `0 until vertices`. */
  final case class EdgeList(vertices: Int, src: Array[Long], dst: Array[Long]) {
    def size: Int = src.length
  }

  /** Files that most repositories carry: the shared-path hubs. */
  private val HubPaths = Vector("README.md", "LICENSE", ".gitignore", "build.sbt",
    "pom.xml", "Makefile", "Dockerfile", "CHANGELOG.md", "docs/index.md",
    ".github/workflows/ci.yml", "setup.py", "src/main/resources/application.conf")

  private val Langs = Vector("scala", "java", "py", "md", "rs")

  private val Words = Vector("val", "def", "object", "class", "import", "return",
    "if", "else", "match", "case", "graph", "edge", "vertex", "rank", "count",
    "spark", "frame", "join", "sum", "map", "filter", "fold", "left", "right")

  /**
   * A `code_files` table with the shape of the sf0.1 gate graph, scaled by
   * `repos`: commits of one to seven rows (the TPC-H order shape) plus 2%
   * hub commits of 20 to 80 rows, 15% of rows on a dozen hub paths, the rest
   * on a pool of shared source paths, and repository popularity skewed
   * towards low indices so a few repositories are hubs.
   */
  def codeFiles(seed: Long, repos: Int, commits: Int): Array[CodeFile] = {
    val rng = new SplittableRandom(seed)
    // org prefixes scramble the name order, so dense ids != generation order
    val names = Array.tabulate(repos)(r => f"org${rng.nextInt(50)}%02d/repo$r%05d")
    val pathPool = math.max(1, repos * 2 / 3)
    val out = Array.newBuilder[CodeFile]
    var c = 0
    while (c < commits) {
      val commit = f"${rng.nextLong()}%016x${rng.nextLong()}%016x${rng.nextInt()}%08x"
      val rows = if (rng.nextInt(50) == 0) 20 + rng.nextInt(61) else 1 + rng.nextInt(7)
      var k = 0
      while (k < rows) {
        val r = math.min(repos - 1, (repos * math.pow(rng.nextDouble(), 1.6)).toInt)
        val path =
          if (rng.nextInt(100) < 15) HubPaths(rng.nextInt(HubPaths.size))
          else {
            val p = rng.nextInt(pathPool)
            s"src/main/scala/pkg${p % 40}/File${p / 40}.scala"
          }
        out += CodeFile(names(r), path, commit, Langs(rng.nextInt(Langs.size)),
          content(rng))
        k += 1
      }
      c += 1
    }
    out.result()
  }

  private def content(rng: SplittableRandom): String = {
    val sb = new StringBuilder
    val lines = 3 + rng.nextInt(10)
    var i = 0
    while (i < lines) {
      val words = 2 + rng.nextInt(8)
      var w = 0
      while (w < words) {
        if (w > 0) sb.append(' ')
        sb.append(Words(rng.nextInt(Words.size)))
        w += 1
      }
      sb.append(" = ").append(rng.nextInt(100000)).append('\n')
      i += 1
    }
    sb.toString
  }

  /**
   * A directed power-law graph: out-degrees follow a Pareto law
   * (alpha 3, mean about `avgDegree`); a quarter of the targets lean
   * towards low ids, so in-degrees are mildly skewed too. Self-loops are
   * dropped; parallel edges are kept.
   */
  def powerLaw(seed: Long, vertices: Int, avgDegree: Int): EdgeList = {
    val rng = new SplittableRandom(seed)
    val src = Array.newBuilder[Long]
    val dst = Array.newBuilder[Long]
    val dMin = math.max(1.0, avgDegree / 2.0)
    var v = 0
    while (v < vertices) {
      val d = math.min(vertices - 1L,
        (dMin * math.pow(1.0 - rng.nextDouble(), -0.5)).toLong).toInt
      var j = 0
      while (j < d) {
        val t =
          if (rng.nextInt(4) != 0) rng.nextInt(vertices)
          else math.min(vertices - 1, (vertices * math.pow(rng.nextDouble(), 2.0)).toInt)
        if (t != v) { src += v.toLong; dst += t.toLong }
        j += 1
      }
      v += 1
    }
    EdgeList(vertices, src.result(), dst.result())
  }
}
