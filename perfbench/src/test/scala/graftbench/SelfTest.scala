package graftbench

import scala.collection.mutable

/**
 * Tests of the benchmark's own code: generators, reference checkers (on the
 * FIXTURES.md goldens), failure accounting, span self time and the tail
 * percentile. No Spark session. Run with `python3 perfbench/run.py --selftest`;
 * prints one JSON line with the failed test names.
 */
object SelfTest {

  private val results = mutable.ArrayBuffer.empty[(String, Option[String])]

  private def test(name: String)(body: => Unit): Unit =
    results += name -> (try { body; None } catch { case e: Throwable => Some(e.toString) })

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  private def edges(n: Int, pairs: (Int, Int)*): Reference.Edges =
    Reference.Edges.unweighted(n, pairs.map(_._1).toArray, pairs.map(_._2).toArray)

  def main(args: Array[String]): Unit = {
    test("codeFiles is a function of the seed") {
      val a = Gen.codeFiles(7, 40, 30)
      check(a.sameElements(Gen.codeFiles(7, 40, 30)), "same seed, different rows")
      check(!a.sameElements(Gen.codeFiles(8, 40, 30)), "other seed, same rows")
      check(a.map(_.repo).distinct.length > 1, "one repo only")
    }
    test("powerLaw is a function of the seed") {
      val a = Gen.powerLaw(7, 500, 6)
      val b = Gen.powerLaw(7, 500, 6)
      val c = Gen.powerLaw(8, 500, 6)
      check(a.src.sameElements(b.src) && a.dst.sameElements(b.dst), "same seed, different edges")
      check(!(a.src.sameElements(c.src) && a.dst.sameElements(c.dst)), "other seed, same edges")
      check(a.src.indices.forall(i => a.src(i) != a.dst(i)), "self-loop")
    }
    test("deriveEdges links each member to its next cap successors") {
      val rows = Seq(("r0", "c1", "p"), ("r1", "c1", "p"), ("r2", "c1", "q"), ("r2", "c2", "p"))
      val ids = Reference.repoIds(rows.map(_._1))
      val got = Reference.deriveEdges(rows, ids, cap = 1)
      check(got == Map((0L, 1L, "co_commit") -> 1.0, (1L, 2L, "co_commit") -> 1.0,
        (0L, 1L, "shared_path") -> 1.0, (1L, 2L, "shared_path") -> 1.0), got.toString)
    }
    test("pageRank: 10-node golden (FIXTURES 2.1)") {
      // a..j = 0..9: b->c, c->b, d->a, d->b, e->b, e->d, e->f, f->b, f->e
      val e = edges(10, 1 -> 2, 2 -> 1, 3 -> 0, 3 -> 1, 4 -> 1, 4 -> 3, 4 -> 5, 5 -> 1, 5 -> 4)
      val want = Array(0.243007, 1.9183995, 1.7806315, 0.21885, 0.243007, 0.21885,
        0.15, 0.15, 0.15, 0.15)
      val (got, _) = Reference.pageRank(e, maxIter = 40)
      check(Reference.closeMismatch("pr", got, want, 1e-2).isEmpty, got.mkString(","))
    }
    test("wcc: 16 chains of 10 (FIXTURES 2.2)") {
      val pairs = for (c <- 0 until 16; k <- 0 until 9) yield (c * 10 + k, c * 10 + k + 1)
      val got = Reference.wcc(edges(160, pairs: _*))
      check(got.distinct.length == 16, s"${got.distinct.length} components")
      check(got.indices.forall(v => got(v) == v / 10 * 10), "component is not the chain minimum")
    }
    test("lpa: synchronous 1-iteration golden") {
      // Alice..Michael = 0..5, directed FOLLOW edges, natural orientation
      val e = edges(6, 0 -> 1, 0 -> 2, 4 -> 3, 1 -> 5, 3 -> 4, 5 -> 0, 0 -> 5, 1 -> 0, 5 -> 1, 2 -> 3)
      val got = Reference.lpa(e, undirected = false, maxIter = 1)
      check(got.sameElements(Array(1L, 0L, 3L, 4L, 3L, 0L)), got.mkString(","))
    }
    test("lpa: ties go to the smaller label, heavier edge wins") {
      check(Reference.lpa(edges(3, 0 -> 1, 0 -> 2), undirected = false, maxIter = 1)(0) == 1L,
        "tie not to the smaller label")
      val w = Reference.Edges(4, Array(0, 0, 0), Array(1, 2, 3), Array(1.0, 1.0, 5.0))
      check(Reference.lpa(w, undirected = false, maxIter = 1)(0) == 3L, "weight ignored")
    }
    test("triangles: K5 has 10, each node 6 (FIXTURES 2.4)") {
      val pairs = for (a <- 0 until 5; b <- a + 1 until 5) yield (a, b)
      val got = Reference.triangles(edges(5, pairs ++ pairs.map(_.swap): _*))
      check(got.forall(_ == 6L), got.mkString(","))
      check(Reference.globalTriangles(got) == 10L, "global")
      check(Reference.triangles(edges(3, 0 -> 1, 1 -> 2, 1 -> 1)).forall(_ == 0L), "path")
    }
    test("a failing op counts in failed and in no total") {
      val ops = new OpLog
      ops.run("ok")(1)(_ => None)
      ops.run("boom")(throw new IllegalStateException("injected"))(_ => None)
      ops.run("wrong")(2)(x => if (x == 2) Some("wrong output") else None)
      check(ops.attempted == 3 && ops.failed == 2, s"${ops.attempted}/${ops.failed}")
      check(ops.seconds(0, "ok").isDefined, "ok op has no time")
      check(ops.seconds(0, "ok", "boom").isEmpty && ops.seconds(0, "wrong").isEmpty,
        "failed op time counted")
      check(ops.records.find(_.name == "boom").exists(_.error.exists(_.contains("injected"))),
        "error not recorded")
    }
    test("span self time subtracts the union of direct children") {
      val spans = Seq(Span(0, -1, "job", "r", 0, 0, 100), Span(1, 0, "a", "r", 0, 10, 30),
        Span(2, 0, "b", "r", 0, 20, 50), Span(3, 0, "c", "r", 0, 60, 70),
        Span(4, 1, "d", "r", 0, 15, 20))
      val self = Span.selfNs(spans)
      check(self == Map(0 -> 50L, 1 -> 15L, 2 -> 30L, 3 -> 10L, 4 -> 5L), self.toString)
    }
    test("tail is the highest percentile with ten samples beyond it") {
      def xs(n: Int) = (1 to n).map(_.toDouble)
      check(Stats.tail(xs(100)) == 90.0, s"n=100: ${Stats.tail(xs(100))}")
      check(Stats.tail(xs(1000)) == 990.0, s"n=1000: ${Stats.tail(xs(1000))}")
      check(Stats.tail(xs(50)) == 25.0, s"n=50: ${Stats.tail(xs(50))}")
      check(Stats.tail(xs(19)) == 19.0, s"n=19: ${Stats.tail(xs(19))}")
      check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median")
    }

    val failed = results.collect { case (n, Some(e)) => s"$n: $e" }
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    println(s"""{"attempted":${results.size},"failed":${failed.size},""" +
      s""""failures":[${failed.map(str).mkString(",")}]}""")
  }
}
