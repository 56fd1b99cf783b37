package graft

import graft.algos.{LabelPropagation, PageRank, Wcc}
import graft.core._
import org.apache.spark.sql.functions.col
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/**
 * Plan-shape guard for the superstep loop. Pregel keeps its vertex state
 * hash(id)-partitioned and id-sorted like the prepared edges, across every
 * lineage cut; an in-memory superstep is then one Spark job whose plan has
 * exactly one exchange (the message shuffle). A frame cut under AQE ends
 * up with UnknownPartitioning and silently brings the per-superstep
 * exchanges (and jobs) back — these tests fail when that happens.
 */
class PregelPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Spark jobs started by `body`, and the executed plans of its superstep
   *  cuts (the only checkpoints that carry the loop's observe()). */
  def traced(body: => Unit): (Int, Seq[SparkPlan]) = {
    val jobs = new AtomicInteger
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (has[CollectMetricsExec](qe.executedPlan)) plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    TestBus.drain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try { body; TestBus.drain(sc) }
    finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    (jobs.get, plans.asScala.toSeq)
  }

  // find/collect come from AdaptiveSparkPlanHelper: they also descend into
  // AQE query stages, so a loop planned under AQE is seen, and fails
  def has[T <: SparkPlan](plan: SparkPlan)(implicit t: scala.reflect.ClassTag[T]): Boolean =
    find(plan)(t.runtimeClass.isInstance).isDefined

  def exchanges(plan: SparkPlan): Int =
    collect(plan) { case e: ShuffleExchangeExec => e }.size

  def chain: PropertyGraph = graphOf(16, (0 until 15).map(i => (i.toLong, (i + 1).toLong)))

  /** Runs `algo` for 2 and for 5 supersteps (neither converges on the
   *  chain): the 3 extra supersteps must cost exactly 3 jobs, and every
   *  superstep plan must hold exactly `shuffles` exchanges. */
  def assertOneJobPerSuperstep(shuffles: Int)(algo: Int => Unit): Unit = {
    val (jobs2, plans2) = traced(algo(2))
    val (jobs5, plans5) = traced(algo(5))
    assert(plans2.size == 2 && plans5.size == 5)
    assert(jobs5 - jobs2 == 3, s"$jobs2 jobs for 2 supersteps, $jobs5 for 5")
    (plans2 ++ plans5).foreach(p => assert(exchanges(p) == shuffles, p.treeString))
  }

  test("PageRank: one Spark job and one exchange per in-memory superstep") {
    assertOneJobPerSuperstep(shuffles = 1) { k =>
      PageRank.run(chain, PageRank.Config(maxIterations = k, tolerance = 0.0))
    }
  }

  test("WCC: one Spark job and one exchange per in-memory superstep") {
    assertOneJobPerSuperstep(shuffles = 1)(k => Wcc.run(chain, Wcc.Config(maxIterations = k)))
  }

  test("LPA: one Spark job per superstep; the vote tally shuffles twice") {
    // an alternating 2-colouring of the undirected chain never settles
    val g = PropertyGraph(chain.nodes.withColumn("seed", col("id") % 2), chain.edges)
    assertOneJobPerSuperstep(shuffles = 2) { k =>
      LabelPropagation.run(g, LabelPropagation.Config(maxIterations = k, seedProperty = Some("seed")))
    }
  }

  test("durable path: the update reads the cached messages, no recompute or exchange") {
    val dir = Files.createTempDirectory("plan-ckpt").toString
    val (_, plans) = traced(PageRank.run(chain, PageRank.Config(maxIterations = 3,
      tolerance = 0.0, pregel = PregelConfig(checkpointDir = Some(dir)))))
    assert(plans.size == 3)
    plans.foreach { p =>
      assert(has[InMemoryTableScanExec](p), p.treeString)
      assert(!has[HashAggregateExec](p), p.treeString)
      assert(exchanges(p) == 0, p.treeString)
    }
  }
}
