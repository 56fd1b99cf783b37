package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.classic.{DataFrame => CDataFrame, Dataset => CDataset,
  SparkSession => CSparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD

/**
 * Thin access shim into package-private Spark API.
 *
 * Why it exists: `Dataset.localCheckpoint` copies the origin plan's
 * statistics into the resulting LogicalRDD. In an iterative job the next
 * plan joins that frame several times, and SizeInBytesOnlyStatsPlanVisitor
 * MULTIPLIES child sizes — so the carried sizeInBytes grows exponentially
 * in bit length across supersteps, and after a few dozen iterations the
 * driver spends minutes in BigInteger.multiply (Karatsuba/ToomCook) during
 * stats estimation. `cutLineage` rebuilds the checkpoint's LogicalRDD
 * without the carried stats (and constraints): the fresh node reports the
 * constant `spark.sql.defaultSizeInBytes` instead. It keeps the
 * checkpoint's `outputPartitioning` and `outputOrdering`, so a frame cut
 * from a hash(id)-partitioned, id-sorted plan joins exchange- and sort-free
 * against another frame with that layout (Pregel's state vs its prepared
 * edges). The layout is only known when the cut runs with AQE off; under
 * AQE the checkpoint records UnknownPartitioning.
 */
object GraftShims {
  /** Eagerly materialize `df`, truncate its lineage AND drop its carried
   *  statistics (see scaladoc above — the localCheckpoint stats poison);
   *  the partitioning and ordering survive. The checkpoint states them in
   *  the executed plan's attributes, which can differ from the frame's own
   *  (an alias the optimizer removed), so they are renamed positionally. */
  def cutLineage(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[CSparkSession]
    val cut = df.localCheckpoint(true).asInstanceOf[CDataFrame]
      .queryExecution.logical.asInstanceOf[LogicalRDD]
    val executed = df.asInstanceOf[CDataFrame].queryExecution.executedPlan.output
    val rename = AttributeMap(executed.zip(cut.output))
    def own[E <: Expression](e: E): E =
      e.transform { case a: Attribute => rename.getOrElse(a, a) }.asInstanceOf[E]
    val partitioning = cut.outputPartitioning match {
      case e: Expression => own(e).asInstanceOf[Partitioning]
      case p => p
    }
    CDataset.ofRows(spark, cut.copy(outputPartitioning = partitioning,
      outputOrdering = cut.outputOrdering.map(own))(spark, None, None))
  }

  /** The persisted RDD actually holding a cut frame's checkpoint blocks —
   *  walk the (linear, for a LogicalRDD scan) dependency chain to the first
   *  ancestor with a storage level. Unpersisting it releases the blocks;
   *  without this, a long superstep loop accumulates one block set per
   *  iteration until the ContextCleaner's GC-driven cleanup catches up —
   *  observed as heap thrash + heartbeat loss on a 46 M-edge run. */
  def persistedHandle(df: DataFrame): Option[RDD[_]] = {
    @annotation.tailrec
    def walk(r: RDD[_], depth: Int): Option[RDD[_]] =
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) Some(r)
      else r.dependencies.headOption.map(_.rdd) match {
        case Some(p) if depth < 8 => walk(p, depth + 1)
        case _ => None
      }
    walk(df.asInstanceOf[CDataFrame].queryExecution.toRdd, 0)
  }

  /** Wrap a raw Catalyst Expression as a user-facing Column (the Spark 4
   *  Column API hides the expression constructor behind classic
   *  ExpressionUtils). Used by graft.functions' codegen'd expressions. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
