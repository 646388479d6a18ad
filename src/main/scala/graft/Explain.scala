package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Plan inspector: `Explain <queryName> [sfDir]` prints the formatted
  * physical plan of a SparkEntry query — the tuning loop's microscope
  * (check pushed filters, read schema, broadcast vs shuffle, WSCG spans).
  *
  * [[analyze]] is the EXPLAIN ANALYZE analogue (reference: DataFusion's
  * `EXPLAIN ANALYZE`, surfaced by datafusion-physical-plan's metrics —
  * Cargo.lock:1609): execute the query, then walk the final (post-AQE)
  * physical plan and report every populated SQLMetric per operator —
  * rows produced, spill/shuffle bytes, build/sort/scan times.
  */
object Explain {

  /** Depth-first walk of the executed plan, descending through AQE
    * wrapper nodes and materialized query stages to the real operators. */
  private def walk(p: SparkPlan, depth: Int): Seq[(Int, SparkPlan)] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
    case s: QueryStageExec => (depth, s) +: walk(s.plan, depth + 1)
    case other => (depth, other) +: other.children.flatMap(walk(_, depth + 1))
  }

  /** Execute `df` and return one row per (operator, metric) with the
    * observed metric value — the machine-readable EXPLAIN ANALYZE. */
  def analyze(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // execute WITHOUT collecting: metrics populate from the distributed
    // run; collecting would pull the full result onto the driver —
    // exactly the query class EXPLAIN ANALYZE exists to diagnose
    df.queryExecution.toRdd.foreach(_ => ())
    val rows = walk(df.queryExecution.executedPlan, 0).zipWithIndex.flatMap {
      case ((depth, node), ord) =>
        node.metrics.toSeq.sortBy(_._1).map { case (key, m) =>
          Row(ord.toLong, depth.toLong, node.nodeName, key, m.name.getOrElse(key), m.value)
        }
    }
    val schema = StructType(Seq(
      StructField("op_ord", LongType, nullable = false),
      StructField("depth", LongType, nullable = false),
      StructField("operator", StringType, nullable = false),
      StructField("metric", StringType, nullable = false),
      StructField("metric_desc", StringType, nullable = false),
      StructField("value", LongType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.engine.Engine.session()
    val df = SparkEntry.queries(name)(spark, sfDir)
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    println("== EXPLAIN ANALYZE ==")
    analyze(df).show(200, truncate = false)
    spark.stop()
  }
}
