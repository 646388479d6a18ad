package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Narrow accessor for Spark's `private[sql]` Column↔Expression bridge.
  * Spark 4 wraps Column around ColumnNode; converting a custom Catalyst
  * expression (e.g. our DeclarativeAggregate) into a user-facing Column
  * goes through ExpressionUtils, which is sql-package-private — this is
  * the one sanctioned-shape shim the engine needs. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Release the storage behind a materialized DataFrame
    * (`Engine.materialize`): iterative loops that checkpoint a new
    * frame per round otherwise accumulate O(rounds × corpus) of it —
    * the previous round's data is unreferenced the moment the new
    * round's is materialized, but Dataset exposes no way to release it
    * (`unpersist` only clears CacheManager entries). Reaches the
    * `private[sql]` LogicalRDD the checkpoint left as the plan root. A
    * local checkpoint's executor blocks are unpersisted; a reliable
    * checkpoint's files are deleted through their Hadoop FileSystem
    * (Spark only cleans them with `spark.cleaner.referenceTracking.
    * cleanCheckpoints`, off by default). MUST only be called on frames
    * no later plan references: both checkpoints truncate lineage, so a
    * released frame cannot be recomputed. */
  def unpersistMaterialized(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach { rdd =>
      rdd.unpersist(blocking = false)
      rdd.getCheckpointFile.foreach { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        path.getFileSystem(rdd.context.hadoopConfiguration).delete(path, true)
      }
    }
}
