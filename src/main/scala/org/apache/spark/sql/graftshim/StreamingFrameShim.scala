package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.StructType

/** The one bridge the DSv1 streaming-source contract forces: a
  * `Source.getBatch` result must carry `isStreaming = true` on its leaf
  * relations, and the only constructors for such frames
  * (`Dataset.ofRows`, `LogicalRelation(isStreaming = true)`) are
  * `private[sql]` — Spark's own FileStreamSource sets the flag the same
  * way from inside the sql package. This shim lives in an
  * `org.apache.spark.sql` subpackage solely to re-expose that flag flip
  * to [[graft.lake.LakeCdcSource]]; no other private API is touched.
  */
object StreamingFrameShim {

  /** Re-tag every file-relation leaf of `df` as a streaming relation. */
  def asStreaming(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.logical.transform {
      case lr: LogicalRelation => lr.copy(isStreaming = true)
    }
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession], plan)
  }

  /** An empty streaming frame of `schema` (for empty offset ranges, where
    * there is no file relation to re-tag).
    */
  def emptyStreaming(spark: SparkSession, schema: StructType): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), Nil, isStreaming = true))
}
