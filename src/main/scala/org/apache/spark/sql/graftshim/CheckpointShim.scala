package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** `localCheckpoint()` that also returns the relation's row count, taken
  * from the one job that materializes it. `Dataset.localCheckpoint`
  * discards that job's result, so a caller that needs the size had to
  * run a second `count()` (two more jobs under AQE) over the blocks.
  */
object CheckpointShim {
  def localCheckpointCounted(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    // one SQL execution, as Dataset.localCheckpoint runs it
    SQLExecution.withNewExecutionId(ds.queryExecution, Some("localCheckpoint")) {
      val rdd = ds.queryExecution.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      val rows = rdd.count()
      (ClassicDataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rdd, ds, isStreaming = false)), rows)
    }
  }
}
