package org.apache.spark.sql

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}

/** Plans a DataFrame's logical plan afresh with adaptive execution off,
  * without running it: the static physical plan whose operator counts
  * repeat exactly run to run. Lives in `org.apache.spark.sql` only to
  * reach the classic Dataset's query execution. */
object PerfbenchSqlBridge {
  def staticPlan(df: DataFrame): SparkPlan = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val s = ds.sparkSession
    val key = "spark.sql.adaptive.enabled"
    val was = s.conf.get(key)
    s.conf.set(key, "false")
    try new QueryExecution(s, ds.queryExecution.logical).executedPlan
    finally s.conf.set(key, was)
  }
}
