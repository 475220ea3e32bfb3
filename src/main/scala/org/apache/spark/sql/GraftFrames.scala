package org.apache.spark.sql

/** Moves a frame to another session of the same SparkContext. Binding
  * a logical plan to a session (`Dataset.ofRows`) is package-private
  * to Spark, hence this package.
  */
object GraftFrames {

  /** `df`'s analyzed plan as a frame of `spark`: later operators on it
    * plan with `spark`'s conf and report to `spark`'s listeners. Only
    * for plans whose leaves carry their own data (a memory sink's
    * table), not for names resolved in `df`'s session catalog.
    */
  def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed)
}
