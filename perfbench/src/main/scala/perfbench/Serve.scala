package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

object Serve {
  /** Materialize every output column and the final sort, discarding
    * the rows: what a user pays to read a query's full result. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** [[materialize]], returning the number of rows written. */
  def materializeCounting(df: DataFrame): Long = {
    val obs = Observation()
    materialize(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** Drop what one serve leaves cached, as `graft.Bench` does between
    * reps, so a serve's time does not depend on its neighbours. */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }
}
