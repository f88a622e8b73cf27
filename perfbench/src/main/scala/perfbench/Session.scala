package perfbench

import org.apache.spark.sql.SparkSession

/** The session every benchmark JVM uses: the same settings as the
  * program's own `graft.Bench` (local[nproc], shuffle partitions =
  * nproc, UTC, nanosAsLong, the graft planner extensions). */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors

  def create(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
