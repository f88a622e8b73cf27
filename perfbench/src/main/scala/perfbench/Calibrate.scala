package perfbench

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Calibration pass used to choose the serve workloads' query lists:
  * serves every registry query twice (cold, then warm) and prints, per
  * query, the time spent inside the registry function ("build"), the
  * time of the noop materialization ("action") and the Spark jobs each
  * part issued.
  *
  *   java -cp <classpath> perfbench.Calibrate <sfDir> [query ...]
  */
object Calibrate {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Session.create()
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val names =
      if (args.length > 1) args.toSeq.drop(1) else graft.SparkEntry.queries.keys.toSeq.sorted
    def jobsSoFar(): Long = { Bus.drain(spark.sparkContext); jobs.get() }
    for (n <- names; rep <- 0 until 2) {
      val fn = graft.SparkEntry.queries(n)
      val j0 = jobsSoFar()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val j1 = jobsSoFar()
      val t2 = System.nanoTime()
      Serve.materialize(df)
      val t3 = System.nanoTime()
      val j2 = jobsSoFar()
      Serve.sweep(spark)
      println(f"CAL $n%-40s rep=$rep build=${(t1 - t0) / 1e9}%.3f action=${(t3 - t2) / 1e9}%.3f " +
        f"jobs_build=${j1 - j0} jobs_action=${j2 - j1}")
    }
    spark.stop()
  }
}
