package perfbench

/** Prints the expectation lines the benchmark checks against (see
  * [[Expected]]): digests of the named registry queries, or the RMSE
  * trace of one Gibbs train.
  *
  *   java -cp <classpath> perfbench.Record <sfDir> digest <query ...>
  *   java -cp <classpath> perfbench.Record <sfDir> trace <seed> <bcast|dist>
  */
object Record {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Session.create()
    try args(1) match {
      case "digest" =>
        args.drop(2).foreach { q =>
          println(s"digest\t$q\t${Digest.of(graft.SparkEntry.queries(q)(spark, sfDir))}")
          Serve.sweep(spark)
        }
      case "trace" =>
        val seed = args(2).toLong
        val w = new GibbsWorkload("gibbs", spark, sfDir, Seq(args(3)), seed, None)
        val o = w.runOp(s"train_${args(3)}", new Phases(new Clock))
        println(s"# ${args(3)}: ${o.outputRows} test predictions")
        println(s"trace\t$seed\t${w.lastTrace.map(v => f"$v%.8f").mkString(",")}")
    } finally spark.stop()
  }
}
