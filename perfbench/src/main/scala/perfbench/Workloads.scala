package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.bdf.{Gibbs, Macau, RelationData}

/** What one op reports back: whether its output checked out, and how
  * many rows it produced. */
final case class OpOutcome(ok: Boolean, outputRows: Long, note: String = "")

/** Times the named phases of one op (build, action, train, ...). */
final class Phases(clock: Clock) {
  val spans = scala.collection.mutable.ArrayBuffer[(String, String, Double, Double)]()
  def apply[T](name: String, layer: String)(body: => T): T = {
    val t0 = clock.nowMs()
    try body finally spans += ((name, layer, t0, clock.nowMs()))
  }
}

/** The run's clock: milliseconds since the epoch, at nanosecond
  * resolution, comparable with the epoch-millisecond times Spark puts
  * on its listener events. */
final class Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

trait Workload {
  def name: String
  def spark: SparkSession
  /** Directory of the input tables. */
  def sfDir: String
  /** Untimed: read every input table once, as `graft.Bench` does before
    * timing, so no set-up round pays the JVM's first parquet read. */
  def warm(): Unit =
    Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach(f => spark.read.parquet(f.getPath).count())
  /** Names of the ops one pass runs, in the order pass `p` runs them. */
  def passOrder(p: Int): Seq[String]
  /** One untimed set-up round; returns the failed output checks. */
  def setupRound(round: Int): Seq[String]
  def runOp(op: String, ph: Phases): OpOutcome
}

/** Closed-loop serves of registry queries, one client thread: each op
  * calls `SparkEntry.queries(name)(spark, sfDir)` and materializes every
  * output column with a noop write. */
final class ServeWorkload(val name: String, val spark: SparkSession, val sfDir: String,
                          queries: Seq[String], digests: Map[String, String],
                          seed: Long) extends Workload {
  require(queries.nonEmpty && queries.forall(digests.contains),
    s"$name: every query needs a recorded digest")
  /** Queries whose set-up digest did not match: their serves fail. */
  private val bad = scala.collection.mutable.Set[String]()

  def passOrder(p: Int): Seq[String] = ServeOrder.of(queries, seed, p)

  def setupRound(round: Int): Seq[String] =
    passOrder(-1 - round).flatMap { q =>
      val d = Digest.materialize(graft.SparkEntry.queries(q)(spark, sfDir))
      Serve.sweep(spark)
      if (d == digests(q)) None
      else { bad += q; Some(s"$q: digest $d, expected ${digests(q)}") }
    }

  def runOp(q: String, ph: Phases): OpOutcome = {
    val df = ph("build", "queries") { graft.SparkEntry.queries(q)(spark, sfDir) }
    val rows = ph("action", "sql") { Serve.materializeCounting(df) }
    val want = Digest.rows(digests(q))
    OpOutcome(!bad(q) && rows == want, rows,
      if (bad(q)) "digest mismatch in set-up" else if (rows != want) s"$rows rows, expected $want" else "")
  }
}

/** The paper's algorithm on the Demo problem: a lineitem COO of
  * partkey x suppkey -> mean quantity, trained through the public
  * entry points RelationData.fromDF -> Macau.assignToTest ->
  * Macau.macau, then Result.predictions fully materialized. One op is
  * one train; a pass trains once in each of `modes`: `bcast` (factors
  * broadcast, `Gibbs`) and `dist` (factors kept as DataFrames,
  * `GibbsDistributed`). Both modes must give the same RMSE trace. */
final class GibbsWorkload(val name: String, val spark: SparkSession, val sfDir: String,
                          modes: Seq[String], seed: Long,
                          expectedTrace: Option[Seq[Double]]) extends Workload {
  private def opts(mode: String) = Gibbs.Options(numLatent = 8, burnin = 1, samples = 2,
    alpha = 1.0, seed = seed, clamp = Some((1.0, 50.0)), distributedFactors = Some(mode == "dist"))
  def sweeps: Int = opts("bcast").burnin + opts("bcast").samples
  /** The trace every train must reproduce: the recorded one for this
    * seed, else the first train's. */
  private var reference: Option[Seq[Double]] = expectedTrace
  private var testCells = -1L
  /** The RMSE trace of the latest train. */
  var lastTrace: Seq[Double] = Nil

  def passOrder(p: Int): Seq[String] = modes.map(m => s"train_$m")

  def setupRound(round: Int): Seq[String] =
    passOrder(0).flatMap { op =>
      val o = runOp(op, new Phases(new Clock))
      Serve.sweep(spark)
      if (o.ok) None else Some(s"$name set-up $op: ${o.note}")
    }

  private def coo(): DataFrame = {
    def dense(c: String) =
      (dense_rank().over(Window.orderBy(c)).cast("long") - 1)
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(dense("l_partkey").as("p"), dense("l_suppkey").as("s"), col("l_quantity").as("v"))
      .groupBy("p", "s").agg(avg("v").as("v"))
  }

  def runOp(op: String, ph: Phases): OpOutcome = {
    val df = ph("build", "queries") { coo() }
    val split = ph("ingest", "bdf") {
      Macau.assignToTest(RelationData.fromDF(df, Seq("p", "s"), "v"))
    }
    val res = ph("train", "bdf") {
      Macau.macau(spark, split.train, split.test, opts(op.stripPrefix("train_")))
    }
    val rows = ph("predict", "bdf") { Serve.materializeCounting(res.predictions) }
    val trace = res.rmseHistory
    lastTrace = trace
    if (reference.isEmpty) reference = Some(trace)
    if (testCells < 0) testCells = rows
    val traceOk = Workloads.sameTrace(trace, reference.get)
    OpOutcome(traceOk && rows == testCells, rows,
      if (!traceOk) s"rmse trace ${trace.mkString(",")}, expected ${reference.get.mkString(",")}"
      else if (rows != testCells) s"$rows test predictions, expected $testCells" else "")
  }
}

object Workloads {
  /** Equal to the 8 decimals the recorded traces carry. */
  def sameTrace(a: Seq[Double], b: Seq[Double]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => math.abs(x - y) <= 5e-9 }

  val names: Seq[String] = Seq("serve_iter", "serve_onepass", "gibbs")

  /** `dataDir` holds sf0.1 (serves) and sf0.01 (Gibbs) tables. */
  def apply(name: String, spark: SparkSession, dataDir: String, seed: Long,
            expected: Expected): Workload = name match {
    case "serve_iter" | "serve_onepass" =>
      new ServeWorkload(name, spark, s"$dataDir/sf0.1", QuerySets.byName(name), expected.digests, seed)
    case "gibbs" =>
      new GibbsWorkload(name, spark, s"$dataDir/sf0.01", Seq("bcast", "dist"), seed,
        expected.traces.get(seed))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }
}

/** The seeded serve order: pass `p` of a run with seed `seed` serves a
  * permutation of the query set that depends only on (seed, p). */
object ServeOrder {
  def of(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries.sorted)
}

/** Recorded expectations, one per line, tab-separated:
  * `digest <query> <count:sumLo:sumHi>` and `trace <seed> <rmse,...>`. */
final case class Expected(digests: Map[String, String], traces: Map[Long, Seq[Double]])

object Expected {
  def load(path: String): Expected = {
    val lines = scala.io.Source.fromFile(path).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).toSeq
    Expected(
      lines.collect { case Array("digest", q, d) => q -> d }.toMap,
      lines.collect { case Array("trace", s, t) => s.toLong -> t.split(",").toSeq.map(_.toDouble) }.toMap)
  }
}
