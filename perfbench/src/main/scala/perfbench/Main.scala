package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM: sets up one workload, measures it for the given
  * number of seconds with tracing off, and with `--trace 1` measures it
  * again with the benchmark's listeners on. Prints a human-readable
  * report and, as its last stdout line, the result JSON.
  *
  * System properties (set by run.py):
  *   perfbench.data      directory of the input parquet tables
  *   perfbench.expected  recorded digests and RMSE traces
  *   perfbench.tmp       a fresh directory for this JVM's artifacts
  *   perfbench.out       where span files are written
  *   perfbench.src       the program's Scala sources (for SamplerPhases)
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      kv.getOrElse("trace", "0") == "1")
  }

  final case class OpRecord(pass: Int, name: String, start: Double, end: Double,
                            outcome: OpOutcome, phases: Seq[(String, String, Double, Double)],
                            persistedRdds: Int) {
    def seconds: Double = (end - start) / 1000
  }

  final case class Measured(ops: Seq[OpRecord], passWalls: Seq[Double], heapPeakMb: Double,
                            start: Double, end: Double, artifactsBuilt: Int)

  /** Host state at one end of a run: load averages, processor count,
    * and the cumulative (steal, total) CPU jiffies of /proc/stat. */
  final case class Host(loadavg: Seq[Double], nproc: Int, stealTotal: (Long, Long))
  def host(): Host = {
    def read(f: String): String =
      try {
        val src = scala.io.Source.fromFile(f)
        try src.mkString finally src.close()
      } catch { case _: Exception => "" }
    val la = read("/proc/loadavg").trim.split(" ").take(3).toSeq.flatMap(_.toDoubleOption)
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.split("\\s+").drop(1).take(8).flatMap(_.toLongOption).toSeq).getOrElse(Nil)
    Host(la, Runtime.getRuntime.availableProcessors,
      if (cpu.size == 8) (cpu(7), cpu.sum) else (0L, 0L))
  }

  /** Share of CPU time the hypervisor gave to other guests between two
    * snapshots. */
  def stealFrac(h0: Host, h1: Host): Double = {
    val total = h1.stealTotal._2 - h0.stealTotal._2
    if (total <= 0) 0.0 else (h1.stealTotal._1 - h0.stealTotal._1).toDouble / total
  }

  /** Old-generation heap in use after a full collection, in MB: the
    * least of three collections spaced so that Spark's cleaner and the
    * asynchronous unpersists of the last sweep can release what each
    * collection found unreachable. Also leaves the JVM in the same state
    * before every pass. */
  def oldGenAfterGcMb(spark: SparkSession): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    (1 to 3).map { _ =>
      System.gc()
      Bus.drain(spark.sparkContext)
      Thread.sleep(100)
      pools.map(_.getUsage.getUsed).sum / 1048576.0
    }.min
  }

  /** Artifact directories ArtifactStore has published under `tmp`. */
  def publishedArtifacts(tmp: String): Set[String] = {
    val root = new File(tmp, "graft_artifacts")
    def ls(f: File) = Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq
    ls(root).flatMap(ls).filter(d => new File(d, "_SUCCESS").exists()).map(_.getPath).toSet
  }

  /** Passes every measurement runs at least, however long they take. */
  val minPasses = 2

  /** Set-up rounds per run; setup_s is their median. A serve round is one
    * untimed pass, a Gibbs round one untimed train in each mode. Two
    * rounds take every op past its first run in the JVM, which is about
    * twice a steady one. */
  val setupRounds = 2

  /** The closed loop: whole passes, one op at a time, until `seconds`
    * have gone by and at least [[minPasses]] passes have run. Only whole
    * passes are run, so every query of a serve workload is sampled
    * equally often. */
  def measure(w: Workload, spark: SparkSession, clock: Clock, seconds: Int,
              tmp: String): Measured = {
    val before = publishedArtifacts(tmp)
    val ops = scala.collection.mutable.ArrayBuffer[OpRecord]()
    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    oldGenAfterGcMb(spark)
    var heapPeak = 0.0
    val t0 = clock.nowMs()
    var p = 0
    while (p < minPasses || clock.nowMs() - t0 < seconds * 1000.0) {
      val ps = clock.nowMs()
      w.passOrder(p).foreach { op =>
        val ph = new Phases(clock)
        val s = clock.nowMs()
        val out =
          try w.runOp(op, ph)
          catch { case e: Exception => OpOutcome(ok = false, 0L, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val e = clock.nowMs()
        val persisted = spark.sparkContext.getPersistentRDDs.size
        Serve.sweep(spark)
        ops += OpRecord(p, op, s, e, out, ph.spans.toSeq, persisted)
      }
      walls += (clock.nowMs() - ps) / 1000
      heapPeak = math.max(heapPeak, oldGenAfterGcMb(spark))
      p += 1
    }
    val t1 = clock.nowMs()
    Measured(ops.toSeq, walls.toSeq, heapPeak, t0, t1, (publishedArtifacts(tmp) -- before).size)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val dataDir = sys.props("perfbench.data")
    val tmpRoot = sys.props("perfbench.tmp")
    val outDir = sys.props("perfbench.out")
    val expected = Expected.load(sys.props("perfbench.expected"))
    val host0 = host()
    val clock = new Clock
    val s0 = clock.nowMs()
    val spark = Session.create()
    try {
      val w = Workloads(a.workload, spark, dataDir, a.seed, expected)
      w.warm()
      val sessionS = (clock.nowMs() - s0) / 1000

      // Set-up: several rounds, each against a fresh artifact directory
      // (ArtifactStore keys its cache under java.io.tmpdir), so artifact
      // builds, JIT warm-up and the output checks are charged here.
      var tmp = ""
      val setup = (0 until setupRounds).map { r =>
        tmp = s"$tmpRoot/round-$r"
        new File(tmp).mkdirs()
        System.setProperty("java.io.tmpdir", tmp)
        val t = clock.nowMs()
        val failures =
          try w.setupRound(r)
          catch { case e: Exception => Seq(s"set-up round $r: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        val dt = (clock.nowMs() - t) / 1000
        println(s"perfbench: set-up round $r published ${publishedArtifacts(tmp).size} artifacts")
        (dt, failures)
      }
      val setupFailures = setup.flatMap(_._2)
      setupFailures.foreach(f => println(s"perfbench: CHECK FAILED $f"))

      val plain = measure(w, spark, clock, a.seconds, tmp)
      val traced =
        if (a.trace) Some(Traced.run(w, spark, clock, a.seconds, tmp,
          SamplerPhases.load(sys.props("perfbench.src"))))
        else None
      val host1 = host()

      val allOps = plain.ops ++ traced.toSeq.flatMap(_.measured.ops)
      val attempted = allOps.size
      val failed = allOps.count(!_.outcome.ok)
      val correct = failed == 0 && setupFailures.isEmpty
      allOps.filter(!_.outcome.ok).foreach(o =>
        println(s"perfbench: FAILED op ${o.name} (pass ${o.pass}): ${o.outcome.note}"))

      val e2e = EndToEnd(setup.map(_._1), plain)
      Report.text(a, sessionS, setup.map(_._1), plain, e2e, host0, host1, failed, attempted)
      val metrics: Seq[(String, (Double, String))] = traced match {
        case None => e2e.metrics
        case Some(t) =>
          val path = t.write(outDir, a, plain, host0, host1)
          println(s"perfbench: span file $path")
          t.declared
      }
      println(Json.write(ListMap(
        "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
        "metrics" -> Json.metrics(metrics))))
    } finally spark.stop()
  }
}

/** The end-to-end metrics of one untraced measurement. */
final case class EndToEnd(setupRounds: Seq[Double], m: Main.Measured) {
  val opSeconds: Seq[Double] = m.ops.map(_.seconds)
  /** The median op. A pass runs several kinds of op (queries, or trains
    * in two modes) whose times differ, so this is the median over kinds
    * of each kind's median: with two ops of a kind per run, a
    * plain median would fall into the gap between two kinds. */
  val opP50: Double = Stats.medianByKind(m.ops.map(o => o.name -> o.seconds))
  val tail: Stats.Tail = Stats.tail(opSeconds)
  val failedFrac: Double = m.ops.count(!_.outcome.ok).toDouble / m.ops.size

  /** The metrics BENCHMARK.json declares. */
  def metrics: Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (Stats.median(setupRounds), "s"),
    "wall_s" -> (Stats.median(m.passWalls), "s"),
    "op_p50_s" -> (opP50, "s"),
    "heap_peak_mb" -> (m.heapPeakMb, "MB"))

  /** Reported but not declared: with fewer than 20 ops a run's tail is its
    * slowest op, and across runs that spread as wide as the largest bound
    * BENCHMARK.json may set (README.md). */
  def reported: Seq[(String, (Double, String))] = Seq(
    "op_tail_s" -> (tail.value, "s"),
    "failed_frac" -> (failedFrac, "1"))
}

object Report {
  def text(a: Main.Args, sessionS: Double, setupRounds: Seq[Double], m: Main.Measured,
           e2e: EndToEnd, h0: Main.Host, h1: Main.Host, failed: Int, attempted: Int): Unit = {
    def f(x: Double) = f"$x%.4f"
    println(s"perfbench: workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")
    println(s"perfbench: host start loadavg=${h0.loadavg.mkString(",")} nproc=${h0.nproc}; " +
      s"end loadavg=${h1.loadavg.mkString(",")} nproc=${h1.nproc}; " +
      f"cpu steal during the run ${100 * Main.stealFrac(h0, h1)}%.1f%%")
    println(s"perfbench: session start and table warm-up ${f(sessionS)} s; set-up rounds ${setupRounds.map(f).mkString(", ")} s")
    println(s"perfbench: pass walls ${m.passWalls.map(f).mkString(", ")} s")
    println(s"perfbench: ops ${m.ops.map(o => s"${o.name}=${f(o.seconds)}").mkString(" ")}")
    println(s"perfbench: persisted RDDs after each op ${m.ops.map(_.persistedRdds).mkString(",")}")
    (e2e.metrics ++ e2e.reported).foreach { case (k, (v, u)) => println(f"perfbench: $k%-14s ${f(v)} $u") }
    println(f"perfbench: op_tail_s is p${e2e.tail.percentile}%.1f of ${e2e.tail.samples} ops, " +
      s"${e2e.tail.beyond} beyond it")
    println(s"perfbench: $failed of $attempted ops failed or were wrong")
  }
}
