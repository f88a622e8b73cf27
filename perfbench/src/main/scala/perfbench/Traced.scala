package perfbench

import java.io.{File, PrintWriter}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.perfbench.Bus

/** A measurement with the benchmark's listeners registered, and the
  * per-layer metrics and spans derived from it. Every figure is a per-op
  * mean: summed over the measured ops, divided by their number. */
final class Traced(val measured: Main.Measured, rec: Recorder, sweeps: Int,
                   sampler: SamplerPhases) {
  import Traced.Phase
  private val m = measured
  private val n = m.ops.size.toDouble
  private def inside(j: JobStats, s: Double, e: Double) = j.start >= s - 1 && j.start <= e + 1
  private def end(j: JobStats): Double = math.max(j.start, j.end).toDouble
  private def interval(j: JobStats) = (j.start.toDouble, end(j))

  private val jobs: Seq[JobStats] = rec.jobs.values.filter(inside(_, m.start, m.end)).toSeq
  private val phases: Seq[Phase] = m.ops.flatMap(_.phases)
  /** The op phase each job started in. */
  private val jobPhase: Map[Int, Phase] =
    jobs.flatMap(j => phases.find(p => inside(j, p._3, p._4)).map(j.id -> _)).toMap
  /** What issued each job: the sampler's sweep phase for jobs of a
    * train, else the op phase (build, ingest, action, predict). */
  private val jobWork: Map[Int, String] = jobs.map { j =>
    val p = jobPhase.get(j.id)
    j.id -> (if (p.exists(_._1 == "train")) sampler.phaseOf(rec.site(j)._2).getOrElse("train")
             else p.map(_._1).getOrElse("between phases"))
  }.toMap

  /** The op each job ran in, and how many ops of each kind ran. */
  private val jobOp: Map[Int, String] =
    jobs.flatMap(j => m.ops.find(o => inside(j, o.start, o.end)).map(j.id -> _.name)).toMap
  private val opsOfKind: Map[String, Int] = m.ops.groupBy(_.name).map { case (k, os) => k -> os.size }

  private def phaseSeconds(f: Phase => Boolean): Double =
    phases.filter(f).map(p => (p._4 - p._3) / 1000).sum
  private def jobsIn(f: Phase => Boolean): Seq[JobStats] =
    jobs.filter(j => jobPhase.get(j.id).exists(f))
  /** Seconds of the matching phases during which some job ran. */
  private def jobCover(f: Phase => Boolean): Double =
    phases.filter(f).map(p => Stats.covered(jobs.filter(inside(_, p._3, p._4)).map(interval), p._3, p._4)).sum / 1000
  private def sum(f: JobStats => Double): Double = jobs.map(f).sum
  private val isBdf = (p: Phase) => p._2 == "bdf"
  private val isTrain = (p: Phase) => p._1 == "train"
  private val driverOnly = m.ops.map { o =>
    o.end - o.start - Stats.covered(jobs.filter(inside(_, o.start, o.end)).map(interval), o.start, o.end)
  }.sum / 1000
  private val planning = rec.planning.toSeq

  val all: Seq[(String, (Double, String))] = Seq(
    "queries.build_s" -> (phaseSeconds(_._1 == "build") / n, "s"),
    "sql.action_s" -> (phaseSeconds(p => p._1 == "action" || p._1 == "predict") / n, "s"),
    "plans.analysis_ms" -> (planning.map(_.analysisMs).sum / n, "ms"),
    "plans.optimizer_ms" -> (planning.map(_.optimizerMs).sum / n, "ms"),
    "plans.physical_ms" -> (planning.map(_.physicalMs).sum / n, "ms"),
    "exec.jobs" -> (jobs.size / n, "count"),
    "exec.stages" -> (sum(_.stages) / n, "count"),
    "exec.tasks" -> (sum(_.tasks.toDouble) / n, "count"),
    "exec.failed_tasks" -> (sum(_.failedTasks.toDouble) / n, "count"),
    "exec.sched_delay_s" -> (sum(_.schedDelayMs / 1000.0) / n, "s"),
    "exec.driver_only_s" -> (driverOnly / n, "s"),
    "exec.task_cpu_s" -> (sum(_.cpuNs / 1e9) / n, "s"),
    "exec.task_run_s" -> (sum(_.runMs / 1000.0) / n, "s"),
    "exec.gc_s" -> (sum(_.gcMs / 1000.0) / n, "s"),
    "scan.bytes" -> (sum(_.scanBytes.toDouble) / n, "bytes"),
    "scan.rows" -> (sum(_.scanRows.toDouble) / n, "count"),
    "output.rows" -> (m.ops.map(_.outcome.outputRows.toDouble).sum / n, "count"),
    "shuffle.write_bytes" -> (sum(_.shuffleWrite.toDouble) / n, "bytes"),
    "shuffle.read_bytes" -> (sum(_.shuffleRead.toDouble) / n, "bytes"),
    "shuffle.fetch_wait_s" -> (sum(_.fetchWaitMs / 1000.0) / n, "s"),
    "spill.bytes" -> (sum(_.spill.toDouble) / n, "bytes"),
    "bdf.ingest_s" -> (phaseSeconds(_._1 == "ingest") / n, "s"),
    "bdf.train_s" -> (phaseSeconds(isTrain) / n, "s"),
    "bdf.predict_s" -> (phaseSeconds(_._1 == "predict") / n, "s"),
    "bdf.job_s" -> (jobCover(isBdf) / n, "s"),
    "bdf.driver_s" -> ((phaseSeconds(isBdf) - jobCover(isBdf)) / n, "s"),
    "bdf.jobs_per_sweep" -> (jobsIn(isTrain).size / n / sweeps, "count"),
    "bdf.shuffle_bytes_per_sweep" -> (jobsIn(isTrain).map(_.shuffleWrite.toDouble).sum / n / sweeps, "bytes"),
    "artifacts.built" -> (m.artifactsBuilt.toDouble, "count"))

  /** The metrics BENCHMARK.json declares: those every workload exercises.
    * The rest are in the span file. */
  def declared: Seq[(String, (Double, String))] = all.filter(kv => Traced.declared(kv._1))

  /** One root span per op, a child per op phase, and one span per Spark
    * job under the phase it started in. */
  def spans: Seq[Span] = {
    var next = 0
    def id(): Int = { next += 1; next }
    m.ops.flatMap { o =>
      val root = Span(id(), -1, o.name, "op", o.start, o.end,
        Map("pass" -> o.pass, "ok" -> o.outcome.ok, "rows" -> o.outcome.outputRows,
          "persisted_rdds" -> o.persistedRdds))
      val kids = o.phases.map { case (nm, layer, s, e) => Span(id(), root.id, nm, layer, s, e) }
      val jobSpans = jobs.filter(inside(_, o.start, o.end)).map { j =>
        val parent = kids.find(p => inside(j, p.start, p.end)).map(_.id).getOrElse(root.id)
        Span(id(), parent, rec.site(j)._1, "exec", j.start.toDouble, end(j),
          Map("job" -> j.id, "work" -> jobWork(j.id), "stages" -> j.stages, "tasks" -> j.tasks,
            "task_cpu_s" -> j.cpuNs / 1e9, "shuffle_write_bytes" -> j.shuffleWrite))
      }
      root +: (kids ++ jobSpans)
    }
  }

  /** Job seconds and job counts, grouped by `key` and divided by
    * `ops(key)`, largest first. */
  private def jobTable(key: JobStats => String, ops: String => Double): ListMap[String, ListMap[String, Double]] =
    ListMap(jobs.groupBy(key).map { case (k, js) =>
      k -> ListMap("job_s" -> js.map(j => (end(j) - j.start) / 1000).sum / ops(k), "jobs" -> js.size / ops(k))
    }.toSeq.sortBy(-_._2("job_s")): _*)

  def write(dir: String, a: Main.Args, plain: Main.Measured, h0: Main.Host, h1: Main.Host): String = {
    new File(dir).mkdirs()
    val f = new File(dir, s"${a.workload}-seed${a.seed}.spans.jsonl")
    val out = new PrintWriter(f, "UTF-8")
    try {
      val ss = spans
      ss.foreach { s =>
        out.println(Json.write(ListMap("span" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs)))
      }
      val plainWall = Stats.median(plain.passWalls)
      val tracedWall = Stats.median(m.passWalls)
      out.println(Json.write(ListMap(
        "summary" -> a.workload, "seed" -> a.seed, "ops" -> m.ops.size,
        "per_layer" -> Json.metrics(all),
        "self_s_by_layer" -> Spans.selfByLayer(ss).map { case (l, ms) => l -> ms / 1000 / n },
        "jobs_by_work" -> jobTable(j => s"${jobOp.getOrElse(j.id, "between ops")}/${jobWork(j.id)}",
          k => opsOfKind.getOrElse(k.takeWhile(_ != '/'), m.ops.size).toDouble),
        "jobs_by_site" -> jobTable(j => rec.site(j)._1, _ => n),
        "tracing_overhead" -> Map("untraced_wall_s" -> plainWall, "traced_wall_s" -> tracedWall,
          "overhead_frac" -> (tracedWall / plainWall - 1)),
        "pass_walls_s" -> m.passWalls,
        "loadavg_start" -> h0.loadavg, "loadavg_end" -> h1.loadavg,
        "nproc_start" -> h0.nproc, "nproc_end" -> h1.nproc,
        "cpu_steal_frac" -> Main.stealFrac(h0, h1))))
    } finally out.close()
    f.getPath
  }
}

object Traced {
  /** (name, layer, start ms, end ms) of one op phase. */
  type Phase = (String, String, Double, Double)

  val declared: Set[String] = Set(
    "queries.build_s", "sql.action_s", "plans.analysis_ms", "plans.optimizer_ms",
    "plans.physical_ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.sched_delay_s",
    "exec.driver_only_s", "exec.task_cpu_s", "exec.task_run_s", "scan.bytes", "scan.rows",
    "output.rows", "shuffle.write_bytes", "shuffle.read_bytes")

  def run(w: Workload, spark: SparkSession, clock: Clock, seconds: Int, tmp: String,
          sampler: SamplerPhases): Traced = {
    val rec = new Recorder
    Bus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val m = Main.measure(w, spark, clock, seconds, tmp)
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(rec)
    spark.listenerManager.unregister(rec)
    val sweeps = w match { case g: GibbsWorkload => g.sweeps; case _ => 1 }
    new Traced(m, rec, sweeps, sampler)
  }
}
