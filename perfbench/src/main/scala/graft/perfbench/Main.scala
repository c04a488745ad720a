package graft.perfbench


import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** What a workload hands back: its end-to-end and per-layer numbers, how
  * many operations the timed phase completed, failed output checks and
  * the per-run detail.
  */
final case class Result(e2e: Map[String, Double], layers: Map[String, Double],
    ops: Int, checks: Seq[String], detail: Map[String, Any])

/** Benchmark JVM entry point:
  * `--workload <cdc_upsert|medallion|query_pack> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <file>`.
  *
  * Runs one workload and writes one JSON document to `--out`. A failure
  * in set-up, fixture building or warm-up exits with status 2 and writes
  * nothing; failed timed operations and failed output checks are reported
  * in the document.
  */
object Main {

  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val status =
      try { run(opt); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          2
      }
    System.exit(status)
  }

  private def run(opt: Map[String, String]): Unit = {
    val work = opt("work")
    val confs = Map(
      "spark.master" -> s"local[$Cores]",
      "spark.sql.shuffle.partitions" -> Cores.toString,
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.ui.enabled" -> "false")
    val spark = confs.foldLeft(graft.util.Sessions.builder("graft-perfbench")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      val r = new Run(spark, opt("seed").toLong, opt("seconds").toInt,
        opt("trace") == "1")
      val t0 = System.nanoTime()
      val res = opt("workload") match {
        case "cdc_upsert" => CdcUpsert.run(r, work)
        case "medallion"  => Medallion.run(r, work)
        case "query_pack" => QueryPack.run(r, work)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val setupWall = (r.setupEndNs - t0) / 1e9
      // set-up as CPU, like op_cpu_ms; the wall figure is kept beside it
      val setupS = r.setupCpuS - r.repeatCpu.sum + Run.median(r.repeatCpu)
      val setupWallS = sessionS + setupWall - r.repeatWall.sum +
        Run.median(r.repeatWall)
      val layers = res.layers ++ Rollup(r, res.ops) ++ Map(
        "setup.session_s" -> sessionS,
        "setup.repeat_s" -> Run.median(r.repeatWall)) ++
        r.setupPhases.map { case (k, v) => s"setup.${k}_s" -> v }
      val doc = Map(
        "workload" -> opt("workload"), "seed" -> r.seed,
        "seconds" -> r.seconds, "trace" -> r.tracing,
        "env" -> Map(
          "nproc" -> Runtime.getRuntime.availableProcessors(),
          "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
          "spark_confs" -> confs, "spark_version" -> spark.version),
        "setup_s" -> setupS, "setup_wall_s" -> setupWallS,
        "setup_repeats_s" -> r.repeatWall, "setup_repeats_cpu_s" -> r.repeatCpu,
        "wall_s" -> r.wallS, "ops" -> res.ops,
        "e2e" -> res.e2e, "layers" -> layers,
        "attempted" -> r.attempted, "failed" -> r.failures.size,
        "failures" -> r.failures.map { case (n, m) => Map("op" -> n, "error" -> m) },
        "checks" -> res.checks, "detail" -> res.detail,
        "spans" -> r.spans.map(s => Seq(s.id, s.parent, s.layer, s.name,
          s.startMs, s.endMs)),
        "jobs" -> r.engine.toSeq.flatMap(_.jobs.values.map(j =>
          Seq(j.id, j.span, j.startMs, j.endMs))))
      Files.writeString(Paths.get(opt("out")), graft.util.Json.write(doc))
    } finally spark.stop()
  }
}

/** The traced run's engine and self-time rollup over the timed phase.
  *
  * Self time: each call span's duration minus the union of the intervals
  * of the Spark jobs it submitted is that layer's own time outside Spark jobs;
  * the job union is `spark` time; what the timed wall has outside every
  * call span is the harness's. The parts add up to the timed wall.
  */
object Rollup {
  def apply(r: Run, ops: Int): Map[String, Double] = r.engine match {
    case None => Map.empty
    case Some(l) =>
      val all = l.perSpan.values.flatten.groupMapReduce(_._1)(_._2)(_ + _)
      def tot(k: String) = all.getOrElse(k, 0.0)
      val mb = 1024.0 * 1024.0
      val calls = r.spans.filter(_.layer != "step")
      val jobsBySpan = l.jobs.values.groupBy(_.span)
      def union(iv: Seq[(Long, Long)]): Long = {
        var covered, end = 0L
        iv.sortBy(_._1).foreach { case (a, b) =>
          val s = math.max(a, end)
          if (b > s) { covered += b - s; end = b }
        }
        covered
      }
      val selfByLayer = calls.groupBy(_.layer).map { case (layer, ss) =>
        layer -> ss.map { s =>
          val jobMs = union(jobsBySpan.getOrElse(s.id, Nil).toSeq.map(j =>
            (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs))))
          ((s.endNs - s.startNs) / 1e6 - jobMs, jobMs.toDouble)
        }.foldLeft((0.0, 0.0)) { case (a, b) => (a._1 + b._1, a._2 + b._2) }
      }
      val callMs = calls.map(s => (s.endNs - s.startNs) / 1e6).sum
      val jobs = tot("jobs")
      Map(
        "spark.jobs" -> jobs, "spark.stages" -> tot("stages"),
        "spark.tasks" -> tot("tasks"),
        "spark.jobs_per_op" -> jobs / ops,
        "spark.task_run_s" -> tot("task_run_ms") / 1e3,
        "spark.task_cpu_s" -> tot("task_cpu_ms") / 1e3,
        "spark.gc_s" -> tot("gc_ms") / 1e3,
        "spark.core_busy" -> tot("task_run_ms") / 1e3 / (r.wallS * Main.Cores),
        "spark.planning_ms" -> l.planningMs.sum / ops,
        "spark.shuffle_write_mb" -> tot("shuffle_write_b") / mb,
        "spark.shuffle_read_mb" -> tot("shuffle_read_b") / mb,
        "spark.input_mb" -> tot("input_b") / mb,
        "spark.output_mb" -> tot("output_b") / mb,
        "self.spark_s" -> selfByLayer.values.map(_._2).sum / 1e3,
        "self.harness_s" -> (r.wallS * 1e3 - callMs) / 1e3) ++
        Seq("lake", "pipelines", "sources", "queries").map(layer =>
          s"self.${layer}_s" -> selfByLayer.get(layer).map(_._1).getOrElse(0.0) / 1e3)
  }
}
