package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, warm up, run the workload's closed loop
  * (one client) for at least `--seconds`, check the outputs, report.
  *
  * Usage: `Main --workload <hpv_bulk|hpv_delta|analytics_mix> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --data <dir>`
  *
  * Every metric is printed as `metric <name> <value> <unit>`; the last
  * line is `result <json>` with every metric, the op counts and whether
  * the outputs were right. The process exits 1 when an output is wrong.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, data: Path)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("data")).toAbsolutePath)
  }

  /** Ops of the three workloads and the sizes they run at. */
  def workload(a: Args, spark: SparkSession): Workload = a.workload match {
    case "hpv_bulk" => new Hpv.Bulk(spark, a.seed, a.work, files = 6)
    case "hpv_delta" => new Hpv.Delta(spark, a.seed, a.work, years = 20, perRound = 5)
    case "analytics_mix" => new Analytics.Mix(spark, a.work, a.data)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def metric(name: String, value: Double, unit: String): Unit = {
    metrics(name) = (value, unit)
    println(s"metric $name $value $unit")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.core.Sessions
      .configure(SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.enabled = a.trace
    if (a.trace) Trace.install(spark)
    val w = workload(a, spark)
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    // set-up: warm-up runs once, on separately seeded inputs; then the
    // seeded preparation runs three times and counts once, at its median
    val warm0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - warm0) / 1e9
    val prep = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      w.prepare()
      (System.nanoTime() - t0) / 1e9
    }
    Trace.clear()
    Trace.resetCounters()
    Layers.clear()
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - prep.sum + Stats.median(prep)

    // the closed loop: whole rounds until `seconds` have passed; the live
    // heap is read after every round
    val window = new Host.Window
    val gc0 = Host.gcSeconds()
    val t0 = System.nanoTime()
    val rounds = mutable.ArrayBuffer.empty[Seq[Op]]
    val heapMb = mutable.ArrayBuffer.empty[Double]
    var forcedGcS = 0.0
    do {
      rounds += w.round(rounds.size)
      val g = Host.gcSeconds()
      heapMb += Host.liveHeapMb()
      forcedGcS += Host.gcSeconds() - g
    } while ((System.nanoTime() - t0) / 1e9 < a.seconds)
    if (a.trace) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val (stealS, otherCores) = window.close()
    val gcS = Host.gcSeconds() - gc0 - forcedGcS
    val loopEndS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val fin = w.finish()

    val ops = rounds.flatten.toSeq
    val opSeconds = ops.map(_.seconds)
    val (tailP, tailS) = Stats.tail(opSeconds)
    val failed = math.min(ops.size, ops.count(!_.ok) + (if (fin.mismatches.nonEmpty) 1 else 0))
    fin.mismatches.take(20).foreach(m => println(s"check-failed $m"))

    metric("setup_s", setupS, "s")
    metric("wall_s", Stats.median(rounds.map(_.map(_.seconds).sum).toSeq), "s")
    metric("op_p50_s", Stats.median(opSeconds), "s")
    metric("op_tail_s", tailS, "s")
    metric("heap_peak_mb", heapMb.max, "MB")
    metric("failed_frac", failed.toDouble / ops.size, "ratio")
    metric("stored_mb", fin.storedBytes / 1048576.0, "MB")
    metric("host.steal_s", stealS, "s")
    metric("host.other_cores", otherCores, "cores")
    println(f"info ops ${ops.size} rounds ${rounds.size} tail_percentile $tailP%.1f cores $cores")
    println(f"info setup session $sessionS%.2f s, prepare ${prep.map(p => f"$p%.2f").mkString("/")} s, " +
      f"warm-up $warmS%.2f s; loop ends at $loopEndS%.2f s, checks end at " +
      f"${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s")

    if (a.trace) {
      val kernels =
        if (a.workload == "analytics_mix") Kernels.nsPerRow(spark, a.data.resolve("sf0.01").toString)
        else Kernels.Names.map(_ -> 0.0)
      layerMetrics(rounds.size, cores, gcS, kernels)
      Trace.write(a.work.resolve("spans.jsonl"))
    }

    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> Json.num(ops.size.toLong),
      "failed" -> Json.num(failed.toLong),
      "metrics" -> Json.obj(metrics.toSeq.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(s"result $result")
    spark.stop()
    sys.exit(if (failed == 0) 0 else 1)
  }

  /** Layer of a span name, for self time. */
  private def layer(span: String): String = span.split('.').toList match {
    case "op" :: _ => "harness"
    case "queries" :: _ :: part :: Nil => s"queries.$part"
    case l :: _ => l
    case Nil => span
  }

  /** The traced run's per-layer metrics. Quantities that add up over
    * the loop are reported per round, the workload's unit of fixed
    * work, so runs that fit a different number of rounds compare.
    */
  private def layerMetrics(rounds: Int, cores: Int, gcS: Double,
      kernels: Seq[(String, Double)]): Unit = {
    def perRound(name: String, total: Double, unit: String): Unit = metric(name, total / rounds, unit)
    val spans = Trace.recorded
    val opSpans = spans.filter(_.parent == 0)
    val opWall = opSpans.map(_.seconds).sum
    def named(p: String => Boolean) = spans.filter(s => p(s.name))
    def within(ss: Seq[Trace.Span], t: Long) = ss.exists(s => t >= s.startMs && t <= s.endMs)

    val self = Trace.selfSeconds.toSeq.groupBy { case (n, _) => layer(n) }
      .map { case (l, xs) => l -> xs.map(_._2).sum }
    for (l <- Seq("harness", "ingest", "pipeline", "load", "queries.build", "queries.run",
        "queries.exec", "queries.release")) {
      val s = self.getOrElse(l, 0.0)
      perRound(s"self_s.$l", s, "s")
      metric(s"self_pct.$l", if (opWall > 0) 100 * s / opWall else 0.0, "%")
    }

    val ingestS = Trace.seconds("ingest.readWorkbook")
    val cells = Layers.get("ingest.cells")
    perRound("ingest.busy_s", ingestS, "s")
    perRound("ingest.cells", cells, "count")
    metric("ingest.ns_per_cell", if (cells > 0) ingestS * 1e9 / cells else 0.0, "ns")
    perRound("pipeline.transform_s", Trace.seconds("pipeline.transform"), "s")

    val loads = named(_.startsWith("load."))
    perRound("load.busy_s", loads.map(_.seconds).sum, "s")
    perRound("load.rows", Layers.get("load.rows"), "count")
    perRound("load.bytes_written", Layers.get("load.bytes_written"), "bytes")
    perRound("load.files_written", Layers.get("load.files_written"), "count")
    perRound("load.jobs", Trace.Jobs.intervals.count { case (t, _) => within(loads, t) }, "count")

    for (id <- Analytics.Mix) {
      val build = Trace.seconds(s"queries.$id.build")
      perRound(s"queries.$id.s", Layers.get(s"queries.$id.s") - build, "s")
      perRound(s"queries.$id.build_s", build, "s")
    }
    perRound("queries.run_call_s", named(n => n.startsWith("queries.") && n.endsWith(".run"))
      .map(_.seconds).sum, "s")
    perRound("queries.exec_s", named(n => n.startsWith("queries.") && n.endsWith(".exec"))
      .map(_.seconds).sum, "s")

    kernels.foreach { case (k, ns) => metric(s"expressions.$k.ns_per_row", ns, "ns") }

    val (triggers, streamRows) = Trace.Streams.snapshot
    perRound("streaming.triggers", triggers.size, "count")
    metric("streaming.trigger_p50_s", if (triggers.isEmpty) 0.0 else Stats.median(triggers), "s")
    metric("streaming.rows_per_s", if (triggers.isEmpty) 0.0 else streamRows / triggers.sum, "1/s")

    val j = Trace.Jobs
    val mb = 1048576.0
    val cpuS = j.executorCpuNs.get / 1e9
    perRound("spark.jobs", j.jobs.get, "count")
    perRound("spark.stages", j.stages.get, "count")
    perRound("spark.tasks", j.tasks.get, "count")
    perRound("spark.scheduler_delay_s", j.schedulerDelayMs.get / 1e3, "s")
    perRound("spark.executor_run_s", j.executorRunMs.get / 1e3, "s")
    perRound("spark.executor_cpu_s", cpuS, "s")
    metric("spark.cpu_util", if (opWall > 0) cpuS / (opWall * cores) else 0.0, "ratio")
    perRound("spark.gc_s", gcS, "s")
    perRound("spark.shuffle_write_mb", j.shuffleWriteB.get / mb, "MB")
    perRound("spark.shuffle_read_mb", j.shuffleReadB.get / mb, "MB")
    perRound("spark.spill_mb", j.spillB.get / mb, "MB")
    perRound("spark.input_mb", j.inputB.get / mb, "MB")
    perRound("spark.result_mb", j.resultB.get / mb, "MB")
    perRound("spark.driver_gap_s", driverGap(opSpans, j.intervals), "s")
    perRound("spark.plan_analysis_s", Trace.Plans.analysisMs.get / 1e3, "s")
    perRound("spark.plan_optimizer_s", Trace.Plans.optimizerMs.get / 1e3, "s")
    perRound("spark.plan_physical_s", Trace.Plans.physicalMs.get / 1e3, "s")
  }

  /** Seconds of op time during which no Spark job ran. */
  private def driverGap(opSpans: Seq[Trace.Span], jobs: Seq[(Long, Long)]): Double = {
    val sorted = jobs.map { case (s, e) => (s.toDouble, e.toDouble) }.sortBy(_._1)
    // merge overlapping job intervals, then clip the union to each op
    val merged = sorted.foldLeft(List.empty[(Double, Double)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, iv) => iv :: acc
    }
    opSpans.map { op =>
      val busy = merged.map { case (s, e) =>
        math.max(0.0, math.min(e, op.endMs) - math.max(s, op.startMs))
      }.sum
      op.seconds - busy / 1e3
    }.sum
  }
}
