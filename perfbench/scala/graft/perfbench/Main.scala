package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: start the session, run the workload on
  * the generated inputs, check its outputs, and write the run record
  * (metrics, checks, host stamp) and, when traced, the spans.
  *
  * Usage: Main <workload> <inputs.json> <dataDir> <runDir> <seconds>
  *             <traced 0|1> <record.json> <spans.jsonl>
  * `perfbench/run.py` builds, generates the inputs and calls this. The
  * workload `setup` stops once set-up is done (the class-archive run).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputsPath, dataDir, runDir, seconds, tracedArg, recordPath, spansPath) = args
    val traced = tracedArg == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val launchMs = sys.props.get("perfbench.launch_ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

    val spark = session(cpus, runDir)
    try {
      val meter = new Meter
      spark.sparkContext.addSparkListener(meter)
      // Engine warm-up: a JVM's first scan, shuffle and join pay class
      // loading and code generation, which belong to set-up.
      val orders = graft.Tables(spark, dataDir, "orders")
      val customers = graft.Tables(spark, dataDir, "customer")
      orders.join(customers, orders("o_custkey") === customers("c_custkey"))
        .groupBy(customers("c_mktsegment")).count().collect()
      val setupS = (System.currentTimeMillis() - launchMs) / 1e3
      if (workload == "setup") return

      val ctx = new Ctx(spark, dataDir, runDir, Json.read(inputsPath),
        new Trace(spark.sparkContext, traced), meter, seconds.toDouble, cpus)
      val host0 = HostSample.now()
      val gc0 = Meter.gcS
      val out = workload match {
        case "serve" => Serve.run(ctx)
        case "batch" => Batch.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
      val host1 = HostSample.now()
      val gcS = Meter.gcS - gc0

      val record = Record(ctx, out, setupS, gcS, host0, host1)
      Files.write(Paths.get(recordPath), record.getBytes(UTF_8))
      if (traced) Files.write(Paths.get(spansPath), ctx.trace.jsonLines.mkString("", "\n", "\n").getBytes(UTF_8))
    } finally spark.stop()
  }

  /** The session graft.Bench runs, on this host's cores, with every
    * scratch location inside the run's directory.
    */
  private def session(cpus: Int, runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** The run record: end-to-end metrics, per-layer metrics, the headline
  * figures, check results and the host stamp, as one JSON object.
  */
object Record {
  def apply(ctx: Ctx, out: Outcome, setupS: Double, gcS: Double,
            host0: HostSample, host1: HostSample): String = {
    val sc = ctx.spark.sparkContext
    val tr = ctx.trace
    val all = ctx.meter.total(sc, tr.spans.map(_.id.toString))
    val bulkWork = out.bulk.map(ctx.counters)
    val streamWork = out.stream.map(ctx.counters)
    val opsWall = tr.spans.filter(_.parent == -1).map(_.ms).sum / 1e3
    def perOp(f: Counters => Double) =
      if (streamWork.isEmpty) 0.0 else streamWork.map(f).sum / streamWork.size
    val opMs = out.stream.map(_.ms)

    // An operation's CPU: its tasks' executor CPU plus the client thread's,
    // over the first operations every run completes. A slower run does
    // fewer operations, and early ones cost more CPU while the JIT warms,
    // so a time-bounded sample would tie the CPU figures to the wall clock.
    val opCpuMs = out.stream.zip(streamWork).take(Ctx.CpuSampleOps)
      .map { case (s, w) => s.cpuMs + w.cpuS * 1e3 }
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "bulk_cpu_s" -> bulkWork.map(_.cpuS).sum,
      "op_cpu_p50_ms" -> Stats.median(opCpuMs),
      "op_cpu_p90_ms" -> Stats.pct(opCpuMs, 0.9),
      "peak_rss_mb" -> Meter.peakRssMb)

    val compile = tr.spans.filter(_.name == "spark.compile").map(_.ms)
    val layers = out.layers ++ tr.selfSeconds.map { case (l, s) => s"self.${l}_s" -> s } ++ Seq(
      "spark.compile_ms" -> Stats.median(compile),
      "spark.jobs" -> perOp(_.jobs.sum.toDouble),
      "spark.stages" -> perOp(_.stages.sum.toDouble),
      "spark.tasks" -> perOp(_.tasks.sum.toDouble),
      "spark.task_overhead_s" -> perOp(_.overheadS),
      "spark.executor_cpu_s" -> all.cpuS,
      "spark.cores_busy" -> all.runMs.sum / 1e3 / math.max(1e-3, opsWall * ctx.cpus),
      "spark.shuffle_write_mb" -> all.shuffleWrite.sum / 1e6,
      "spark.shuffle_read_mb" -> all.shuffleRead.sum / 1e6,
      "spark.spill_mb" -> all.spill.sum / 1e6,
      "spark.input_rows" -> all.inputRows.sum.toDouble,
      "spark.input_mb" -> all.inputBytes.sum / 1e6,
      "spark.output_mb" -> all.outputBytes.sum / 1e6,
      "jvm.gc_s" -> gcS,
      "trace.overhead_ms" -> tr.bookkeepingNs / 1e6 / math.max(1, out.stream.size + out.bulk.size),
      "trace.op_p50_ms" -> Stats.median(opMs))

    val named = out.named ++ Seq(
      "bulk_s" -> out.bulk.map(_.ms).sum / 1e3,
      "op_p50_ms" -> Stats.median(opMs),
      "op_p90_ms" -> Stats.pct(opMs, 0.9),
      "setup_s" -> setupS,
      "cpu_s" -> all.cpuS,
      "peak_rss_mb" -> Meter.peakRssMb,
      "error_rate" -> ctx.failed.toDouble / math.max(1, ctx.attempted))

    val stamp = Seq(
      "nproc" -> Json.num(ctx.cpus),
      "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1 << 20)),
      "steal_cores" -> Json.num(host0.stealCores(host1)),
      "foreign_cores" -> Json.num(host0.foreignCores(host1)),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION))

    def metrics(m: Iterable[(String, Double)]) =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    Json.obj(Seq(
      "attempted" -> Json.num(ctx.attempted),
      "failed" -> Json.num(ctx.failed),
      "failures" -> Json.arr(ctx.failures.take(50).map(Json.str).toSeq),
      "end_to_end" -> metrics(endToEnd),
      "per_layer" -> metrics(layers),
      "named" -> metrics(named),
      "ops" -> Json.arr(tr.spans.filter(_.parent == -1).map(s => Json.arr(Seq(
        Json.str(s.name), Json.str(s.attrs.getOrElse("kind", s.attrs.getOrElse("job", ""))),
        Json.num(s.ms), Json.num(s.cpuMs))))),
      "host" -> Json.obj(stamp)))
  }
}
