package cdcbench

import org.apache.spark.sql.SparkSession

/** A named metric value. */
final case class M(name: String, value: Double, unit: String)

/** What a workload run produced: end-to-end metrics, per-layer metrics (traced
  * runs only), the correctness counts and details for the report line. */
final case class Outcome(e2e: Seq[M], layers: Seq[M], attempted: Long, failed: Long,
                         generatorLateMs: Seq[Double], details: Seq[(String, String)])

/** Run state shared by the workloads. */
final class Ctx(val seed: Long, val seconds: Int, val trace: Boolean, val work: String,
                val out: String, val workload: String, var spark: SparkSession) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(s"$workload-$seed-${ProcessHandle.current().pid()}")
  val counts: Option[SparkCounts] = if (trace) Some(new SparkCounts) else None
  counts.foreach(c => spark.sparkContext.addSparkListener(c))
  @volatile private var setupEndMs = 0.0

  /** Progress note on stderr, with seconds since the JVM started. */
  def note(what: String): Unit = System.err.println(f"[cdcbench] +${(System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1fs $what")
  def markSetupEnd(ms: Double): Unit = setupEndMs = ms
  def setupSeconds: Double =
    (setupEndMs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** End-to-end metrics of the last untraced run of this workload in this
    * checkout, to report the tracing overhead against. */
  def previousUntraced: Map[String, Double] = {
    val f = new java.io.File(s"$out/$workload-untraced.json")
    if (!f.exists()) Map.empty
    else "\"([A-Za-z0-9_.]+)\":\\{\"value\":([-0-9.eE]+)".r
      .findAllMatchIn(scala.io.Source.fromFile(f).mkString)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Run `f` on a fresh local[1] session (the single-thread baseline) in
    * place of the local[nproc] one; the run's last Spark work. */
  def serial[T](f: SparkSession => T): T = {
    spark.stop()
    spark = Main.session(1, nproc, work)
    f(spark)
  }
}

object Main {
  val Workloads = Seq("tail_oplog", "stream_raw", "backfill_raw")

  /** Every per-layer metric the traced run reports; a layer that does no
    * work on a workload reports 0. Must match BENCHMARK.json. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "sources.latest_offset_ms" -> "ms", "sources.frontier_call_ms" -> "ms",
    "sources.read_call_ms" -> "ms", "sources.log_bytes" -> "bytes",
    "RawBinlogAdapter.self_s" -> "s", "RawBinlogAdapter.ops_per_event" -> "ratio",
    "TransactionAssembler.state_update_ms" -> "ms", "TransactionAssembler.state_commit_ms" -> "ms",
    "TransactionAssembler.state_rows_max" -> "count", "TransactionAssembler.state_bytes_max" -> "bytes",
    "TransactionAssembler.self_s" -> "s",
    "augment.catalog_self_s" -> "s",
    "augment.apply_ddl_ms" -> "ms", "augment.schema_versions" -> "count",
    "augment.decode_self_s" -> "s",
    "pipeline.add_batch_ms" -> "ms", "pipeline.query_planning_ms" -> "ms",
    "pipeline.jobs_per_batch" -> "count", "pipeline.route_self_s" -> "s",
    "pipeline.route_skew" -> "ratio", "pipeline.shuffle_bytes_per_event" -> "bytes",
    "TimeMachineSink.cells_self_s" -> "s", "TimeMachineSink.write_self_s" -> "s",
    "TimeMachineSink.cells_per_event" -> "ratio", "TimeMachineSink.files_per_batch" -> "count",
    "TimeMachineSink.bytes_per_cell" -> "bytes",
    "sink.validation_self_s" -> "s",
    "checkpoint.wal_commit_ms" -> "ms", "checkpoint.commit_offsets_ms" -> "ms",
    "spark.task_busy_share" -> "ratio", "spark.gc_ms" -> "ms", "spark.spill_bytes" -> "bytes",
    "lag.events" -> "count", "lag.batches" -> "count", "lag.growth_ms" -> "ms",
    "check.failed_share" -> "ratio", "generator_late_p99_ms" -> "ms",
    "trace.prefix_sum_share" -> "ratio", "trace.negative_self_count" -> "count",
    "trace.overhead_lag_p50" -> "ratio",
    "trace.overhead_backfill_eps" -> "ratio", "parallel_speedup" -> "ratio")

  def session(cores: Int, shufflePartitions: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("cdcbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == s"--$name" => v }

  def main(args: Array[String]): Unit = {
    if (args.contains("--selftest")) {
      val work = arg(args, "work").getOrElse(sys.error("--work is required"))
      sys.exit(if (SelfTest.run(work)) 0 else 1)
    }
    val workload = arg(args, "workload").getOrElse(sys.error("--workload is required"))
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = arg(args, "seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "trace").contains("1")
    val work = arg(args, "work").getOrElse(sys.error("--work is required"))
    val out = arg(args, "out").getOrElse(work)

    val loadStart = Box.loadavg
    val calib = Box.calibSeconds
    val ctx = new Ctx(seed, seconds, trace, work, out, workload, session(
      Runtime.getRuntime.availableProcessors(), Runtime.getRuntime.availableProcessors(), work))
    ctx.note("session ready")
    val o = workload match {
      case "tail_oplog" => Streams.run(ctx, Streams.TailOplog)
      case "stream_raw" => Streams.run(ctx, Streams.StreamRaw)
      case _ => Backfill.run(ctx)
    }
    val setupS = ctx.setupSeconds
    val rss = Box.peakRssMb
    val loadEnd = Box.loadavg
    val lateP99 = Stats.pct(o.generatorLateMs, 0.99)
    val failedShare = if (o.attempted == 0) 1.0 else o.failed.toDouble / o.attempted
    // a run whose generator fell behind its schedule measured the generator,
    // not the pipeline: flag it rather than report it as a pipeline figure
    val valid = lateP99 <= 100.0
    val provenance = Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed), "seconds" -> Json.num(seconds),
      "trace" -> Json.num(if (trace) 1 else 0), "nproc" -> Json.num(ctx.nproc),
      "loadavg_start" -> Json.num(loadStart), "loadavg_end" -> Json.num(loadEnd),
      "calib_s" -> Json.num(calib), "spark" -> Json.str(ctx.spark.version),
      "jvm" -> Json.str(System.getProperty("java.runtime.version")),
      "valid" -> (if (valid) "true" else "false"),
      "failed_share" -> Json.num(failedShare))
    val report = Json.obj(provenance ++ o.details)
    println(s"cdcbench-report $report")

    val e2e = o.e2e ++ Seq(M("setup_s", setupS, "s"), M("peak_rss_mb", rss, "MB"))
    val layers = if (!trace) Nil else {
      val got = (o.layers ++ Seq(M("check.failed_share", failedShare, "ratio"),
        M("generator_late_p99_ms", lateP99, "ms"))).map(m => m.name -> m).toMap
      LayerMetrics.map { case (name, unit) => got.getOrElse(name, M(name, 0.0, unit)) }
    }
    val shown = if (trace) layers else e2e
    def metricsJson(ms: Seq[M]) =
      Json.obj(ms.map(m => m.name -> s"""{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)}}"""))
    new java.io.File(out).mkdirs()
    if (!trace) write(s"$out/$workload-untraced.json", metricsJson(e2e))
    else {
      val spans = ctx.tracer.all.map(_.json).mkString("[\n", ",\n", "\n]")
      write(s"$out/$workload-seed$seed-trace.json",
        Json.obj(Seq("report" -> report, "metrics" -> metricsJson(layers), "spans" -> spans)))
      val table = layers.map(m => f"| ${m.name}%-40s | ${Json.num(m.value)}%16s | ${m.unit}%-6s |")
      write(s"$out/$workload-seed$seed-layers.md",
        (s"| layer metric ($workload, seed $seed) | value | unit |" +: "|---|---|---|" +: table)
          .mkString("\n") + "\n")
    }
    ctx.spark.stop()
    ctx.note("done")
    val correct = o.failed == 0
    println(Json.obj(Seq("correct" -> correct.toString, "attempted" -> Json.num(o.attempted),
      "failed" -> Json.num(o.failed), "metrics" -> metricsJson(shown))))
    System.out.flush()
    // stream and scheduler threads may outlive main; the run is complete
    System.exit(0)
  }

  private def write(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s.getBytes("UTF-8"))
}
