package cdcbench

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.augment.{RowDecoder, SchemaCatalog}
import graft.model.{RawEvent, RawEventType => RT}
import graft.operators.RawBinlogAdapter
import graft.pipeline.{PipelineConfig, ReplicatorPipeline}
import graft.sink.Sinks
import graft.streaming.{StampedOp, TimeMachineSink}

/** `backfill_raw`: a seeded raw binlog (several files through ROTATE, 7
  * tables with a CREATE and several ALTERs each) written to parquet during
  * setup, then replayed by `RawBinlogAdapter.toOps` + `runBatch` with the
  * catalog, versioned decode, history and validation on — repeatedly until
  * `seconds` have passed, each pass into fresh directories with a fresh
  * catalog. */
object Backfill {
  val Tables: Seq[String] = Seq("orders", "users", "items", "payments", "carts", "shipments", "reviews")
  val FixtureEvents = 30000

  def cfgFor(dir: String, nproc: Int): PipelineConfig =
    PipelineConfig(s"$dir/sink", s"$dir/ckpt", partitions = nproc,
      schemaCatalog = Some(new SchemaCatalog(Gen.SchemaName)),
      schemaHistoryDir = Some(s"$dir/history"), validationDir = Some(s"$dir/validation"),
      decodeWithCatalog = true)

  def generate(seed: Long): Input[RawEvent] =
    Gen.rawBinlog(seed, FixtureEvents, Tables, 5000, rowsEventsPerTxn = (1, 3),
      bigShare = 0.01, rotateEvery = 12000, altersPerTable = 4)

  private def writeFixture(spark: SparkSession, events: Array[RawEvent], dir: String): Dataset[RawEvent] = {
    implicit val enc = Encoders.product[RawEvent]
    spark.createDataset(spark.sparkContext.parallelize(events.toSeq, 4)).write.parquet(dir)
    spark.read.parquet(dir).as[RawEvent]
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One full pass: the timed unit of the workload. */
  def pass(raw: Dataset[RawEvent], cfg: PipelineConfig): Double = {
    val t = System.nanoTime()
    ReplicatorPipeline.runBatch(RawBinlogAdapter.toOps(raw), cfg)
    val s = (System.nanoTime() - t) / 1e9
    raw.sparkSession.catalog.clearCache()
    s
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val input = generate(ctx.seed)
    ctx.note("input generated")
    val raw = writeFixture(spark, input.events, s"${ctx.work}/fixture")
    val n = input.events.length
    ctx.note("fixture written")
    pass(raw, cfgFor(s"${ctx.work}/warm", ctx.nproc)) // warm-up, part of set-up
    ctx.note("warm-up pass done")
    ctx.markSetupEnd(System.currentTimeMillis().toDouble)

    val t0 = System.nanoTime()
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastDir = ""
    var lastStart = 0.0
    var before: Option[SparkTotals] = None
    // passes until `seconds` have passed, at least two: the first still runs
    // ~15% slower while the JIT settles, so the metrics are over the passes
    // after it; a traced run times two passes and spends the rest of its
    // budget on the spans
    while (times.length < 2 || (!ctx.trace && (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
      if (lastDir.nonEmpty) Files.delete(lastDir)
      lastDir = s"${ctx.work}/pass-${times.length}"
      lastStart = System.currentTimeMillis().toDouble
      before = ctx.counts.map(_.totals)
      times += pass(raw, cfgFor(lastDir, ctx.nproc))
    }
    val timed = times.tail.toSeq
    val lastCfg = cfgFor(lastDir, ctx.nproc)
    val rep = Checker.check(spark, lastCfg.sinkDir, input.rows)
    ctx.note("checked")
    val median = Stats.median(timed)
    val eps = n / median
    val e2e = Seq(
      M("lag_p50_ms", median * 1000, "ms"),
      M("lag_p95_ms", Stats.pct(timed, 0.95) * 1000, "ms"),
      M("catchup_eps", eps, "events/s"),
      M("backfill_eps", eps, "events/s"))
    val details = Seq(
      "fixture_events" -> Json.num(n),
      "row_events" -> Json.num(input.rows.length),
      "binlog_files" -> Json.num(input.events.map(_.file).distinct.length),
      "passes_s" -> times.map(Json.num).mkString("[", ",", "]"),
      "input_digest" -> Json.str(input.digest),
      "check" -> rep.json)

    val layers = if (!ctx.trace) Nil else {
      val tot = ctx.counts.get.totals.minus(before.get)
      ctx.tracer.add(Span("backfill.pass", lastStart, lastStart + median * 1000, "", ctx.tracer.runId, tot.attrs))
      traced(ctx, raw, input, median, tot, lastCfg)
    }
    Outcome(e2e, layers, rep.attempted, rep.failed, Nil, details)
  }

  /** Prefix spans: prefix k runs the first k stages of `toOps` + `runBatch`
    * and forces the last one into a noop sink (from the `write` prefix on,
    * the sink is written for real, and the last prefix adds the validation
    * sample and its write); a stage's self time is its prefix minus the
    * previous prefix. */
  def prefixes(ctx: Ctx, raw: Dataset[RawEvent], dir: String): Seq[(String, Double)] = {
    val spark = ctx.spark
    val nproc = ctx.nproc
    implicit val stEnc = Encoders.product[StampedOp]
    def stages(upTo: Int): Unit = {
      val cfg = cfgFor(dir, nproc)
      val cat = cfg.schemaCatalog.get
      val ops = RawBinlogAdapter.toOps(raw)
      if (upTo == 1) return noop(ops.toDF())
      val stamped = ReplicatorPipeline.transform(ops, cfg)
      if (upTo == 2) return noop(stamped.toDF())
      val ddls = stamped.filter(_.kind == "DDL").collect().sortBy(_.eventId)
      ddls.foreach(d => cat.applyDdl(d.after.getOrElse("ddl", ""), d.commitTsMs))
      if (ddls.nonEmpty) cat.historyDf(spark).write.mode("overwrite").parquet(cfg.schemaHistoryDir.get)
      val rows = stamped.filter(_.kind != "DDL").toDF()
      if (upTo == 3) return noop(rows)
      val routed = ReplicatorPipeline.route(rows, cfg)
      if (upTo == 4) return noop(routed)
      val decoded = RowDecoder.decodeAllTablesVersioned(routed, col("commitTsMs"), cat)
      if (upTo == 5) return noop(decoded)
      if (upTo == 6) return noop(TimeMachineSink.organize(TimeMachineSink.mutationCells(decoded)))
      TimeMachineSink.write(decoded, cfg.sinkDir)
      if (upTo == 8) Sinks.validationSample(decoded, cfg.validationSampleN, "rowKey")
        .write.mode("append").parquet(cfg.validationDir.get)
    }
    val names = Seq("RawBinlogAdapter.toOps", "TransactionAssembler.transform", "augment.catalog",
      "pipeline.route", "augment.decode", "TimeMachineSink.cells", "TimeMachineSink.write", "sink.validation")
    names.zipWithIndex.map { case (name, i) =>
      Files.delete(dir)
      val t = System.nanoTime()
      stages(i + 1)
      val s = (System.nanoTime() - t) / 1e9
      spark.catalog.clearCache()
      ctx.note(f"prefix $name $s%.2fs")
      name -> s
    }
  }

  /** Per-layer metrics of a traced run, whose timed pass took `passS` and
    * `tot` in Spark counts. */
  private def traced(ctx: Ctx, raw: Dataset[RawEvent], input: Input[RawEvent], passS: Double,
                     tot: SparkTotals, lastCfg: PipelineConfig): Seq[M] = {
    val spark = ctx.spark
    val n = input.events.length
    var prev = 0.0
    var parentEnd = 0.0
    val self = prefixes(ctx, raw, s"${ctx.work}/prefix").map { case (name, s) =>
      val d = s - prev
      ctx.tracer.add(Span(name, parentEnd, parentEnd + d * 1000, "backfill.prefix", ctx.tracer.runId,
        Map("prefix_s" -> s, "self_s" -> d)))
      parentEnd += d * 1000
      prev = s
      name -> d
    }.toMap

    // DDL list of the run replayed on a fresh catalog
    val ddls = input.events.filter(e => e.code == RT.QUERY && e.sql.exists(_.toUpperCase.matches("\\s*(CREATE|ALTER).*")))
      .map(e => (e.sql.get, e.tsMs))
    val applyMs = Stats.median((1 to 9).map { _ =>
      val cat = new SchemaCatalog(Gen.SchemaName)
      Streams.timed(ddls.foreach { case (sql, ts) => cat.applyDdl(sql, ts) })._2 * 1000
    })
    val cat = new SchemaCatalog(Gen.SchemaName)
    ddls.foreach { case (sql, ts) => cat.applyDdl(sql, ts) }
    val versions = cat.tables.map(t => cat.versionsOf(t).length).sum

    val opsCount = RawBinlogAdapter.toOps(raw).count().toDouble
    spark.catalog.clearCache()
    val skew = Layers.routeSkew(spark, RawBinlogAdapter.toOps(raw), lastCfg)
    spark.catalog.clearCache()
    val files = Files.parquet(lastCfg.sinkDir)
    val cells = spark.read.parquet(lastCfg.sinkDir).count().toDouble

    // single-thread baseline: the same pass at local[1]
    val serialS = ctx.serial { s1 =>
      val raw1 = s1.read.parquet(s"${ctx.work}/fixture").as[RawEvent](Encoders.product[RawEvent])
      pass(raw1, cfgFor(s"${ctx.work}/serial", ctx.nproc))
    }

    Seq(
      M("RawBinlogAdapter.self_s", self("RawBinlogAdapter.toOps"), "s"),
      M("RawBinlogAdapter.ops_per_event", opsCount / n, "ratio"),
      M("TransactionAssembler.self_s", self("TransactionAssembler.transform"), "s"),
      M("augment.catalog_self_s", self("augment.catalog"), "s"),
      M("augment.apply_ddl_ms", applyMs, "ms"),
      M("augment.schema_versions", versions.toDouble, "count"),
      M("augment.decode_self_s", self("augment.decode"), "s"),
      M("pipeline.route_self_s", self("pipeline.route"), "s"),
      M("pipeline.route_skew", skew, "ratio"),
      M("pipeline.jobs_per_batch", tot.jobs.toDouble, "count"),
      M("pipeline.shuffle_bytes_per_event", tot.shuffleWriteBytes.toDouble / n, "bytes"),
      M("TimeMachineSink.cells_self_s", self("TimeMachineSink.cells"), "s"),
      M("TimeMachineSink.write_self_s", self("TimeMachineSink.write"), "s"),
      M("TimeMachineSink.cells_per_event", cells / input.rows.length, "ratio"),
      M("TimeMachineSink.files_per_batch", files.length.toDouble, "count"),
      M("TimeMachineSink.bytes_per_cell", files.map(_.length()).sum / math.max(1.0, cells), "bytes"),
      M("sink.validation_self_s", self("sink.validation"), "s"),
      M("spark.task_busy_share", tot.taskRunMs / (passS * 1000.0 * ctx.nproc), "ratio"),
      M("spark.gc_ms", tot.gcMs.toDouble, "ms"),
      M("spark.spill_bytes", tot.spillBytes.toDouble, "bytes"),
      // self times that read negative would cancel inflated ones in a plain
      // sum: only the positive ones count, and the negative ones are counted
      M("trace.prefix_sum_share", self.values.filter(_ > 0).sum / passS, "ratio"),
      M("trace.negative_self_count", self.values.count(_ < 0).toDouble, "count"),
      M("trace.overhead_backfill_eps", ctx.previousUntraced.get("backfill_eps")
        .map(u => n / passS / u - 1).getOrElse(0.0), "ratio"),
      M("parallel_speedup", serialS / passS, "ratio"))
  }
}

object Layers {
  /** max ÷ mean rows per routed partition of the workload's stamped rows. */
  def routeSkew(spark: SparkSession, ops: Dataset[graft.streaming.Op], cfg: PipelineConfig): Double = {
    implicit val stEnc = Encoders.product[StampedOp]
    val routed = ReplicatorPipeline.route(
      ReplicatorPipeline.transform(ops, cfg).filter(_.kind != "DDL").toDF(), cfg)
    val perPart = routed.groupBy(spark_partition_id().as("p")).count().collect().map(_.getLong(1).toDouble)
    val parts = math.max(perPart.length, cfg.partitions)
    if (perPart.isEmpty) 0.0 else perPart.max / (perPart.sum / parts)
  }
}

object Files {
  def parquet(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }
  def delete(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new java.io.File(dir))
  }
}
