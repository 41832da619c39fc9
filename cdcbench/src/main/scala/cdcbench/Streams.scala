package cdcbench

import java.io.{File, FileOutputStream}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.augment.SchemaCatalog
import graft.model.RawEvent
import graft.operators.RawBinlogAdapter
import graft.pipeline.{PipelineConfig, ReplicatorPipeline}
import graft.sources.FileSupplier
import graft.streaming.Op

/** The two streaming workloads. A warm-up chunk of the input is released at
  * once and processed in set-up, so JIT and code generation are warm; then
  * one generator thread releases the rest on a fixed 50 ms tick schedule
  * (open loop): warm-up, then a steady phase of `seconds`, then two bursts,
  * each released at once on a drained query (a reconnect after an outage).
  * Every steady row event carries the scheduled time of its tick; its lag is
  * measured to the end of the micro-batch that wrote it (progress timestamp
  * + triggerExecution, which includes the sink write and the offset commit):
  * the batch that read the input event releasing it from the transaction
  * assembler. */
object Streams {

  /** @param rate       input events per second in warm-up and steady phase
    * @param warmupS    seconds of warm-up at `rate` before measuring
    * @param burst      input events in each burst */
  final case class Spec(lane: String, rate: Int, warmupS: Int, burst: Int, tickMs: Int = 50)

  val TailOplog = Spec("oplog", rate = 1000, warmupS = 4, burst = 4000)
  val StreamRaw = Spec("raw", rate = 1000, warmupS = 4, burst = 4000)
  /** Input events of the warm-up chunk. */
  val WarmEvents = 2000

  final class ProgressLog extends StreamingQueryListener {
    val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = all.add(e.progress)
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** A data-carrying micro-batch: offsets (start, end] for the memory
    * stream, [start, end) lines for the op log, and its commit time. */
  final case class Batch(id: Long, start: Long, end: Long, endMs: Double, p: StreamingQueryProgress)

  /** A source offset; before the first batch the op log is at line 0 and
    * the memory stream at -1. */
  private def offsetOf(json: String, initial: Long): Long =
    if (json == null || json == "null") initial else json.trim.stripPrefix("\"").stripSuffix("\"").toLong

  /** The lane's seeded input: op-log lines (with their ops) or raw events.
    * `big` places the op log's oversize transactions, as in [[Gen.opLog]]. */
  def generate(spec: Spec, seed: Long, minEvents: Int, big: Seq[(Int, Int)]): (Input[_], Array[Op]) = spec.lane match {
    case "oplog" => Gen.opLog(seed, minEvents, ddlEvery = spec.rate * 3, maxAlters = 6, big)
    case _ => (Gen.rawBinlog(seed, minEvents, Seq("orders", "users", "items"), 20000,
      rowsEventsPerTxn = (1, 3), bigShare = 0.0, rotateEvery = 0, altersPerTable = 0), Array.empty)
  }

  /** One query of a lane over its own op log or memory stream, sink and
    * checkpoint. `release(from, until)` appends input events [from, until). */
  final class Lane(ctx: Ctx, spec: Spec, gen: (Input[_], Array[Op]), dir: String) {
    val input: Input[_] = gen._1
    val ops: Array[Op] = gen._2
    val log = s"$dir/op.log"
    val cfg: PipelineConfig = spec.lane match {
      case "oplog" => PipelineConfig(s"$dir/sink", s"$dir/ckpt", partitions = ctx.nproc,
        triggerMs = 1000L, schemaCatalog = Some(new SchemaCatalog(Gen.SchemaName)),
        schemaHistoryDir = Some(s"$dir/history"), validationDir = Some(s"$dir/validation"))
      case _ => PipelineConfig(s"$dir/sink", s"$dir/ckpt", triggerMs = 1000L)
    }
    val rawEvents: Array[RawEvent] = input.events match {
      case a: Array[RawEvent @unchecked] if spec.lane == "raw" => a
      case _ => Array.empty
    }
    // the op log pre-encoded, so a release is one write of a byte range
    private val (bytes, lineStart) =
      if (spec.lane != "oplog") (Array.empty[Byte], Array(0))
      else {
        val ls = input.events.map(l => (l.toString + "\n").getBytes("UTF-8"))
        (ls.flatten, ls.scanLeft(0)(_ + _.length))
      }
    private val mem = {
      implicit val sqlCtx = ctx.spark.sqlContext
      implicit val rawEnc = Encoders.product[RawEvent]
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[RawEvent]
    }
    private var out: FileOutputStream = _

    def start(): StreamingQuery = spec.lane match {
      case "oplog" =>
        new File(dir).mkdirs()
        out = new FileOutputStream(log, true)
        ReplicatorPipeline.start(ctx.spark.readStream.format("graft-oplog").option("path", log)
          .load().as[Op](Encoders.product[Op]), cfg)
      case _ =>
        ReplicatorPipeline.start(RawBinlogAdapter.toOpsStreaming(mem.toDS()), cfg)
    }
    def release(from: Int, until: Int): Unit =
      if (out != null) out.write(bytes, lineStart(from), lineStart(until) - lineStart(from))
      else mem.addData(rawEvents.slice(from, until).toSeq)
    def close(): Unit = if (out != null) out.close()
  }

  def run(ctx: Ctx, spec: Spec): Outcome = {
    val spark = ctx.spark
    val seconds = ctx.seconds
    val q = spec.rate * spec.tickMs / 1000
    val warmTicks = spec.warmupS * 1000 / spec.tickMs
    val nTicks = warmTicks + seconds * 1000 / spec.tickMs
    val Bursts = 2
    // input events [0, W) are the warm-up chunk, tick i releases
    // [W + i * q, W + (i + 1) * q), then come the bursts
    val W = WarmEvents
    val ticksEnd = W + nTicks * q
    val minEvents = ticksEnd + Bursts * spec.burst

    // ---- setup: seeded input ----
    // the warm-up chunk and the steady phase of every seed hold the same
    // oversize transactions, past the assembler's chunk size or not, at the
    // same places
    val steadyFrom = W + warmTicks * q
    val steadyLines = ticksEnd - steadyFrom
    val big = Seq(W / 8 -> (Gen.TxnChunk + Gen.TxnChunk / 5),
      steadyFrom + steadyLines / 4 -> (Gen.TxnChunk * 3 / 2), steadyFrom + steadyLines * 5 / 8 -> 400)
    val gen0 = generate(spec, ctx.seed, minEvents, big)
    val input = gen0._1
    val n = input.events.length
    // burst k holds input events [burstFrom(k), burstFrom(k + 1))
    val burstFrom = (0 to Bursts).map(k => ticksEnd + (n - ticksEnd) * k / Bursts)

    ctx.note("input generated")
    val work = ctx.work
    val lane = new Lane(ctx, spec, gen0, s"$work/run")
    val cfg = lane.cfg
    val log = lane.log
    val rawEvents = lane.rawEvents

    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val query = lane.start()
    // the warm-up chunk carries the query's cold start (code generation,
    // JIT); it also lets the first trigger, which runs at once and off the
    // trigger grid, pass before the schedule starts
    lane.release(0, W)
    query.processAllAvailable()
    ctx.note("warm-up chunk processed")

    // ---- open-loop release on a schedule aligned to the trigger grid ----
    // (processing-time triggers fall on multiples of the interval), so every
    // run sees the same ticks in each micro-batch
    val t0 = (System.currentTimeMillis() / cfg.triggerMs + 1L) * cfg.triggerMs + 25L
    val sched = (i: Int) => t0 + i.toLong * spec.tickMs
    val released = new Array[Double](nTicks)
    val burstLate = new Array[Double](Bursts)
    val countsAt = new Array[Option[SparkTotals]](2)
    val gen = new Thread(() => {
      var i = 0
      while (i < nTicks) {
        val wait = sched(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (i == warmTicks) countsAt(0) = ctx.counts.map(_.totals)
        released(i) = System.currentTimeMillis().toDouble
        lane.release(W + i * q, W + (i + 1) * q)
        i += 1
      }
    }, "cdcbench-generator")
    gen.setDaemon(true)
    gen.start()
    ctx.markSetupEnd(sched(warmTicks).toDouble)
    gen.join()
    countsAt(1) = ctx.counts.map(_.totals)

    val initial = if (spec.lane == "oplog") 0L else -1L
    def batches: Seq[Batch] = progress.all.asScala.toSeq
      .filter(p => p.sources.nonEmpty &&
        offsetOf(p.sources.head.endOffset, initial) > offsetOf(p.sources.head.startOffset, initial))
      .map { p =>
        val s = p.sources.head
        Batch(p.batchId, offsetOf(s.startOffset, initial), offsetOf(s.endOffset, initial),
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
            p.durationMs.get("triggerExecution").doubleValue(), p)
      }.sortBy(_.id)
    def awaitOffset(target: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000L
      while (!batches.exists(_.end >= target) && System.currentTimeMillis() < deadline) {
        query.exception.foreach(e => throw e)
        Thread.sleep(10)
      }
      require(batches.exists(_.end >= target), s"offset $target was not committed within 60 s")
    }
    // offset a batch must reach to hold input event j: op-log line count, or
    // the memory stream's release index (warm-up chunk, ticks, bursts)
    def offsetOfInput(j: Int): Long =
      if (spec.lane == "oplog") j + 1L
      else if (j < W) 0L
      else if (j < ticksEnd) 1L + (j - W) / q
      else 1L + nTicks + burstFrom.lastIndexWhere(_ <= j)
    // each burst lands on a drained, idle query just before a trigger fires
    // (processing-time triggers fall on multiples of the interval), so its
    // catch-up time does not depend on where a running batch happened to be
    awaitOffset(offsetOfInput(ticksEnd - 1))
    ctx.note("steady input committed")
    val burstAt = (0 until Bursts).map { k =>
      val at = ((System.currentTimeMillis() + 200L) / cfg.triggerMs + 1L) * cfg.triggerMs - 60L
      Thread.sleep(math.max(0L, at - System.currentTimeMillis()))
      burstLate(k) = System.currentTimeMillis() - at.toDouble
      lane.release(burstFrom(k), burstFrom(k + 1))
      awaitOffset(offsetOfInput(burstFrom(k + 1) - 1))
      at
    }
    lane.close()
    query.stop()
    spark.streams.removeListener(progress)
    query.exception.foreach(e => throw e)
    val bs = batches
    ctx.note("query stopped")
    bs.foreach(b => System.err.println(s"[cdcbench] batch ${b.id} rows=${b.p.numInputRows} " +
      s"offsets=(${b.start},${b.end}] ms=${b.p.durationMs.asScala.toSeq.sortBy(_._1).mkString(" ")}"))

    // ---- lag per steady-phase row event ----
    val ends = bs.map(_.end).toArray
    def batchIdx(j: Int): Int = {
      val i = java.util.Arrays.binarySearch(ends, offsetOfInput(j))
      if (i >= 0) i else -i - 1
    }
    // row events created in the steady phase whose release is in it too (a
    // transaction that straddles its end commits in the first burst)
    val steadyRows = input.rowInput.indices.filter { i =>
      input.rowInput(i) >= steadyFrom && input.rowRelease(i) < ticksEnd
    }
    val created = steadyRows.map(input.rowInput)
    val lags = steadyRows.map(i => bs(batchIdx(input.rowRelease(i))).endMs - sched((input.rowInput(i) - W) / q))
    val steadyBatches = steadyRows.map(i => batchIdx(input.rowRelease(i))).distinct.sorted.map(bs)
    val ticksPerS = 1000 / spec.tickMs
    val firstSec = created.indices.filter(i => created(i) < steadyFrom + ticksPerS * q).map(lags)
    val lastSec = created.indices.filter(i => created(i) >= ticksEnd - ticksPerS * q).map(lags)
    val catchupEps = (0 until Bursts).map { k =>
      (burstFrom(k + 1) - burstFrom(k)) / ((bs(batchIdx(burstFrom(k + 1) - 1)).endMs - burstAt(k)) / 1000.0)
    }
    val late = (warmTicks until nTicks).map(i => released(i) - sched(i)) ++ burstLate

    // ---- correctness of the streamed sink ----
    val rep = Checker.check(spark, cfg.sinkDir, input.rows)
    ctx.note("checked")

    val e2e = Seq(
      M("lag_p50_ms", Stats.pct(lags.toSeq, 0.50), "ms"),
      M("lag_p95_ms", Stats.pct(lags.toSeq, 0.95), "ms"),
      M("catchup_eps", Stats.median(catchupEps), "events/s"),
      // all-at-once throughput: on a stream that is the bursts' catch-up
      M("backfill_eps", Stats.median(catchupEps), "events/s"))

    val details = Seq(
      "rate_events_per_s" -> Json.num(spec.rate),
      "tick_ms" -> Json.num(spec.tickMs),
      "warmup_s" -> Json.num(spec.warmupS),
      "steady_s" -> Json.num(seconds),
      "input_events" -> Json.num(n),
      "row_events" -> Json.num(input.rows.length),
      "burst_events" -> Json.num(burstFrom(1) - burstFrom(0)),
      "lag_events" -> Json.num(lags.length),
      "lag_batches" -> Json.num(steadyBatches.length),
      "batches" -> Json.num(bs.length),
      "lag_first_second_ms" -> Json.num(Stats.median(firstSec)),
      "lag_last_second_ms" -> Json.num(Stats.median(lastSec)),
      "catchup_eps" -> catchupEps.map(Json.num).mkString("[", ",", "]"),
      "generator_late_p99_ms" -> Json.num(Stats.pct(late, 0.99)),
      "input_digest" -> Json.str(input.digest),
      "check" -> rep.json)

    val layers: Seq[M] = if (!ctx.trace) Nil else {
      def dur(b: Batch, k: String): Double =
        Option(b.p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
      def p50(k: String) = Stats.median(steadyBatches.map(dur(_, k)).toSeq)
      // stateful operators: the assembler is downstream of the supplier, so
      // it is listed first (the raw lane's supplier, the second one, is in
      // the batch spans)
      def op(b: Batch, i: Int) = b.p.stateOperators.lift(i)
      val asm = 0
      def opStat(i: Int, f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
        steadyBatches.flatMap(op(_, i)).map(f).toSeq
      val counts = ctx.counts.get
      val jobs = counts.allJobs.filter(_.query.contains(query.id.toString))
      val jobsPerBatch = Stats.median(steadyBatches.map(b => jobs.count(_.batch.contains(b.id)).toDouble).toSeq)
      val tot = (for (a <- countsAt(0); b <- countsAt(1)) yield b.minus(a)).get
      // one span per micro-batch under the run's span: the durationMs split,
      // the stateful operators and the batch's Spark jobs
      ctx.tracer.add(Span("stream.steady", sched(warmTicks).toDouble, steadyBatches.last.endMs, "",
        ctx.tracer.runId, tot.attrs))
      bs.foreach { b =>
        val trigger = dur(b, "triggerExecution")
        val ops = b.p.stateOperators.zipWithIndex.flatMap { case (o, i) =>
          Seq(s"state$i.update_ms" -> o.allUpdatesTimeMs.toDouble, s"state$i.commit_ms" -> o.commitTimeMs.toDouble,
            s"state$i.rows" -> o.numRowsTotal.toDouble, s"state$i.bytes" -> o.memoryUsedBytes.toDouble)
        }
        ctx.tracer.add(Span(s"batch-${b.id}", b.endMs - trigger, b.endMs, "stream.steady", ctx.tracer.runId,
          b.p.durationMs.asScala.map { case (k, v) => s"$k.ms" -> v.doubleValue() }.toMap ++ ops ++
            Map("input_rows" -> b.p.numInputRows.toDouble,
              "jobs" -> jobs.count(_.batch.contains(b.id)).toDouble)))
      }
      val steadyWallS = (sched(nTicks) - sched(warmTicks)) / 1000.0
      val steadyInput = (nTicks - warmTicks) * q
      val (frontierMs, readMs, logBytes) =
        if (spec.lane != "oplog") (0.0, 0.0, 0.0)
        else {
          val last = steadyBatches.last
          val fr = (1 to 5).map(_ => timed(FileSupplier.frontier(log))._2 * 1000)
          val rd = (1 to 3).map(_ => timed {
            val it = FileSupplier.read(log, last.start, last.end); var c = 0L
            while (it.hasNext) { it.next(); c += 1 }; c
          }._2 * 1000)
          (Stats.median(fr), Stats.median(rd), new File(log).length().toDouble)
        }
      val sinkFiles = Files.parquet(cfg.sinkDir)
      val cells = spark.read.parquet(cfg.sinkDir).count().toDouble
      val skew = Layers.routeSkew(spark, if (spec.lane == "oplog")
        spark.createDataset(lane.ops.toSeq)(Encoders.product[Op])
        else RawBinlogAdapter.toOps(spark.createDataset(rawEvents.toSeq)(Encoders.product[RawEvent])), cfg)
      spark.catalog.clearCache()
      val prev = ctx.previousUntraced
      Seq(
        M("sources.latest_offset_ms", p50("latestOffset"), "ms"),
        M("sources.frontier_call_ms", frontierMs, "ms"),
        M("sources.read_call_ms", readMs, "ms"),
        M("sources.log_bytes", logBytes, "bytes"),
        M("TransactionAssembler.state_update_ms", Stats.median(opStat(asm, _.allUpdatesTimeMs.toDouble)), "ms"),
        M("TransactionAssembler.state_commit_ms", Stats.median(opStat(asm, _.commitTimeMs.toDouble)), "ms"),
        M("TransactionAssembler.state_rows_max", (0.0 +: opStat(asm, _.numRowsTotal.toDouble)).max, "count"),
        M("TransactionAssembler.state_bytes_max", (0.0 +: opStat(asm, _.memoryUsedBytes.toDouble)).max, "bytes"),
        M("pipeline.add_batch_ms", p50("addBatch"), "ms"),
        M("pipeline.query_planning_ms", p50("queryPlanning"), "ms"),
        M("pipeline.jobs_per_batch", jobsPerBatch, "count"),
        M("pipeline.route_skew", skew, "ratio"),
        M("pipeline.shuffle_bytes_per_event", tot.shuffleWriteBytes.toDouble / steadyInput, "bytes"),
        M("checkpoint.wal_commit_ms", p50("walCommit"), "ms"),
        M("checkpoint.commit_offsets_ms", p50("commitOffsets"), "ms"),
        M("TimeMachineSink.cells_per_event", cells / input.rows.length, "ratio"),
        M("TimeMachineSink.files_per_batch", sinkFiles.length.toDouble / bs.length, "count"),
        M("TimeMachineSink.bytes_per_cell", sinkFiles.map(_.length()).sum / math.max(1.0, cells), "bytes"),
        M("spark.task_busy_share", tot.taskRunMs / (steadyWallS * 1000.0 * ctx.nproc), "ratio"),
        M("spark.gc_ms", tot.gcMs.toDouble, "ms"),
        M("spark.spill_bytes", tot.spillBytes.toDouble, "bytes"),
        M("lag.events", lags.length.toDouble, "count"),
        M("lag.batches", steadyBatches.length.toDouble, "count"),
        M("lag.growth_ms", Stats.median(lastSec) - Stats.median(firstSec), "ms"),
        M("trace.overhead_lag_p50", prev.get("lag_p50_ms").map(u => e2e.head.value / u - 1).getOrElse(0.0), "ratio"),
        M("trace.overhead_backfill_eps", prev.get("backfill_eps").map(u => e2e(3).value / u - 1).getOrElse(0.0), "ratio"))
    }
    Outcome(e2e, layers, rep.attempted, rep.failed, late, details)
  }

  def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }
}
