package cdcbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed span: name, wall-clock interval (epoch ms), parent span name
  * and the run it belongs to. Kept in memory, written at the end. */
final case class Span(name: String, startMs: Double, endMs: Double, parent: String, runId: String,
                      attrs: Map[String, Double] = Map.empty) {
  def json: String = {
    val a = attrs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"name":"${Json.esc(name)}","start_ms":${Json.num(startMs)},"end_ms":${Json.num(endMs)},"parent":"${Json.esc(parent)}","run":"$runId","attrs":{$a}}"""
  }
}

final class Tracer(val runId: String) {
  val spans = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq
}

/** Spark counts attached to the traced spans: jobs (with their query and
  * micro-batch id), task run time, JVM GC time, shuffle bytes and spill. */
final class SparkCounts extends SparkListener {
  final case class Job(id: Int, query: Option[String], batch: Option[Long])
  val jobs = new ConcurrentHashMap[Int, Job]()
  val taskRunMs = new AtomicLong()
  val gcMs = new AtomicLong()
  val shuffleWriteBytes = new AtomicLong()
  val spillBytes = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    val query = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    jobs.put(e.jobId, Job(e.jobId, query, batch))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    taskRunMs.addAndGet(m.executorRunTime)
    gcMs.addAndGet(m.jvmGCTime)
    shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def totals: SparkTotals = SparkTotals(jobs.size, taskRunMs.get, gcMs.get, shuffleWriteBytes.get, spillBytes.get)
  def allJobs: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)
}

final case class SparkTotals(jobs: Int, taskRunMs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long) {
  def minus(o: SparkTotals): SparkTotals = SparkTotals(jobs - o.jobs, taskRunMs - o.taskRunMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
  def attrs: Map[String, Double] = Map("jobs" -> jobs.toDouble, "task_run_ms" -> taskRunMs.toDouble,
    "gc_ms" -> gcMs.toDouble, "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble)
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + esc(s) + "\""
}

object Stats {
  /** Nearest-rank percentile (p in 0..1) of unsorted values; 0 when empty. */
  def pct(values: Seq[Double], p: Double): Double =
    if (values.isEmpty) 0.0
    else {
      val s = values.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }
  def median(values: Seq[Double]): Double =
    if (values.isEmpty) 0.0
    else {
      val s = values.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}

/** Box provenance: what a run's numbers must be read next to. */
object Box {
  def loadavg: Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb: Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Exception => -1.0 }

  /** Fixed single-thread integer loop; its seconds depend on box state only. */
  def calibSeconds: Double = {
    def loop(n: Int): Long = {
      var x = 88172645463325252L
      var acc = 0L
      var i = 0
      while (i < n) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += (x & 1023L)
        i += 1
      }
      acc
    }
    loop(20000000) // JIT warm-up
    val t0 = System.nanoTime()
    val sink = loop(150000000)
    val s = (System.nanoTime() - t0) / 1e9
    if (sink == 42L) System.err.print("")
    s
  }
}
