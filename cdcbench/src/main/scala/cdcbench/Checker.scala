package cdcbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Correctness gate: the sink read with plain Spark against the generator's
  * own model.
  *
  *  - Every generated row event must appear exactly once as a `row_status`
  *    cell keyed by (table, row_key, event_id, status).
  *  - The latest value of every (table, row_key, column) — newest cell by
  *    (cell_ts, event_id) — must equal the model's replay of the row events
  *    in log order (log order is commit order in every generated input).
  *
  * `failed` counts missing and duplicated row events plus every generated
  * row event of a row whose latest state differs, capped at `attempted`. */
object Checker {

  final case class Report(attempted: Long, missing: Long, duplicated: Long,
                          badRows: Long, badRowEvents: Long) {
    def failed: Long = math.min(attempted, missing + duplicated + badRowEvents)
    def share: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
    def json: String =
      s"""{"attempted":$attempted,"missing":$missing,"duplicated":$duplicated,"bad_rows":$badRows,"bad_row_events":$badRowEvents}"""
  }

  /** Latest state per (table, row_key): column → value, plus the
    * `row_status` and `_transaction_uuid` cells every row event writes. */
  def model(rows: Iterable[RowEv]): Map[(String, String), Map[String, String]] = {
    val state = mutable.HashMap.empty[(String, String), Map[String, String]]
    rows.toSeq.sortBy(_.eventId).foreach { e =>
      val cur = state.getOrElse((e.table, e.rowKey), Map.empty)
      state((e.table, e.rowKey)) =
        cur ++ e.cells + ("row_status" -> e.status) + ("_transaction_uuid" -> e.txn)
    }
    state.toMap
  }

  def check(spark: SparkSession, sinkDir: String, rows: Array[RowEv]): Report = {
    // one scan; the cells of a benchmark run fit in memory
    val cells = spark.read.parquet(sinkDir)
      .select("table", "row_key", "column", "value", "cell_ts", "event_id").collect()
    val actualEvents = cells.iterator.filter(_.getString(2) == "row_status")
      .map(r => (r.getString(0), r.getString(1), r.getLong(5), r.getString(3)))
      .toSeq.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val latest = cells.groupBy(r => (r.getString(0), r.getString(1))).map { case (k, rs) =>
      k -> rs.groupBy(_.getString(2)).map { case (c, vs) =>
        c -> vs.maxBy(r => (r.getLong(4), r.getLong(5))).getString(3)
      }
    }
    compare(rows, actualEvents, latest)
  }

  def compare(rows: Array[RowEv],
              actualEvents: Map[(String, String, Long, String), Long],
              latest: Map[(String, String), Map[String, String]]): Report = {
    val expected = rows.groupBy(e => (e.table, e.rowKey, e.eventId, e.status))
      .map { case (k, v) => k -> v.length.toLong }
    var missing = 0L
    var duplicated = 0L
    (expected.keySet ++ actualEvents.keySet).foreach { k =>
      val d = actualEvents.getOrElse(k, 0L) - expected.getOrElse(k, 0L)
      if (d < 0) missing -= d else duplicated += d
    }
    val want = model(rows)
    val eventsPerRow = rows.groupBy(e => (e.table, e.rowKey)).map { case (k, v) => k -> v.length.toLong }
    val bad = (want.keySet ++ latest.keySet).filter(k => want.get(k) != latest.get(k))
    Report(rows.length.toLong, missing, duplicated, bad.size.toLong,
      bad.toSeq.map(k => eventsPerRow.getOrElse(k, 1L)).sum)
  }
}
