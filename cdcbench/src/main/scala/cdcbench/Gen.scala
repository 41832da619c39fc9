package cdcbench

import scala.collection.mutable
import scala.util.Random

import graft.model.{RawEvent, RowImage, RawEventType => RT}
import graft.pipeline.PipelineConfig
import graft.sources.OpLogCodec
import graft.streaming.Op

/** One generated row event as the correctness model sees it: the sink must
  * hold exactly one `row_status` cell for it, and `cells` are the data
  * columns it writes (INSERT: the whole image; UPDATE: the columns whose
  * value changed; DELETE: none). */
final case class RowEv(table: String, rowKey: String, eventId: Long, status: String,
                       txn: String, cells: Map[String, String])

/** A workload's generated input in log order. `rowInput(i)` is the index of
  * the input event that carries row event `i`; `rowRelease(i)` is the index
  * of the input event whose arrival makes the transaction assembler emit it
  * (its transaction's commit, or the row that fills a chunk of
  * [[Gen.TxnChunk]] buffered rows), so a row event maps to the micro-batch
  * that wrote it. */
final class Input[E](val events: Array[E], val rows: Array[RowEv], val rowInput: Array[Int],
                     val rowRelease: Array[Int]) {
  /** Digest of the input as serialized text: the same seed must give the
    * same bytes. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    events.foreach(e => md.update((e.toString + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Zipf(s) over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(r: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Source-database simulation shared by the generators: live rows per
  * table, Zipf-hot keys, and the schema each image must follow. Every row
  * image is FULL (all current columns), as with `binlog_row_image=FULL`. */
final class Db(r: Random, tableNames: Seq[String], keys: Int, zipfS: Double) {
  val columns: mutable.LinkedHashMap[String, Vector[String]] =
    mutable.LinkedHashMap(tableNames.map(t => t -> Vector("id", "a", "b", "c")): _*)
  private val live = tableNames.map(t => t -> mutable.HashMap.empty[Int, Map[String, String]]).toMap
  private val zipf = new Zipf(keys, zipfS)
  private var added = 0
  val tables: Seq[String] = tableNames

  def createDdl(t: String): String =
    s"CREATE TABLE $t (id int NOT NULL, a int, b varchar(32), c bigint, PRIMARY KEY (id))"

  private def value(col: String): String = col match {
    case "a" => r.nextInt(1000000).toString
    case "c" => r.nextLong().abs.toString
    case _ =>
      val cs = new Array[Char](8)
      var i = 0
      while (i < 8) { cs(i) = ('a' + r.nextInt(26)).toChar; i += 1 }
      new String(cs)
  }

  private def row(t: String, key: Int): Map[String, String] =
    columns(t).map(c => c -> (if (c == "id") key.toString else value(c))).toMap

  /** ALTER TABLE … ADD COLUMN: existing rows take the column's default. */
  def addColumn(t: String): String = {
    added += 1
    val c = s"x$added"
    columns(t) = columns(t) :+ c
    live(t).mapValuesInPlace((_, m) => m + (c -> "d"))
    s"ALTER TABLE $t ADD COLUMN $c varchar(32) DEFAULT 'd'"
  }

  /** ALTER TABLE … DROP COLUMN of the newest non-key column. */
  def dropColumn(t: String): Option[String] =
    columns(t).filterNot(Set("id", "a")).lastOption.map { c =>
      columns(t) = columns(t).filterNot(_ == c)
      live(t).mapValuesInPlace((_, m) => m - c)
      s"ALTER TABLE $t DROP COLUMN $c"
    }

  def hotKey(): Int = zipf.sample(r)

  /** One mutation of `key`: INSERT when the row is absent, else an UPDATE
    * of one or two columns (85%) or a DELETE. Returns (kind, before, after,
    * cells written). */
  def mutate(t: String, key: Int): (String, Map[String, String], Map[String, String], Map[String, String]) =
    live(t).get(key) match {
      case None =>
        val after = row(t, key)
        live(t)(key) = after
        ("INSERT", Map.empty, after, after)
      case Some(cur) if r.nextDouble() < 0.85 =>
        val cands = columns(t).filterNot(_ == "id")
        val n = 1 + r.nextInt(2)
        val changed = (0 until n).map(_ => cands(r.nextInt(cands.length))).distinct
        val after = cur ++ changed.map(c => c -> value(c))
        live(t)(key) = after
        ("UPDATE", cur, after, after.filter { case (k, v) => !cur.get(k).contains(v) })
      case Some(cur) =>
        live(t).remove(key)
        ("DELETE", cur, Map.empty, Map.empty)
    }
}

/** Heavy-tailed transaction sizes: mostly 1–10 rows, some tens, a few
  * hundreds to thousands (past the assembler's 1000-row chunk limit). */
object TxnSizes {
  def apply(r: Random, bigShare: Double): Int = {
    val u = r.nextDouble()
    if (u < bigShare) 300 + r.nextInt(2700)
    else if (u < bigShare + 0.05) 11 + r.nextInt(90)
    else 1 + math.min(9, (-math.log(1 - r.nextDouble()) * 2.5).toInt)
  }
}

/** Tracks the rows the assembler still buffers for the open transaction:
  * they are released together when a chunk fills or the transaction commits. */
private final class Pending(rowInput: mutable.ArrayBuffer[Int], release: mutable.ArrayBuffer[Int]) {
  private val open = mutable.ArrayBuffer.empty[Int]
  /** A row carried by input event `at`. */
  def row(at: Int): Unit = {
    open += rowInput.length
    rowInput += at
    release += -1
    if (open.length == Gen.TxnChunk) flush(at)
  }
  /** Input event `at` releases every buffered row. */
  def flush(at: Int): Unit = { open.foreach(i => release(i) = at); open.clear() }
}

object Gen {
  val SchemaName = "db"
  /** Rows the assembler buffers before a chunked partial emit. */
  val TxnChunk: Int = PipelineConfig("", "").txnSizeLimit
  private def uuid(r: Random): String =
    new java.util.UUID(r.nextLong(), r.nextLong()).toString

  /** `tail_oplog` input: op-log lines (BEGIN, rows, COMMIT, DDL) over 4
    * tables, heavy-tailed transaction sizes, a rare ADD COLUMN. Each
    * `(line, rows)` of `big` places a transaction of that many row draws at
    * the first transaction boundary from `line` on, so every seed has the
    * same oversize transactions in the same place. Event ids are line
    * numbers and timestamps strictly increase with them, so log order is
    * commit order. */
  def opLog(seed: Long, minEvents: Int, ddlEvery: Int, maxAlters: Int,
            big: Seq[(Int, Int)]): (Input[String], Array[Op]) = {
    val r = new Random(seed)
    val db = new Db(r, Seq("orders", "users", "items", "payments"), 20000, 1.1)
    val ops = mutable.ArrayBuffer.empty[Op]
    val rows = mutable.ArrayBuffer.empty[RowEv]
    val rowInput = mutable.ArrayBuffer.empty[Int]
    val release = mutable.ArrayBuffer.empty[Int]
    val pending = new Pending(rowInput, release)
    var bigLeft = big.sortBy(_._1).toList
    val baseTs = 1700000000000L
    def emit(kind: String, txn: String, table: String, key: String,
             before: Map[String, String], after: Map[String, String]): Unit = {
      val id = ops.length.toLong
      ops += Op(kind, txn, id, id, baseTs + id, table, key, before, after)
    }
    db.tables.foreach(t => emit("DDL", s"ddl-$t", t, "", Map.empty, Map("ddl" -> db.createDdl(t))))
    var txnNo = 0
    var alters = 0
    var nextDdl = ddlEvery
    while (ops.length < minEvents) {
      if (ops.length >= nextDdl && alters < maxAlters) {
        val t = db.tables(r.nextInt(db.tables.length))
        emit("DDL", s"ddl-a$alters", t, "", Map.empty, Map("ddl" -> db.addColumn(t)))
        alters += 1
        nextDdl += ddlEvery
      }
      txnNo += 1
      val txn = s"t$seed-$txnNo"
      val size = bigLeft match {
        case (at, n) :: rest if ops.length >= at => bigLeft = rest; n
        case _ => TxnSizes(r, 0.0)
      }
      emit("BEGIN", txn, "", "", Map.empty, Map.empty)
      // each key at most once per transaction, so version order inside a
      // transaction never rests on the sink's per-transaction version cap
      val used = mutable.HashSet.empty[(String, Int)]
      var i = 0
      while (i < size) {
        val t = db.tables(r.nextInt(db.tables.length))
        val k = if (size > 10) r.nextInt(20000) else db.hotKey()
        if (used.add((t, k))) {
          val (kind, before, after, cells) = db.mutate(t, k)
          pending.row(ops.length)
          rows += RowEv(t, k.toString, ops.length.toLong, kind.take(1), txn, cells)
          emit(kind, txn, t, k.toString, before, after)
        }
        i += 1
      }
      pending.flush(ops.length)
      emit("COMMIT", txn, "", "", Map.empty, Map.empty)
    }
    val lines = ops.map(o => OpLogCodec.encode(o.kind, o.txnId, o.xxid, o.eventId, o.tsMs,
      o.table, o.rowKey, o.before, o.after)).toArray
    (new Input(lines, rows.toArray, rowInput.toArray, release.toArray), ops.toArray)
  }

  /** Raw binlog of one server: GTID, then per rows event its TABLE_MAP and
    * a WRITE/UPDATE/DELETE_ROWS event with 1–2 rows of distinct keys, then
    * XID. DDL arrives as GTID + QUERY. A ROTATE every `rotateEvery` events
    * starts the next binlog file. `alterPlan(t)` is how many ALTERs each
    * table receives over the log. */
  def rawBinlog(seed: Long, minEvents: Int, tables: Seq[String], keys: Int,
                rowsEventsPerTxn: (Int, Int), bigShare: Double,
                rotateEvery: Int, altersPerTable: Int): Input[RawEvent] = {
    val r = new Random(seed)
    val db = new Db(r, tables, keys, 1.1)
    val server = 1L
    val srvUuid = uuid(r)
    val events = mutable.ArrayBuffer.empty[RawEvent]
    val rows = mutable.ArrayBuffer.empty[RowEv]
    val rowInput = mutable.ArrayBuffer.empty[Int]
    val release = mutable.ArrayBuffer.empty[Int]
    val pending = new Pending(rowInput, release)
    val baseTs = 1700000000000L
    var fileNo = 1
    var pos = 4L
    var sinceRotate = 0
    var gno = 0L
    def file = f"mysql-bin.$fileNo%06d"
    def ordinal: Long = fileNo.toLong * (1L << 40) + pos
    def add(e: RawEvent): Unit = { events += e; pos += 100 + r.nextInt(200); sinceRotate += 1 }
    def ts = baseTs + events.length
    def header(code: Int) = RawEvent(code, server, file, pos, ts)
    def rotateIfDue(): Unit = if (rotateEvery > 0 && sinceRotate >= rotateEvery) {
      fileNo += 1
      add(header(RT.ROTATE).copy(nextFile = Some(f"mysql-bin.$fileNo%06d")))
      pos = 4L
      sinceRotate = 0
      add(header(RT.FORMAT_DESCRIPTION))
    }
    def gtid(): String = { gno += 1; s"$srvUuid:$gno" }
    def ddl(sql: String): Unit = {
      add(header(RT.GTID).copy(gtid = Some(gtid())))
      add(header(RT.QUERY).copy(sql = Some(sql)))
    }
    val tableIds = tables.zipWithIndex.map { case (t, i) => t -> (100L + i) }.toMap
    add(header(RT.FORMAT_DESCRIPTION))
    tables.foreach(t => ddl(db.createDdl(t)))
    // ALTERs spread evenly over the log: three ADD COLUMNs, then a DROP
    val alterSlots = tables.flatMap(t => Seq.fill(altersPerTable)(t))
    val alterEvery = if (alterSlots.isEmpty) Int.MaxValue else minEvents / (alterSlots.length + 1)
    var alterIdx = 0
    var alterCount = Map.empty[String, Int]
    while (events.length < minEvents) {
      rotateIfDue()
      if (alterIdx < alterSlots.length && events.length >= alterEvery * (alterIdx + 1)) {
        val t = alterSlots(r.nextInt(alterSlots.length))
        val n = alterCount.getOrElse(t, 0)
        alterCount += t -> (n + 1)
        val sql = if (n % 4 == 3) db.dropColumn(t).getOrElse(db.addColumn(t)) else db.addColumn(t)
        ddl(sql)
        alterIdx += 1
      }
      val g = gtid()
      add(header(RT.GTID).copy(gtid = Some(g)))
      val size = if (bigShare > 0) TxnSizes(r, bigShare) else 1
      val nEvents =
        if (bigShare > 0) math.max(1, (size + 1) / 2)
        else rowsEventsPerTxn._1 + r.nextInt(rowsEventsPerTxn._2 - rowsEventsPerTxn._1 + 1)
      var e = 0
      while (e < nEvents) {
        val t = tables(r.nextInt(tables.length))
        val tid = tableIds(t)
        add(header(RT.TABLE_MAP).copy(tableId = Some(tid), db = Some(SchemaName),
          table = Some(t), pkColumns = Seq("id")))
        val nRows = 1 + r.nextInt(2)
        val ks = Seq.fill(nRows)(if (size > 10) r.nextInt(keys) else db.hotKey()).distinct
        // one rows event per kind: mutate each key, then group by kind
        val muts = ks.map(k => (k, db.mutate(t, k)))
        muts.groupBy(_._2._1).toSeq.sortBy(_._1).foreach { case (kind, ms) =>
          val code = kind match {
            case "INSERT" => RT.WRITE_ROWS
            case "UPDATE" => RT.UPDATE_ROWS
            case _ => RT.DELETE_ROWS
          }
          val eid = ordinal
          ms.foreach { case (k, (_, _, _, cells)) =>
            pending.row(events.length)
            rows += RowEv(t, k.toString, eid, kind.take(1), g, cells)
          }
          add(header(code).copy(tableId = Some(tid),
            rows = ms.map { case (_, (_, b, a, _)) => RowImage(b, a) }))
        }
        e += 1
      }
      pending.flush(events.length)
      add(header(RT.XID).copy(xid = Some(gno)))
    }
    new Input(events.toArray, rows.toArray, rowInput.toArray, release.toArray)
  }
}
