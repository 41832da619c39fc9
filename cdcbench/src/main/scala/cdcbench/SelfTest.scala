package cdcbench

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.model.RawEvent
import graft.operators.RawBinlogAdapter
import graft.pipeline.ReplicatorPipeline

/** The benchmark's own tests: inputs are a pure function of the seed, and
  * the checker flags a dropped, a duplicated and a corrupted row event on
  * copies of a real sink. Run: `python3 cdcbench/run.py --selftest`. */
object SelfTest {
  def run(work: String): Boolean = {
    var ok = true
    def expect(name: String, cond: Boolean, detail: String = ""): Unit = {
      println(s"[selftest] ${if (cond) "PASS" else "FAIL"} $name $detail")
      ok &&= cond
    }
    val tables = Seq("orders", "users", "items")
    def raw(seed: Long) = Gen.rawBinlog(seed, 6000, tables, 300, (1, 3), 0.01, 2500, 2)
    expect("same seed gives byte-identical raw binlog", raw(7).digest == raw(7).digest)
    expect("another seed gives another raw binlog", raw(7).digest != raw(8).digest)
    def opLogOps(seed: Long) = Gen.opLog(seed, 6000, 2000, 2, Seq(1000 -> 1500))
    def opLog(seed: Long) = opLogOps(seed)._1
    expect("same seed gives byte-identical op log", opLog(7).digest == opLog(7).digest)
    expect("another seed gives another op log", opLog(7).digest != opLog(8).digest)
    // a row is released by its transaction's COMMIT, or by the row that
    // fills a chunk of the oversize transaction, never before it arrives
    val (log, ops) = opLogOps(7)
    val releases = log.rowRelease.indices.groupBy(log.rowRelease(_)).map { case (at, rs) => ops(at) -> rs.length }
    expect("rows are released at or after their own line",
      log.rowRelease.indices.forall(i => log.rowRelease(i) >= log.rowInput(i)))
    expect("rows are released by their commit or a full chunk",
      releases.forall { case (op, n) => op.kind == "COMMIT" || n == Gen.TxnChunk } &&
        releases.count(_._1.kind != "COMMIT") == 1, s"chunk releases: ${releases.count(_._1.kind != "COMMIT")}")

    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(nproc, nproc, work)
    try {
      val input = raw(7)
      expect("the fixture spans several binlog files", input.events.map(_.file).distinct.length >= 2)
      val cfg = Backfill.cfgFor(s"$work/selftest", nproc)
      ReplicatorPipeline.runBatch(RawBinlogAdapter.toOps(
        spark.createDataset(input.events.toSeq)(Encoders.product[RawEvent])), cfg)
      val clean = Checker.check(spark, cfg.sinkDir, input.rows)
      expect("clean sink passes", clean.failed == 0, clean.json)

      val cells = spark.read.parquet(cfg.sinkDir)
      // the newest INSERT: its cells hold the latest value of some column
      val victim = cells.filter(col("column") === "row_status" && col("value") === "I")
        .orderBy(col("event_id").desc, col("row_key")).limit(1)
        .select("table", "row_key", "event_id")
      val victimCells = cells.join(victim, Seq("table", "row_key", "event_id"), "left_semi")

      val dropDir = s"$work/selftest-drop"
      cells.join(victim, Seq("table", "row_key", "event_id"), "left_anti").write.parquet(dropDir)
      val dropped = Checker.check(spark, dropDir, input.rows)
      expect("checker flags a dropped row event", dropped.missing == 1 && dropped.failed > 0, dropped.json)

      val dupDir = s"$work/selftest-dup"
      cells.unionByName(victimCells).write.parquet(dupDir)
      val dup = Checker.check(spark, dupDir, input.rows)
      expect("checker flags a duplicated row event", dup.duplicated == 1 && dup.failed > 0, dup.json)

      val badDir = s"$work/selftest-corrupt"
      val isVictim = col("_v").isNotNull && col("column") =!= "row_status" && col("column") =!= "_transaction_uuid"
      cells.join(victim.withColumn("_v", lit(1)), Seq("table", "row_key", "event_id"), "left")
        .withColumn("value", when(isVictim, lit("corrupt")).otherwise(col("value")))
        .drop("_v").write.parquet(badDir)
      val bad = Checker.check(spark, badDir, input.rows)
      expect("checker flags a row whose latest state differs", bad.badRows == 1 && bad.failed > 0, bad.json)
    } finally spark.stop()
    println(s"[selftest] ${if (ok) "all passed" else "FAILED"}")
    ok
  }
}
