package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** End-to-end ingestion: registers in -> decoded, converted, persisted
  * samples + status upserts out, across micro-batches, exactly-once. */
class IngestSpec extends AnyFunSuite with SparkSpec {

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  private def channelDim = {
    import spark.implicits._
    // (id, format_code, conversion_id, history_len):
    //   1: UINT16, conversion 1 (x*10), keep 1
    //   2: FLOAT,  no conversion (0),   keep 10
    Seq((1L, 4, 1L, 1), (2L, 7, 0L, 10))
      .toDF("id", "format_code", "conversion_id", "history_len")
  }
  private val convs = Seq(1L -> "Value = x * 10")

  /** Land raw readings as parquet, in the modbus-sim source's schema. */
  private def landRaw(rawDir: String, rows: (Long, java.sql.Timestamp, Seq[Int], Int)*): Unit = {
    import spark.implicits._
    rows.toDF("channel_id", "ts", "registers", "status")
      .write.mode("append").parquet(rawDir)
  }

  /** A parquet-sink daemon for [[Daemon.backfill]] runs: no live source,
    * no retention due. */
  private def backfillDaemon(dir: String) =
    new Daemon(spark, channelDim, convs, Map.empty, dir, truncIntervalSec = 3600)

  test("full pipeline: decode, convert, append, upsert, compact, flush") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ingest").toString
    val (rawDir, factDir, statusDir) = (s"$dir/raw", s"$dir/fact", s"$dir/status")

    // two micro-batches through the daemon's tick, one per backfill run
    landRaw(rawDir,
      (1L, ts(10), Seq(5, 0, 0, 0), 0),        // uint16 5 -> x10 = 50
      (2L, ts(10), Seq(0x0000, 0x3FC0), 0),    // float 1.5
      (1L, ts(11), Seq(7, 0, 0, 0), -1))       // failed read: dropped
    backfillDaemon(dir).backfill(rawDir)
    landRaw(rawDir,
      (1L, ts(20), Seq(9, 0, 0, 0), 0))        // second sample ch1 -> 90
    backfillDaemon(dir).backfill(rawDir)

    val fact = Ingest.readFact(spark, factDir)
    val rows = fact.orderBy($"channel_id", $"ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000, r.getDecimal(2).toPlainString))
    assert(rows.toSeq == Seq(
      (1L, 10L, "50.000000"),
      (1L, 20L, "90.000000"),
      (2L, 10L, "1.500000")))

    // status: latest per parameter + heartbeat (daq-3i.py:284, :163-171),
    // with the reference's surrogate id (db_model.py:58) stable per
    // parameter across upserts
    val status = spark.read.parquet(statusDir).orderBy($"parameter")
      .select($"id", $"parameter", $"status", $"ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getTimestamp(3).getTime / 1000))
    assert(status.toSeq == Seq(
      (1L, "CHL: 1", 1, 20L), (2L, "CHL: 2", 1, 10L), (3L, "daq-3i", 1, 20L)))

    // D9: compaction honors per-channel history_len (ch1 keeps 1 newest)
    Ingest.compactFact(spark, factDir, channelDim)
    val compacted = Ingest.readFact(spark, factDir).orderBy($"channel_id").collect()
      .map(r => (r.getLong(0), r.getDecimal(2).toPlainString))
    assert(compacted.toSeq == Seq((1L, "90.000000"), (2L, "1.500000")))

    // D8: status flush
    Ingest.flushStatus(spark, statusDir)
    assert(!new java.io.File(statusDir).exists())
  }

  test("backfill drains landed raw data via AvailableNow; re-run is a no-op") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_backfill").toString
    val (rawDir, factDir) = (s"$dir/raw", s"$dir/fact")

    landRaw(rawDir,
      (1L, ts(10), Seq(5, 0, 0, 0), 0),     // uint16 5 -> x10 = 50
      (2L, ts(10), Seq(0x0000, 0x3FC0), 0), // float 1.5
      (1L, ts(11), Seq(7, 0, 0, 0), -1))    // failed read: dropped

    backfillDaemon(dir).backfill(rawDir)
    def factRows() = Ingest.readFact(spark, factDir)
      .orderBy($"channel_id", $"ts").collect()
      .map(r => (r.getLong(0), r.getDecimal(2).toPlainString)).toSeq
    assert(factRows() == Seq((1L, "50.000000"), (2L, "1.500000")))

    // same checkpoint, unchanged raw dir -> nothing new lands
    backfillDaemon(dir).backfill(rawDir)
    assert(factRows() == Seq((1L, "50.000000"), (2L, "1.500000")))

    // new raw file arrives -> only the delta is processed
    landRaw(rawDir, (1L, ts(20), Seq(9, 0, 0, 0), 0))
    backfillDaemon(dir).backfill(rawDir)
    assert(factRows() == Seq((1L, "50.000000"), (1L, "90.000000"), (2L, "1.500000")))
  }

  test("heartbeat pulses independently of data flow (daq-3i.py:163-171)") {
    val dir = Files.createTempDirectory("graft_hb").toString + "/status"
    val q = Ingest.startHeartbeat(spark, dir, periodSec = 1)
    try {
      val deadline = System.currentTimeMillis() + 30000
      var rows = Array.empty[org.apache.spark.sql.Row]
      while (rows.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        rows =
          try spark.read.parquet(dir).select("parameter", "status").collect()
          catch { case _: Throwable => Array.empty }
      }
      assert(rows.nonEmpty, "no heartbeat within 30s")
      assert(rows.map(_.getString(0)).toSet == Set("daq-3i"))
      assert(rows.head.getInt(1) == 1)
    } finally q.stop()
  }

  test("recoverFactDir restores a half-swapped .bak before anything else writes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_recover").toString
    val (factDir, statusDir) = (s"$dir/fact", s"$dir/status")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def path(d: String) = new org.apache.hadoop.fs.Path(d)
    // simulate a swap dying between its two renames: all data sits in
    // .bak, the live directory is gone
    def crashMidSwap(d: String) = assert(fs.rename(path(d), path(d + ".bak")))
    def samples(rows: (Long, Long)*) =
      rows.map { case (ch, t) => (ch, ts(t), BigDecimal(50)) }.toDF("channel_id", "ts", "value")
    def merge(rows: (Long, Long)*) =
      Ingest.mergeStatus(spark, statusDir, Ingest.statusUpdates(samples(rows: _*), heartbeat = false))
    def status() = spark.read.parquet(statusDir).select("id", "parameter", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime / 1000)).sortBy(_._2).toSeq

    // fact: compactFact's swap
    samples(1L -> 10L).write.parquet(s"$factDir/batch=b0")
    crashMidSwap(factDir)
    Ingest.recoverFactDir(spark, factDir)
    assert(Ingest.readFact(spark, factDir).count() == 1)
    assert(!fs.exists(path(factDir + ".bak")))

    // status: mergeStatus's swap — the next merge restores the old
    // rows first, so they survive with their ids
    merge(1L -> 10L, 2L -> 10L)
    crashMidSwap(statusDir)
    merge(3L -> 20L)
    assert(status() == Seq((1L, "CHL: 1", 10L), (2L, "CHL: 2", 10L), (3L, "CHL: 3", 20L)))
    assert(!fs.exists(path(statusDir + ".bak")))

    // a stale .bak next to a live directory (a finished swap's leftover)
    // is dropped, not restored over the live one
    samples(7L -> 1L, 8L -> 1L).write.parquet(s"$factDir.bak/batch=b0")
    Ingest.recoverFactDir(spark, factDir)
    assert(Ingest.readFact(spark, factDir).count() == 1)
    assert(!fs.exists(path(factDir + ".bak")))
    Seq((9L, "STALE", 1, ts(1))).toDF("id", "parameter", "status", "ts")
      .write.parquet(s"$statusDir.bak")
    merge(1L -> 30L)
    assert(status() == Seq((1L, "CHL: 1", 30L), (2L, "CHL: 2", 10L), (3L, "CHL: 3", 20L)))
    assert(!fs.exists(path(statusDir + ".bak")))

    // the D8 flush drops a crashed swap's .bak too, so no later merge
    // restores the flushed rows
    crashMidSwap(statusDir)
    Ingest.flushStatus(spark, statusDir)
    assert(!fs.exists(path(statusDir)) && !fs.exists(path(statusDir + ".bak")))
  }

  test("status upsert is last-writer-wins and idempotent across replays") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_status").toString + "/status"
    val b1 = Seq((1L, ts(10), BigDecimal(50))).toDF("channel_id", "ts", "value")
    Ingest.mergeStatus(spark, dir, Ingest.statusUpdates(b1, heartbeat = false))
    Ingest.mergeStatus(spark, dir, Ingest.statusUpdates(b1, heartbeat = false)) // replay
    val b2 = Seq((1L, ts(30), BigDecimal(60))).toDF("channel_id", "ts", "value")
    Ingest.mergeStatus(spark, dir, Ingest.statusUpdates(b2, heartbeat = false))
    val got = spark.read.parquet(dir).select("id", "parameter", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime / 1000))
    // id stable across the three merges (db_model.py:58 parity)
    assert(got.toSeq == Seq((1L, "CHL: 1", 30L)))
  }

  test("id-less legacy status table upgrades with deterministic backfilled ids") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_status_legacy").toString + "/status"
    // a statusDir written by the pre-surrogate-id engine: no id column
    Seq(("CHL: 2", 1, ts(10)), ("CHL: 1", 1, ts(10)), ("daq-3i", 1, ts(10)))
      .toDF("parameter", "status", "ts")
      .repartition(1).write.parquet(dir)
    val b = Seq((3L, ts(20), BigDecimal(5))).toDF("channel_id", "ts", "value")
    Ingest.mergeStatus(spark, dir, Ingest.statusUpdates(b, heartbeat = false))
    val got = spark.read.parquet(dir).select("id", "parameter").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._2)
    // legacy parameters backfilled in parameter order (not all id 0 via
    // null-unboxing); the new parameter takes the next id
    assert(got.map(_._1).distinct.length == got.length, s"duplicate ids: ${got.toSeq}")
    assert(got.toSeq == Seq((1L, "CHL: 1"), (2L, "CHL: 2"), (4L, "CHL: 3"), (3L, "daq-3i")))
  }

  test("status upsert at 100k parameters: stable dense ids") {
    // the scale case for the driver fold: it holds one row per
    // parameter (100k table rows, then 100k + 110), numbers the new
    // ones densely after the max id, and writes one file
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_status_100k").toString + "/status"
    def updates(n: Int, tsSec: Int, prefix: String = "P") =
      spark.range(n).select(
        format_string(prefix + "%07d", $"id").as("parameter"),
        lit(1).as("status"), lit(ts(tsSec)).as("ts"))
    Ingest.mergeStatus(spark, dir, updates(100000, 10))
    val first = spark.read.parquet(dir)
    assert(first.count() == 100000)
    // dense ids 1..100k in parameter order (zero-padded => numeric order)
    val probe = first.filter($"parameter".isin("P0000000", "P0099999"))
      .select($"parameter", $"id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(probe == Map("P0000000" -> 1L, "P0099999" -> 100000L))
    // second merge: same parameters keep their ids; new ones extend
    Ingest.mergeStatus(spark, dir, updates(100, 20).unionAll(updates(10, 20, "Q")))
    val second = spark.read.parquet(dir)
    assert(second.count() == 100010)
    val again = second.filter($"parameter".isin("P0000000", "P0099999", "Q0000000"))
      .select($"parameter", $"id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again("P0000000") == 1L && again("P0099999") == 100000L)
    assert(again("Q0000000") == 100001L, s"new parameter id: ${again("Q0000000")}")
    assert(second.select($"id").distinct().count() == 100010)
  }

  test("status upsert: equal-ts update wins; a twice-named new parameter gets one id") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_status_ties").toString + "/status"
    def upd(rows: (String, Int, Long)*) =
      rows.map { case (p, st, t) => (p, st, ts(t)) }.toDF("parameter", "status", "ts")
    Ingest.mergeStatus(spark, dir, upd(("P", 0, 10), ("A", 1, 10)))
    // same ts as the stored row: the incoming update wins, P keeps its id
    Ingest.mergeStatus(spark, dir, upd(("P", 1, 10)))
    // a new parameter named twice in one update set: latest row, one id
    Ingest.mergeStatus(spark, dir, upd(("N", 0, 30), ("N", 1, 20)))
    val got = spark.read.parquet(dir).select("id", "parameter", "status", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getTimestamp(3).getTime / 1000))
      .sortBy(_._2).toSeq
    assert(got == Seq((1L, "A", 1, 10L), (3L, "N", 0, 30L), (2L, "P", 1, 10L)))
  }

  /** `body`'s result and the Spark jobs it runs on this thread
    * (subquery jobs inherit the local property that tags them). */
  private def jobsOf[A](body: => A): (A, Int) = {
    val tag = "graft.test.jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(tag) != null)) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty(tag, "1")
    try {
      val out = body
      // listener delivery is async — poll until the count stops moving
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val cur = jobs.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      (out, last)
    } finally {
      spark.sparkContext.setLocalProperty(tag, null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("steady-state status merge folds on the driver: three Spark jobs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_status_jobs").toString + "/status"
    def updates(tsSec: Int) = spark.range(50).select(
      format_string("CHL: %d", $"id").as("parameter"), lit(1).as("status"), lit(ts(tsSec)).as("ts"))
    Ingest.mergeStatus(spark, dir, updates(10))
    Ingest.mergeStatus(spark, dir, updates(20))
    // every parameter already has an id
    val (_, n) = jobsOf(Ingest.mergeStatus(spark, dir, updates(30)))
    // one read with the fixed schema, one collect of the updates, one
    // write: no schema inference, no max-id subquery, no shuffle
    assert(n == 3, s"steady-state mergeStatus ran $n Spark jobs")
    val got = spark.read.parquet(dir)
    assert(got.count() == 50 && got.select($"id").distinct().count() == 50)
    assert(got.agg(max($"id")).head().getLong(0) == 50L)
    // a tick's updates (per-channel newest ts plus the heartbeat)
    // collect in one job: no shuffle
    val batch = spark.range(50).select($"id".as("channel_id"), lit(ts(40)).as("ts"))
    val (ups, m) = jobsOf(Ingest.statusUpdates(batch, heartbeat = true).collect())
    assert(m == 1, s"statusUpdates collect ran $m Spark jobs")
    assert(ups.length == 51 && ups.forall(_.getTimestamp(2) == ts(40)))
  }

  test("readFact reads with the fixed fact schema: no schema-inference job") {
    val dir = Files.createTempDirectory("graft_fact_jobs").toString + "/fact"
    val fact = spark.range(4).select(col("id").as("channel_id"),
      lit(ts(10)).as("ts"), (col("id") * 10).cast("decimal(25,6)").as("value"))
    fact.write.parquet(s"$dir/batch=b0")
    fact.write.parquet(s"$dir/batch=b1")
    // the collect alone: the fixed schema needs no footer-reading job
    val (rows, n) = jobsOf(Ingest.readFact(spark, dir).collect())
    assert(n == 1, s"readFact + collect ran $n Spark jobs")
    assert(Ingest.readFact(spark, dir).schema == Ingest.factSchema)
    assert(rows.map(r => (r.getLong(0), r.getDecimal(2).toPlainString)).sorted.toSeq ==
      (0L to 3L).flatMap(i => Seq.fill(2)((i, s"${i * 10}.000000"))))
  }
}
