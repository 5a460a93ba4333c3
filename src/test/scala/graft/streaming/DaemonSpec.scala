package graft.streaming

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The assembled daemon: modbus-sim source -> decode -> convert ->
  * fact append + status upsert -> retention -> monitoring, end to end
  * through the single [[Daemon]] entry point. */
class DaemonSpec extends AnyFunSuite with SparkSpec {

  test("daemon runs the full reference topology end to end") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_daemon").toString
    // ch1: UINT16 @ address 5, conversion x*10, keep 1
    // ch2: UINT16 @ address 17, raw, keep 10
    val channels = Seq((1L, 4, 1L, 1), (2L, 4, 0L, 10))
      .toDF("id", "format_code", "conversion_id", "history_len")
    val daemon = new Daemon(
      spark, channels, Seq(1L -> "Value = x * 10"),
      Map(
        "channels" -> "1@5,2@17", "registers" -> "4",
        "startEpochSec" -> "0", "periodSec" -> "1", "maxTicks" -> "3"),
      dir,
      pulseSec = 3600, truncIntervalSec = 3600) // periodic paths driven explicitly below
    daemon.start()
    try {
      daemon.drainAndCompact()

      // golden source check (hr[addr] == addr): ch1 decodes 5 -> x10 = 50,
      // ch2 decodes 17 raw; 3 ticks each, then retention keeps 1 vs 3
      val fact = Ingest.readFact(spark, daemon.factDir)
        .orderBy($"channel_id", $"ts").collect()
        .map(r => (r.getLong(0), r.getDecimal(2).toPlainString))
      assert(fact.toSeq == Seq(
        (1L, "50.000000"),
        (2L, "17.000000"), (2L, "17.000000"), (2L, "17.000000")))

      // status: per-channel rows + the per-batch heartbeat (D7 + D10)
      val params = spark.read.parquet(daemon.statusDir)
        .select("parameter").collect().map(_.getString(0)).toSet
      assert(params == Set("CHL: 1", "CHL: 2", "daq-3i"))

      // monitoring listener observed the micro-batches (D11 surface);
      // listener events arrive on an async bus, so poll with a deadline
      val deadline = System.currentTimeMillis() + 30000
      while (daemon.monitoring.batches.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(daemon.monitoring.batches.nonEmpty, "no listener events within 30s")
    } finally daemon.stop()
  }

  test("one steady parquet tick with no compaction due runs 5 Spark jobs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_daemon_jobs").toString
    val channels = Seq((1L, 4, 0L, 100), (2L, 4, 0L, 100))
      .toDF("id", "format_code", "conversion_id", "history_len")
    val daemon = new Daemon(
      spark, channels, Seq.empty,
      Map("channels" -> "1@5,2@17", "registers" -> "4",
        "startEpochSec" -> "0", "periodSec" -> "1", "maxTicks" -> "3"),
      dir, pulseSec = 3600, truncIntervalSec = 3600)
    // (query id, batch id) of every job; the heartbeat stream's batches
    // carry their own query id
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).foreach(p => jobs.add(
          (p.getProperty("sql.streaming.queryId"), p.getProperty("streaming.sql.batchId"))))
    }
    spark.sparkContext.addSparkListener(listener)
    daemon.start()
    try {
      daemon.ingest.processAllAvailable()
      // listener delivery is async — poll until the count stops moving
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        if (jobs.size == last) stable += 1 else { stable = 0; last = jobs.size }
      }
      // batch 2 is the third tick: the status table exists and no
      // retention is due, so this is the tick's source read, fact write
      // and status merge alone
      val n = jobs.toArray.count(_ == ((daemon.ingest.id.toString, "2")))
      assert(n == 5, s"a steady parquet tick ran $n Spark jobs")
    } finally {
      daemon.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("in-loop retention: compact-before-persist runs every trigger without losing batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_daemon_trunc").toString
    // ch1 keeps only the newest sample; truncIntervalSec = 0 makes the
    // in-loop compaction fire on EVERY trigger, including the first
    // (factDir absent -> the guard no-ops instead of failing)
    val channels = Seq((1L, 4, 0L, 1), (2L, 4, 0L, 10))
      .toDF("id", "format_code", "conversion_id", "history_len")
    val daemon = new Daemon(
      spark, channels, conversions = Seq.empty,
      Map(
        "channels" -> "1@9,2@21", "registers" -> "4",
        "startEpochSec" -> "0", "periodSec" -> "1", "maxTicks" -> "4"),
      dir,
      pulseSec = 3600, truncIntervalSec = 0)
    daemon.start()
    try {
      daemon.ingest.processAllAvailable()
      // no batch was lost to a compaction swap: ch2 retains all 4
      // ticks; ch1 compacted down to its newest sample by the sweeps
      // (the in-flight batch is never folded, so ch1 may hold the last
      // 1-2 samples until the NEXT trigger compacts — final explicit
      // sweep settles it)
      Ingest.compactFact(spark, daemon.factDir, channels)
      val byCh = Ingest.readFact(spark, daemon.factDir)
        .groupBy($"channel_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byCh(2L) == 4L, s"ch2 lost samples to compaction: $byCh")
      assert(byCh(1L) == 1L, s"ch1 retention not applied: $byCh")
      val latest = Ingest.readFact(spark, daemon.factDir)
        .filter($"channel_id" === 1L).collect()
      assert(latest.head.getTimestamp(1).getTime == 4000L, "ch1 kept a non-newest sample")
    } finally daemon.stop()
  }

  test("daemon with a JDBC fact sink lands the same facts and applies retention (Derby)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_daemon_jdbc").toString
    val url = "jdbc:derby:memory:graftdaemon;create=true"
    // same topology as the parquet-mode test: ch1 (conversion x10,
    // keep 1), ch2 (raw, keep 10), golden modbus-sim source — the fact
    // rows landing in Derby must equal the parquet run's
    val channels = Seq((1L, 4, 1L, 1), (2L, 4, 0L, 10))
      .toDF("id", "format_code", "conversion_id", "history_len")
    val daemon = new Daemon(
      spark, channels, Seq(1L -> "Value = x * 10"),
      Map(
        "channels" -> "1@5,2@17", "registers" -> "4",
        "startEpochSec" -> "0", "periodSec" -> "1", "maxTicks" -> "3"),
      dir,
      pulseSec = 3600, truncIntervalSec = 3600,
      jdbcFactSink = Some((url, "daemon_fact")))
    daemon.start()
    try {
      daemon.drainAndCompact()
      val fact = Ingest.readFactJdbc(spark, url, "daemon_fact")
        .orderBy($"channel_id", $"ts").collect()
        .map(r => (r.getLong(0), r.getDecimal(2).toPlainString))
      assert(fact.toSeq == Seq(
        (1L, "50.000000"),
        (2L, "17.000000"), (2L, "17.000000"), (2L, "17.000000")))
      // status path is shared with parquet mode (D7 + D10)
      val params = spark.read.parquet(daemon.statusDir)
        .select("parameter").collect().map(_.getString(0)).toSet
      assert(params == Set("CHL: 1", "CHL: 2", "daq-3i"))
      // the compaction ran its transactional swap: staging cleaned up
      val staged = intercept[Exception] {
        spark.read.format("jdbc").option("url", url)
          .option("dbtable", "daemon_fact_compact").load().count()
      }
      assert(staged != null)
    } finally daemon.stop()
  }

  test("backfill refuses a JDBC-sink daemon before it starts a query") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_daemon_jdbc_bf").toString
    val url = "jdbc:derby:memory:graftdaemonbf;create=true"
    val channels = Seq((1L, 4, 0L, 100)).toDF("id", "format_code", "conversion_id", "history_len")
    val daemon = new Daemon(
      spark, channels, Seq.empty,
      Map("channels" -> "1@5", "registers" -> "4",
        "startEpochSec" -> "0", "periodSec" -> "1", "maxTicks" -> "2"),
      dir, pulseSec = 3600, truncIntervalSec = 3600,
      jdbcFactSink = Some((url, "bf_fact")))
    daemon.start()
    try daemon.ingest.processAllAvailable() finally daemon.stop()
    assert(Ingest.readFactJdbc(spark, url, "bf_fact").count() == 2)
    // a backfill's batch ids restart at 0, and the ledger already holds
    // the live stream's batch 0: it would land nothing
    val rawDir = s"$dir/raw"
    Seq((1L, new java.sql.Timestamp(100000L), Seq(9, 0, 0, 0), 0))
      .toDF("channel_id", "ts", "registers", "status").write.parquet(rawDir)
    val e = intercept[IllegalArgumentException](daemon.backfill(rawDir))
    assert(e.getMessage.contains("parquet fact sink"))
    assert(!new java.io.File(s"$dir/ckpt-bf").exists(), "backfill started a query")
    assert(Ingest.readFactJdbc(spark, url, "bf_fact").count() == 2)
  }

  test("JDBC soak: kill + restart mid-stream lands the exact no-kill fact set (Derby)") {
    import spark.implicits._
    // the batchId ledger is replay-tested per batch in RecoverySpec;
    // this drives it through the DAEMON — checkpointed source offsets,
    // in-loop compaction firing EVERY trigger (truncIntervalSec = 0,
    // so a replayed trigger exercises the scrub-vs-ledger guard), a
    // stop at an arbitrary mid-stream point, and a cold restart from
    // the same checkpoint + database state
    val channels = Seq((1L, 4, 0L, 100), (2L, 4, 0L, 100))
      .toDF("id", "format_code", "conversion_id", "history_len")
    val srcOpts = Map(
      "channels" -> "1@5,2@17", "registers" -> "4",
      "startEpochSec" -> "0", "periodSec" -> "1", "maxTicks" -> "6")
    def runDaemon(dir: String, url: String)(body: Daemon => Unit): Unit = {
      val d = new Daemon(spark, channels, Seq.empty, srcOpts, dir,
        pulseSec = 3600, truncIntervalSec = 0,
        jdbcFactSink = Some((url, "soak_fact")))
      d.start()
      try body(d) finally d.stop()
    }
    def rows(url: String) = Ingest.readFactJdbc(spark, url, "soak_fact")
      .select($"channel_id", $"ts".cast("long"), $"value".cast("double"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq

    // reference: one uninterrupted run to source exhaustion
    val dirA = Files.createTempDirectory("graft_soak_ref").toString
    val urlA = "jdbc:derby:memory:graftsoakref;create=true"
    runDaemon(dirA, urlA)(_.ingest.processAllAvailable())
    assert(rows(urlA).size == 12, "reference run incomplete") // 6 ticks x 2 channels

    // soak: kill once some (not all) batches have committed, restart
    val dirB = Files.createTempDirectory("graft_soak_kill").toString
    val urlB = "jdbc:derby:memory:graftsoakkill;create=true"
    runDaemon(dirB, urlB) { _ =>
      def landed() =
        try Ingest.readFactJdbc(spark, urlB, "soak_fact").count()
        catch { case _: Throwable => 0L } // table not created yet
      val deadline = System.currentTimeMillis() + 60000
      while (landed() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(landed() >= 2, "no batches committed within 60s")
      // stop() here IS the kill: mid-stream, ticks still unconsumed
    }
    runDaemon(dirB, urlB)(_.ingest.processAllAvailable())
    assert(rows(urlB) == rows(urlA),
      "killed-and-restarted run diverged from the no-kill run")
  }

  test("live-TCP flap soak: device dies mid-stream and returns on the same port — clean tail, no dup, no lost answered tick") {
    import spark.implicits._
    // the reference's reconnect story (bus.py:94-100) at exactly-once
    // grade: the DEVICE flaps while the daemon's fact sink and in-loop
    // retention (truncIntervalSec = 0 -> compaction every trigger)
    // keep running. Failed reads map to status=-1 rows the fact filter
    // drops (Ingest.scala:49 — the reference's own no-fact-row-on-error
    // behavior); every tick the device ANSWERED must land exactly once.
    val dir = Files.createTempDirectory("graft_daemon_flap").toString
    val maxTicks = 30
    // first server instance answers exactly 6 requests (= 6 ticks of
    // the single channel), then closes: a deterministic outage start
    val s1 = new graft.sources.ModbusTestServer(maxRequests = 6)
    var s2: graft.sources.ModbusTestServer = null
    val channels = Seq((1L, 4, 0L, 100))
      .toDF("id", "format_code", "conversion_id", "history_len")
    val daemon = new Daemon(
      spark, channels, Seq.empty,
      Map("mode" -> "tcp", "host" -> "127.0.0.1", "port" -> s1.port.toString,
        "timeoutMs" -> "500", "channels" -> "1@5", "registers" -> "4",
        "startEpochSec" -> "0", "periodSec" -> "1",
        "maxTicks" -> maxTicks.toString),
      dir, pulseSec = 3600, truncIntervalSec = 0)
    daemon.start()
    try {
      // wait for the outage to begin (server self-closes after tick 6)
      val deadline = System.currentTimeMillis() + 60000
      while (s1.requestCount < 6 && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(s1.requestCount >= 6, "device never reached its outage point")
      // hold the device down until >= 2 further micro-batches COMPLETE:
      // at least one full trigger (one tick) polls entirely inside the
      // dead window, deterministically — its read fails to a status=-1
      // row — before the device returns on the SAME port
      val b0 = daemon.monitoring.batches.size
      while (daemon.monitoring.batches.size < b0 + 2
          && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(daemon.monitoring.batches.size >= b0 + 2,
        "no micro-batch completed during the outage window")
      // gate the restart on tick headroom: if the outage batches had
      // already drained the source near maxTicks, the post-recovery
      // tail assertions below would fail FLAKILY rather than wrong —
      // fail loudly here instead (maxTicks=30 leaves ~24 ticks of
      // headroom after the 6-tick pre-outage phase, so this gate
      // only trips if the box stalls pathologically)
      val consumedTicks = daemon.monitoring.batches.map(_.numInputRows).sum
      assert(consumedTicks <= maxTicks - 4,
        s"outage window drained the tick source ($consumedTicks of " +
          s"$maxTicks ticks consumed before device restart) — the " +
          "post-recovery tail would be empty; raise maxTicks")
      s2 = new graft.sources.ModbusTestServer(fixedPort = s1.port)
      daemon.ingest.processAllAvailable()

      assert(s2.requestCount > 0, "restarted device was never polled")
      val fact = Ingest.readFact(spark, daemon.factDir)
        .select($"ts".cast("long"), $"value".cast("double")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      // no duplicate (channel_id, ts) — single channel, so ts alone keys
      assert(fact.map(_._1).distinct.size == fact.size,
        s"duplicate ticks landed: $fact")
      // every landed value is the golden hr[5] == 5 read
      assert(fact.forall(_._2 == 5.0), s"corrupt values after flap: $fact")
      val ts = fact.map(_._1).toSet
      // ticks the first server answered: all present
      assert((1L to 6L).forall(ts), s"lost pre-outage ticks: $ts")
      // the outage dropped at least one tick (the 500 ms blackout)
      assert(ts.size < maxTicks, "flap produced no failed tick — outage window never hit")
      // recovery: from the first post-restart success to the end, every
      // tick answered landed — a contiguous tail with nothing lost
      val tail = fact.map(_._1).filter(_ > 6L)
      assert(tail.nonEmpty, "no ticks landed after the device returned")
      assert(tail.last == maxTicks.toLong, "stream never reached the final tick")
      assert(tail == (tail.head to maxTicks.toLong).toSeq,
        s"post-recovery tail has holes (lost answered ticks): $tail")
      // the status table kept its shape through the flap (D7 + D10)
      val params = spark.read.parquet(daemon.statusDir)
        .select("parameter").collect().map(_.getString(0)).toSet
      assert(params == Set("CHL: 1", "daq-3i"))
    } finally {
      daemon.stop()
      s1.close()
      if (s2 != null) s2.close()
    }
  }
}
