package graft.streaming

import graft.SparkSpec
import graft.model.Tables
import graft.sources.ModbusTestServer
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The reference's config-store-driven startup (daq-3i.py:106-161),
  * end to end: CREATE-TABLE schemas seeded with buses/channels/
  * conversions, [[ConfigStore.load]] resolving the enabled sets and
  * the conversions join (0/NULL = none, daq-3i.py:150-153), and the
  * daemon polling a REAL Modbus-TCP endpoint per bus — config rows in,
  * fact and status parquet out. */
class ConfigStoreSpec extends AnyFunSuite with SparkSpec {

  private def seed(loc: String, port1: Int, port2: Int): Unit = {
    import spark.implicits._
    // bus 1+2 enabled MODBUSTCP on the fixtures; bus 3 disabled
    Seq(
      (1L, "bus-a", 1, "127.0.0.1", port1, 1, true),
      (2L, "bus-b", 1, "127.0.0.1", port2, 1, true),
      (3L, "bus-off", 1, "127.0.0.1", 1, 1, false))
      .toDF("id", "name", "protocol", "address", "port", "timeout", "enabled")
      .write.mode("overwrite").parquet(s"$loc/buses")
    // ch1: UINT16@5 conv 1 (x*2+1); ch2: UINT16@17 conv 0 = none;
    // ch3: SINT16@40 conv NULL = none, on bus 2; ch4 disabled
    Seq(
      (1L, "ch1", 1L, 1, 5, 1, Some(1L), 3, 4, true, "V", 100, "chan one"),
      (2L, "ch2", 1L, 1, 17, 1, Some(0L), 3, 4, true, "V", 100, "chan two"),
      (3L, "ch3", 2L, 7, 40, 1, None, 3, 0, true, "A", 100, "chan three"),
      (4L, "ch4-off", 1L, 1, 60, 1, Some(0L), 3, 4, false, "V", 100, "off"))
      .toDF("id", "name", "bus_id", "device_id", "address", "timing",
        "conversion_id", "func_code", "format_code", "enabled", "eng_unit",
        "history_len", "long_name")
      .write.mode("overwrite").parquet(s"$loc/channels")
    Seq((1L, "double-plus-one", Some("Value = x * 2 + 1")), (2L, "broken", None))
      .toDF("id", "name", "expr")
      .write.mode("overwrite").parquet(s"$loc/conversions")
  }

  test("config store -> live TCP buses -> fact + status, conversions and enabled filters applied") {
    import spark.implicits._
    val loc = Files.createTempDirectory("graft_cfg").toString
    val dataDir = Files.createTempDirectory("graft_cfg_run").toString
    val s1 = new ModbusTestServer()
    val s2 = new ModbusTestServer()
    try {
      seed(loc, s1.port, s2.port)
      val cfg = ConfigStore.load(spark, loc,
        Map("startEpochSec" -> "0", "periodSec" -> "1", "maxTicks" -> "2"))

      // enabled filters: bus-off and ch4-off never load (daq-3i.py:130,:144)
      assert(cfg.busSources.length == 2)
      assert(cfg.channels.select("id").collect().map(_.getLong(0)).sorted.toSeq
        == Seq(1L, 2L, 3L))
      // per-channel spec: count from FORMAT_LENGTH (UINT16 -> 4 words,
      // SINT16 -> 1), unit from device_id
      val specs = cfg.busSources.map(_("channels"))
      assert(specs.contains("1@5@4@1,2@17@4@1") && specs.contains("3@40@1@7"), specs)
      // per-bus timeout seconds -> ms (db_model.py:38)
      assert(cfg.busSources.forall(_("timeoutMs") == "1000"))

      val daemon = new Daemon(
        spark, cfg.channels, cfg.conversions,
        cfg.busSources.head, dataDir,
        pulseSec = 3600, truncIntervalSec = 3600,
        extraSources = cfg.busSources.tail)
      daemon.start()
      try {
        daemon.ingest.processAllAvailable()
        // hr[addr] == addr: ch1 = 5*2+1 = 11 (conversion), ch2 = 17
        // (conv 0 = none), ch3 = 40 (conv NULL = none) — both buses
        // polled over their own live socket
        val fact = Ingest.readFact(spark, daemon.factDir)
          .select($"channel_id", $"value".cast("double")).distinct()
          .orderBy($"channel_id").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        assert(fact.toSeq == Seq((1L, 11.0), (2L, 17.0), (3L, 40.0)))
        assert(s1.requestCount == 4 && s2.requestCount == 2,
          s"per-bus poll counts: ${s1.requestCount}, ${s2.requestCount}")
        val params = spark.read.parquet(daemon.statusDir)
          .select("parameter").collect().map(_.getString(0)).toSet
        assert(params == Set("CHL: 1", "CHL: 2", "CHL: 3", "daq-3i"))
      } finally daemon.stop()
    } finally { s1.close(); s2.close() }
  }

  test("CREATE-TABLE catalog tables + SQL INSERTs drive the daemon end to end") {
    import spark.implicits._
    // the reference's own bring-up: CREATE-TABLE run mode (R13), rows
    // INSERTed into the config tables (R11), then daemon startup from
    // the store (daq-3i.py:326-332 then :341-348)
    val loc = Files.createTempDirectory("graft_cfg_ddl").toString
    val dataDir = Files.createTempDirectory("graft_cfg_ddl_run").toString
    val server = new ModbusTestServer()
    try {
      Tables.referenceSchemas.keys.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Tables.createReferenceTables(spark, loc)
      spark.sql(s"""INSERT INTO buses VALUES
        (1, 'bus-a', 1, '127.0.0.1', ${server.port}, 1, true)""")
      spark.sql("""INSERT INTO channels VALUES
        (1, 'ch1', 1, 1, 5, 1, 0, 3, 4, true, 'V', 100, 'chan one'),
        (2, 'ch2', 1, 1, 17, 1, 1, 3, 4, true, 'V', 100, 'chan two')""")
      spark.sql("INSERT INTO conversions VALUES (1, 'x10', 'Value = x * 10')")

      val cfg = ConfigStore.load(spark, loc,
        Map("startEpochSec" -> "0", "periodSec" -> "1", "maxTicks" -> "2"))
      val daemon = new Daemon(
        spark, cfg.channels, cfg.conversions,
        cfg.busSources.head, dataDir,
        pulseSec = 3600, truncIntervalSec = 3600,
        extraSources = cfg.busSources.tail)
      daemon.start()
      try {
        daemon.ingest.processAllAvailable()
        val fact = Ingest.readFact(spark, daemon.factDir)
          .select($"channel_id", $"value".cast("double")).distinct()
          .orderBy($"channel_id").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        // hr[addr] == addr: ch1 = 5 raw (conv 0 = none), ch2 = 17*10
        assert(fact.toSeq == Seq((1L, 5.0), (2L, 170.0)))
      } finally daemon.stop()
    } finally {
      server.close()
      Tables.referenceSchemas.keys.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("JDBC config database drives the daemon end to end, identical to the parquet path") {
    import spark.implicits._
    // the reference's real deployment: dims live in a SQL engine
    // (daq-3i.py:112-114; URL built at db_model.py:65-67). Seed the
    // same rows into embedded Derby over JDBC and into parquet, run
    // the daemon from each, and require identical fact + status.
    val loc = Files.createTempDirectory("graft_cfg_pq").toString
    val pqRun = Files.createTempDirectory("graft_cfg_pq_run").toString
    val jdbcRun = Files.createTempDirectory("graft_cfg_jdbc_run").toString
    val url = "jdbc:derby:memory:graftcfg;create=true"
    val s1 = new ModbusTestServer()
    val s2 = new ModbusTestServer()
    def runDaemon(cfg: ConfigStore.DaemonConfig, dataDir: String): Unit = {
      val daemon = new Daemon(
        spark, cfg.channels, cfg.conversions,
        cfg.busSources.head, dataDir,
        pulseSec = 3600, truncIntervalSec = 3600,
        extraSources = cfg.busSources.tail)
      daemon.start()
      try daemon.ingest.processAllAvailable() finally daemon.stop()
    }
    def facts(dataDir: String): Seq[(Long, Double)] =
      Ingest.readFact(spark, s"$dataDir/fact")
        .select($"channel_id", $"value".cast("double")).distinct()
        .orderBy($"channel_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    try {
      seed(loc, s1.port, s2.port)
      for (t <- Seq("buses", "channels", "conversions"))
        graft.sources.FileSources.writeJdbc(
          spark.read.schema(Tables.referenceSchemas(t)).parquet(s"$loc/$t"),
          url, t)
      val opts = Map("startEpochSec" -> "0", "periodSec" -> "1", "maxTicks" -> "2")
      val jdbcCfg = ConfigStore.loadJdbc(spark, url, opts)
      val pqCfg = ConfigStore.load(spark, loc, opts)
      // dims resolve identically through either store
      assert(jdbcCfg.busSources.toSet == pqCfg.busSources.toSet)
      assert(jdbcCfg.conversions.sorted == pqCfg.conversions.sorted)
      assert(jdbcCfg.channels.orderBy($"id").collect().toSeq
        == pqCfg.channels.orderBy($"id").collect().toSeq)
      runDaemon(pqCfg, pqRun)
      runDaemon(jdbcCfg, jdbcRun)
      assert(facts(jdbcRun) == facts(pqRun) && facts(jdbcRun).nonEmpty)
      def status(dir: String) = spark.read.parquet(s"$dir/status")
        .select("parameter", "status").collect()
        .map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toSeq
      assert(status(jdbcRun) == status(pqRun))
    } finally { s1.close(); s2.close() }
  }

  test("unsupported protocol and non-READHOLDING function codes fail loudly at load") {
    import spark.implicits._
    val loc = Files.createTempDirectory("graft_cfg_bad").toString
    Seq((1L, "bus-x", 9, "127.0.0.1", 502, 1, true))
      .toDF("id", "name", "protocol", "address", "port", "timeout", "enabled")
      .write.mode("overwrite").parquet(s"$loc/buses")
    Seq((1L, "ch1", 1L, 1, 5, 1, Some(0L), 3, 4, true, "V", 100, ""))
      .toDF("id", "name", "bus_id", "device_id", "address", "timing",
        "conversion_id", "func_code", "format_code", "enabled", "eng_unit",
        "history_len", "long_name")
      .write.mode("overwrite").parquet(s"$loc/channels")
    Seq((1L, "none", Option.empty[String])).toDF("id", "name", "expr")
      .write.mode("overwrite").parquet(s"$loc/conversions")
    // the reference's bus1 fallthrough (daq-3i.py:133-142) would attach
    // these channels to a previous bus; we refuse instead
    val e1 = intercept[IllegalArgumentException](ConfigStore.load(spark, loc))
    assert(e1.getMessage.contains("protocol"))

    Seq((1L, "bus-a", 1, "127.0.0.1", 502, 1, true))
      .toDF("id", "name", "protocol", "address", "port", "timeout", "enabled")
      .write.mode("overwrite").parquet(s"$loc/buses")
    Seq((1L, "ch1", 1L, 1, 5, 1, Some(0L), 6, 4, true, "V", 100, ""))
      .toDF("id", "name", "bus_id", "device_id", "address", "timing",
        "conversion_id", "func_code", "format_code", "enabled", "eng_unit",
        "history_len", "long_name")
      .write.mode("overwrite").parquet(s"$loc/channels")
    // fn 6: the reference throws per read, forever (modbus.py:48-49);
    // we surface the same contract once, at startup
    val e2 = intercept[IllegalArgumentException](ConfigStore.load(spark, loc))
    assert(e2.getMessage.contains("function code"))

    // unknown format_code: same fail-loud-at-load policy (a silent
    // count=1 default would mis-frame every read of the channel)
    Seq((1L, "ch1", 1L, 1, 5, 1, Some(0L), 3, 99, true, "V", 100, ""))
      .toDF("id", "name", "bus_id", "device_id", "address", "timing",
        "conversion_id", "func_code", "format_code", "enabled", "eng_unit",
        "history_len", "long_name")
      .write.mode("overwrite").parquet(s"$loc/channels")
    val e3 = intercept[IllegalArgumentException](ConfigStore.load(spark, loc))
    assert(e3.getMessage.contains("format_code") && e3.getMessage.contains("ch1"))
  }

  test("daemon under RocksDB state store with the duplicate guard: same results, stateful stage on RocksDB") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_daemon_rocks").toString
    val channels = Seq((1L, 4, 0L, 100), (2L, 4, 0L, 100))
      .toDF("id", "format_code", "conversion_id", "history_len")
    // the provider is a session setting, set before the query starts —
    // as a deployment sets it at session build
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val daemon = new Daemon(
      spark, channels, Seq.empty,
      Map("channels" -> "1@5,2@17", "registers" -> "4",
        "startEpochSec" -> "0", "periodSec" -> "1", "maxTicks" -> "3"),
      dir,
      pulseSec = 3600, truncIntervalSec = 3600,
      dedupeLateness = Some("10 seconds"))
    try {
      daemon.start()
      daemon.ingest.processAllAvailable()
      // the dedup stage is stateful -> RocksDB-backed state operator ran:
      // only the RocksDB provider reports its rocksdb* custom metrics
      val progress = daemon.ingest.lastProgress
      assert(progress != null && progress.stateOperators.nonEmpty,
        "expected a stateful operator in the ingest query")
      val metrics = progress.stateOperators.head.customMetrics.keySet.asScala
      assert(metrics.exists(_.startsWith("rocksdb")),
        s"state operator did not run on RocksDB: custom metrics $metrics")
      // results identical to the plain daemon: 3 ticks x 2 channels
      val fact = Ingest.readFact(spark, daemon.factDir)
        .select($"channel_id", $"ts", $"value".cast("double")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
      assert(fact.length == 6)
      assert(fact.map(_._3).toSet == Set(5.0, 17.0))
      assert(fact.map(t => (t._1, t._2)).distinct.length == 6, "dedup dropped real samples")
      assert(fact.map(_._2).toSet ==
        (1 to 3).map(t => new Timestamp(t * 1000L)).toSet)
    } finally {
      daemon.stop()
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
  }
}
