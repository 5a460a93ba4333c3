package graft

import graft.model.Tables
import graft.streaming.{Daemon, Ingest}
import org.apache.spark.sql.SparkSession

/** The reference daemon's CLI surface (D12 — CmdArgParse.py consumed at
  * daq-3i.py:51-99) as a Spark entry point. Run modes mirror the
  * reference's flags:
  *
  *   - `CREATE-TABLE` (daq-3i.py:326-332): materialize the five
  *     reference schemas as catalog tables;
  *   - `TRUNC-ONLY` (daq-3i.py:334-339): one retention sweep over an
  *     existing fact directory, then exit;
  *   - `RUN` (default, daq-3i.py:341-348): the full daemon against the
  *     modbus-sim source — `NO-TRUNC` (daq-3i.py:84-87) disables the
  *     in-loop retention, `PRINT-LIVE` (daq-3i.py:92-93) prints the
  *     fact and status tables when the bounded run drains.
  *
  * Usage:
  *   sbt "runMain graft.DaqMain CREATE-TABLE --tables /tmp/daq/tables"
  *   sbt "runMain graft.DaqMain TRUNC-ONLY --data /tmp/daq"
  *   sbt "runMain graft.DaqMain RUN --data /tmp/daq --ticks 5 PRINT-LIVE"
  *
  * The channel dimension comes from `--channels id@addr,...` (each
  * channel UINT16, conversion none, history 100 — the simulator
  * fixture's shape) so a bounded demo run needs no pre-built config
  * store; a deployment loads dims from its JDBC config database via
  * `graft.sources.FileSources.jdbcReader` and drives [[Daemon]]
  * directly.
  */
object DaqMain {

  def main(args: Array[String]): Unit = {
    val flags = args.filter(a => !a.startsWith("--")).map(_.toUpperCase).toSet
    val opts = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val dataDir = opts.getOrElse("data", "/tmp/graft_daq")
    val spark = Tables.withSessionDefaults(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val channelSpec = opts.getOrElse("channels", "1@5,2@17")
    // (id, format_code UINT16, no conversion, history 100)
    val channels = channelSpec.split(",").toSeq
      .map(s => (s.split("@")(0).trim.toLong, 4, 0L, 100))
      .toDF("id", "format_code", "conversion_id", "history_len")

    if (flags.contains("CREATE-TABLE")) {
      val loc = opts.getOrElse("tables", s"$dataDir/tables")
      Tables.createReferenceTables(spark, loc)
      println(s"DAQ created ${Tables.referenceSchemas.size} reference tables at $loc")
    } else if (flags.contains("TRUNC-ONLY")) {
      // Destructive sweep: a channel present in factDir but absent from
      // the dim falls to retainNewestPerKey's default history of 1, so
      // running with the demo default channel list would silently
      // truncate unlisted channels to a single sample. Require the
      // operator to name the channels, and abort on any mismatch.
      require(opts.contains("channels"),
        "TRUNC-ONLY requires an explicit --channels list: channels absent " +
          "from it would be truncated to their last sample")
      val factDir = s"$dataDir/fact"
      val factPath = new org.apache.hadoop.fs.Path(factDir)
      if (factPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(factPath)) {
        val unknown = Ingest.readFact(spark, factDir)
          .select($"channel_id").distinct()
          .join(channels, $"channel_id" === $"id", "left_anti")
          .collect().map(_.getLong(0)).sorted
        require(unknown.isEmpty,
          s"TRUNC-ONLY aborted: fact data has channel_ids ${unknown.mkString(",")} " +
            "not in --channels; sweeping would truncate them to a single sample")
      }
      Ingest.compactFact(spark, factDir, channels)
      println(s"DAQ retention sweep complete over $factDir")
    } else { // RUN
      val ticks = opts.getOrElse("ticks", "5").toLong
      val baseOptions = Map(
        "startEpochSec" -> "0", "periodSec" -> "1",
        "maxTicks" -> ticks.toString)
      // --config <location>: the reference's load() path (daq-3i.py:
      // 218-231) — buses/channels/conversions come from the config
      // store and every enabled bus is polled live over Modbus-TCP;
      // without it, the CLI channel list drives the simulator (demo).
      val (dChannels, dConversions, dSource, dExtra) = opts.get("config") match {
        case Some(loc) =>
          val cfg = graft.streaming.ConfigStore.load(spark, loc, baseOptions)
          (cfg.channels, cfg.conversions, cfg.busSources.head, cfg.busSources.tail)
        case None =>
          (channels, Seq.empty[(Long, String)],
            baseOptions + ("channels" -> channelSpec), Nil)
      }
      val daemon = new Daemon(
        spark, dChannels, dConversions, dSource, dataDir,
        truncIntervalSec =
          if (flags.contains("NO-TRUNC")) Int.MaxValue / 1000 else 15,
        extraSources = dExtra)
      daemon.start()
      try {
        // the bounded source drains; the daemon's own sink compacts once
        if (flags.contains("NO-TRUNC")) daemon.ingest.processAllAvailable()
        else daemon.drainAndCompact()
        if (flags.contains("PRINT-LIVE")) {
          println("=== channel_data ===")
          Ingest.readFact(spark, daemon.factDir).orderBy("channel_id", "ts").show(50, truncate = false)
          println("=== daq_status ===")
          spark.read.parquet(daemon.statusDir).orderBy("parameter").show(truncate = false)
        }
        println(s"DAQ run drained $ticks ticks into $dataDir")
      } finally daemon.stop()
    }
    spark.stop()
  }
}
