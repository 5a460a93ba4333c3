package graft.streaming

import graft.functions.ModbusDecode
import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Config-store-driven daemon startup — the reference's `load()` path
  * (daq-3i.py:218-231: read config, prep status, load buses) against
  * the five reference tables, so a reference-shaped deployment drives
  * this engine from the same config database end to end:
  *
  *  - buses filtered to `enabled` (daq-3i.py:130), each carrying its
  *    Modbus endpoint (address, port) and per-bus `timeout`
  *    (db_model.py:38, seconds — converted to the source's
  *    `timeoutMs`);
  *  - only MODBUSTCP (protocol=1, bus.py:6) buses are accepted; any
  *    other protocol fails LOUDLY at load. The reference instead falls
  *    through with the PREVIOUS bus object (`bus1`, daq-3i.py:133-142
  *    — channels of an unknown-protocol bus silently attach to
  *    whatever bus loaded before it); that is a bug, not a spec, and
  *    is deliberately not ported (SURVEY.md §1 non-goals);
  *  - channels filtered to `enabled` per bus (daq-3i.py:144), each
  *    contributing `id@address@count@unit` to its bus's source spec:
  *    count = FORMAT_LENGTH(format_code) (modbus.py:26-29), unit =
  *    device_id (db_model.py:14). Channels with a function code other
  *    than READHOLDING=3 are rejected at load — the reference instead
  *    throws per read, forever, at 1 Hz (modbus.py:48-49); failing at
  *    startup is the same contract surfaced once;
  *  - conversions joined by id with 0/NULL = no conversion
  *    (daq-3i.py:150-153) — the pass-through lives in
  *    `Conversions.applyConversions`, so the loader just hands the
  *    full (id, expr) dimension over.
  *
  * The loader reads the parquet table directories `createReferenceTables`
  * materializes (location/buses, location/channels, ...), with the
  * declared schemas — a JDBC config database instead is one reader swap
  * (`FileSources.jdbcReader`), the shapes are identical.
  */
object ConfigStore {

  /** Everything [[Daemon]] needs, loaded from the config store. */
  case class DaemonConfig(
      channels: DataFrame, // local snapshot: (id, format_code, conversion_id, history_len, ...)
      conversions: Seq[(Long, String)],
      busSources: Seq[Map[String, String]]) // one source-options map per bus

  def load(
      spark: SparkSession,
      location: String,
      sourceDefaults: Map[String, String] = Map.empty): DaemonConfig =
    loadFrom(spark, location, sourceDefaults)(name =>
      spark.read.schema(Tables.referenceSchemas(name)).parquet(s"$location/$name"))

  /** [[load]] against a live JDBC config database — the reference's
    * actual deployment shape (daq-3i.py:112-114 reads the dims through
    * the engine whose URL db_model.py:65-67 builds). Columns are cast
    * to the declared reference schemas, so driver-specific JDBC type
    * mappings (Derby CLOB for strings, DECIMAL widths) can't leak into
    * the daemon's dims. Config tables are bus/channel-bounded, so each
    * reads in one partition — `FileSources.jdbcReader`'s split
    * machinery is for fact-sized tables. */
  def loadJdbc(
      spark: SparkSession,
      url: String,
      sourceDefaults: Map[String, String] = Map.empty): DaemonConfig =
    loadFrom(spark, url, sourceDefaults) { name =>
      val schema = Tables.referenceSchemas(name)
      graft.sources.FileSources
        .jdbcReader(spark, url, name, "id", 0L, 1L << 20, numPartitions = 1)
        .load()
        .select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    }

  private def loadFrom(
      spark: SparkSession,
      location: String,
      sourceDefaults: Map[String, String])(
      tbl: String => DataFrame): DaemonConfig = {

    val buses = tbl("buses").filter(col("enabled")).collect()
    require(buses.nonEmpty, s"no enabled bus in the config store at $location")
    val badProto = buses.filter(_.getAs[Int]("protocol") != 1)
    require(badProto.isEmpty,
      s"unsupported bus protocol(s): ${badProto.map(b =>
        s"${b.getAs[String]("name")}=${b.getAs[Int]("protocol")}").mkString(", ")} " +
        "(only MODBUSTCP=1; the reference's silent bus1 fallthrough is not ported)")

    // channel dim for decode/convert/retention — enabled only, but for
    // EVERY enabled bus (the stream union below carries all of them).
    // Read once: the source specs and the daemon's dim share its rows.
    val enabledBusIds = buses.map(_.getAs[Long]("id")).toSeq
    val channels = Daemon.snapshot(tbl("channels")
      .filter(col("enabled") && col("bus_id").isin(enabledBusIds: _*)))
    val chanRows = channels.collect()
    val badFn = chanRows.filter(_.getAs[Int]("func_code") != 3)
    require(badFn.isEmpty,
      s"function code not yet implemented for channel(s): ${badFn.map(c =>
        s"${c.getAs[String]("name")}=fn${c.getAs[Int]("func_code")}").mkString(", ")} " +
        "(only READHOLDING=3, modbus.py:48-49)")

    val byBus = chanRows.groupBy(_.getAs[Long]("bus_id"))
    val busSources = buses.toSeq.flatMap { b =>
      val busId = b.getAs[Long]("id")
      byBus.get(busId).map { chs =>
        val spec = chs.sortBy(_.getAs[Long]("id")).map { c =>
          val fc = c.getAs[Int]("format_code")
          // fail loudly at load like the protocol/func_code checks — a
          // silent count=1 default would mis-frame every read of the
          // channel (the reference raises KeyError per read, modbus.py:26)
          require(ModbusDecode.formatLength.contains(fc),
            s"unknown format_code $fc for channel ${c.getAs[String]("name")} " +
              s"(id ${c.getAs[Long]("id")}); known: ${ModbusDecode.formatLength.keys.toSeq.sorted.mkString(",")}")
          val count = ModbusDecode.formatLength(fc)
          s"${c.getAs[Long]("id")}@${c.getAs[Int]("address")}@$count@${c.getAs[Int]("device_id")}"
        }.mkString(",")
        sourceDefaults ++ Map(
          "mode" -> "tcp",
          "host" -> b.getAs[String]("address"),
          "port" -> b.getAs[Int]("port").toString,
          "timeoutMs" -> (b.getAs[Int]("timeout") * 1000L).toString,
          "channels" -> spec)
      } // a bus with zero enabled channels spawns no stream
    }
    require(busSources.nonEmpty, s"no enabled bus with enabled channels at $location")

    val conversions = tbl("conversions")
      .filter(col("expr").isNotNull)
      .select(col("id"), col("expr")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

    DaemonConfig(channels, conversions, busSources)
  }
}
