package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util

/** DataSource V2 streaming source for a fleet of Modbus-TCP devices —
  * the reference's acquisition layer (D1/D2, modbus.py:37-56): one
  * read plan and one reader, in front of one of two devices:
  *
  *  - `mode=sim` (default, short name `modbus-sim`): an in-process
  *    device replaying the reference's device simulator fixture
  *    (modbus_server.py: holding register hr[addr] == addr, which
  *    makes `UINT16 @ address A -> value A` the golden end-to-end
  *    check, FIXTURES.md §1);
  *  - `mode=tcp` (short name `modbus-tcp`): a live MBAP/function-code-3
  *    client ([[ModbusTcpClient]]) polling a real device at
  *    `host`:`port` with the per-bus `timeoutMs` (db_model.py:38); a
  *    failed read (transport error, timeout, or device exception
  *    response) yields a status=-1 row with no registers instead of a
  *    sample, exactly the reference's error path (bus.py:94-100).
  *
  * Shared semantics:
  *  - each micro-batch is one poll tick; tick t reads every configured
  *    channel once (the reference's 1 Hz bus loop, daq-3i.py:238-251);
  *  - rows are (channel_id, ts, registers, status), the input schema
  *    of graft.streaming.Ingest.decodeAndConvert; ts is tick-derived
  *    (startEpochSec + tick*periodSec) in BOTH modes so a replayed
  *    micro-batch regenerates the same keys — the idempotent sink
  *    depends on it (a wall-clock ts would fork the key space on every
  *    replay);
  *  - the read plan is made once per stream, on the driver
  *    ([[ModbusSimSource.plan]]): each unit's channels are sorted by
  *    address and cut into blocks of at most 125 touching or
  *    overlapping registers ([[ModbusSimSource.blocks]]), and the
  *    blocks are cut into at most `numPartitions` contiguous runs, one
  *    per input partition. Each PartitionReader reads its device once
  *    per block and slices the words back into one row per channel; in
  *    tcp mode it owns ONE connection for the batch (SURVEY.md §3.5
  *    network boundary — the driver never touches a socket), and a
  *    device exception on a block falls back to one read per channel
  *    of that block, so a bad address fails only its own channel.
  *
  * Options: `channels` = comma list of `id@address[@count[@unit]]`
  * (count defaults to `registers`, unit to `unitId`); `registers` =
  * default words per read (default 4); `unitId` (default 1);
  * `startEpochSec`; `periodSec` (tick width, >= 1); `numPartitions`
  * (>= 1); `maxTicks`; tcp mode adds `host`, `port` (1-65535),
  * `timeoutMs` (default 1000, >= 1: 0 would wait forever),
  * `funcCode` (must be 3 — the only implemented function,
  * modbus.py:48-49).
  */
class ModbusSimSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "modbus-sim"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ModbusSimSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ModbusSimTable(new CaseInsensitiveStringMap(properties))
}

/** `spark.readStream.format("modbus-tcp")` — the live-client mode as a
  * first-class format name (equivalent to `modbus-sim` with
  * `mode=tcp`). */
class ModbusTcpSource extends ModbusSimSource {
  override def shortName(): String = "modbus-tcp"
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val withMode = new util.HashMap[String, String](properties)
    withMode.put("mode", "tcp")
    new ModbusSimTable(new CaseInsensitiveStringMap(withMode))
  }
}

object ModbusSimSource {
  val schema: StructType = StructType(Seq(
    StructField("channel_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("registers", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("status", IntegerType, nullable = false)))

  /** One polled channel: id, register address, words per read (the
    * reference derives this from the format code — FORMAT_LENGTH,
    * modbus.py:26-29), Modbus unit/device id (db_model.py:14). */
  case class Chan(id: Long, addr: Int, count: Int, unit: Int)

  /** Registers [addr, addr + count) of one unit, read by one request;
    * every channel in `chans` lies inside them. */
  case class Block(unit: Int, addr: Int, count: Int, chans: Seq[Chan]) {
    def end: Int = addr + count
  }

  object Block {
    def of(ch: Chan): Block = Block(ch.unit, ch.addr, ch.count, Vector(ch))
  }

  /** Most registers one function-code-3 read returns (Modbus
    * Application Protocol v1.1b §6.3). */
  val MaxWords = 125

  /** Channels sorted by (unit, address) and cut into read blocks: a
    * block is one unit, at most [[MaxWords]] words, and holds only
    * channels that touch or overlap, so it reads no register that no
    * channel asked for. Channels on the same registers share a block. */
  def blocks(channels: Seq[Chan]): Seq[Block] =
    channels.sortBy(c => (c.unit, c.addr, c.id)).foldLeft(Vector.empty[Block]) { (bs, c) =>
      bs.lastOption match {
        case Some(b) if b.unit == c.unit && c.addr <= b.end &&
            math.max(b.end, c.addr + c.count) - b.addr <= MaxWords =>
          bs.init :+ b.copy(count = math.max(b.end, c.addr + c.count) - b.addr,
            chans = b.chans :+ c)
        case _ => bs :+ Block.of(c)
      }
    }

  /** The read plan of both modes: [[blocks]] cut into at most
    * `numPartitions` contiguous runs of nearly equal block counts, so a
    * block never spans two partitions and each partition's requests
    * stay in address order. */
  def plan(channels: Seq[Chan], numPartitions: Int): Seq[Seq[Block]] = {
    val bs = blocks(channels)
    val k = math.min(numPartitions, bs.size)
    (0 until k).map(i => bs.slice(i * bs.size / k, (i + 1) * bs.size / k))
  }

  case class Config(
      channels: Seq[Chan],
      startEpochSec: Long,
      periodSec: Long,
      numPartitions: Int,
      maxTicks: Long, // <= 0: unbounded (live mode); > 0: stop advancing
      mode: String, // "sim" | "tcp"
      host: String,
      port: Int,
      timeoutMs: Int)

  def parse(options: CaseInsensitiveStringMap): Config = {
    val defaultCount = options.getInt("registers", 4)
    val defaultUnit = options.getInt("unitId", 1)
    val chans = options.getOrDefault("channels", "1@5,2@17")
      .split(",").toSeq.map { s =>
        val parts = s.trim.split("@")
        val c = Chan(parts(0).toLong, parts(1).toInt,
          if (parts.length > 2) parts(2).toInt else defaultCount,
          if (parts.length > 3) parts(3).toInt else defaultUnit)
        // the wire keeps 16 address bits and 8 unit bits: out of range
        // would silently read another register or device
        def check(ok: Boolean, what: String): Unit = require(ok, s"channel ${c.id}: $what")
        check(c.addr >= 0 && c.addr <= 0xFFFF, s"address ${c.addr} not in 0-65535")
        check(c.count >= 1 && c.count <= MaxWords, s"count ${c.count} not in 1-$MaxWords")
        check(c.addr + c.count <= 0x10000, s"registers ${c.addr}+${c.count} pass 65535")
        check(c.unit >= 0 && c.unit <= 0xFF, s"unit ${c.unit} not in 0-255")
        c
      }
    val mode = options.getOrDefault("mode", "sim").toLowerCase
    require(mode == "sim" || mode == "tcp", s"mode must be sim|tcp, got $mode")
    // the reference refuses any function code but READHOLDING=3
    // (modbus.py:48-49) — fail at plan time, not per-row
    val fn = options.getInt("funcCode", 3)
    require(fn == 3, s"function code $fn not yet implemented (only 3)")
    if (mode == "tcp") require(options.containsKey("host") && options.containsKey("port"),
      "tcp mode requires host and port options")
    val config = Config(
      chans,
      options.getLong("startEpochSec", 0L),
      options.getLong("periodSec", 1L),
      options.getInt("numPartitions", 2),
      options.getLong("maxTicks", 0L),
      mode,
      options.getOrDefault("host", ""),
      options.getInt("port", 502),
      options.getInt("timeoutMs", 1000))
    // values that would plan no partition, stamp ticks out of order or
    // wait on a silent device forever (a 0 timeout is none to a socket)
    require(config.numPartitions >= 1, s"numPartitions ${config.numPartitions} < 1")
    require(config.periodSec >= 1, s"periodSec ${config.periodSec} < 1")
    require(config.timeoutMs >= 1, s"timeoutMs ${config.timeoutMs} < 1")
    if (mode == "tcp")
      require(config.port >= 1 && config.port <= 0xFFFF, s"port ${config.port} not in 1-65535")
    config
  }
}

private class ModbusSimTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "modbus_sim"
  override def schema(): StructType = ModbusSimSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = ModbusSimSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ModbusSimMicroBatchStream(ModbusSimSource.parse(options))
      }
    }
}

/** Offset = number of completed poll ticks. */
private case class TickOffset(tick: Long) extends Offset {
  override def json(): String = tick.toString
}

/** One tick per trigger: one device sweep per micro-batch, the
  * reference's acquisition cadence. A positive maxTicks bounds the
  * stream (lets processAllAvailable converge in tests and replay
  * jobs); live mode leaves it unbounded.
  *
  * The stream keeps no state: its offsets are a pure function of the
  * start offset Spark hands in. Spark's plain MicroBatchStream path
  * calls latestOffset() without the restored offset, so this source
  * implements SupportsAdmissionControl, whose latestOffset(start,
  * limit) receives the checkpointed start. A restarted stream
  * therefore resumes after its last committed tick and never re-plans
  * a committed tick under a new batch id, which the batchId-keyed
  * idempotent sink could not dedupe. */
private class ModbusSimMicroBatchStream(config: ModbusSimSource.Config)
    extends MicroBatchStream with SupportsAdmissionControl {
  override def initialOffset(): Offset = TickOffset(0L)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TickOffset].tick
    TickOffset(if (config.maxTicks <= 0L || s < config.maxTicks) s + 1 else s)
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "SupportsAdmissionControl source: latestOffset(start, limit) is used")
  override def deserializeOffset(json: String): Offset = TickOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // planned once per stream; the blocks carry every channel a reader needs
  private val partitionBlocks = ModbusSimSource.plan(config.channels, config.numPartitions)
  private val taskConfig = config.copy(channels = Nil)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[TickOffset].tick, end.asInstanceOf[TickOffset].tick)
    partitionBlocks.map(bs => ModbusSimPartition(bs, s, e, taskConfig): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) =>
      new ModbusPartitionReader(partition.asInstanceOf[ModbusSimPartition])
}

private case class ModbusSimPartition(
    blocks: Seq[ModbusSimSource.Block],
    startTick: Long,
    endTick: Long,
    config: ModbusSimSource.Config) extends InputPartition {
  def tsMicros(tick: Long): Long = (config.startEpochSec + tick * config.periodSec) * 1000000L
}

/** Reads ticks (start, end] of one partition's blocks. Each
  * (tick, block) is one read of the device, sliced back into one row
  * per channel. The device is `readBlock(unit, address, count)`: in
  * tcp mode one MBAP connection per partition per micro-batch, so the
  * network boundary lives inside the reader, never on the driver; in
  * sim mode the simulator ramp.
  *  - A device exception response keeps the connection (the device is
  *    alive and talking). On a block of several channels it may be one
  *    bad address, so that block's channels are read one by one and
  *    only a channel the device refuses fails (bus.py:94-100).
  *  - A transport failure or timeout makes every channel of the block a
  *    status=-1 row with no registers, and the next block reconnects. */
private class ModbusPartitionReader(p: ModbusSimPartition)
    extends PartitionReader[InternalRow] {
  private val client = Option.when(p.config.mode == "tcp")(
    new ModbusTcpClient(p.config.host, p.config.port, p.config.timeoutMs))
  // simulated device: hr[a] == a (modbus_server.py:92)
  private val readBlock: (Int, Int, Int) => Array[Int] = client.fold(
    (_: Int, addr: Int, count: Int) => Array.tabulate(count)(i => (addr + i) & 0xFFFF))(
    _.readHoldingRegisters)
  private val emptyRegs = ArrayData.toArrayData(Array.empty[Int])
  private val rows: Iterator[InternalRow] = for {
    t <- Iterator.range(p.startTick + 1, p.endTick + 1)
    b <- p.blocks.iterator
    row <- read(b, p.tsMicros(t))
  } yield row

  private def read(b: ModbusSimSource.Block, tsMicros: Long): Seq[InternalRow] =
    try {
      val words = readBlock(b.unit, b.addr, b.count)
      b.chans.map { ch =>
        val from = ch.addr - b.addr
        val regs = java.util.Arrays.copyOfRange(words, from, from + ch.count)
        InternalRow(ch.id, tsMicros, ArrayData.toArrayData(regs), 0)
      }
    } catch {
      case _: ModbusException if b.chans.size > 1 =>
        b.chans.flatMap(ch => read(ModbusSimSource.Block.of(ch), tsMicros))
      case _: java.io.IOException =>
        b.chans.map(ch => InternalRow(ch.id, tsMicros, emptyRegs, -1))
    }
  private var current: InternalRow = _
  override def next(): Boolean = {
    if (rows.hasNext) { current = rows.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = client.foreach(_.close())
}
