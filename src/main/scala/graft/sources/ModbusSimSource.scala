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
  * the reference's acquisition layer (D1/D2, modbus.py:37-56) with two
  * reader modes behind one plan shape:
  *
  *  - `mode=sim` (default, short name `modbus-sim`): an in-process
  *    generator replaying the reference's device simulator fixture
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
  *  - the read plan is made once per stream, on the driver. In tcp
  *    mode each unit's channels are sorted by address and cut into
  *    blocks of at most 125 touching or overlapping registers
  *    ([[ModbusSimSource.blocks]]); the blocks are cut into at most
  *    `numPartitions` contiguous runs, one per input partition. Each
  *    PartitionReader owns ONE connection for the batch and sends one
  *    request per block (SURVEY.md §3.5 network boundary — the driver
  *    never touches a socket). A device exception on a block falls
  *    back to one read per channel of that block, so a bad address
  *    fails only its own channel. In sim mode the channels are dealt
  *    round-robin to `numPartitions` partitions.
  *
  * Options: `channels` = comma list of `id@address[@count[@unit]]`
  * (count defaults to `registers`, unit to `unitId`); `registers` =
  * default words per read (default 4); `unitId` (default 1);
  * `startEpochSec`; `periodSec` (tick width); `numPartitions`;
  * `maxTicks`; tcp mode adds `host`, `port`, `timeoutMs` (default
  * 1000), `funcCode` (must be 3 — the only implemented function,
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

  /** The tcp read plan: [[blocks]] cut into at most `numPartitions`
    * contiguous runs of nearly equal block counts, so a block never
    * spans two partitions and each partition's requests stay in
    * address order. */
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
    Config(
      chans,
      options.getLong("startEpochSec", 0L),
      options.getLong("periodSec", 1L),
      options.getInt("numPartitions", 2),
      options.getLong("maxTicks", 0L),
      mode,
      options.getOrDefault("host", ""),
      options.getInt("port", 502),
      options.getInt("timeoutMs", 1000))
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

private class ModbusSimMicroBatchStream(config: ModbusSimSource.Config)
    extends MicroBatchStream with SupportsAdmissionControl {
  // One tick per trigger — one device sweep per micro-batch, the
  // reference's acquisition cadence. A positive maxTicks bounds the
  // stream (lets processAllAvailable converge in tests and replay
  // jobs); live mode leaves it unbounded.
  //
  // Restart safety: `tick` must never regress below the checkpointed
  // offset, or committed ticks would be re-planned under NEW batch ids
  // (which the batchId-keyed idempotent sink cannot dedupe). Spark's
  // plain MicroBatchStream path calls latestOffset() WITHOUT handing
  // back the restored offset, so this source implements
  // SupportsAdmissionControl — that path passes the checkpointed start
  // offset into latestOffset(start, limit) — and additionally
  // re-learns the offset in deserializeOffset/planInputPartitions.
  private var tick = 0L
  private def observe(o: Long): Unit = synchronized { if (o > tick) tick = o }

  override def initialOffset(): Offset = TickOffset(0L)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TickOffset].tick
    // reportLatestOffset/commit can run from other driver threads, so
    // the advance shares observe()'s lock — no unsynchronized RMW
    synchronized {
      if (s > tick) tick = s
      if (config.maxTicks <= 0L || tick < config.maxTicks) tick += 1
      TickOffset(tick)
    }
  }
  override def reportLatestOffset(): Offset = synchronized { TickOffset(tick) }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "SupportsAdmissionControl source: latestOffset(start, limit) is used")
  override def deserializeOffset(json: String): Offset = {
    val o = json.toLong
    observe(o)
    TickOffset(o)
  }
  override def commit(end: Offset): Unit =
    observe(end.asInstanceOf[TickOffset].tick)
  override def stop(): Unit = ()

  // Planned once per stream. tcp reads blocks (ModbusSimSource.plan);
  // sim has no wire, so each channel is its own block and the channels
  // keep their interleaved split: sim partitions and row order are
  // those of a one-read-per-channel plan.
  private val partitionBlocks: Seq[Seq[ModbusSimSource.Block]] =
    if (config.mode == "tcp") ModbusSimSource.plan(config.channels, config.numPartitions)
    else config.channels.zipWithIndex.groupBy(_._2 % config.numPartitions)
      .toSeq.sortBy(_._1).map(_._2.map(c => ModbusSimSource.Block.of(c._1)))
  // the blocks carry every channel a reader needs
  private val taskConfig = config.copy(channels = Nil)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[TickOffset].tick, end.asInstanceOf[TickOffset].tick)
    observe(e)
    partitionBlocks.map(bs => ModbusSimPartition(bs, s, e, taskConfig): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[ModbusSimPartition]
      if (p.config.mode == "tcp") new ModbusTcpPartitionReader(p)
      else new ModbusSimPartitionReader(p)
    }
}

private case class ModbusSimPartition(
    blocks: Seq[ModbusSimSource.Block],
    startTick: Long,
    endTick: Long,
    config: ModbusSimSource.Config) extends InputPartition {
  def tsMicros(tick: Long): Long = (config.startEpochSec + tick * config.periodSec) * 1000000L
}

/** Generates one row per (tick, channel) for ticks in (start, end]
  * from the in-process simulator ramp. */
private class ModbusSimPartitionReader(p: ModbusSimPartition)
    extends PartitionReader[InternalRow] {
  private val rows: Iterator[InternalRow] = for {
    t <- Iterator.range(p.startTick + 1, p.endTick + 1)
    ch <- p.blocks.iterator.flatMap(_.chans)
  } yield {
    // simulated device block: hr[a] == a (modbus_server.py:92)
    val regs = Array.tabulate(ch.count)(i => (ch.addr + i) & 0xFFFF)
    InternalRow(ch.id, p.tsMicros(t), ArrayData.toArrayData(regs), 0)
  }
  private var current: InternalRow = _
  override def next(): Boolean = {
    if (rows.hasNext) { current = rows.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Live mode: one MBAP connection per partition per micro-batch,
  * amortized over every (tick, block) read this partition owns — the
  * network boundary lives inside the reader, never on the driver. Each
  * block is one request, sliced back into one row per channel.
  *  - A device exception response keeps the connection (the device is
  *    alive and talking). On a block of several channels it may be one
  *    bad address, so that block's channels are read one by one and
  *    only a channel the device refuses fails (bus.py:94-100).
  *  - A transport failure or timeout makes every channel of the block a
  *    status=-1 row with no registers, and the next block reconnects. */
private class ModbusTcpPartitionReader(p: ModbusSimPartition)
    extends PartitionReader[InternalRow] {
  private val client =
    new ModbusTcpClient(p.config.host, p.config.port, p.config.timeoutMs)
  private val emptyRegs = ArrayData.toArrayData(Array.empty[Int])
  private val rows: Iterator[InternalRow] = for {
    t <- Iterator.range(p.startTick + 1, p.endTick + 1)
    b <- p.blocks.iterator
    row <- read(b, p.tsMicros(t))
  } yield row

  private def read(b: ModbusSimSource.Block, tsMicros: Long): Seq[InternalRow] =
    try {
      val words = client.readHoldingRegisters(b.unit, b.addr, b.count)
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
  override def close(): Unit = client.close()
}
