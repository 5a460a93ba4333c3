package perfbench

import graft.functions.ModbusDecode._

import scala.util.Random

/** One polled channel of a generated plant: where it lives on the wire
  * (bus, unit, register block) and how it is decoded, converted and
  * retained. */
case class Channel(
    id: Long,
    bus: Int,
    unit: Int,
    address: Int,
    count: Int,
    format: Int,
    conversionId: Option[Long],
    historyLen: Int)

/** A workload's fixed shape; the seed only draws the layout inside it,
  * so per-tick work is the same for every seed. */
case class Shape(
    name: String,
    mode: String, // "sim" (in-process generator) | "tcp" (device simulator)
    channels: Int,
    buses: Int,
    unitsPerBus: Int,
    partitionsPerBus: Int,
    historyMin: Int,
    historyMax: Int,
    retainEveryTick: Boolean,
    pulseSec: Int,
    reader: Boolean,
    // warm-up ticks before the measured window; they count as set-up.
    // Tick times keep falling for dozens of ticks while the JIT compiles
    // Spark's planner, by an amount that differs from run to run
    warmTicks: Int) {
  /** Task slots of the session: nproc, less one core for the dashboard
    * reader's thread where there is one, so that the load is nproc
    * threads. */
  def sessionCores(nproc: Int): Int = if (reader) math.max(1, nproc - 1) else nproc
}

case class Plant(
    shape: Shape,
    seed: Long,
    channels: IndexedSeq[Channel],
    conversions: Seq[(Long, String)],
    startEpochSec: Long)

object Workloads {

  def shape(name: String, nproc: Int): Shape = name match {
    case "poll_wide_tcp" =>
      // one connection per bus (one partition each), at most nproc buses
      val buses = math.max(1, math.min(nproc, 4))
      Shape(name, "tcp", channels = 12000, buses = buses, unitsPerBus = 4,
        partitionsPerBus = 1, historyMin = 10000, historyMax = 20000,
        retainEveryTick = false, pulseSec = 3600, reader = false, warmTicks = 3)
    case "retain_read_mix" =>
      Shape(name, "sim", channels = 4000, buses = 1, unitsPerBus = 1, partitionsPerBus = 2,
        historyMin = 3, historyMax = 6, retainEveryTick = true,
        pulseSec = 15, reader = true, warmTicks = 6)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Formats whose decode is implemented by the reference and yields a
    * number for every register block. */
  private val formats = IndexedSeq(MODBUS_SINT16, MODBUS_SINT32, MODBUS_UINT16,
    MODBUS_UINT32, MODBUS_FLOAT, MODBUS_ABB_REAL32_U, MODBUS_ABB_REAL32_S)

  /** Conversion programs in the reference's `Value = <expr in x>` form
    * and their golden evaluation, operation for operation. */
  private val programs: IndexedSeq[(String, Double => Double)] = IndexedSeq(
    ("Value = x * 0.1", x => x * 0.1),
    ("Value = x * 10", x => x * 10.0),
    ("Value = x * 1.8 + 32", x => x * 1.8 + 32.0),
    ("Value = x * 0.01 - 40", x => x * 0.01 - 40.0),
    ("Value = (x - 273.15) / 2", x => (x - 273.15) / 2.0),
    ("Value = abs(x)", x => math.abs(x)))

  def convert(conversionId: Option[Long], x: Double): Double =
    conversionId.fold(x)(id => programs(id.toInt - 1)._2(x))

  def generate(shape: Shape, seed: Long): Plant = {
    val rnd = new Random(seed)
    val ids = rnd.shuffle((1 to shape.channels).map(_.toLong * 7 + 100)).toIndexedSeq
    // split channels over (bus, unit) evenly, each unit a contiguous
    // register block starting at a seeded base, as a PLC map lays it out
    val groups = shape.buses * shape.unitsPerBus
    val perGroup = (0 until groups).map(g =>
      shape.channels / groups + (if (g < shape.channels % groups) 1 else 0))
    var next = 0
    val chans = (0 until groups).flatMap { g =>
      val bus = g / shape.unitsPerBus
      val unit = 1 + g % shape.unitsPerBus
      val n = perGroup(g)
      val fmts = IndexedSeq.fill(n)(formats(rnd.nextInt(formats.size)))
      val words = fmts.map(formatLength).sum
      var addr = if (shape.mode == "tcp") rnd.nextInt(65536 - words) else 0
      fmts.map { f =>
        val id = ids(next); next += 1
        val len = formatLength(f)
        // the in-process generator answers hr[a] == a, so a FLOAT
        // channel needs an address whose high word has a finite,
        // moderate exponent; tcp channels sit back to back
        val a =
          if (shape.mode == "sim") {
            var c = rnd.nextInt(65536 - 16)
            while (f == MODBUS_FLOAT && !safeHighWord(c + 1)) c = rnd.nextInt(65536 - 16)
            c
          } else { val c = addr; addr += len; c }
        val conv = if (rnd.nextInt(3) == 0) None else Some(1L + rnd.nextInt(programs.size))
        val hist = shape.historyMin + rnd.nextInt(shape.historyMax - shape.historyMin + 1)
        Channel(id, bus, unit, a, len, f, conv, hist)
      }
    }
    val convs = programs.indices.map(i => (i + 1L, programs(i)._1))
    Plant(shape, seed, chans, convs, startEpochSec = 1600000000L + rnd.nextInt(1000000))
  }

  /** A float high word with exponent in [96, 159]: |value| < 2^33. */
  def safeHighWord(w: Int): Boolean = {
    val e = (w >> 7) & 0xFF
    e >= 96 && e <= 159
  }

  /** The device simulator's register map for one unit: every word is a
    * safe float high word, so any FLOAT read decodes to a finite value
    * that fits the fact table's NUMERIC(25,6) after any conversion. */
  def registerMap(seed: Long, unit: Int): Array[Int] = {
    val rnd = new Random(seed * 31 + unit)
    Array.fill(65536) {
      val sign = rnd.nextInt(2)
      val e = 96 + rnd.nextInt(64)
      (sign << 15) | (e << 7) | rnd.nextInt(128)
    }
  }

  /** Register words the device returns for a channel's block. */
  def registers(plant: Plant, maps: Map[Int, Array[Int]], ch: Channel): Array[Int] =
    if (plant.shape.mode == "sim") Array.tabulate(ch.count)(i => (ch.address + i) & 0xFFFF)
    else Array.tabulate(ch.count)(i => maps(ch.unit)(ch.address + i))

  /** Golden decode (reference modbus.py:58-166) written independently
    * of the program's Catalyst decode. */
  def decode(format: Int, r: Array[Int]): Double = {
    def u32 = (r(1).toLong << 16) | r(0).toLong
    format match {
      case MODBUS_SINT16 => (if (r(0) >= 32768) r(0) - 65536 else r(0)).toDouble
      case MODBUS_SINT32 => u32.toInt.toDouble
      case MODBUS_UINT16 | MODBUS_ABB_REAL32_U => r(0).toDouble
      case MODBUS_UINT32 | MODBUS_ABB_REAL32_S => u32.toDouble
      case MODBUS_FLOAT => java.lang.Float.intBitsToFloat(u32.toInt).toDouble
    }
  }

  /** The fact table's value for a channel: decode, convert, NUMERIC(25,6). */
  def golden(plant: Plant, maps: Map[Int, Array[Int]], ch: Channel): java.math.BigDecimal = {
    val x = convert(ch.conversionId, decode(ch.format, registers(plant, maps, ch)))
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).bigDecimal
  }
}
