package graft.sources

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** The live-client mode (D1, modbus.py:37-56) against an in-JVM MBAP
  * socket fixture emitting the reference simulator's ramp
  * (modbus_server.py:92) — the same golden contract the sim-mode spec
  * pins, now across a real TCP conversation: framing, per-bus timeout
  * (db_model.py:38), device exception responses, and the status=-1
  * error path (bus.py:94-100). */
class ModbusTcpSourceSpec extends AnyFunSuite with SparkSpec {

  test("client reads the ramp over a real socket; connection reused across reads") {
    val server = new ModbusTestServer()
    try {
      val c = new ModbusTcpClient("127.0.0.1", server.port, 1000)
      try {
        assert(c.readHoldingRegisters(1, 5, 4).toSeq == Seq(5, 6, 7, 8))
        assert(c.readHoldingRegisters(1, 17, 1).toSeq == Seq(17))
        assert(c.readHoldingRegisters(2, 0, 3).toSeq == Seq(0, 1, 2))
        assert(server.requestCount == 3)
      } finally c.close()
    } finally server.close()
  }

  test("device exception response throws ModbusException but keeps the stream aligned") {
    val server = new ModbusTestServer()
    try {
      val c = new ModbusTcpClient("127.0.0.1", server.port, 1000)
      try {
        intercept[ModbusException](c.readHoldingRegisters(1, 200, 4))
        // next read on the SAME connection still parses cleanly
        assert(c.readHoldingRegisters(1, 9, 2).toSeq == Seq(9, 10))
      } finally c.close()
    } finally server.close()
  }

  test("read timeout throws IOException and the client reconnects on the next call") {
    val slow = new ModbusTestServer(responseDelayMs = 800)
    try {
      val c = new ModbusTcpClient("127.0.0.1", slow.port, 150)
      try {
        intercept[java.io.IOException](c.readHoldingRegisters(1, 5, 1))
      } finally c.close()
    } finally slow.close()
    val ok = new ModbusTestServer()
    try {
      val c = new ModbusTcpClient("127.0.0.1", ok.port, 1000)
      try assert(c.readHoldingRegisters(1, 5, 1).toSeq == Seq(5))
      finally c.close()
    } finally ok.close()
  }

  test("transport drop mid-conversation: the failed read throws, the next read reconnects") {
    val server = new ModbusTestServer(dropEveryNth = 2)
    try {
      val c = new ModbusTcpClient("127.0.0.1", server.port, 1000)
      try {
        assert(c.readHoldingRegisters(1, 5, 1).toSeq == Seq(5)) // request 1 ok
        intercept[java.io.IOException](c.readHoldingRegisters(1, 6, 1)) // request 2 dropped
        assert(c.readHoldingRegisters(1, 7, 1).toSeq == Seq(7)) // request 3: fresh socket
      } finally c.close()
    } finally server.close()
  }

  test("a reply for another unit throws IOException, not a device exception") {
    val server = new ModbusTestServer(wrongUnit = true)
    try {
      val c = new ModbusTcpClient("127.0.0.1", server.port, 1000)
      try {
        val e = intercept[java.io.IOException](c.readHoldingRegisters(1, 5, 2))
        assert(!e.isInstanceOf[ModbusException] && e.getMessage.contains("unit"), e)
      } finally c.close()
    } finally server.close()
  }

  /** Polls `channels` on one partition for `ticks` ticks; rows as
    * (channel_id, status, registers), by channel then tick. */
  private def poll(port: Int, channels: String, ticks: Int, name: String)
      : Seq[(Long, Int, Seq[Int])] = {
    import spark.implicits._
    val q = spark.readStream
      .format("modbus-tcp")
      .option("host", "127.0.0.1")
      .option("port", port.toString)
      .option("channels", channels)
      .option("numPartitions", "1")
      .option("maxTicks", ticks.toString)
      .load()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      q.processAllAvailable()
      q.processAllAvailable()
      spark.table(name).orderBy($"channel_id", $"ts").collect()
        .map(r => (r.getLong(0), r.getInt(3), r.getSeq[Int](2))).toSeq
    } finally q.stop()
  }

  private def ramp(addr: Int, count: Int): Seq[Int] = addr until addr + count

  test("touching channels on one unit cost one request per tick, sliced back per channel") {
    val server = new ModbusTestServer()
    try {
      val rows = poll(server.port, "1@10@2,2@12@2,3@14@2,4@16@2", 2, "modbus_tcp_block")
      assert(rows == (1 to 4).flatMap(i => Seq.fill(2)((i.toLong, 0, ramp(8 + 2 * i, 2)))))
      assert(server.requestCount == 2)
    } finally server.close()
  }

  test("a gap, another unit and shared registers: one request per block, the right words per row") {
    val server = new ModbusTestServer()
    try {
      // blocks: unit 1 [10,14) {1,2}; unit 1 [20,23) {3,4,6}; unit 2 [10,12) {5}
      val rows = poll(server.port,
        "1@10@2,2@12@2,3@20@2,4@20@2,6@21@2,5@10@2@2", 1, "modbus_tcp_blocks")
      assert(rows == Seq(
        (1L, 0, ramp(10, 2)), (2L, 0, ramp(12, 2)), (3L, 0, ramp(20, 2)),
        (4L, 0, ramp(20, 2)), (5L, 0, ramp(10, 2)), (6L, 0, ramp(21, 2))))
      assert(server.requestCount == 3)
    } finally server.close()
  }

  test("a device exception on a block falls back to per-channel reads; only the bad channel fails") {
    val server = new ModbusTestServer()
    try {
      // [96,100) crosses the server's 99-register end; 1@96@2 alone does not
      val rows = poll(server.port, "1@96@2,2@98@2", 1, "modbus_tcp_fallback")
      assert(rows == Seq((1L, 0, ramp(96, 2)), (2L, -1, Seq.empty[Int])))
      assert(server.requestCount == 1 + 2)
    } finally server.close()
  }

  test("a transport drop fails exactly the dropped block's channels; the next block reconnects") {
    val server = new ModbusTestServer(dropEveryNth = 2)
    try {
      // blocks {1,2}, {3,4}, {5}: request 2 (the second block) is dropped
      val rows = poll(server.port, "1@0@2,2@2@2,3@10@2,4@12@2,5@20@2", 1, "modbus_tcp_drop")
      assert(rows == Seq(
        (1L, 0, ramp(0, 2)), (2L, 0, ramp(2, 2)),
        (3L, -1, Seq.empty[Int]), (4L, -1, Seq.empty[Int]),
        (5L, 0, ramp(20, 2))))
      assert(server.requestCount == 3)
    } finally server.close()
  }

  test("golden check over TCP: UINT16 @ address A ingests value A through the full pipeline") {
    import spark.implicits._
    val server = new ModbusTestServer()
    try {
      val readings = spark.readStream
        .format("modbus-tcp")
        .option("host", "127.0.0.1")
        .option("port", server.port.toString)
        .option("channels", "1@5,2@17,3@40")
        .option("registers", "4")
        .option("maxTicks", "3")
        .load()
      val channels = Seq((1L, 4, 0L), (2L, 4, 0L), (3L, 4, 0L))
        .toDF("id", "format_code", "conversion_id")
      val decoded = graft.streaming.Ingest.decodeAndConvert(readings, channels, Seq.empty)
      val q = decoded.writeStream
        .format("memory").queryName("modbus_tcp_golden").outputMode("append").start()
      try {
        q.processAllAvailable()
        q.processAllAvailable()
        val rows = spark.table("modbus_tcp_golden")
          .select($"channel_id", $"value".cast("double"))
          .distinct().orderBy($"channel_id").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        assert(rows.toSeq == Seq((1L, 5.0), (2L, 17.0), (3L, 40.0)))
        // 3 ticks x 3 channels crossed the wire
        assert(server.requestCount == 9)
      } finally q.stop()
    } finally server.close()
  }

  test("failed reads become status=-1 rows (illegal address), good channels unaffected") {
    import spark.implicits._
    val server = new ModbusTestServer()
    try {
      val readings = spark.readStream
        .format("modbus-tcp")
        .option("host", "127.0.0.1")
        .option("port", server.port.toString)
        .option("channels", "1@5,2@200") // 200 is past the 99-register block
        .option("registers", "2")
        .option("numPartitions", "1")
        .option("maxTicks", "2")
        .load()
      val q = readings.writeStream
        .format("memory").queryName("modbus_tcp_err").outputMode("append").start()
      try {
        q.processAllAvailable()
        q.processAllAvailable()
        val t = spark.table("modbus_tcp_err")
        val byChan = t.groupBy($"channel_id", $"status").count().collect()
          .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
        assert(byChan((1L, 0)) == 2L) // good channel: 2 ticks of samples
        assert(byChan((2L, -1)) == 2L) // bad channel: 2 ticks of status=-1
        // error rows carry no registers
        val errRegs = t.filter($"status" === -1).select($"registers").head().getSeq[Int](0)
        assert(errRegs.isEmpty)
      } finally q.stop()
    } finally server.close()
  }

  test("dead endpoint: every read times out to status=-1, stream still completes") {
    import spark.implicits._
    val server = new ModbusTestServer()
    val deadPort = server.port
    server.close() // nothing listens here any more
    val readings = spark.readStream
      .format("modbus-tcp")
      .option("host", "127.0.0.1")
      .option("port", deadPort.toString)
      .option("timeoutMs", "200")
      .option("channels", "1@5")
      .option("maxTicks", "2")
      .load()
    val q = readings.writeStream
      .format("memory").queryName("modbus_tcp_dead").outputMode("append").start()
    try {
      q.processAllAvailable()
      q.processAllAvailable()
      val statuses = spark.table("modbus_tcp_dead")
        .select($"status").collect().map(_.getInt(0)).toSeq
      assert(statuses.nonEmpty && statuses.forall(_ == -1))
    } finally q.stop()
  }

  test("per-channel count and unit id parse from the id@addr@count@unit spec") {
    import spark.implicits._
    val server = new ModbusTestServer()
    try {
      val readings = spark.readStream
        .format("modbus-tcp")
        .option("host", "127.0.0.1")
        .option("port", server.port.toString)
        .option("channels", "1@5@1@3,2@17@2@7") // count/unit per channel
        .option("maxTicks", "1")
        .load()
      val q = readings.writeStream
        .format("memory").queryName("modbus_tcp_spec").outputMode("append").start()
      try {
        q.processAllAvailable()
        val rows = spark.table("modbus_tcp_spec")
          .orderBy($"channel_id").collect()
          .map(r => (r.getLong(0), r.getSeq[Int](2)))
        assert(rows.toSeq == Seq((1L, Seq(5)), (2L, Seq(17, 18))))
      } finally q.stop()
    } finally server.close()
  }
}
