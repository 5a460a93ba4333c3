package graft.sources

import java.io.{BufferedInputStream, DataInputStream, IOException, OutputStream}
import java.net.{InetSocketAddress, Socket}

/** Minimal Modbus-TCP (MBAP) client for function code 3 — the live
  * counterpart of the reference's acquisition call
  * (modbus.py:37-56: `read_holding_registers` over
  * `ModbusTcpClient(host, port, timeout)`), built directly on the
  * public wire format (Modbus Application Protocol v1.1b, §4.1 MBAP
  * framing):
  *
  *   request  = [txn:2][proto=0:2][len:2][unit:1] [fn=3:1][addr:2][count:2]
  *   response = [txn:2][proto=0:2][len:2][unit:1] [fn:1][byteCount:1][regs:2N]
  *   error    = same header, fn | 0x80, then a 1-byte exception code.
  *
  * Differences from the reference, deliberate:
  *   - the reference opens a fresh TCP connection per register read
  *     (`with ModbusTcpClient(...)` inside `read_register`,
  *     modbus.py:43) — at one poll per channel per second that is a
  *     full handshake per sample. This client keeps the socket open
  *     across reads and reconnects only after a failure, which is both
  *     what production Modbus masters do and what a Spark
  *     PartitionReader wants (one connection per partition per
  *     micro-batch, amortized over every register block it reads);
  *   - the reference reads one channel per request; the source hands
  *     this client whole blocks of up to 125 contiguous registers
  *     ([[ModbusSimSource.blocks]]), and each request and each reply
  *     crosses the socket as one frame;
  *   - only function code 3 is implemented, matching the reference's
  *     explicit refusal of anything else (modbus.py:48-49).
  *
  * Not thread-safe: each PartitionReader owns its own instance.
  */
final class ModbusTcpClient(host: String, port: Int, timeoutMs: Int)
    extends AutoCloseable {

  private var socket: Socket = _
  private var in: DataInputStream = _
  private var out: OutputStream = _
  private var txn = 0
  // one request frame, and the longest reply: header + fn + byteCount
  // + 125 words
  private val request = new Array[Byte](12)
  private val reply = new Array[Byte](9 + 2 * 125)

  private def connect(): Unit = {
    val s = new Socket()
    s.connect(new InetSocketAddress(host, port), timeoutMs)
    s.setSoTimeout(timeoutMs) // per-read timeout (db_model.py:38 per-bus)
    s.setTcpNoDelay(true)
    socket = s
    in = new DataInputStream(new BufferedInputStream(s.getInputStream))
    out = s.getOutputStream
  }

  private def dropConnection(): Unit = {
    if (socket != null) {
      try socket.close() catch { case _: IOException => () }
      socket = null; in = null; out = null
    }
  }

  private def putShort(i: Int, v: Int): Unit = {
    request(i) = (v >> 8).toByte
    request(i + 1) = v.toByte
  }

  private def replyShort(i: Int): Int = ((reply(i) & 0xFF) << 8) | (reply(i + 1) & 0xFF)

  /** Read `count` holding registers at `address` from `unitId`.
    * Returns the unsigned 16-bit register words. The request leaves as
    * one write and the reply is read through a buffer, so a read costs
    * one segment each way, not one per byte. Throws
    * [[ModbusException]] on a device error response, which keeps the
    * connection, and IOException on transport failure, timeout or a
    * reply that does not answer this request, which drops it so the
    * next call reconnects (the source turns a failed read into
    * status=-1 rows, bus.py:94-100). */
  def readHoldingRegisters(unitId: Int, address: Int, count: Int): Array[Int] = {
    require(count >= 1 && count <= 125, s"count $count outside Modbus limit [1,125]")
    try {
      if (socket == null) connect()
      txn = (txn + 1) & 0xFFFF
      putShort(0, txn)
      putShort(2, 0) // protocol id
      putShort(4, 6) // bytes to follow: unit + fn + addr + count
      request(6) = unitId.toByte
      request(7) = 3 // MODBUS_FUNC_READHOLDING (modbus.py:9)
      putShort(8, address)
      putShort(10, count)
      out.write(request)

      // MBAP header, fn, then byteCount (or the exception code)
      in.readFully(reply, 0, 9)
      val rxTxn = replyShort(0)
      val rxProto = replyShort(2)
      val rxLen = replyShort(4)
      val rxUnit = reply(6) & 0xFF
      if (rxTxn != txn) throw new IOException(
        s"MBAP transaction mismatch: sent $txn, got $rxTxn")
      if (rxProto != 0) throw new IOException(s"MBAP protocol id $rxProto != 0")
      if (rxUnit != (unitId & 0xFF)) throw new IOException(
        s"MBAP unit mismatch: sent $unitId, got $rxUnit")
      val fn = reply(7) & 0xFF
      if ((fn & 0x80) != 0) {
        // a clean error response leaves the stream aligned — keep the
        // connection, the device is alive and talking
        throw new ModbusException(s"device exception 0x${(reply(8) & 0xFF).toHexString} " +
          s"for fn ${fn & 0x7F} @ $address")
      }
      if (fn != 3) throw new IOException(s"unexpected function code $fn in response")
      val byteCount = reply(8) & 0xFF
      if (byteCount != 2 * count || rxLen != 3 + byteCount)
        throw new IOException(
          s"malformed response: byteCount $byteCount, len $rxLen for count $count")
      in.readFully(reply, 9, byteCount)
      Array.tabulate(count)(i => replyShort(9 + 2 * i))
    } catch {
      case e: ModbusException => throw e // stream still aligned
      case e: IOException => dropConnection(); throw e
    }
  }

  override def close(): Unit = dropConnection()
}

/** Device-reported Modbus error (exception response) — distinct from a
  * transport failure; both map to status=-1 at the source
  * (bus.py:94-100), but an exception response keeps the connection. */
final class ModbusException(msg: String) extends IOException(msg)
