package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{ServerSocket, Socket, SocketException}
import java.util.concurrent.atomic.AtomicInteger

/** In-JVM Modbus-TCP server fixture replaying the reference's device
  * simulator (modbus_server.py:92: `hr=range(0,99)` — the engine's
  * pinned golden contract hr[addr] == addr, FIXTURES.md §1):
  * function-code-3 reads of [addr, addr+count) return the ramp
  * [addr, ..., addr+count-1]; reads past register 99 get a Modbus
  * exception response 0x02 (illegal data address), exactly what the
  * real block-bounded slave would answer.
  *
  * Fault injection for the client's error paths:
  *  - `responseDelayMs` > soTimeout forces a read timeout;
  *  - `dropEveryNth` kills the connection instead of answering every
  *    Nth request (transport failure mid-conversation);
  *  - `maxRequests` answers exactly N requests then closes the whole
  *    server — a deterministic DEVICE OUTAGE start for flap tests;
  *  - `fixedPort` rebinds a restarted instance on the dead server's
  *    port (the flap's "device comes back at the same address");
  *  - `wrongUnit` answers every request as unit + 1 (a gateway that
  *    routes a reply to the wrong request).
  */
final class ModbusTestServer(
    responseDelayMs: Int = 0,
    dropEveryNth: Int = 0,
    maxRequests: Int = 0,
    fixedPort: Int = 0,
    wrongUnit: Boolean = false) extends AutoCloseable {

  private val server = new ServerSocket()
  server.setReuseAddress(true) // flap restarts rebind the same port
  server.bind(new java.net.InetSocketAddress(fixedPort))
  val port: Int = server.getLocalPort
  private val requests = new AtomicInteger(0)
  @volatile private var closed = false

  private val acceptor = new Thread(() => {
    try {
      while (!closed) {
        val sock = server.accept()
        val t = new Thread(() => handle(sock))
        t.setDaemon(true)
        t.start()
      }
    } catch { case _: SocketException => () /* closed */ }
  })
  acceptor.setDaemon(true)
  acceptor.start()

  def requestCount: Int = requests.get()

  private def handle(sock: Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    try {
      while (!closed) {
        val txn = in.readUnsignedShort()
        val proto = in.readUnsignedShort()
        val len = in.readUnsignedShort()
        val unit = in.readUnsignedByte() + (if (wrongUnit) 1 else 0)
        val fn = in.readUnsignedByte()
        val addr = in.readUnsignedShort()
        val count = in.readUnsignedShort()
        require(proto == 0 && len == 6, s"malformed request proto=$proto len=$len")
        val n = requests.incrementAndGet()
        if (dropEveryNth > 0 && n % dropEveryNth == 0) { sock.close(); return }
        if (responseDelayMs > 0) Thread.sleep(responseDelayMs.toLong)
        if (fn != 3) { // illegal function
          out.writeShort(txn); out.writeShort(0); out.writeShort(3)
          out.writeByte(unit); out.writeByte(fn | 0x80); out.writeByte(1)
        } else if (addr + count > 99) { // illegal data address (block = 99 regs)
          out.writeShort(txn); out.writeShort(0); out.writeShort(3)
          out.writeByte(unit); out.writeByte(fn | 0x80); out.writeByte(2)
        } else {
          out.writeShort(txn); out.writeShort(0); out.writeShort(3 + 2 * count)
          out.writeByte(unit); out.writeByte(3); out.writeByte(2 * count)
          var i = 0
          while (i < count) { out.writeShort(addr + i); i += 1 }
        }
        out.flush()
        if (maxRequests > 0 && n >= maxRequests) { close(); sock.close(); return }
      }
    } catch {
      case _: EOFException | _: IOException | _: InterruptedException => ()
    } finally {
      try sock.close() catch { case _: IOException => () }
    }
  }

  override def close(): Unit = {
    closed = true
    try server.close() catch { case _: IOException => () }
  }
}
