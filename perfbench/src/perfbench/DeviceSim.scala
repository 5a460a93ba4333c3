package perfbench

import java.io.{BufferedReader, DataInputStream, EOFException, IOException, InputStreamReader}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.atomic.{AtomicLongArray, LongAdder}

/** Modbus-TCP device simulator for the benchmark, run as its own
  * process: one listening port per bus, a seeded register map per unit
  * over the full 16-bit address space, function code 3 only. Every
  * reply is assembled in one buffer and written as ONE frame on a
  * TCP_NODELAY socket, so the client's request cost is measured rather
  * than the simulator's.
  *
  * Usage: DeviceSim <workload> <seed>
  * Prints `READY <controlPort> <busPort>...` once listening. A line
  * `S` sent to the control port answers one line of counters:
  * `requests connections bytesIn bytesOut serviceP50Us`. The process
  * exits when its standard input closes.
  */
object DeviceSim {
  private val requests = new LongAdder
  private val connections = new LongAdder
  private val bytesIn = new LongAdder
  private val bytesOut = new LongAdder
  // service time histogram, 1 us buckets, last bucket open-ended
  private val serviceUs = new AtomicLongArray(4096)

  def main(args: Array[String]): Unit = {
    val shape = Workloads.shape(args(0), Runtime.getRuntime.availableProcessors)
    val seed = args(1).toLong
    val buses = shape.buses
    val units = shape.unitsPerBus
    val maps = (1 to units).map(u => u -> Workloads.registerMap(seed, u)).toMap
    val lo = InetAddress.getLoopbackAddress
    val control = new ServerSocket(0, 16, lo)
    val ports = (0 until buses).map { _ =>
      val ss = new ServerSocket(0, 64, lo)
      daemon(s"accept-${ss.getLocalPort}") {
        while (true) {
          val s = ss.accept()
          connections.increment()
          daemon(s"conn-${s.getPort}")(serve(s, maps))
        }
      }
      ss.getLocalPort
    }
    daemon("control") {
      while (true) {
        val s = control.accept()
        try {
          val line = new BufferedReader(new InputStreamReader(s.getInputStream)).readLine()
          if (line == "S") {
            val out = s"${requests.sum} ${connections.sum} ${bytesIn.sum} ${bytesOut.sum} ${p50Us()}\n"
            s.getOutputStream.write(out.getBytes("US-ASCII"))
            s.getOutputStream.flush()
          }
        } finally s.close()
      }
    }
    println(s"READY ${control.getLocalPort} ${ports.mkString(" ")}")
    System.out.flush()
    while (System.in.read() >= 0) ()
    sys.exit(0)
  }

  private def daemon(name: String)(body: => Unit): Unit = {
    val t = new Thread(() => try body catch { case _: IOException => () }, name)
    t.setDaemon(true)
    t.start()
  }

  private def p50Us(): Long = {
    val n = (0 until serviceUs.length).map(serviceUs.get)
    val total = n.sum
    if (total == 0) 0L
    else n.scanLeft(0L)(_ + _).tail.indexWhere(_ * 2 >= total).toLong
  }

  private def serve(s: Socket, maps: Map[Int, Array[Int]]): Unit = {
    s.setTcpNoDelay(true)
    val in = new DataInputStream(new java.io.BufferedInputStream(s.getInputStream, 4096))
    val out = s.getOutputStream
    val req = new Array[Byte](12)
    val reply = new Array[Byte](9 + 2 * 125)
    try {
      while (true) {
        in.readFully(req)
        val t0 = System.nanoTime()
        val unit = req(6) & 0xFF
        val fn = req(7) & 0xFF
        val addr = ((req(8) & 0xFF) << 8) | (req(9) & 0xFF)
        val count = ((req(10) & 0xFF) << 8) | (req(11) & 0xFF)
        System.arraycopy(req, 0, reply, 0, 4) // transaction + protocol id
        reply(6) = req(6)
        val map = maps.getOrElse(unit, null)
        val len =
          if (fn != 3 || map == null || count < 1 || count > 125 || addr + count > 65536) {
            // exception response: illegal function / gateway target / address
            reply(7) = (fn | 0x80).toByte
            reply(8) = (if (fn != 3) 1 else if (map == null) 0x0B else 2).toByte
            9
          } else {
            reply(7) = 3
            reply(8) = (2 * count).toByte
            var i = 0
            while (i < count) {
              val w = map(addr + i)
              reply(9 + 2 * i) = (w >> 8).toByte
              reply(10 + 2 * i) = w.toByte
              i += 1
            }
            9 + 2 * count
          }
        reply(4) = ((len - 6) >> 8).toByte
        reply(5) = (len - 6).toByte
        out.write(reply, 0, len)
        val us = (System.nanoTime() - t0) / 1000
        serviceUs.incrementAndGet(math.min(us, serviceUs.length - 1L).toInt)
        requests.increment()
        bytesIn.add(12)
        bytesOut.add(len)
      }
    } catch {
      case _: EOFException => ()
      case _: IOException => ()
    } finally s.close()
  }
}
