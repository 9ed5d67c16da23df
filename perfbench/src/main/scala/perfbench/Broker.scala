package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

/** MQTT 3.1.1 broker owned by the benchmark: CONNECT, SUBSCRIBE to exact
  * topics, PUBLISH QoS 0/1 (PUBACK to the publisher, forwarded to
  * subscribers at QoS 0), PING and DISCONNECT.
  *
  * It behaves like a production broker on the wire: every packet leaves
  * as one buffered write and accepted sockets set TCP_NODELAY. A broker
  * that writes each field unbuffered without TCP_NODELAY holds QoS-1
  * PUBACKs for tens of milliseconds (Nagle plus delayed ACK), and the
  * benchmark would time the broker instead of the program.
  */
final class Broker extends AutoCloseable {
  private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort

  private final class Conn(sock: Socket) {
    val out: OutputStream = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    @volatile var topics: Set[String] = Set.empty
    def send(ptype: Int, flags: Int, parts: Array[Byte]*): Unit = out.synchronized {
      out.write((ptype << 4) | flags)
      var n = parts.map(_.length).sum
      do {
        var b = n % 128
        n /= 128
        if (n > 0) b |= 0x80
        out.write(b)
      } while (n > 0)
      parts.foreach(p => out.write(p))
      out.flush()
    }
  }

  private val conns = ConcurrentHashMap.newKeySet[Conn]()
  private val threads = ConcurrentHashMap.newKeySet[Thread]()
  private val sockets = ConcurrentHashMap.newKeySet[Socket]()

  private def u16(b: Array[Byte], off: Int): Int = ((b(off) & 0xFF) << 8) | (b(off + 1) & 0xFF)

  private def readPacket(in: DataInputStream): (Int, Int, Array[Byte]) = {
    val h = in.read()
    if (h < 0) throw new EOFException()
    var mult = 1
    var len = 0
    var b = 0
    do {
      b = in.read()
      if (b < 0) throw new EOFException()
      len += (b & 0x7F) * mult
      mult *= 128
    } while ((b & 0x80) != 0)
    val body = new Array[Byte](len)
    in.readFully(body)
    (h >>> 4, h & 0x0F, body)
  }

  private def serve(sock: Socket): Unit = {
    val conn = new Conn(sock)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
    try {
      val (first, _, _) = readPacket(in)
      require(first == 1, s"first packet must be CONNECT, got $first")
      conn.send(2, 0, Array[Byte](0, 0))
      conns.add(conn)
      while (true) {
        val (ptype, flags, body) = readPacket(in)
        ptype match {
          case 8 => // SUBSCRIBE
            var off = 2
            var granted = List.empty[Byte]
            while (off < body.length) {
              val n = u16(body, off)
              conn.topics += new String(body, off + 2, n, StandardCharsets.UTF_8)
              off += 2 + n + 1
              granted ::= 0.toByte
            }
            conn.send(9, 0, body.take(2), granted.toArray)
          case 3 => // PUBLISH
            val qos = (flags >> 1) & 0x03
            val n = u16(body, 0)
            val topic = new String(body, 2, n, StandardCharsets.UTF_8)
            val payloadOff = 2 + n + (if (qos > 0) 2 else 0)
            if (qos > 0) conn.send(4, 0, body.slice(2 + n, 2 + n + 2))
            val topicBytes = body.take(2 + n)
            val payload = java.util.Arrays.copyOfRange(body, payloadOff, body.length)
            conns.forEach { c =>
              if (c.topics.contains(topic))
                try c.send(3, 0, topicBytes, payload)
                catch { case _: Throwable => conns.remove(c) }
            }
          case 12 => conn.send(13, 0) // PINGREQ
          case 14 => throw new EOFException() // DISCONNECT
          case _ => ()
        }
      }
    } catch {
      case _: EOFException | _: SocketException => ()
    } finally {
      conns.remove(conn)
      try sock.close() catch { case _: Throwable => () }
    }
  }

  private def spawn(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    threads.add(t)
    t.start()
    t
  }

  spawn("bench-broker-accept") {
    try {
      while (true) {
        val s = server.accept()
        s.setTcpNoDelay(true)
        sockets.add(s)
        spawn("bench-broker-conn")(serve(s))
      }
    } catch { case _: SocketException => () }
  }

  override def close(): Unit = {
    server.close()
    sockets.forEach(s => try s.close() catch { case _: Throwable => () })
    threads.forEach(_.join(2000))
  }
}
