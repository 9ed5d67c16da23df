package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException, InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import org.apache.spark.sql.DataFrame

/** MQTT 3.1.1 connector — the reference's backbone transport
  * (`main.py:53-56,78-80` runs a mosquitto broker between the
  * gatherer, cleaner and warehouse writer; `DataIngesting.py:77-86`
  * and `DataAnalysis.py:34-43` are paho subscribe loops). Pure JDK
  * sockets: MQTT 3.1.1 (OASIS standard) is a small length-prefixed
  * binary protocol, so — like [[Rest]] over `java.net.http` — no
  * dependency is needed, and the specs run against an in-process
  * mini-broker the same way `RestSourceSpec` runs against a local
  * HTTP server.
  *
  * Spark integration shape (the scale-honest one):
  *
  *  - INGRESS: a broker subscription is a low-rate push channel (the
  *    reference polls a few-hundred-KB snapshot per minute), so ONE
  *    subscriber — [[MqttLanding]], a driver-side daemon thread —
  *    drains the topic into atomic files in a landing directory, and
  *    the existing file-stream source (`FuelPipeline`) picks them up
  *    exactly as it does the REST landings. Structured Streaming
  *    gets replayability and checkpointing from the files; the
  *    broker is not asked to be a replayable log (it isn't one —
  *    QoS ≤ 1 redelivery is the most MQTT can promise).
  *  - EGRESS: [[Mqtt.publishBatch]] publishes a DataFrame column
  *    per-partition (one client per partition, executor-side) — the
  *    `foreachBatch` sink twin of the reference's
  *    `DataCleaning.py:170-209` republish step.
  *
  * Supported surface: CONNECT/CONNACK, PUBLISH QoS 0 and 1 (with
  * PUBACK), SUBSCRIBE/SUBACK, PING, DISCONNECT, clean session. QoS 2
  * and persistent sessions are deliberately out: the landing file is
  * the durability boundary here, and exactly-once is the job of the
  * idempotent batch-id sinks downstream ([[Warehouse]],
  * [[graft.streaming.NearDupGate]]), not the transport.
  */
object Mqtt {

  // ---- packet codec (MQTT 3.1.1 §2: fixed header + varint length) ----

  final val CONNECT = 1
  final val CONNACK = 2
  final val PUBLISH = 3
  final val PUBACK = 4
  final val SUBSCRIBE = 8
  final val SUBACK = 9
  final val PINGREQ = 12
  final val PINGRESP = 13
  final val DISCONNECT = 14

  /** One decoded control packet: type, flag nibble, payload bytes. */
  final case class Packet(ptype: Int, flags: Int, body: Array[Byte])

  private[graft] def writeRemainingLength(out: OutputStream, n0: Int): Unit = {
    var n = n0
    do {
      var b = n % 128
      n /= 128
      if (n > 0) b |= 0x80
      out.write(b)
    } while (n > 0)
  }

  private[graft] def readRemainingLength(in: InputStream): Int = {
    var mult = 1
    var value = 0
    var i = 0
    var continue = true
    while (continue) {
      val b = in.read()
      if (b < 0) throw new EOFException("mqtt: EOF in remaining-length")
      value += (b & 0x7F) * mult
      mult *= 128
      i += 1
      require(i <= 4, "mqtt: malformed remaining-length (>4 bytes)")
      continue = (b & 0x80) != 0
    }
    value
  }

  private[graft] def writePacket(out: OutputStream, ptype: Int, flags: Int,
      body: Array[Byte]): Unit = {
    out.write((ptype << 4) | (flags & 0x0F))
    writeRemainingLength(out, body.length)
    out.write(body)
    out.flush()
  }

  private[graft] def readPacket(in: DataInputStream): Packet = {
    val h = in.read()
    if (h < 0) throw new EOFException("mqtt: connection closed")
    val len = readRemainingLength(in)
    val body = new Array[Byte](len)
    in.readFully(body)
    Packet(h >>> 4, h & 0x0F, body)
  }

  private[graft] def utf8(s: String): Array[Byte] = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    require(b.length <= 0xFFFF, s"mqtt: string too long (${b.length})")
    Array[Byte]((b.length >>> 8).toByte, (b.length & 0xFF).toByte) ++ b
  }

  private[graft] def readUtf8(body: Array[Byte], off: Int): (String, Int) = {
    val n = ((body(off) & 0xFF) << 8) | (body(off + 1) & 0xFF)
    (new String(body, off + 2, n, StandardCharsets.UTF_8), off + 2 + n)
  }

  // ---- client ----

  /** Blocking MQTT 3.1.1 client over one socket. Thread discipline:
    * all sends are synchronized; [[MqttLanding]] gives the receive
    * loop its own daemon thread, while a pure publisher (QoS 1)
    * reads its PUBACKs inline — don't mix subscribing and QoS-1
    * publishing on one client.
    */
  final class Client(host: String, port: Int, clientId: String)
      extends AutoCloseable {
    private val socket = new Socket(host, port)
    socket.setTcpNoDelay(true)
    private val in = new DataInputStream(socket.getInputStream)
    private val out = new DataOutputStream(socket.getOutputStream)
    private val packetIds = new AtomicInteger(0)

    /** CONNECT (clean session, keepalive disabled — the landing
      * daemon's read loop notices a dead broker by EOF) → CONNACK 0.
      */
    def connect(): this.type = {
      val body =
        utf8("MQTT") ++ Array[Byte](4 /* 3.1.1 */ , 0x02 /* clean session */ ,
          0, 0 /* keepalive off */) ++ utf8(clientId)
      synchronized { writePacket(out, CONNECT, 0, body) }
      val ack = readPacket(in)
      require(ack.ptype == CONNACK && ack.body(1) == 0,
        s"mqtt: CONNECT refused (type ${ack.ptype}, rc ${ack.body.lastOption.getOrElse(-1)})")
      this
    }

    /** Publish one message. QoS 1 blocks for the broker's PUBACK —
      * at-least-once, the reference pipelines' delivery level.
      */
    def publish(topic: String, payload: Array[Byte], qos: Int = 0): Unit = {
      require(qos == 0 || qos == 1, s"mqtt: qos 0|1 supported, got $qos")
      val pid =
        if (qos == 1) { val p = (packetIds.incrementAndGet() & 0xFFFF).max(1); p }
        else 0
      val header = utf8(topic) ++
        (if (qos == 1) Array[Byte]((pid >>> 8).toByte, (pid & 0xFF).toByte)
         else Array.empty[Byte])
      synchronized {
        writePacket(out, PUBLISH, qos << 1, header ++ payload)
        if (qos == 1) {
          val ack = readPacket(in)
          require(ack.ptype == PUBACK &&
            (((ack.body(0) & 0xFF) << 8) | (ack.body(1) & 0xFF)) == pid,
            s"mqtt: expected PUBACK($pid), got type ${ack.ptype}")
        }
      }
    }

    /** SUBSCRIBE (QoS 0 delivery) → SUBACK. */
    def subscribe(topics: Seq[String]): Unit = {
      val pid = (packetIds.incrementAndGet() & 0xFFFF).max(1)
      val body = Array[Byte]((pid >>> 8).toByte, (pid & 0xFF).toByte) ++
        topics.flatMap(t => utf8(t) ++ Array[Byte](0)).toArray
      synchronized { writePacket(out, SUBSCRIBE, 0x02, body) }
      val ack = readPacket(in)
      require(ack.ptype == SUBACK, s"mqtt: expected SUBACK, got ${ack.ptype}")
    }

    /** Blocking receive loop: dispatch every inbound PUBLISH until
      * the socket closes or [[close]] is called. PINGRESPs are
      * ignored; QoS-1 inbound is acked.
      */
    def receiveLoop(handler: (String, Array[Byte]) => Unit): Unit =
      try {
        while (true) {
          val p = readPacket(in)
          if (p.ptype == PUBLISH) {
            val qos = (p.flags >> 1) & 0x03
            val (topic, afterTopic) = readUtf8(p.body, 0)
            val payloadOff = if (qos > 0) afterTopic + 2 else afterTopic
            if (qos > 0) {
              val pid = ((p.body(afterTopic) & 0xFF) << 8) | (p.body(afterTopic + 1) & 0xFF)
              synchronized {
                writePacket(out, PUBACK, 0,
                  Array[Byte]((pid >>> 8).toByte, (pid & 0xFF).toByte))
              }
            }
            handler(topic, java.util.Arrays.copyOfRange(p.body, payloadOff, p.body.length))
          }
        }
      } catch { case _: EOFException | _: java.net.SocketException => () }

    override def close(): Unit = {
      try synchronized { writePacket(out, DISCONNECT, 0, Array.empty) }
      catch { case _: Throwable => () }
      socket.close()
    }
  }

  // ---- Spark egress: per-partition publish sink ----

  /** Publish `payloadCol` (string) of every row to `topic` — one
    * client per PARTITION (executor-side; the connection count is the
    * partition count, the per-message cost amortizes over the
    * partition), QoS 1. The `foreachBatch` twin of the reference's
    * cleaned-topic republish.
    */
  def publishBatch(
      df: DataFrame,
      payloadCol: String,
      host: String,
      port: Int,
      topic: String,
      clientIdPrefix: String = "graft-pub"): Long = {
    val counter = df.sparkSession.sparkContext.longAccumulator("mqtt_published")
    df.select(payloadCol).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) {
          val c = new Client(host, port,
            s"$clientIdPrefix-${java.util.UUID.randomUUID().toString.take(8)}").connect()
          try rows.foreach { r =>
            c.publish(topic, r.getString(0).getBytes(StandardCharsets.UTF_8), qos = 1)
            counter.add(1)
          }
          finally c.close()
        }
    }
    counter.value
  }
}

/** Driver-side landing daemon: subscribe to a topic and write each
  * message as an atomic file in `landingDir` (write `.part`, rename —
  * the same publish discipline as [[Rest]]'s landing drop), where the
  * existing file-stream source tails it. One file per message mirrors
  * the reference's one-snapshot-per-tick cadence; a high-rate topic
  * would batch N messages per file with the same rename discipline.
  * The n-th message of an instance lands as `msg-<n, 8 digits>-<instance
  * id>.jsonl`, so names never repeat across restarts over one dir.
  */
final class MqttLanding(
    host: String,
    port: Int,
    topic: String,
    landingDir: String,
    clientId: String = "graft-landing")
    extends AutoCloseable {

  private val client = new Mqtt.Client(host, port, clientId).connect()
  private val seq = new AtomicLong(0)
  // The counter restarts with each instance; a file stream source takes
  // a path it has seen before as old and skips it.
  private val instance = java.util.UUID.randomUUID().toString.take(8)
  private val closed = new AtomicBoolean(false)
  Files.createDirectories(Paths.get(landingDir))
  client.subscribe(Seq(topic))

  /** Messages landed so far (for polling in tests/monitors). */
  def landed: Long = seq.get()

  private val pump = new Thread(() =>
    client.receiveLoop { (_, payload) =>
      val n = seq.incrementAndGet()
      val tmp = Paths.get(landingDir, s".part-$n-$instance")
      val dst = Paths.get(landingDir, f"msg-$n%08d-$instance.jsonl")
      Files.write(tmp, payload)
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    }, s"mqtt-landing-$topic")
  pump.setDaemon(true)
  pump.start()

  override def close(): Unit =
    if (closed.compareAndSet(false, true)) {
      client.close()
      pump.join(2000)
    }
}
