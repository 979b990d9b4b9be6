package graft.streaming

import java.io.{InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.CopyOnWriteArrayList
import scala.util.control.NonFatal

/** Loopback-only MQTT 3.1.1 and NATS broker doubles with minimal
  * clients — the socket edge of the subscriber surface (reference
  * `mods/scheduler/sched_subs.go` dials external brokers via
  * paho.mqtt / nats.go; `mods/bridge/mqtt.go`, `nats.go`).
  *
  * This container has no broker and zero egress, so a protocol-real
  * in-JVM broker bound to 127.0.0.1 closes the edge: real CONNECT /
  * SUBSCRIBE / PUBLISH control packets (remaining-length varints,
  * topic-filter wildcards) and real INFO / SUB / PUB / MSG / PING
  * frames flow over real TCP into the same [[Subscribers.Dispatcher]]
  * the file-queue stand-in drives. On a deployed cluster the client
  * side would dial the external broker instead — same bytes. Clients
  * REFUSE non-loopback hosts, mirroring HttpLoop's egress policy.
  */
object BrokerLoop {

  private def requireLoopback(host: String): Unit = {
    val ok =
      try InetAddress.getByName(host).isLoopbackAddress
      catch { case _: java.net.UnknownHostException => false } // zero egress: unresolvable = refused
    require(ok, s"non-loopback broker host refused: $host")
  }

  /** Daemon worker; one that dies while its owner is still open says
    * which one and why. A deliberate close ends the loop quietly (its
    * blocked accept/read throws once `closed` holds). */
  private def spawn(name: String, closed: => Boolean)(body: => Unit): Thread = {
    val t = new Thread(() =>
      try body
      catch { case NonFatal(e) => if (!closed) System.err.println(s"[broker] $name stopped: $e") },
      name)
    t.setDaemon(true); t.start(); t
  }

  // ======================= MQTT 3.1.1 ===================================

  /** The reference broker's topic ACL (mods/server/mqtt.go:268-290
    * onACLCheck; mqtt_unit_test.go:85-110 pins all eight cases):
    * db/query is publish-only, db/reply/# and $SYS/# are subscribe-only,
    * db/tql/# is publish-only, the bare `db` root and a db/# subscribe
    * are denied. `write` = the client is publishing.
    *
    * Wire-faithful INCLUDING the leak: the reference only denies the
    * literal `db/#` filter, so `#` or `db/+` subscriptions pass the
    * check yet match publish-only topics — reproduced deliberately
    * (AppendWorkersSpec pins it) rather than silently hardened. */
  def aclCheck(topic: String, write: Boolean,
               restrictTopics: Boolean = true): Boolean = {
    if (restrictTopics) {
      if (topic == "db/query" && !write) return false
      if ((topic == "db/reply" || topic.startsWith("db/reply/")) && write) return false
      if ((topic == "db/tql" || topic.startsWith("db/tql/")) && !write) return false
      if (topic == "db") return false
      if (topic.startsWith("db/#") && !write) return false
    }
    if (topic.startsWith("$SYS") && write) return false
    true
  }

  /** MQTT topic-filter match: `+` one level, `#` the rest (spec 4.7). */
  def mqttTopicMatches(filter: String, topic: String): Boolean = {
    val f = filter.split("/", -1); val t = topic.split("/", -1)
    def go(i: Int, j: Int): Boolean =
      if (i == f.length) j == t.length
      else f(i) match {
        case "#" => true
        case "+" => j < t.length && go(i + 1, j + 1)
        case seg => j < t.length && seg == t(j) && go(i + 1, j + 1)
      }
    go(0, 0)
  }

  private def writeVarint(out: OutputStream, n0: Int): Unit = {
    var n = n0
    do {
      var d = n % 128; n /= 128
      if (n > 0) d |= 0x80
      out.write(d)
    } while (n > 0)
  }

  private def readVarint(in: InputStream): Int = {
    var mult = 1; var value = 0; var d = 0
    do {
      d = in.read()
      if (d < 0) throw new java.io.EOFException("mqtt: eof in varint")
      value += (d & 0x7F) * mult
      mult *= 128
    } while ((d & 0x80) != 0)
    value
  }

  private def mqttPacket(tpe: Int, body: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(tpe)
    writeVarint(bos, body.length)
    bos.write(body)
    bos.toByteArray
  }

  private def u16(n: Int): Array[Byte] =
    Array(((n >> 8) & 0xFF).toByte, (n & 0xFF).toByte)

  private def lenPrefixed(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8); u16(b.length) ++ b
  }

  private def publishPacket(topic: String, payload: Array[Byte]): Array[Byte] =
    mqttPacket(0x30, lenPrefixed(topic) ++ payload) // QoS 0, no packet id

  /** MQTT v5 PUBLISH packet: topic, property block, payload (QoS 0). */
  private def publishPacketV5(topic: String, props: Array[Byte],
                              payload: Array[Byte]): Array[Byte] = {
    val pb = new java.io.ByteArrayOutputStream()
    writeVarint(pb, props.length)
    pb.write(props)
    mqttPacket(0x30, lenPrefixed(topic) ++ pb.toByteArray ++ payload)
  }

  private def readVarintFrom(b: Array[Byte], at0: Int): (Int, Int) = {
    var mult = 1; var value = 0; var at = at0; var d = 0
    do {
      d = b(at) & 0xFF; at += 1
      value += (d & 0x7F) * mult
      mult *= 128
    } while ((d & 0x80) != 0)
    (value, at)
  }

  /** MQTT v5 PUBLISH properties the double models: Response Topic
    * (0x08) and User Properties (0x26) — the two the reference's write
    * door reads (mqtt_write.go:75-101). Unknown identifiers with fixed
    * wire shapes are skipped; anything else ends the scan. */
  final case class MqttProps(responseTopic: String = "",
                             user: Seq[(String, String)] = Nil) {
    def userValue(key: String): Option[String] =
      user.collectFirst { case (k, v) if k == key => v }
  }

  private[graft] def encodeProps(p: MqttProps): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    if (p.responseTopic.nonEmpty) { bos.write(0x08); bos.write(lenPrefixed(p.responseTopic)) }
    p.user.foreach { case (k, v) =>
      bos.write(0x26); bos.write(lenPrefixed(k)); bos.write(lenPrefixed(v))
    }
    bos.toByteArray
  }

  private[graft] def decodeProps(b: Array[Byte]): MqttProps = {
    var at = 0
    var resp = ""
    val user = Seq.newBuilder[(String, String)]
    def str(): String = {
      val n = ((b(at) & 0xFF) << 8) | (b(at + 1) & 0xFF)
      val s = new String(b, at + 2, n, UTF_8); at += 2 + n; s
    }
    var ok = true
    while (ok && at < b.length) {
      (b(at) & 0xFF) match {
        case 0x08 => at += 1; resp = str()
        case 0x26 => at += 1; val k = str(); val v = str(); user += (k -> v)
        case 0x01 => at += 2 // payload format indicator (byte)
        case 0x02 => at += 5 // message expiry interval (u32)
        case 0x23 => at += 3 // topic alias (u16)
        case 0x03 => at += 1; str() // content type
        case 0x09 => at += 1; str() // correlation data (binary, same shape)
        case _ => ok = false // unmodeled id: stop (double only emits the above)
      }
    }
    MqttProps(resp, user.result())
  }

  /** In-JVM MQTT broker on 127.0.0.1:ephemeral. QoS 0, clean session.
    * Speaks 3.1.1 (level 4) and v5 per connection: a v5 publisher's
    * property block is forwarded verbatim to v5 subscribers and
    * stripped for 3.1.1 subscribers (mochi-mqtt does the same
    * downgrade when bridging protocol versions). */
  final class MqttBroker(restrictTopics: Boolean = false) {
    // restrictTopics enforces the reference ACL on external clients
    // (mqtt.go onACLCheck). The double defaults OFF because the door
    // attaches as a loopback CLIENT here (it subscribes db/query etc.),
    // where the reference implements the door as a broker HOOK exempt
    // from its own ACL; enable it to model an external-facing listener.
    private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    def port: Int = server.getLocalPort
    private final case class Sub(filter: String, out: OutputStream, proto: Int)
    private val subs = new CopyOnWriteArrayList[Sub]()
    @volatile private var open = true

    spawn("mqtt-broker-accept", !open) {
      while (open) {
        val sock = server.accept()
        spawn(s"mqtt-broker-conn-${sock.getPort}", !open)(connLoop(sock))
      }
    }

    private def connLoop(sock: Socket): Unit = {
      val in = sock.getInputStream
      val out = sock.getOutputStream
      var proto = 4 // set by CONNECT's protocol-level byte
      try {
        var live = true
        while (live) {
          val h = in.read()
          if (h < 0) live = false
          else {
            val len = readVarint(in)
            val body = in.readNBytes(len)
            (h >> 4) match {
              case 1 => // CONNECT → CONNACK (accepted, no session present)
                // body: lenPrefixed("MQTT") + level byte + flags + keepalive…
                proto = body(6) & 0xFF
                if (proto == 5)
                  out.write(Array[Byte](0x20, 3, 0, 0, 0)) // flags, reason, props(0)
                else
                  out.write(Array[Byte](0x20, 2, 0, 0))
                out.flush()
              case 8 => // SUBSCRIBE → register filters, SUBACK granted QoS 0
                val packetId = ((body(0) & 0xFF) << 8) | (body(1) & 0xFF)
                var at = 2
                if (proto == 5) { // skip the v5 property block
                  val (plen, a2) = readVarintFrom(body, at); at = a2 + plen
                }
                val granted = Array.newBuilder[Byte]
                while (at < body.length) {
                  val flen = ((body(at) & 0xFF) << 8) | (body(at + 1) & 0xFF)
                  val filter = new String(body, at + 2, flen, UTF_8)
                  at += 2 + flen + 1 // + subscription options byte
                  if (aclCheck(filter, write = false, restrictTopics)) {
                    subs.add(Sub(filter, out, proto))
                    granted += 0
                  } else granted += 0x80.toByte // unspecified error (spec 3.9.3)
                }
                val ackProps: Array[Byte] = if (proto == 5) Array(0) else Array.emptyByteArray
                out.write(mqttPacket(0x90, u16(packetId) ++ ackProps ++ granted.result()))
                out.flush()
              case 3 => // PUBLISH → route to matching subscribers
                val qos = (h >> 1) & 3
                val tlen = ((body(0) & 0xFF) << 8) | (body(1) & 0xFF)
                val topic = new String(body, 2, tlen, UTF_8)
                var at = 2 + tlen
                if (qos > 0) at += 2 // packet id (double delivers as QoS 0)
                val props: Array[Byte] =
                  if (proto == 5) {
                    val (plen, a2) = readVarintFrom(body, at)
                    val p = java.util.Arrays.copyOfRange(body, a2, a2 + plen)
                    at = a2 + plen; p
                  } else Array.emptyByteArray
                val payload = body.drop(at)
                val pkt4 = publishPacket(topic, payload)
                lazy val pkt5 = publishPacketV5(topic, props, payload)
                if (aclCheck(topic, write = true, restrictTopics))
                  subs.forEach { s =>
                    if (mqttTopicMatches(s.filter, topic))
                      try { s.out.write(if (s.proto == 5) pkt5 else pkt4); s.out.flush() }
                      catch { case _: Exception => () }
                  }
              case 12 => out.write(Array[Byte](0xD0.toByte, 0)); out.flush() // PINGREQ
              case 14 => live = false // DISCONNECT
              case _ => ()
            }
          }
        }
      } catch { case _: Exception => () }
      finally { try sock.close() catch { case _: Exception => () } }
    }

    def close(): Unit = { open = false; try server.close() catch { case _: Exception => () } }
  }

  /** Minimal MQTT client: CONNECT handshake, QoS-0 subscribe with a
    * delivery callback, QoS-0 publish. Loopback hosts only. `proto` 4
    * speaks 3.1.1; 5 speaks MQTT v5 (property blocks on PUBLISH —
    * response topic + user properties, the surface the reference's
    * write door reads, mqtt_write.go:75-101). */
  final class MqttClient(host: String, port: Int, clientId: String, proto: Int = 4) {
    requireLoopback(host)
    require(proto == 4 || proto == 5, s"mqtt protocol level $proto unsupported")
    private val sock = new Socket(InetAddress.getByName(host), port)
    private val in = sock.getInputStream
    private val out = sock.getOutputStream
    private val cbs = new CopyOnWriteArrayList[(String, (String, Array[Byte], MqttProps) => Unit)]()
    private val readerOn = new java.util.concurrent.atomic.AtomicBoolean(false)

    // CONNECT: protocol "MQTT", clean session, keepalive 60; v5 adds an
    // (empty) property block before the client id
    private val v5ConnProps: Array[Byte] = if (proto == 5) Array(0) else Array.emptyByteArray
    out.write(mqttPacket(0x10,
      lenPrefixed("MQTT") ++ Array[Byte](proto.toByte, 2) ++ u16(60) ++
        v5ConnProps ++ lenPrefixed(clientId)))
    out.flush()
    // CONNACK: header + varint + body; reason/return code is body(1) both versions
    private val ackH = in.read()
    private val ackBody = in.readNBytes(readVarint(in))
    require((ackH & 0xF0) == 0x20 && ackBody.length >= 2 && ackBody(1) == 0,
      "mqtt connect refused")

    /** Subscribe; deliveries run on the (single) reader thread — every
      * matching subscription's callback fires, like a broker delivering
      * once per matching subscription. */
    def subscribe(filter: String)(fn: (String, Array[Byte]) => Unit): Unit =
      subscribeV5(filter)((t, p, _) => fn(t, p))

    /** Property-aware subscribe: the callback also receives the v5
      * property block (empty on a 3.1.1 connection). */
    def subscribeV5(filter: String)(fn: (String, Array[Byte], MqttProps) => Unit): Unit = {
      cbs.add(filter -> fn)
      val v5SubProps: Array[Byte] = if (proto == 5) Array(0) else Array.emptyByteArray
      out.write(mqttPacket(0x82, u16(1) ++ v5SubProps ++ lenPrefixed(filter) :+ 0.toByte))
      out.flush()
      if (readerOn.compareAndSet(false, true))
        spawn(s"mqtt-client-read-$clientId", sock.isClosed) {
          var live = true
          while (live) {
            val h = in.read()
            if (h < 0) live = false
            else {
              val body = in.readNBytes(readVarint(in))
              if ((h >> 4) == 3) {
                val tlen = ((body(0) & 0xFF) << 8) | (body(1) & 0xFF)
                val topic = new String(body, 2, tlen, UTF_8)
                var at = 2 + tlen
                if (((h >> 1) & 3) > 0) at += 2 // packet id (unused: QoS 0)
                val props =
                  if (proto == 5) {
                    val (plen, a2) = readVarintFrom(body, at)
                    val p = decodeProps(java.util.Arrays.copyOfRange(body, a2, a2 + plen))
                    at = a2 + plen; p
                  } else MqttProps()
                val payload = body.drop(at)
                cbs.forEach { case (f, fn) =>
                  if (mqttTopicMatches(f, topic))
                    try fn(topic, payload, props) catch { case _: Exception => () }
                }
              }
            }
          }
        }
    }

    def publish(topic: String, payload: Array[Byte]): Unit = {
      // a v5 connection's PUBLISH always carries a property block (empty ok)
      if (proto == 5) publish(topic, payload, MqttProps())
      else { out.write(publishPacket(topic, payload)); out.flush() }
    }

    /** v5 publish with a property block (response topic / user props). */
    def publish(topic: String, payload: Array[Byte], props: MqttProps): Unit = {
      require(proto == 5, "mqtt properties require a v5 connection")
      out.write(publishPacketV5(topic, encodeProps(props), payload)); out.flush()
    }

    def close(): Unit = {
      try { out.write(Array[Byte](0xE0.toByte, 0)); out.flush() } catch { case _: Exception => () }
      try sock.close() catch { case _: Exception => () }
    }
  }

  // ============================ NATS ====================================

  /** NATS subject match: tokens on '.', `*` one token, `>` the tail. */
  def natsSubjectMatches(pattern: String, subject: String): Boolean = {
    val p = pattern.split("\\.", -1); val s = subject.split("\\.", -1)
    def go(i: Int, j: Int): Boolean =
      if (i == p.length) j == s.length
      else p(i) match {
        case ">" => j < s.length // full wildcard needs >= 1 remaining token
        case "*" => j < s.length && go(i + 1, j + 1)
        case tok => j < s.length && tok == s(j) && go(i + 1, j + 1)
      }
    go(0, 0)
  }

  private def readCrlfLine(in: InputStream): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
    if (c < 0 && sb.isEmpty) null else sb.toString
  }

  /** In-JVM NATS server on 127.0.0.1:ephemeral: INFO / CONNECT / PING /
    * SUB / PUB / MSG with queue-group round-robin. */
  final class NatsBroker {
    private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    def port: Int = server.getLocalPort
    private final case class Sub(subject: String, queue: String, sid: String, out: OutputStream)
    private val subs = new CopyOnWriteArrayList[Sub]()
    private val rr = new java.util.concurrent.atomic.AtomicLong()
    @volatile private var open = true

    spawn("nats-broker-accept", !open) {
      while (open) {
        val sock = server.accept()
        spawn(s"nats-broker-conn-${sock.getPort}", !open)(connLoop(sock))
      }
    }

    private def connLoop(sock: Socket): Unit = {
      val in = sock.getInputStream
      val out = sock.getOutputStream
      try {
        out.write("INFO {\"server_id\":\"graft-loop\",\"proto\":1}\r\n".getBytes(UTF_8))
        out.flush()
        var line = readCrlfLine(in)
        while (line != null) {
          val toks = line.trim.split("\\s+").toList
          toks match {
            case verb :: _ if verb.equalsIgnoreCase("CONNECT") => () // fire-and-forget
            case verb :: Nil if verb.equalsIgnoreCase("PING") =>
              out.write("PONG\r\n".getBytes(UTF_8)); out.flush()
            case verb :: subject :: rest if verb.equalsIgnoreCase("SUB") =>
              // SUB <subject> [queue] <sid>
              val (queue, sid) = rest match {
                case q :: s :: Nil => (q, s)
                case s :: Nil => ("", s)
                case _ => ("", "0")
              }
              subs.add(Sub(subject, queue, sid, out))
            case verb :: subject :: rest if verb.equalsIgnoreCase("PUB") =>
              // PUB <subject> [reply-to] <#bytes>\r\n<payload>\r\n
              val nBytes = rest.last.toInt
              val payload = in.readNBytes(nBytes)
              readCrlfLine(in) // trailing CRLF
              route(subject, payload)
            case _ => ()
          }
          line = readCrlfLine(in)
        }
      } catch { case _: Exception => () }
      finally { try sock.close() catch { case _: Exception => () } }
    }

    private def route(subject: String, payload: Array[Byte]): Unit = {
      import scala.jdk.CollectionConverters._
      val matching = subs.asScala.filter(s => natsSubjectMatches(s.subject, subject)).toSeq
      // plain subs all get a copy; each queue group gets exactly one
      val (grouped, plain) = matching.partition(_.queue.nonEmpty)
      val picks = plain ++ grouped.groupBy(_.queue).values.map { g =>
        g((rr.getAndIncrement() % g.size).toInt)
      }
      picks.foreach { s =>
        try {
          s.out.write(s"MSG $subject ${s.sid} ${payload.length}\r\n".getBytes(UTF_8))
          s.out.write(payload); s.out.write("\r\n".getBytes(UTF_8)); s.out.flush()
        } catch { case _: Exception => () }
      }
    }

    def close(): Unit = { open = false; try server.close() catch { case _: Exception => () } }
  }

  /** Minimal NATS client: INFO/CONNECT/PING handshake, SUB with a
    * delivery callback, PUB. Loopback hosts only. */
  final class NatsClient(host: String, port: Int) {
    requireLoopback(host)
    private val sock = new Socket(InetAddress.getByName(host), port)
    private val in = sock.getInputStream
    private val out = sock.getOutputStream
    private val cbs = new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Byte]) => Unit]()
    @volatile private var pong = false

    require(Option(readCrlfLine(in)).exists(_.startsWith("INFO")), "nats: no INFO")
    out.write("CONNECT {\"verbose\":false}\r\nPING\r\n".getBytes(UTF_8)); out.flush()
    require(Option(readCrlfLine(in)).exists(_.startsWith("PONG")), "nats: no PONG")

    spawn(s"nats-client-read-$port", sock.isClosed) {
      var line = readCrlfLine(in)
      while (line != null) {
        val toks = line.trim.split("\\s+")
        if (toks.nonEmpty && toks(0).equalsIgnoreCase("MSG")) {
          // MSG <subject> <sid> [reply-to] <#bytes>
          val subject = toks(1); val sid = toks(2); val n = toks.last.toInt
          val payload = in.readNBytes(n)
          readCrlfLine(in)
          val cb = cbs.get(sid)
          if (cb != null) cb(subject, payload)
        } else if (toks.nonEmpty && toks(0).equalsIgnoreCase("PING")) {
          out.write("PONG\r\n".getBytes(UTF_8)); out.flush()
        }
        line = readCrlfLine(in)
      }
    }

    def subscribe(subject: String, sid: String, queue: String = "")(
        fn: (String, Array[Byte]) => Unit): Unit = {
      cbs.put(sid, fn)
      val q = if (queue.isEmpty) "" else s" $queue"
      out.write(s"SUB $subject$q $sid\r\n".getBytes(UTF_8)); out.flush()
    }

    def publish(subject: String, payload: Array[Byte]): Unit = {
      out.write(s"PUB $subject ${payload.length}\r\n".getBytes(UTF_8))
      out.write(payload); out.write("\r\n".getBytes(UTF_8)); out.flush()
    }

    def close(): Unit = try sock.close() catch { case _: Exception => () }
  }
}
