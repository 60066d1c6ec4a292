package graftbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.CopyOnWriteArrayList

import graft.sources.MqttCodec
import graft.sources.MqttCodec._

/** The benchmark's own MQTT 3.1.1 broker, on the program's public
  * [[MqttCodec]]: it accepts any number of QoS-0 subscribers and fans every
  * publish out to all of them in publish order, one connection per
  * subscriber. Publishes are buffered; [[flush]] pushes them out, so the
  * publisher controls when bytes hit the sockets. */
final class Broker {
  private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort
  @volatile private var closed = false

  private final class Sub(val sock: Socket) {
    val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
  }
  private val subs = new CopyOnWriteArrayList[Sub]
  private val threads = new CopyOnWriteArrayList[Thread]

  private def spawn(name: String)(body: => Unit): Unit = {
    val t = new Thread(() => body, name)
    t.setDaemon(true); threads.add(t); t.start()
  }

  spawn("bench-broker-accept") {
    while (!closed) {
      try {
        val sock = server.accept()
        spawn("bench-broker-conn")(serve(sock))
      } catch { case _: Throwable if closed => () }
    }
  }

  /** Handshake, then answer pings until the subscriber leaves. */
  private def serve(sock: Socket): Unit = {
    var sub: Sub = null
    try {
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val s = new Sub(sock)
      val conn = readPacket(in)
      require(conn.ptype == CONNECT, s"broker: expected CONNECT, got ${conn.ptype}")
      writePacket(s.out, CONNACK, 0, Array[Byte](0, 0))
      val req = readPacket(in)
      require(req.ptype == SUBSCRIBE, s"broker: expected SUBSCRIBE, got ${req.ptype}")
      writePacket(s.out, SUBACK, 0, Array[Byte](req.body(0), req.body(1), 0))
      sub = s; subs.add(s)
      var live = true
      while (live && !closed) {
        val p = readPacket(in)
        if (p.ptype == PINGREQ) writePacket(s.out, PINGRESP, 0, Array.emptyByteArray)
        else if (p.ptype == DISCONNECT) live = false
      }
    } catch { case _: Throwable => () }
    finally {
      if (sub != null) subs.remove(sub)
      try sock.close() catch { case _: Throwable => () }
    }
  }

  def subscribers: Int = subs.size

  def publish(topic: String, payload: Array[Byte]): Unit = {
    val body = publishBody(topic, payload)
    subs.forEach { s =>
      s.out.synchronized {
        s.out.write(PUBLISH << 4)
        MqttCodec.writeRemainingLength(s.out, body.length)
        s.out.write(body)
      }
    }
  }

  def flush(): Unit = subs.forEach(s => s.out.synchronized(s.out.flush()))

  /** Close every connection and wait for the broker's threads to end. */
  def close(): Unit = {
    closed = true
    try server.close() catch { case _: Throwable => () }
    subs.forEach(s => try s.sock.close() catch { case _: Throwable => () })
    threads.forEach(_.join(5000))
  }
}
