package graft

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{MqttCodec, MqttSubscriber}

/** r9 (verdict #8): failure-path specs for the MQTT transport — the
  * reference's resilience claim is a systemd restart loop around its
  * single client (`AIRWISEv0.py:365-375`); the subscriber must match it
  * end-to-end: refused CONNACK fails the CALLER loudly, a mid-stream
  * disconnect reconnects with backoff and keeps delivering, and a broker
  * that never comes back exhausts maxReconnects and ends the stream
  * observably. No Spark session needed — these drive the raw subscriber
  * against codec-level mini-brokers. */
class MqttResilienceSpec extends AnyFunSuite {
  import MqttCodec._

  /** Broker that refuses every CONNECT with the given return code. */
  private class RefusingBroker(rc: Byte) {
    private val server = new ServerSocket(0, 4, InetAddress.getLoopbackAddress)
    val port: Int = server.getLocalPort
    @volatile private var closed = false
    private val t = new Thread(() => {
      try while (!closed) {
        val sock = server.accept()
        val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
        val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
        val conn = readPacket(in)
        assert(conn.ptype == CONNECT)
        writePacket(out, CONNACK, 0, Array[Byte](0, rc))
        sock.close()
      } catch { case _: Throwable => () }
    }, "refusing-broker")
    t.setDaemon(true); t.start()
    def close(): Unit = { closed = true; try server.close() catch { case _: Throwable => () } }
  }

  /** Broker accepting SUCCESSIVE subscriber generations: each accepted
    * connection gets the full handshake, then delivers queued publishes
    * until `dropConnection()` severs it mid-stream. */
  private class FlakyBroker {
    private val server = new ServerSocket(0, 4, InetAddress.getLoopbackAddress)
    val port: Int = server.getLocalPort
    @volatile private var closed = false
    @volatile private var current: Socket = _
    @volatile private var currentOut: DataOutputStream = _
    private var handshakes = new CountDownLatch(1)
    private val lock = new Object

    private val t = new Thread(() => {
      try while (!closed) {
        val sock = server.accept()
        val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
        val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
        val conn = readPacket(in)
        assert(conn.ptype == CONNECT)
        writePacket(out, CONNACK, 0, Array[Byte](0, 0))
        val sub = readPacket(in)
        assert(sub.ptype == SUBSCRIBE)
        writePacket(out, SUBACK, 0, Array[Byte](sub.body(0), sub.body(1), 0))
        lock.synchronized { current = sock; currentOut = out; handshakes.countDown() }
      } catch { case _: Throwable => () }
    }, "flaky-broker")
    t.setDaemon(true); t.start()

    /** Arm a latch for the NEXT handshake, returns a wait handle. */
    def expectHandshake(): CountDownLatch = lock.synchronized {
      handshakes = new CountDownLatch(1); handshakes
    }
    def awaitFirstHandshake(ms: Long): Boolean = handshakes.await(ms, TimeUnit.MILLISECONDS)
    def publish(topic: String, payload: String): Unit = lock.synchronized {
      writePacket(currentOut, PUBLISH, 0, publishBody(topic, payload.getBytes(UTF_8)))
      currentOut.flush()
    }
    def dropConnection(): Unit = lock.synchronized {
      try current.close() catch { case _: Throwable => () }
    }
    def close(): Unit = { closed = true; try server.close() catch { case _: Throwable => () } }
  }

  test("refused CONNACK fails the caller loudly, not a daemon thread") {
    val broker = new RefusingBroker(rc = 5) // not authorized
    try {
      val e = intercept[IllegalArgumentException] {
        new MqttSubscriber("127.0.0.1", broker.port, "t/#", "c1", (_, _) => (),
          reconnect = true)
      }
      assert(e.getMessage.contains("CONNACK refused (rc=5)"), e.getMessage)
    } finally broker.close()
  }

  test("mid-stream disconnect reconnects with backoff and keeps delivering") {
    val broker = new FlakyBroker
    val got = new ConcurrentLinkedQueue[String]()
    val sub = new MqttSubscriber("127.0.0.1", broker.port, "t/#", "c2",
      (_, p) => got.add(new String(p, UTF_8)),
      reconnect = true, baseBackoffMs = 50L, maxBackoffMs = 400L)
    try {
      assert(broker.awaitFirstHandshake(10000), "first handshake")
      broker.publish("t/a", "before-drop")
      val deadline0 = System.currentTimeMillis() + 10000
      while (!got.contains("before-drop") && System.currentTimeMillis() < deadline0)
        Thread.sleep(50)
      assert(got.contains("before-drop"))

      val second = broker.expectHandshake()
      broker.dropConnection()
      assert(second.await(15, TimeUnit.SECONDS), "subscriber re-handshook after drop")
      // The broker counts the handshake down once it has written SUBACK; the
      // subscriber counts the reconnect only after it has read it.
      val deadlineR = System.currentTimeMillis() + 10000
      while (sub.reconnectCount < 1 && System.currentTimeMillis() < deadlineR)
        Thread.sleep(50)
      assert(sub.reconnectCount == 1)
      assert(sub.isRunning)

      broker.publish("t/a", "after-reconnect")
      val deadline1 = System.currentTimeMillis() + 10000
      while (!got.contains("after-reconnect") && System.currentTimeMillis() < deadline1)
        Thread.sleep(50)
      assert(got.contains("after-reconnect"),
        s"delivery resumed on the new connection (got: $got)")
    } finally { sub.close(); broker.close() }
  }

  test("a broker that never returns exhausts maxReconnects and ends the stream") {
    val broker = new FlakyBroker
    val sub = new MqttSubscriber("127.0.0.1", broker.port, "t/#", "c3",
      (_, _) => (), reconnect = true, baseBackoffMs = 20L, maxBackoffMs = 50L,
      maxReconnects = 3)
    try {
      assert(broker.awaitFirstHandshake(10000))
      broker.close()          // broker gone for good
      broker.dropConnection() // sever the live connection too
      val deadline = System.currentTimeMillis() + 15000
      while (sub.isRunning && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(!sub.isRunning, "reader gave up after maxReconnects")
      assert(sub.reconnectCount == 0)
    } finally sub.close()
  }

  test("non-reconnecting subscriber (legacy default) ends on disconnect") {
    val broker = new FlakyBroker
    val sub = new MqttSubscriber("127.0.0.1", broker.port, "t/#", "c4", (_, _) => ())
    try {
      assert(broker.awaitFirstHandshake(10000))
      broker.dropConnection()
      val deadline = System.currentTimeMillis() + 10000
      while (sub.isRunning && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(!sub.isRunning)
    } finally { sub.close(); broker.close() }
  }
}
