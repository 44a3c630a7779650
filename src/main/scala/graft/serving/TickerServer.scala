package graft.serving

import java.io.{DataInputStream, IOException, OutputStream}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.Base64
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}

/** One serving path: a currency symbol exposed at a WebSocket path
  * (reference: ws_ticker_server.py:17-45 `StreamConfig`/`PATH_CONFIG_BY_PATH`
  * — symbol ↔ path; the `table` indirection is the relay's concern, not the
  * server's). */
final case class PathConfig(symbol: String, path: String)

/** E3 serving edge: the reference's WebSocket ticker fan-out server
  * (ws_ticker_server.py) re-expressed as the SINK of a Structured Streaming
  * query — `writeStream.foreachBatch(server.publishBatch _)` replaces the
  * per-path DB polling loop (`db_relay_loop_by_path`), and everything
  * downstream of that hand-off matches the reference behavior:
  *
  *  - per-path client registries + per-path latest-payload cache
  *    (ws_ticker_server.py:107-113); a new subscriber immediately receives
  *    the cached latest ticker (handler, :275-283);
  *  - fan-out swallows closed/broken connections — a dead client is
  *    dropped, never an error into the stream (send_json/broadcast,
  *    :121-149);
  *  - unknown path → typed error payload, then CLOSE 1008
  *    (send_error_and_close, :127-137);
  *  - a heartbeat broadcast to every path on a fixed interval
  *    (heart_beat_loop, :257-261).
  *
  * SCALE SHAPE: the server is an EDGE component — it carries only the
  * latest payload per path and the open sockets; the stream carries the
  * data plane. `publishBatch` reduces each micro-batch to one row per pair
  * (max_by time) BEFORE collecting, so the driver hand-off is
  * O(|pairs|) per batch regardless of tick volume. */
final class TickerServer(paths: Seq[PathConfig], port: Int = 0,
                         heartbeatMillis: Long = 30000L) {

  private val byPath = paths.map(p => p.path -> p).toMap
  private val bySymbol = paths.map(p => p.symbol -> p).toMap
  private val registries: Map[String, java.util.Set[ClientConn]] =
    paths.map(p => p.path ->
      ConcurrentHashMap.newKeySet[ClientConn]().asInstanceOf[java.util.Set[ClientConn]]).toMap
  private val latest = TrieMap.empty[String, String] // path -> cached payload
  private val running = new AtomicBoolean(false)
  private var server: ServerSocket = _
  private var acceptor: Thread = _
  private var heart: Thread = _

  private val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    .withZone(ZoneOffset.UTC)
  private def nowIso: String = iso.format(Instant.now())

  /** Start accepting; returns the bound port (pass 0 for ephemeral). */
  def start(): Int = {
    server = new ServerSocket(port)
    running.set(true)
    acceptor = daemon("graft-ws-accept") {
      while (running.get()) {
        try {
          val s = server.accept()
          daemon(s"graft-ws-conn-${s.getPort}")(handle(s)).start()
        } catch { case _: SocketException => () /* closed */ }
      }
    }
    acceptor.start()
    heart = daemon(s"graft-ws-heartbeat-${server.getLocalPort}") {
      // close() interrupts the sleep: that is the loop's exit, not an error
      try {
        while (running.get()) {
          Thread.sleep(heartbeatMillis)
          if (running.get()) {
            val p = s"""{"type":"heartbeat","timestamp":"$nowIso"}"""
            registries.valuesIterator.foreach(broadcast(_, p))
          }
        }
      } catch { case _: InterruptedException => () }
    }
    heart.start()
    server.getLocalPort
  }

  /** `foreachBatch` target: reduce the micro-batch to the LATEST tick per
    * pair, cache + fan out each to its path's subscribers. Column contract:
    * (pair, time, bid, ask). */
  def publishBatch(df: DataFrame, batchId: Long): Unit =
    publishLatest(TickerServer.latestPerPair(df).collect().toSeq)

  /** Cache + fan out rows already reduced to one per pair, led by
    * (pair, time, bid, ask) — the [[TickerServer.latestPerPair]] shape;
    * trailing columns are ignored. */
  def publishLatest(rows: Seq[Row]): Unit =
    rows.foreach { r =>
      val sym = r.getString(0).replace("/", "_")
      bySymbol.get(sym).foreach { cfg =>
        val ts = iso.format(r.getTimestamp(1).toInstant)
        val payload =
          s"""{"type":"ticker","symbol":"$sym","timestamp":"$ts",""" +
            s""""bid":${r.getDouble(2)},"ask":${r.getDouble(3)}}"""
        publish(cfg.path, payload)
      }
    }

  /** Publish one payload to a path: cache it (late joiners replay it on
    * connect) and broadcast to current subscribers. */
  def publish(path: String, payload: String): Unit = {
    latest.put(path, payload)
    registries.get(path).foreach(broadcast(_, payload))
  }

  def clientCount(path: String): Int =
    registries.get(path).map(_.size).getOrElse(0)

  def close(): Unit = {
    running.set(false)
    if (server != null) server.close()
    registries.valuesIterator.foreach { reg =>
      reg.asScala.toVector.foreach(_.closeQuietly())
      reg.clear()
    }
    if (heart != null) heart.interrupt()
  }

  // ---- connection handling ----------------------------------------------

  private def handle(sock: Socket): Unit = {
    val conn =
      try {
        val (in, out, path) = serverHandshake(sock)
        new ClientConn(sock, in, out, path)
      } catch { case _: Exception => sock.close(); return }
    byPath.get(conn.path) match {
      case None =>
        // reference send_error_and_close: typed error, then CLOSE 1008
        conn.send(s"""{"type":"error","code":"INVALID PATH",""" +
          s""""message":"unsupported path: ${conn.path}","timestamp":"$nowIso"}""")
        conn.sendClose(1008)
        conn.closeQuietly()
      case Some(_) =>
        val reg = registries(conn.path)
        reg.add(conn)
        latest.get(conn.path).foreach(conn.send)
        try conn.readLoop()
        finally { reg.remove(conn); conn.closeQuietly() }
    }
  }

  private def broadcast(reg: java.util.Set[ClientConn], payload: String): Unit =
    reg.asScala.toVector.foreach { c =>
      if (!c.send(payload)) reg.remove(c) // swallow closed connections
    }

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t
  }

  /** Read the HTTP upgrade request, answer 101 with the RFC-6455 accept
    * token; returns the negotiated streams and the request path. */
  private def serverHandshake(sock: Socket): (DataInputStream, OutputStream, String) = {
    val in = new DataInputStream(sock.getInputStream)
    val out = sock.getOutputStream
    val sb = new StringBuilder
    while (!sb.endsWith("\r\n\r\n")) {
      val b = in.read()
      if (b < 0) throw new IOException("EOF in client handshake")
      sb.append(b.toChar)
    }
    val lines = sb.toString.split("\r\n")
    val path = lines.head.split(" ")(1)
    val key = lines.find(_.toLowerCase.startsWith("sec-websocket-key:"))
      .map(h => h.substring(h.indexOf(':') + 1).trim)
      .getOrElse(throw new IOException("client sent no Sec-WebSocket-Key"))
    val accept = Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1")
        .digest((key + graft.sources.WebSocketClient.Guid).getBytes(UTF_8)))
    out.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
      s"Connection: Upgrade\r\nSec-WebSocket-Accept: $accept\r\n\r\n").getBytes(UTF_8))
    out.flush()
    (in, out, path)
  }
}

object TickerServer {

  /** One row per pair: its LATEST tick (pair, time, bid, ask), then any
    * `extra` per-pair aggregates — edge-sized by construction. */
  def latestPerPair(df: DataFrame, extra: Column*): DataFrame = {
    import org.apache.spark.sql.functions._
    val agg = df.groupBy(col("pair"))
      .agg(max_by(struct(col("time"), col("bid"), col("ask")), col("time")).as("t"),
        extra: _*)
    agg.select(Seq(col("pair"), col("t.time"), col("t.bid"), col("t.ask")) ++
      agg.columns.drop(2).map(col): _*)
  }
}

/** One subscriber socket: synchronized unmasked server→client frames; the
  * read loop only services CLOSE (echo + exit) and PING (PONG) — ticker
  * subscribers never send data frames. */
private[serving] final class ClientConn(sock: Socket, in: DataInputStream,
                                        out: OutputStream, val path: String) {

  /** Send a text frame; returns false (and never throws) on a dead peer. */
  def send(payload: String): Boolean = synchronized {
    try { out.write(frame(0x1, payload.getBytes(UTF_8))); out.flush(); true }
    catch { case _: IOException => false }
  }

  def sendClose(code: Int): Unit = synchronized {
    val p = Array(((code >> 8) & 0xff).toByte, (code & 0xff).toByte)
    try { out.write(frame(0x8, p)); out.flush() }
    catch { case _: IOException => () }
  }

  def readLoop(): Unit =
    try {
      var open = true
      while (open) {
        val (op, payload) = readFrame()
        op match {
          case 0x8 => sendClose(1000); open = false
          case 0x9 => synchronized { out.write(frame(0xA, payload)); out.flush() }
          case _ => () // subscribers don't send data; ignore
        }
      }
    } catch { case _: IOException => () }

  def closeQuietly(): Unit = try sock.close() catch { case _: IOException => () }

  private def readFrame(): (Int, Array[Byte]) = {
    val b0 = in.read(); val b1 = in.read()
    if (b0 < 0 || b1 < 0) throw new IOException("EOF")
    var len = (b1 & 0x7f).toLong
    if (len == 126) len = ((in.read() & 0xffL) << 8) | (in.read() & 0xffL)
    else if (len == 127) len = in.readLong()
    val masked = (b1 & 0x80) != 0
    val mask = new Array[Byte](4)
    if (masked) in.readFully(mask)
    val p = new Array[Byte](len.toInt)
    in.readFully(p)
    if (masked) {
      var i = 0
      while (i < p.length) { p(i) = (p(i) ^ mask(i % 4)).toByte; i += 1 }
    }
    (b0 & 0x0f, p)
  }

  private def frame(op: Int, payload: Array[Byte]): Array[Byte] = {
    val head =
      if (payload.length < 126) Array((0x80 | op).toByte, payload.length.toByte)
      else Array((0x80 | op).toByte, 126.toByte,
        (payload.length >> 8).toByte, (payload.length & 0xff).toByte)
    head ++ payload
  }
}
