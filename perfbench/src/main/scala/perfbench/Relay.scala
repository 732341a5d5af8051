package perfbench

import java.io.{InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** Counting loopback TCP relay placed between the connector's wire
  * client and the loopback DNS server in traced runs. It forwards bytes
  * unchanged and counts, per direction, bytes and DNS/TCP frames
  * (RFC 1035 §4.2.2: a 2-byte length, then the message). It keeps a
  * bounded sample of whole frames for codec timing, and per connection
  * it notes the first client frame's RR counts and whether the client
  * sent more bytes than that frame's length prefix announced (a message
  * over 65,535 bytes whose length no longer fits the prefix). */
final class Relay(targetPort: Int) {
  private val captureLimit = 4096
  val connections = new AtomicLong()
  val upBytes = new AtomicLong()
  val downBytes = new AtomicLong()
  val upFrames = new AtomicLong()
  val downFrames = new AtomicLong()
  /** Update messages seen (first client frame of a connection with
    * opcode UPDATE), their RR total, and those longer than their prefix. */
  val updateMessages = new AtomicLong()
  val updateRecords = new AtomicLong()
  val oversizeMessages = new AtomicLong()
  private val captured = mutable.ArrayBuffer.empty[Array[Byte]]

  def capturedFrames: Vector[Array[Byte]] = captured.synchronized(captured.toVector)

  private val server = new ServerSocket()
  server.bind(new InetSocketAddress("127.0.0.1", 0))
  def port: Int = server.getLocalPort
  @volatile private var running = true
  private val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()

  private def start(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => try body finally threads.remove(Thread.currentThread()), name)
    t.setDaemon(true)
    threads.add(t)
    t.start()
    t
  }

  /** Parses frames out of one direction's byte stream as it flows. */
  private final class FrameCounter(frames: AtomicLong, up: Boolean) {
    private var need = -1 // bytes left in the current frame; -1 = reading the prefix
    private var prefix = 0
    private var prefixBytes = 0
    private var cur: java.io.ByteArrayOutputStream = _
    private var first = true
    var firstFrameLen = -1
    var total = 0L

    def feed(buf: Array[Byte], n: Int): Unit = {
      total += n
      var i = 0
      while (i < n) {
        if (need < 0) {
          prefix = (prefix << 8) | (buf(i) & 0xff); prefixBytes += 1; i += 1
          if (prefixBytes == 2) {
            need = prefix; prefix = 0; prefixBytes = 0
            if (firstFrameLen < 0) firstFrameLen = need
            cur = new java.io.ByteArrayOutputStream(math.max(need, 1))
          }
        } else {
          val k = math.min(need, n - i)
          cur.write(buf, i, k); i += k; need -= k
        }
        if (need == 0) frameDone()
      }
    }

    private def frameDone(): Unit = {
      frames.incrementAndGet()
      val bytes = cur.toByteArray
      need = -1
      if (up && first && bytes.length >= 12 && ((bytes(2) >> 3) & 0xf) == 5) {
        updateMessages.incrementAndGet()
        updateRecords.addAndGet(((bytes(8) & 0xff) << 8 | (bytes(9) & 0xff)).toLong)
      }
      first = false
      captured.synchronized {
        if (captured.size < captureLimit) captured += bytes
      }
    }
  }

  private def pump(in: InputStream, out: OutputStream, bytes: AtomicLong,
                   counter: FrameCounter, onEnd: () => Unit): Unit = {
    val buf = new Array[Byte](16384)
    try {
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n); out.flush()
        bytes.addAndGet(n.toLong)
        counter.feed(buf, n)
        n = in.read(buf)
      }
    } catch { case _: java.io.IOException => () }
    finally onEnd()
  }

  private val acceptor = start("perfbench-relay-accept") {
    while (running) {
      try {
        val client = server.accept()
        connections.incrementAndGet()
        val upstream = new Socket()
        upstream.connect(new InetSocketAddress("127.0.0.1", targetPort))
        val up = new FrameCounter(upFrames, up = true)
        val down = new FrameCounter(downFrames, up = false)
        def closeBoth(): Unit = {
          try client.close() catch { case _: Exception => () }
          try upstream.close() catch { case _: Exception => () }
        }
        start("perfbench-relay-up") {
          pump(client.getInputStream, upstream.getOutputStream, upBytes, up, () => {
            // the connector's clients send one message per connection,
            // so bytes past the first frame mean its prefix wrapped
            if (up.firstFrameLen >= 0 && up.total - 2 > up.firstFrameLen)
              oversizeMessages.incrementAndGet()
            try upstream.shutdownOutput() catch { case _: Exception => () }
          })
        }
        start("perfbench-relay-down") {
          pump(upstream.getInputStream, client.getOutputStream, downBytes, down, () => closeBoth())
        }
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Stop accepting, close every socket and wait for the relay's threads. */
  def close(): Unit = {
    running = false
    server.close()
    acceptor.join(5000)
    threads.forEach(_.interrupt())
  }
}
