package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory span recorder. A span has a name, start and end (ns on
  * the JVM's monotonic clock), the span that caused it and the id of
  * the operation it belongs to. Disabled, it only runs the body. */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, op id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def nextId(): Long = ids.incrementAndGet()

  /** The innermost open span of this thread, as (span id, op id). */
  def current: (Long, Long) = stack.get().headOption.getOrElse((0L, 0L))

  /** Time `body` as a span; `newOp` starts a new operation id. */
  def span[A](name: String, newOp: Boolean = false)(body: => A): A =
    if (!enabled) body
    else {
      val (parent, op0) = current
      val id = nextId()
      val op = if (newOp) id else op0
      stack.set((id, op) :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, op, name, t0, t1))
      }
    }

  /** Record a span measured elsewhere (e.g. from a Spark listener). */
  def record(s: Span): Unit = if (enabled) spans.add(s)

  def all: Vector[Span] = spans.asScala.toVector

  /** Self time per span name: each span's duration minus the part of
    * its interval that its children cover (children clipped to the
    * parent and merged, so overlapping parallel children count once). */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val (total, self) = group.foldLeft((0L, 0L)) { case ((t, s), sp) =>
        val iv = children.getOrElse(sp.id, Vector.empty)
          .map(c => (math.max(c.startNs, sp.startNs), math.min(c.endNs, sp.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curS = Long.MinValue; var curE = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        (t + sp.durNs, s + sp.durNs - covered)
      }
      name -> (group.size, total / 1e9, self / 1e9)
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    sb.append("{\"spans\":[\n")
    sb.append(all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    ).mkString(",\n"))
    sb.append("\n],\"self_times\":{")
    sb.append(selfTimes.toSeq.sortBy(-_._2._3).map { case (n, (c, t, s)) =>
      s"""${Json.str(n)}:{"count":$c,"total_s":${Json.num(t)},"self_s":${Json.num(s)}}"""
    }.mkString(","))
    sb.append("}}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Minimal JSON rendering for the run record and the result line. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

/** Peak heap occupancy right after a garbage collection, from the
  * JVM's GC notifications. */
final class HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
  }
  private val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / (1024.0 * 1024.0)
  def close(): Unit =
    beans.foreach(b => try b.asInstanceOf[NotificationEmitter].removeNotificationListener(listener)
      catch { case _: Exception => () })
}

/** Blocked time of the loopback server's connection threads, from JMX
  * thread-contention monitoring. Those threads live for one connection,
  * so a sampler polls them and keeps each thread's latest reading;
  * time a thread spends blocked after its last sample is missed. */
final class BlockedSampler(threadPrefix: String) {
  private val periodMs = 10L
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
  if (mx.isThreadContentionMonitoringSupported) mx.setThreadContentionMonitoringEnabled(true)
  private val latest = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  @volatile private var running = true
  private val t = new Thread(() => {
    while (running) {
      mx.getThreadInfo(mx.getAllThreadIds).foreach { ti =>
        if (ti != null && ti.getThreadName.startsWith(threadPrefix) && ti.getBlockedTime >= 0)
          latest.put(ti.getThreadId, ti.getBlockedTime)
      }
      Thread.sleep(periodMs)
    }
  }, "perfbench-blocked-sampler")
  t.setDaemon(true)
  t.start()

  /** Stop sampling; total blocked seconds seen across threads. */
  def stop(): Double = {
    running = false
    t.join()
    latest.values.asScala.map(_.toLong).sum / 1e3
  }
}
