package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.sources.dns._

/** Open loop. A `readStream.format("dns")` IXFR stream over many small
  * zones runs back-to-back triggers into a `foreachBatch` sink while one
  * generator thread applies single-record changes straight to the
  * server's store at a fixed rate, unevenly across zones. An operation
  * is one change, timed from when it was due until the trigger that
  * carries its row reaches the sink. Every change must be emitted
  * exactly once. */
final class IxfrStream(ctx: Ctx) extends Workload {
  import IxfrStream._
  private val spark = ctx.spark
  private var server: WireDnsServer = _
  private var estate: Estate = _
  private val present = mutable.Map.empty[String, mutable.ArrayBuffer[ARecord]]
  private var nextSeq = 0
  private var schedules = 0

  /** One running stream and everything its sink has seen. */
  private final class Run(port: Int, name: String) {
    val axfrRows = new java.util.concurrent.atomic.AtomicLong()
    val emitted = new ConcurrentLinkedQueue[(ChangeKey, Long)]()
    val batchZones = new ConcurrentLinkedQueue[(Long, Int)]() // (batch, zones with a change)
    val generated = mutable.ArrayBuffer.empty[ChangeKey]
    private val cp = ctx.out.resolve(s"checkpoint-$name-${System.nanoTime()}").toString
    private val sink: (DataFrame, Long) => Unit = (df, batchId) => {
      val rows = df.select("action", "fqdn", "ip", "zone").collect()
      val now = System.nanoTime()
      var axfr = 0L
      val zones = mutable.Set.empty[String]
      rows.foreach { r: Row =>
        if (r.getString(0) == "AXFR") axfr += 1
        else {
          emitted.add((ChangeKey(r.getString(0), r.getString(3), r.getString(1), r.getString(2)), now))
          zones += r.getString(3)
        }
      }
      axfrRows.addAndGet(axfr)
      batchZones.add((batchId, zones.size))
    }
    val query: StreamingQuery = spark.readStream.format("dns")
      .options(Dns.readOptions(port, estate.zones, "IXFR")).load()
      .writeStream.queryName(name).trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", cp).foreachBatch(sink).start()

    def awaitSnapshot(records: Int): Unit = waitFor(s"$name initial snapshot") {
      axfrRows.get >= records
    }
    def emittedCount: Int = emitted.size
    /** Stop the stream; a failure it already reported is not rethrown here. */
    def stop(): Unit =
      try { query.stop(); query.awaitTermination(60000) }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
  }
  private var run: Run = _

  /** Poll until `cond` holds; false on timeout. A failed stream throws. */
  private def await(timeoutS: Double)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond && System.nanoTime() < deadline) {
      Option(run).flatMap(r => r.query.exception).foreach(e => throw e)
      Thread.sleep(5)
    }
    cond
  }

  private def waitFor(what: String)(cond: => Boolean): Unit =
    require(await(60)(cond), s"timed out waiting for $what")

  def seed(): Unit = {
    if (server != null) server.close()
    estate = Gen.estate(ctx.seed, Records, Zones, 0.0, "stream")
    server = new WireDnsServer()
    present.clear()
    estate.zones.zip(estate.records).foreach { case (z, rs) =>
      server.backing.addZone(z, rs)
      present(z) = mutable.ArrayBuffer(rs: _*)
    }
  }

  /** Apply a schedule from one generator thread, on time; returns the
    * start instant and how late each change was applied. */
  private def generate(changes: Vector[Change], r: Run): (Long, Vector[Double]) = {
    r.generated ++= changes.map(_.key)
    val late = new Array[Double](changes.size)
    val t0 = System.nanoTime() + 20000000L
    val gen = new Thread(() => {
      changes.zipWithIndex.foreach { case (c, i) =>
        val due = t0 + c.dueNs
        var now = System.nanoTime()
        while (now < due) {
          val ms = (due - now) / 1000000L
          if (ms > 1) Thread.sleep(ms - 1) else Thread.onSpinWait()
          now = System.nanoTime()
        }
        server.backing.applyOps(c.zone, Seq(if (c.delete) DeleteOp(c.record) else AddOp(c.record)))
        late(i) = (System.nanoTime() - due) / 1e9
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    (t0, late.toVector)
  }

  private def schedule(count: Int): Vector[Change] = {
    schedules += 1
    val s = Gen.streamSchedule(ctx.seed * 1000003L + schedules, estate.zones, present,
      RatePerSec, count, nextSeq)
    nextSeq += count
    s
  }

  def warm(): Unit = {
    run = new Run(server.port, "ixfr_stream_warm")
    run.awaitSnapshot(Records)
    val r = run
    val batches0 = r.batchZones.size
    generate(schedule((RatePerSec * WarmSeconds).toInt), r)
    // JIT warm-up of the trigger path takes tens of triggers, not seconds
    waitFor("warm-up triggers")(r.emittedCount >= r.generated.size &&
      r.batchZones.size - batches0 >= WarmTriggers)
  }

  def measure(traced: Boolean): PhaseResult = {
    val rig = new Rig(ctx, server, traced)
    val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    }
    if (traced) {
      // the traced phase reads through the relay: a fresh stream on its port
      run.stop()
      run = new Run(rig.port, "ixfr_stream_traced")
      run.awaitSnapshot(present.valuesIterator.map(_.size).sum)
    }
    val r = run
    spark.streams.addListener(listener)
    val before = r.emitted.size
    val batchesBefore = r.batchZones.asScala.map(_._1).maxOption.getOrElse(-1L)
    val changes = schedule(ctx.seconds * RatePerSec)
    val (t0, late) = ctx.tracer.span("op.ixfr_changes", newOp = true) {
      ctx.probe.enter()
      val g = generate(changes, r)
      await(DrainTimeoutS)(r.emittedCount >= r.generated.size)
      g
    }
    val runS = (System.nanoTime() - t0) / 1e9
    val emitTime = mutable.HashMap.empty[ChangeKey, Long]
    r.emitted.asScala.drop(before).foreach { case (k, t) => if (!emitTime.contains(k)) emitTime(k) = t }
    val lats = changes.flatMap(c => emitTime.get(c.key).map(t => (t - (t0 + c.dueNs)) / 1e9))
    if (traced) r.stop() // before the relay it reads through goes away
    val (_, layer) = rig.finish()
    spark.streams.removeListener(listener)
    if (traced) {
      ctx.tracer.record(Span(ctx.tracer.nextId(), 0L, 0L, "op.ixfr_stream_phase", t0, t0 + (runS * 1e9).toLong))
    }

    val eo = ExactlyOnce.check(r.generated.toSeq, r.emitted.asScala.map(_._1).toSeq)
    val check = ("ixfr_stream.exactly_once", eo.ok, eo.toString)
    val streamLayer = if (!traced) Nil else {
      val ps = progress.asScala.toVector.map(_.progress)
        .filter(p => p.name == r.query.name && p.batchId > batchesBefore)
      def dur(k: String): Double = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
      def srcMetric(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
        p.sources.headOption.flatMap(s => Option(s.metrics.get(k))).map(_.toLong).getOrElse(0L)
      val n = ps.size
      def delta(k: String): Double =
        if (n < 2) 0.0 else (srcMetric(ps.last, k) - srcMetric(ps.head, k)).toDouble
      val zonesXfer = delta("zonesAdmitted")
      val useful = r.batchZones.asScala.filter(b => ps.nonEmpty && b._1 > ps.head.batchId && b._1 <= ps.last.batchId)
        .map(_._2).sum.toDouble
      Seq(
        ("stream.trigger_s", dur("triggerExecution"), "s"), ("stream.latest_offset_s", dur("latestOffset"), "s"),
        ("stream.wal_commit_s", dur("walCommit"), "s"), ("stream.add_batch_s", dur("addBatch"), "s"),
        ("stream.commit_offsets_s", dur("commitOffsets"), "s"),
        ("stream.query_planning_s", dur("queryPlanning"), "s"),
        ("stream.triggers", n.toDouble, "count"), ("stream.gen_late_s", late.max, "s"),
        ("dns.stream.records_per_trigger", if (n < 2) 0.0 else delta("recordsTransferred") / (n - 1), "count"),
        ("dns.stream.zones_per_trigger", if (n < 2) 0.0 else zonesXfer / (n - 1), "count"),
        ("dns.stream.useful_transfer_share", if (zonesXfer == 0) 0.0 else useful / zonesXfer, "share"))
    }
    PhaseResult(lats, changes.size, changes.size - lats.size, lats.size.toLong, runS, Seq(check),
      layer ++ streamLayer, Seq(("gen_late_max_s", late.max, "s")))
  }

  def layerInputs: Option[LayerInputs] = Some(LayerInputs(server, estate.zones,
    Gen.changeSet(new scala.util.Random(ctx.seed), estate.zones,
      new WriteModel(present.map { case (z, rs) => z -> rs.toSeq }.toMap), 4096, 1L, 0)))

  def close(): Unit = {
    if (run != null) run.stop()
    if (server != null) server.close()
  }
}

object IxfrStream {
  val Records = 128 * 64
  val Zones = 128
  val RatePerSec = 100
  val WarmSeconds = 4.0
  val WarmTriggers = 30
  val DrainTimeoutS = 60.0
}
