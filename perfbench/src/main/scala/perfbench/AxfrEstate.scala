package perfbench

import java.lang.management.ManagementFactory

import scala.util.Random

import graft.sources.dns._

/** Closed loop, one client. Each operation is a full 6-column AXFR
  * snapshot of a Zipf-sized estate over the wire client, written to
  * the `noop` sink, so every column of every row is built. */
final class AxfrEstate(ctx: Ctx) extends Workload {
  import AxfrEstate._
  private val spark = ctx.spark
  private var server: WireDnsServer = _
  private var estate: Estate = _
  private var expected: (Long, Long) = _

  def seed(): Unit = {
    if (server != null) server.close()
    estate = Gen.estate(ctx.seed, Records, Zones, ZipfS, "axfr")
    server = new WireDnsServer()
    estate.zones.zip(estate.records).foreach { case (z, rs) => server.backing.addZone(z, rs) }
    expected = Stats.multisetHash(estate.zones.iterator.zip(estate.records.iterator).flatMap {
      case (z, rs) => rs.iterator.map(r => Dns.render("AXFR", r.fqdn, r.ip, z))
    })
  }

  private def frame(port: Int) =
    spark.read.format("dns").options(Dns.readOptions(port, estate.zones, "AXFR")).load()

  private def snapshot(port: Int): Unit = {
    val df = frame(port)
    if (ctx.tracer.enabled) ctx.probe.noteAnalysis(df)
    df.write.format("noop").mode("overwrite").save()
  }

  /** The full row set, collected and hashed (organization and the fixed
    * timestamp are checked for every row too). */
  private def rowSetCheck(port: Int): (String, Boolean, String) = {
    val rows = frame(port).collect()
    val badConst = rows.count(r => r.getString(3) != "perfbench" ||
      r.getTimestamp(4).getTime != 1700000000000L)
    val got = Stats.multisetHash(rows.iterator.map(r =>
      Dns.render(r.getString(0), r.getString(1), r.getString(2), r.getString(5))))
    ("axfr_estate.row_set", got == expected && badConst == 0,
      s"rows ${got._1} (want ${expected._1}), hash match ${got._2 == expected._2}, bad constant columns $badConst")
  }

  def warm(): Unit = {
    (1 to WarmOps).foreach(_ => snapshot(server.port))
    val c = rowSetCheck(server.port)
    require(c._2, s"warm-up row-set check failed: ${c._3}")
  }

  def measure(traced: Boolean): PhaseResult = {
    val rig = new Rig(ctx, server, traced)
    val n = math.max(MinOps, (ctx.seconds * OpsPerSecond).round.toInt)
    val t0 = System.nanoTime()
    val lats = (1 to n).map { _ =>
      ctx.tracer.span("op.axfr_snapshot", newOp = true) {
        ctx.probe.enter()
        Main.time(snapshot(rig.port))._2
      }
    }
    val runS = (System.nanoTime() - t0) / 1e9
    val (agg, layer) = rig.finish()
    val counts = agg.scanRecordCounts
    val perOp = ("axfr_estate.records_per_op",
      counts.size == n && counts.forall(_ == Records.toLong),
      s"${counts.size} scans reported, want $n of $Records records each; saw ${counts.distinct.take(5).mkString(",")}")
    val buffering = if (traced) bufferingProbe() else Nil
    PhaseResult(lats, n, 0, n.toLong * Records, runS, Seq(perOp), layer ++ buffering)
  }

  /** Does the wire client buffer more than one 64 KiB frame per
    * transfer? Transfers one small and one large zone directly and
    * reports bytes allocated per record on the calling thread, and the
    * heap the finished transfer result keeps alive. */
  private def bufferingProbe(): Seq[(String, Double, String)] = {
    val rnd = new Random(ctx.seed ^ 0x64)
    val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val mem = ManagementFactory.getMemoryMXBean
    val client = new WireTransferClient("127.0.0.1", server.port)
    Seq("small_zone" -> SmallZone, "large_zone" -> LargeZone).flatMap { case (label, n) =>
      val zone = s"$label.probe.bench."
      server.backing.addZone(zone, (0 until n).map(i => ARecord(f"p$i%07d.$zone",
        s"10.7.${rnd.nextInt(256)}.${1 + rnd.nextInt(254)}")))
      client.transfer(zone, 0L, XfrType.AXFR, 60) // warm
      val a0 = threads.getThreadAllocatedBytes(Thread.currentThread().getId)
      ctx.tracer.span(s"dns.wire.transfer.$label") { client.transfer(zone, 0L, XfrType.AXFR, 60) }
      val alloc = threads.getThreadAllocatedBytes(Thread.currentThread().getId) - a0
      System.gc()
      val base = mem.getHeapMemoryUsage.getUsed
      val held = client.transfer(zone, 0L, XfrType.AXFR, 60)
      System.gc()
      val live = mem.getHeapMemoryUsage.getUsed
      val size = held match { case AxfrResult(_, rs) => rs.size; case _ => 0 }
      require(size == n, s"$label transfer returned $size records, want $n")
      server.backing.dropZone(zone)
      Seq((s"dns.wire.$label.alloc_bytes_per_record", alloc.toDouble / n, "bytes"),
        (s"dns.wire.$label.retained_bytes", (live - base).toDouble, "bytes"),
        (s"dns.wire.$label.peak_live_heap_mb", live / (1024.0 * 1024.0), "MB"))
    }
  }

  def layerInputs: Option[LayerInputs] = Some(LayerInputs(server, estate.zones,
    Gen.changeSet(new Random(ctx.seed), estate.zones,
      new WriteModel(estate.byZone), 4096, 1L, 0)))

  def close(): Unit = if (server != null) server.close()
}

object AxfrEstate {
  val Records = 1 << 17
  val Zones = 64
  val ZipfS = 1.0
  /** The first snapshots of a fresh JVM run slow for about 20 operations. */
  val WarmOps = 30
  /** Nominal snapshot rate on a 4-core host; fixes the work per run. */
  val OpsPerSecond = 3.0
  val MinOps = 31
  val SmallZone = 1024
  val LargeZone = 16384
}
