package perfbench

import java.lang.management.ManagementFactory

import graft.sources.dns._
import graft.sources.dns.read.{DnsPartitionReader, DnsZoneInputPartition, ProgressLog}

/** Inputs for the direct layer calls: a loaded loopback server, the
  * zones to transfer, and update rows for the write-path layers. */
final case class LayerInputs(server: WireDnsServer, zones: Seq[String], updateRows: Seq[UpdateRow])

/** Shared connector plumbing: option maps and typed conversions. */
object Dns {
  def readOptions(port: Int, zones: Seq[String], xfr: String): Map[String, String] = Map(
    "server" -> "127.0.0.1", "port" -> port.toString, "client" -> "wire",
    "timeout" -> "60", "organization" -> "perfbench", "zones" -> zones.mkString(","),
    "xfr" -> xfr, "fixed-timestamp-micros" -> "1700000000000000")

  def writeOptions(port: Int): Map[String, String] = Map(
    "server" -> "127.0.0.1", "port" -> port.toString, "client" -> "wire", "timeout" -> "60")

  def toUpdate(r: UpdateRow): DnsUpdateRecord =
    DnsUpdateRecord(r.action, r.fqdn, r.ip, r.tsMicros, r.ttl)

  /** Rendering of one read row for content hashing. */
  def render(action: String, fqdn: String, ip: String, zone: String): String =
    s"$action|$fqdn|$ip|$zone"
}

/** Times direct calls into each connector layer, from outside the
  * program: the in-memory server, the wire client and emitter, the
  * codec on captured messages, the partition reader, LWW dedup, row
  * validation and the streaming progress log. Each call is a span. */
final class LayerPass(ctx: Ctx) {
  private val tracer = ctx.tracer
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private def timed(name: String)(body: => Unit): Double =
    tracer.span(name) { Main.time(body)._2 }

  /** Total time of `f` over `items`, after one untimed warm round. */
  private def timedAll[A](name: String, items: Seq[A])(f: A => Unit): Double = {
    items.foreach(f)
    items.map(a => timed(name)(f(a))).sum
  }

  def run(in: LayerInputs): Seq[(String, Double, String)] = tracer.span("layer_pass", newOp = true) {
    val backing = in.server.backing
    val port = in.server.port
    val zones = in.zones

    // dns.server: direct calls on the in-memory server
    val axfrS = timedAll("dns.server.axfr", zones)(z => backing.axfr(z))
    val ixfrS = timedAll("dns.server.ixfr", zones) { z =>
      backing.ixfr(z, math.max(1L, backing.serialOf(z) - 16))
    }

    // dns.wire + dns.read: per zone, the wire client's transfer alone and
    // a partition reader drained (transfer + row build), interleaved,
    // best of three each after a warm round
    val client = new WireTransferClient("127.0.0.1", port)
    val opts = DnsOptions.source(Dns.readOptions(port, zones, "AXFR"))
    def transfer(z: String): Int = client.transfer(z, 0L, XfrType.AXFR, 60) match {
      case AxfrResult(_, rs) => rs.size
      case _ => 0
    }
    def drain(z: String, i: Int): Unit = {
      val r = new DnsPartitionReader(opts, DnsSchemas.read, DnsZoneInputPartition(i, z, 0L), None)
      while (r.next()) r.get()
      r.close()
    }
    zones.zipWithIndex.foreach { case (z, i) => transfer(z); drain(z, i) }
    val alloc0 = threads.getThreadAllocatedBytes(Thread.currentThread().getId)
    val records = zones.map(transfer).sum.toLong
    val allocPerRecord =
      (threads.getThreadAllocatedBytes(Thread.currentThread().getId) - alloc0).toDouble / math.max(1L, records)
    val best = zones.zipWithIndex.map { case (z, i) =>
      val runs = (1 to 3).map(_ =>
        (timed("dns.wire.transfer")(transfer(z)), timed("dns.read.reader")(drain(z, i))))
      (runs.map(_._1).min, runs.map(_._2).min)
    }
    val transferS = best.map(_._1).sum
    val readerS = best.map(_._2).sum

    // wire bytes and frames: the same transfers through a counting relay
    val relay = new Relay(port)
    val viaRelay = new WireTransferClient("127.0.0.1", relay.port)
    zones.foreach(z => viaRelay.transfer(z, 0L, XfrType.AXFR, 60))
    val frames = relay.capturedFrames
    relay.close()
    val bytesPerRecord = relay.downBytes.get.toDouble / math.max(1L, records)
    val framesPerTransfer = relay.downFrames.get.toDouble / zones.size
    // codec on captured messages
    var decoded = frames.map(DnsWire.decode)
    decoded.foreach(DnsWire.encode)
    val decodeS = timed("dns.wire.decode") { decoded = frames.map(DnsWire.decode) }
    val encodeS = timed("dns.wire.encode") { decoded.foreach(DnsWire.encode) }

    // write path: validation, LWW dedup, and the RFC 2136 emitter
    val rows = in.updateRows
    val validateS = timedAll("dns.write.validate", Seq(rows)) { rs =>
      rs.foreach(r => DnsValidation.invalidReason(Some(r.action), Some(r.fqdn), Some(r.ip),
        hasTimestamp = true, Some(r.ttl)))
    }
    val byZone = rows.groupBy(r => WriteModel.zoneOf(r.fqdn)).toSeq.sortBy(_._1).map(_._2.map(Dns.toUpdate))
    val kept = byZone.map(LwwDedup(_).size).sum
    val dedupS = timedAll("dns.write.dedup", Seq(byZone))(_.foreach(LwwDedup(_)))
    val emitter = new WireUpdateEmitter("127.0.0.1", port, 60)
    val probeZones = zones.take(8)
    // each probe zone gets 64 records added, then the same 64 deleted
    val updateS = timedAll("dns.wire.update", probeZones.zipWithIndex) { case (z, i) =>
      val adds = (0 until 64).map(k => DnsUpdateRecord("IXFR_ADD", s"lp$k.$z", s"10.9.$i.${k + 1}", k.toLong, 300))
      emitter.update(z, adds)
      emitter.update(z, adds.map(_.copy(action = "IXFR_DELETE")))
    }
    val applyS = timedAll("dns.server.apply", probeZones.zipWithIndex) { case (z, i) =>
      val recs = (0 until 64).map(k => ARecord(s"la$k.$z", s"10.8.$i.${k + 1}"))
      backing.applyOps(z, recs.map(AddOp(_)))
      backing.applyOps(z, recs.map(DeleteOp(_)))
    }

    // streaming progress log commits
    val log = new ProgressLog(ctx.out.resolve("progress-probe").toString, 10)
    val serials = zones.map(z => z -> backing.serialOf(z)).toMap
    val commitS = timedAll("dns.stream.progress_commit", 0 until 32)(i => log.commit(i.toLong, serials))

    Seq(
      ("dns.server.axfr_s", axfrS, "s"), ("dns.server.ixfr_s", ixfrS, "s"),
      ("dns.server.apply_s", applyS, "s"),
      ("dns.wire.transfer_s", transferS, "s"), ("dns.wire.update_s", updateS, "s"),
      ("dns.wire.encode_s", encodeS, "s"), ("dns.wire.decode_s", decodeS, "s"),
      ("dns.wire.bytes_per_record", bytesPerRecord, "bytes"),
      ("dns.wire.frames_per_transfer", framesPerTransfer, "count"),
      ("dns.wire.alloc_bytes_per_record", allocPerRecord, "bytes"),
      ("dns.read.reader_s", readerS, "s"),
      ("dns.read.row_build_s", readerS - transferS, "s"),
      ("dns.write.validate_s", validateS, "s"), ("dns.write.dedup_s", dedupS, "s"),
      ("dns.write.dedup_kept_share", kept.toDouble / math.max(1, rows.size), "share"),
      ("dns.stream.progress_commit_s", commitS, "s"))
  }
}
