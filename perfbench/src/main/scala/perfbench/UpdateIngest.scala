package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

import graft.sources.dns._
import graft.sources.dns.write.DnsWrites

/** Closed loop, one client, on the write path. Most operations are
  * change sets (adds, deletes, same-identity flips and repeated rows)
  * over many zones; every `BulkEvery`-th is a single-zone bulk load,
  * alternately below and above the 65,535-byte DNS/TCP message bound.
  * Each goes through `DnsWrites.repartitionByZone` and a
  * `format("dns_update")` append over the wire client. Latency covers
  * change sets only; every operation counts toward the failed share.
  * Afterwards an AXFR of every zone must equal the model built from
  * acknowledged operations only. */
final class UpdateIngest(ctx: Ctx) extends Workload {
  import UpdateIngest._
  private val spark = ctx.spark
  private var server: WireDnsServer = _
  private var estate: Estate = _
  private var model: WriteModel = _
  private var rnd: Random = _
  private var opIndex = 0
  private var bulkIndex = 0
  private var seq = 0
  private var ts = 1L
  private val lastRows = scala.collection.mutable.ArrayBuffer.empty[UpdateRow]
  private val bulkZones = (0 until BulkZones).map(i => f"b$i%03d.upd.bench.").toVector

  private val inputSchema = StructType(Seq(
    StructField("action", StringType), StructField("fqdn", StringType),
    StructField("ip", StringType), StructField("ts", LongType), StructField("ttl", IntegerType)))

  def seed(): Unit = {
    if (server != null) server.close()
    estate = Gen.estate(ctx.seed, Records, Zones, 0.0, "upd")
    server = new WireDnsServer()
    estate.zones.zip(estate.records).foreach { case (z, rs) => server.backing.addZone(z, rs) }
    bulkZones.foreach(z => server.backing.addZone(z, Nil))
    model = new WriteModel(estate.byZone ++ bulkZones.map(_ -> Seq.empty[ARecord]))
    rnd = new Random(ctx.seed)
    opIndex = 0; bulkIndex = 0; seq = 0; ts = 1L
  }

  /** One append through the connector; true when acknowledged. */
  private def append(rows: Seq[UpdateRow], port: Int): Boolean = {
    val df = spark.createDataFrame(
      rows.map(r => Row(r.action, r.fqdn, r.ip, r.tsMicros, r.ttl)).asJava, inputSchema)
      .select(col("action"), col("fqdn"), col("ip"), expr("timestamp_micros(ts)").as("timestamp"), col("ttl"))
    if (ctx.tracer.enabled) ctx.probe.noteAnalysis(df)
    try {
      DnsWrites.repartitionByZone(df).write.format("dns_update")
        .options(Dns.writeOptions(port)).mode("append").save()
      true
    } catch { case _: Exception => false }
  }

  /** The next operation in the seeded sequence: (is bulk, rows). */
  private def nextOp(): (Boolean, Vector[UpdateRow]) = {
    opIndex += 1
    val rows =
      if (opIndex % BulkEvery == 0) {
        val above = bulkIndex % 2 == 1
        val n = if (above) AboveMin + rnd.nextInt(AboveSpan) else BelowMin + rnd.nextInt(BelowSpan)
        val z = bulkZones(bulkIndex % BulkZones)
        bulkIndex += 1
        Gen.bulkLoad(rnd, z, n, ts)
      } else {
        val cs = Gen.changeSet(rnd, estate.zones, model, ChangeSetRows, ts, seq)
        seq += cs.size
        cs
      }
    ts += rows.size + 1
    (opIndex % BulkEvery == 0, rows)
  }

  private def runOps(n: Int, port: Int): (Vector[Double], Int, Long) = {
    var failed = 0
    var applied = 0L
    val lats = Vector.newBuilder[Double]
    (1 to n).foreach { _ =>
      val (bulk, rows) = nextOp()
      val (ok, s) = ctx.tracer.span(if (bulk) "op.bulk_load" else "op.change_set", newOp = true) {
        ctx.probe.enter()
        Main.time(append(rows, port))
      }
      if (ok) { model.apply(rows); applied += rows.size } else failed += 1
      if (!bulk) { lats += s; lastRows.clear(); lastRows ++= rows }
    }
    (lats.result(), failed, applied)
  }

  /** AXFR every zone through the connector and compare with the model. */
  private def stateCheck(port: Int): (String, Boolean, String) = {
    val zones = estate.zones ++ bulkZones
    val got = spark.read.format("dns").options(Dns.readOptions(port, zones, "AXFR")).load()
      .select("zone", "fqdn", "ip").collect()
      .groupBy(_.getString(0)).map { case (z, rs) => z -> rs.map(r => ARecord(r.getString(1), r.getString(2))).toSet }
    val want = model.snapshot
    val bad = zones.filter(z => got.getOrElse(z, Set.empty[ARecord]) != want(z))
    ("update_ingest.acknowledged_state", bad.isEmpty,
      s"${zones.size - bad.size}/${zones.size} zones match the model" +
        bad.headOption.map(z => s"; first mismatch $z: ${got.getOrElse(z, Set.empty).size} vs ${want(z).size} records").getOrElse(""))
  }

  def warm(): Unit = {
    runOps(WarmOps, server.port)
    val c = stateCheck(server.port)
    require(c._2, s"warm-up state check failed: ${c._3}")
  }

  def measure(traced: Boolean): PhaseResult = {
    val rig = new Rig(ctx, server, traced)
    val n = math.max(MinOps, (ctx.seconds * OpsPerSecond).round.toInt)
    val t0 = System.nanoTime()
    val (lats, failed, applied) = runOps(n, rig.port)
    val runS = (System.nanoTime() - t0) / 1e9
    val (_, layer) = rig.finish()
    PhaseResult(lats, n, failed, applied, runS, Seq(stateCheck(server.port)), layer)
  }

  def layerInputs: Option[LayerInputs] = Some(LayerInputs(server, estate.zones, lastRows.toVector))

  def close(): Unit = if (server != null) server.close()
}

object UpdateIngest {
  val Records = 64 * 32
  val Zones = 64
  val BulkZones = 64
  val ChangeSetRows = 256
  /** Every BulkEvery-th operation is a bulk load. */
  val BulkEvery = 6
  /** Bulk sizes: an A record in a bulk load encodes to 39 bytes, so the
    * 65,535-byte bound sits near 1,680 records. */
  val BelowMin = 800
  val BelowSpan = 700
  val AboveMin = 1900
  val AboveSpan = 700
  val WarmOps = 30
  /** Nominal operation rate on a 4-core host; fixes the work per run. */
  val OpsPerSecond = 8.0
  val MinOps = 24
}
