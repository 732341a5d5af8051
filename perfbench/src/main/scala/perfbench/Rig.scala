package perfbench

import graft.sources.dns.WireDnsServer

/** Per-phase plumbing of the connector workloads. Untraced, Spark talks
  * to the loopback server directly. Traced, it goes through a counting
  * relay, the server's connection threads are sampled for blocked time,
  * and `finish` turns Spark's and the relay's counts into per-layer
  * metrics. */
final class Rig(ctx: Ctx, server: WireDnsServer, traced: Boolean) {
  private val relay = if (traced) Some(new Relay(server.port)) else None
  private val sampler = if (traced) Some(new BlockedSampler("wire-dns-conn")) else None
  ctx.probe.take() // start the phase with an empty aggregate

  /** The port Spark should connect to in this phase. */
  val port: Int = relay.map(_.port).getOrElse(server.port)

  /** Close the relay and sampler; return Spark's aggregate for the phase
    * and, when traced, the per-layer metrics Spark and the relay give. */
  def finish(): (SparkAgg, Seq[(String, Double, String)]) = {
    val agg = ctx.probe.take()
    val blocked = sampler.map(_.stop()).getOrElse(0.0)
    relay.foreach(_.close())
    val layer = relay.toSeq.flatMap { r =>
      val msgs = r.updateMessages.get
      agg.metrics ++ Seq(
        ("dns.server.blocked_s", blocked, "s"),
        ("dns.wire.connections", r.connections.get.toDouble, "count"),
        ("dns.read.records", agg.scanRecords.toDouble, "count"),
        ("dns.read.payload_bytes", agg.scanBytes.toDouble, "bytes"),
        ("dns.read.ixfr_fallbacks", agg.scanFallbacks.toDouble, "count"),
        ("dns.read.partitions", agg.scanPartitions.toDouble, "count"),
        ("dns.write.messages", msgs.toDouble, "count"),
        ("dns.write.records_per_message", if (msgs == 0) 0.0 else r.updateRecords.get.toDouble / msgs, "count"),
        ("dns.write.oversize_messages", r.oversizeMessages.get.toDouble, "count"))
    }
    (agg, layer)
  }
}

/** Every per-layer metric name, with its unit, in report order. A run
  * reports each one; a layer its workload does not exercise reads 0. */
object LayerNames {
  val all: Seq[(String, String)] = Seq(
    "spark.analysis_s" -> "s", "spark.optimization_s" -> "s", "spark.planning_s" -> "s",
    "spark.execution_s" -> "s", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.task_overhead_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_bytes" -> "bytes",
    "stream.trigger_s" -> "s", "stream.latest_offset_s" -> "s", "stream.wal_commit_s" -> "s",
    "stream.add_batch_s" -> "s", "stream.commit_offsets_s" -> "s", "stream.query_planning_s" -> "s",
    "stream.triggers" -> "count", "stream.gen_late_s" -> "s",
    "dns.server.axfr_s" -> "s", "dns.server.ixfr_s" -> "s", "dns.server.apply_s" -> "s",
    "dns.server.blocked_s" -> "s",
    "dns.wire.transfer_s" -> "s", "dns.wire.update_s" -> "s", "dns.wire.encode_s" -> "s",
    "dns.wire.decode_s" -> "s", "dns.wire.bytes_per_record" -> "bytes",
    "dns.wire.frames_per_transfer" -> "count", "dns.wire.connections" -> "count",
    "dns.wire.alloc_bytes_per_record" -> "bytes",
    "dns.wire.small_zone.alloc_bytes_per_record" -> "bytes",
    "dns.wire.large_zone.alloc_bytes_per_record" -> "bytes",
    "dns.wire.small_zone.retained_bytes" -> "bytes", "dns.wire.large_zone.retained_bytes" -> "bytes",
    "dns.wire.small_zone.peak_live_heap_mb" -> "MB", "dns.wire.large_zone.peak_live_heap_mb" -> "MB",
    "dns.read.reader_s" -> "s", "dns.read.row_build_s" -> "s", "dns.read.records" -> "count",
    "dns.read.payload_bytes" -> "bytes", "dns.read.ixfr_fallbacks" -> "count",
    "dns.read.partitions" -> "count",
    "dns.stream.records_per_trigger" -> "count", "dns.stream.zones_per_trigger" -> "count",
    "dns.stream.useful_transfer_share" -> "share", "dns.stream.progress_commit_s" -> "s",
    "dns.write.messages" -> "count", "dns.write.records_per_message" -> "count",
    "dns.write.dedup_s" -> "s", "dns.write.dedup_kept_share" -> "share",
    "dns.write.validate_s" -> "s", "dns.write.oversize_messages" -> "count",
    "dns.write.failed_share" -> "share",
    "queries.construct_s" -> "s", "queries.action_s" -> "s", "queries.count_action_s" -> "s",
    "queries.codegen_stages" -> "count", "queries.staged_readback_s" -> "s",
    "trace.run_s" -> "s", "trace.untraced_run_s" -> "s", "trace.overhead_s" -> "s")

  /** The measured values laid over the full list (0 where absent). */
  def complete(measured: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val m = measured.map(x => x._1 -> x._2).toMap
    val unknown = m.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from LayerNames: ${unknown.mkString(", ")}")
    all.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }
}
