package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  *
  * Set-up (session start, seeding, warm pass) is timed as `setup_s`.
  * The measured phase runs untraced and yields the end-to-end metrics.
  * With `--trace 1` the phase runs again with spans, listeners and the
  * counting relay on, followed by direct calls into each layer, and the
  * per-layer metrics are printed instead. The last stdout line is the
  * result object; the full run record goes to `<out>/`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        out: Path, data: Path, writeReference: Boolean)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("out")).toAbsolutePath,
      Paths.get(m.getOrElse("data", "perfbench/data/sf0.001")).toAbsolutePath,
      m.get("write-reference").contains("1"))
  }

  /** Exactly the session `graft.Bench` builds. */
  def session(cpus: Int): SparkSession = SparkSession.builder()
    .withExtensions(new graft.functions.GraftExtensions)
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.sources.v2.bucketing.enabled", "true")
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `graft.Bench`'s fixed host-interference gauge. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200000000L).selectExpr("sum(id * 3 + 1) AS s").count()
    (System.nanoTime() - t0) / 1e9
  }

  /** (steal, total) CPU ticks from the first line of /proc/stat. */
  def cpuTimes(): Option[(Long, Long)] =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((xs.lift(7).getOrElse(0L), xs.sum))
      } finally f.close()
    } catch { case _: Exception => None }

  /** Share of CPU time the hypervisor took from this machine since
    * `from`, NaN where /proc/stat is unavailable. */
  def stealShare(from: Option[(Long, Long)]): Double = (from, cpuTimes()) match {
    case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
    case _ => Double.NaN
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val cpus = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val heap = new HeapWatch
    Files.createDirectories(args.out)
    val tag = s"${args.workload}_seed${args.seed}_trace${if (args.trace) 1 else 0}"

    val tracer = new Tracer(args.trace)
    val probe = new SparkProbe(spark, tracer)
    val ctx = Ctx(spark, args.seed, args.seconds, args.out, args.data, probe, tracer)
    def make(name: String, c: Ctx): Workload = name match {
      case "axfr_estate" => new AxfrEstate(c)
      case "ixfr_stream" => new IxfrStream(c)
      case "update_ingest" => new UpdateIngest(c)
      case "sql_suite" => new SqlSuite(c, args.writeReference)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val w = make(args.workload, ctx)

    var exit = 0
    var resultLine: Option[String] = None
    try {
      calibrate(spark) // warm the calib plan, as Bench does
      val calibBefore = calibrate(spark)
      // set-up: seeding is repeated and its median taken; the warm pass runs once
      val seedTimes = (1 to 3).map(_ => time(w.seed())._2)
      // collect seeding garbage before the warm pass, not after it: a
      // full collection right before the measured phase shrinks the heap
      // and the young generation, and the first operations run slow
      System.gc()
      val warmS = time(w.warm())._2
      val setupS = sessionS + Stats.median(seedTimes) + warmS
      probe.take()

      heap.reset()
      val cpu0 = cpuTimes()
      val res = w.measure(traced = false)
      val peakHeapMb = heap.peakMb
      val steal = stealShare(cpu0)
      var checks = res.checks
      var layer = Seq.empty[(String, Double, String)]
      var tracedRunS = Double.NaN
      if (args.trace) {
        val tres = w.measure(traced = true)
        tracedRunS = tres.runS
        val lp = new LayerPass(ctx)
        layer = tres.layer ++ w.layerInputs.map(lp.run).getOrElse(Nil) ++ Seq(
          ("trace.run_s", tres.runS, "s"), ("trace.untraced_run_s", res.runS, "s"),
          ("trace.overhead_s", tres.runS - res.runS, "s"),
          ("dns.write.failed_share", res.failed.toDouble / res.attempted, "share"))
        checks ++= tres.checks
        // layers only another workload exercises: its traced phase, short
        Companions.of(args.workload).foreach { case (name, owned) =>
          val c = make(name, ctx.copy(seconds = Companions.Seconds))
          try {
            c.seed()
            c.warm()
            val cres = c.measure(traced = true)
            val mine = cres.layer :+ (("dns.write.failed_share", cres.failed.toDouble / cres.attempted, "share"))
            val taken = mine.filter(m => owned.exists(m._1.startsWith))
            layer = layer.filterNot(m => taken.exists(_._1 == m._1)) ++ taken
            checks ++= cres.checks.map { case (n, ok, d) => (s"$n (traced companion)", ok, d) }
          } finally c.close()
        }
        tracer.writeJson(args.out.resolve(s"trace_$tag.json"))
      }
      val calibAfter = calibrate(spark)

      val lats = res.latencies
      val tail = Stats.tail(lats)
      val endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("run_s", res.runS, "s"),
        ("op_p50_s", Stats.median(lats), "s"),
        ("op_tail_s", tail.value, "s"),
        ("ops_per_s", res.attempted / res.runS, "1/s"),
        ("records_per_s", res.records / res.runS, "1/s"),
        ("peak_live_heap_mb", peakHeapMb, "MB"))
      val failedShare = res.failed.toDouble / res.attempted
      val correct = checks.forall(_._2)
      val perLayer = LayerNames.complete(layer)
      val shown = if (args.trace) perLayer else endToEnd
      def metricJson(ms: Seq[(String, Double, String)]): String = Json.obj(ms.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })

      val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      val record = Json.obj(Seq(
        "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
        "seconds" -> args.seconds.toString, "trace" -> args.trace.toString,
        "cpus" -> cpus.toString, "nproc" -> Json.str(sys.env.getOrElse("PERFBENCH_NPROC", cpus.toString)),
        "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
        "jvm_args" -> Json.arr(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq.map(Json.str)),
        "conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
        "calib_before_s" -> Json.num(calibBefore), "calib_after_s" -> Json.num(calibAfter),
        "session_s" -> Json.num(sessionS), "seed_s" -> Json.arr(seedTimes.map(Json.num)),
        "warm_s" -> Json.num(warmS), "host_steal_share" -> Json.num(steal),
        "attempted" -> res.attempted.toString, "failed" -> res.failed.toString,
        "failed_share" -> Json.num(failedShare),
        "op_tail" -> Json.obj(Seq("percentile" -> Json.num(tail.percentile),
          "beyond" -> tail.beyond.toString, "samples" -> tail.n.toString)),
        "latencies_s" -> Json.arr(lats.map(Json.num)),
        "traced_run_s" -> Json.num(tracedRunS),
        "checks" -> Json.arr(checks.map { case (n, ok, d) =>
          Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d))) }),
        "end_to_end" -> metricJson(endToEnd),
        "per_layer" -> metricJson(perLayer),
        "extra" -> metricJson(res.extra)))
      Files.writeString(args.out.resolve(s"record_$tag.json"), record + "\n")
      checks.filterNot(_._2).foreach { case (n, _, d) => System.err.println(s"[perfbench] CHECK FAILED $n: $d") }
      System.err.println(s"[perfbench] $tag: op_tail at p${tail.percentile} of ${tail.n} ops " +
        s"(${tail.beyond} beyond); calib ${calibBefore}s -> ${calibAfter}s")
      resultLine = Some(Json.obj(Seq("correct" -> correct.toString, "attempted" -> res.attempted.toString,
        "failed" -> res.failed.toString, "metrics" -> metricJson(shown))))
      if (!correct) exit = 1
    } catch { case e: Throwable =>
      e.printStackTrace()
      exit = 2
    } finally {
      Seq[() => Unit](() => w.close(), () => probe.close(), () => heap.close(), () => spark.stop())
        .foreach(f => try f() catch { case e: Throwable =>
          System.err.println(s"[perfbench] shutdown: $e"); if (exit == 0) exit = 2 })
    }
    // the result goes out last, after everything that might still log
    resultLine.foreach(println)
    System.out.flush()
    sys.exit(exit)
  }
}

/** What a workload gets to work with. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, out: Path, data: Path,
                     probe: SparkProbe, tracer: Tracer)

/** The outcome of one measured phase. `latencies` are the per-operation
  * times the latency metrics summarize; `layer` holds the per-layer
  * numbers only a traced phase produces. */
final case class PhaseResult(latencies: Seq[Double], attempted: Int, failed: Int, records: Long,
                             runS: Double, checks: Seq[(String, Boolean, String)],
                             layer: Seq[(String, Double, String)] = Nil,
                             extra: Seq[(String, Double, String)] = Nil)

trait Workload {
  /** Generate inputs from the seed and load them; may run repeatedly. */
  def seed(): Unit
  /** Untimed first operations: JIT, codegen and connection warm-up. */
  def warm(): Unit
  def measure(traced: Boolean): PhaseResult
  /** The server, zones and update rows the direct layer calls run on. */
  def layerInputs: Option[LayerInputs]
  def close(): Unit
}

/** Workloads whose traced phases also run, shortened, inside another
  * workload's traced run, so that the layers only they exercise are
  * measured there: each with the metric-name prefixes it owns. */
object Companions {
  val Seconds = 4
  def of(workload: String): Seq[(String, Seq[String])] = workload match {
    case "axfr_estate" => Seq(
      "ixfr_stream" -> Seq("stream.", "dns.stream.records_per_trigger", "dns.stream.zones_per_trigger",
        "dns.stream.useful_transfer_share"),
      "update_ingest" -> Seq("dns.write.messages", "dns.write.records_per_message",
        "dns.write.oversize_messages", "dns.write.failed_share"))
    case _ => Nil
  }
}
