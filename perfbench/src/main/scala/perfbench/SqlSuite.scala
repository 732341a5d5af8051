package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Closed loop over `SparkEntry.queries` keys. An operation is one key:
  * build its DataFrame (eager fences and staged artifacts run here),
  * then write every row and column to the `noop` sink. The warm pass
  * checks each key's row count and order-insensitive content hash
  * against the reference kept beside the data. Traced runs also time
  * the old `count()` action and write a per-key layer record. */
final class SqlSuite(ctx: Ctx, writeReference: Boolean) extends Workload {
  import SqlSuite._
  private val spark = ctx.spark
  private val dir = ctx.data.toString
  private val referenceFile = ctx.data.resolveSibling("sql_reference.tsv")
  private val all: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries
  private val staged = graft.SparkEntry.stagedReadbackKeys
  private var reference = Map.empty[String, (Long, Long)]
  private var passes = 0

  def seed(): Unit = {
    require(Files.isDirectory(ctx.data), s"query data directory not found: $dir")
    val missing = Keys.filterNot(all.contains)
    require(missing.isEmpty, s"keys not in SparkEntry.queries: ${missing.mkString(", ")}")
    if (!writeReference) reference = Files.readAllLines(referenceFile).asScala.iterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t'))
      .map(a => a(0) -> (a(1).toLong, java.lang.Long.parseUnsignedLong(a(2), 16))).toMap
  }

  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** The key order of the next pass: a seeded shuffle per pass. */
  private def order(): Vector[String] = {
    passes += 1
    new Random(ctx.seed * 7919L + passes).shuffle(Keys)
  }

  def warm(): Unit = {
    val results = order().map { k =>
      val rows = all(k)(spark, dir).collect()
      release()
      k -> Stats.multisetHash(rows.iterator.map(render))
    }.toMap
    // untimed full-output passes: the first few noop passes still run slow
    (1 to WarmPasses).foreach { _ =>
      order().foreach { k => all(k)(spark, dir).write.format("noop").mode("overwrite").save(); release() }
    }
    if (writeReference) {
      val lines = results.toSeq.sortBy(_._1).map { case (k, (n, h)) => f"$k\t$n\t$h%016x" }
      Files.writeString(ctx.out.resolve("sql_reference.tsv"), lines.mkString("", "\n", "\n"))
    } else {
      val bad = Keys.filterNot(k => reference.get(k).contains(results(k)))
      require(bad.isEmpty, s"query results differ from the reference: " +
        bad.map(k => s"$k got ${results(k)} want ${reference.get(k)}").mkString("; "))
    }
  }

  def measure(traced: Boolean): PhaseResult = {
    ctx.probe.take()
    val layers = Vector.newBuilder[String]
    val total = new SparkAgg
    var constructS, actionS, countS, stagedS = 0.0
    val lats = Vector.newBuilder[Double]
    var records = 0L
    val t0 = System.nanoTime()
    (1 to passCount(ctx.seconds)).foreach { _ =>
      order().foreach { k =>
        ctx.tracer.span(s"op.query", newOp = true) {
          ctx.probe.enter()
          val (df, c) = Main.time(ctx.tracer.span("queries.construct")(all(k)(spark, dir)))
          if (traced) ctx.probe.noteAnalysis(df)
          val cAgg = if (traced) ctx.probe.take() else null
          val (_, a) = Main.time(ctx.tracer.span("queries.action") {
            df.write.format("noop").mode("overwrite").save()
          })
          lats += c + a
          records += reference.get(k).map(_._1).getOrElse(0L)
          if (traced) {
            val aAgg = ctx.probe.take()
            val (_, n) = Main.time(ctx.tracer.span("queries.count_action")(df.count()))
            ctx.probe.take()
            constructS += c; actionS += a; countS += n
            if (staged(k)) stagedS += c + a
            val agg = new SparkAgg
            agg.add(cAgg); agg.add(aAgg)
            total.add(agg)
            layers += layerRecord(k, c, a, n, agg, aAgg.codegenStages)
          }
          release()
        }
      }
    }
    val runS = (System.nanoTime() - t0) / 1e9
    val layer = if (!traced) Nil else {
      Files.writeString(ctx.out.resolve(s"sql_layers_seed${ctx.seed}.json"),
        layers.result().mkString("[\n", ",\n", "\n]\n"))
      total.metrics ++ Seq(
        ("queries.construct_s", constructS, "s"), ("queries.action_s", actionS, "s"),
        ("queries.count_action_s", countS, "s"),
        ("queries.codegen_stages", total.codegenStages.toDouble, "count"),
        ("queries.staged_readback_s", stagedS, "s"))
    }
    val l = lats.result()
    PhaseResult(l, l.size, 0, records, runS, Nil, layer)
  }

  private def layerRecord(k: String, construct: Double, action: Double, count: Double,
                          a: SparkAgg, codegen: Int): String = Json.obj(Seq(
    "key" -> Json.str(k), "staged_readback" -> staged(k).toString,
    "construct_s" -> Json.num(construct), "action_noop_s" -> Json.num(action),
    "action_count_s" -> Json.num(count),
    "analysis_s" -> Json.num(a.analysisS), "optimization_s" -> Json.num(a.optimizationS),
    "planning_s" -> Json.num(a.planningS), "execution_s" -> Json.num(a.executionS),
    "jobs" -> a.jobs.toString, "stages" -> a.stages.toString, "tasks" -> a.tasks.toString,
    "task_run_s" -> Json.num(a.taskRunS), "task_cpu_s" -> Json.num(a.taskCpuS),
    "shuffle_write_bytes" -> a.shuffleWrite.toString, "shuffle_read_bytes" -> a.shuffleRead.toString,
    "spill_bytes" -> a.spill.toString, "peak_exec_mem_bytes" -> a.peakExecMem.toString,
    "codegen_stages" -> codegen.toString))

  def layerInputs: Option[LayerInputs] = None

  def close(): Unit = release()
}

object SqlSuite {
  /** The keys the workload runs (see NOTES.md for how they were chosen). */
  val Keys: Vector[String] = Vector(
    "q1_pricing_summary",
    "q_bpe_tokens", "q_exactsubstr_scrub",
    "q_dns_wire_roundtrip", "q_dns_stream", "q_dns_sql", "q_dns_validate", "q_dns_wire_read",
    "q_streaming_hourly")
  /** Nominal time of one pass on a 4-core host: the passes per run are
    * fixed from `--seconds`, at least 3. From 6 passes on, the tail
    * (11th-largest operation) falls among the two heaviest keys' runs. */
  val PassSeconds = 3.0
  val WarmPasses = 5
  def passCount(seconds: Int): Int = math.max(3, (seconds / PassSeconds).round.toInt)

  /** Canonical rendering of one result row for content hashing. */
  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => Stats.roundDouble(d)
    case f: Float => Stats.roundDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros().toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (a, b) => render(a) + "->" + render(b) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
