package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.sources.dns.ARecord

/** Seeded input generators and the reference models the workloads
  * check their outputs against. Everything here is a pure function of
  * its seed and arguments; no Spark, no sockets. */

/** A set of zones and their A records. */
final case class Estate(zones: Vector[String], records: Vector[Vector[ARecord]]) {
  def total: Int = records.iterator.map(_.size).sum
  def byZone: Map[String, Vector[ARecord]] = zones.zip(records).toMap
}

/** One change the stream generator applies to the server: an add or a
  * delete of one record, due `dueNs` after the generator starts. */
final case class Change(seq: Int, dueNs: Long, zone: String, record: ARecord, delete: Boolean) {
  def key: ChangeKey =
    ChangeKey(if (delete) "IXFR_DELETE" else "IXFR_ADD", zone, record.fqdn, record.ip)
}

/** The identity of one emitted change row. */
final case class ChangeKey(action: String, zone: String, fqdn: String, ip: String)

/** One row of the write path's input (the `dns_update` schema). */
final case class UpdateRow(action: String, fqdn: String, ip: String, tsMicros: Long, ttl: Int)

object Gen {
  private def ip(rnd: Random): String =
    s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${1 + rnd.nextInt(254)}"

  private def label(rnd: Random): String = {
    val cs = "abcdefghijklmnopqrstuvwxyz0123456789"
    "h" + (1 to 7).map(_ => cs(rnd.nextInt(cs.length))).mkString
  }

  def zoneNames(n: Int, kind: String): Vector[String] =
    (0 until n).map(i => f"z$i%03d.$kind.bench.").toVector

  /** `total` records over `nZones` zones with Zipf(`zipfS`) sizes; the
    * seed decides which zone gets which size and every name and
    * address, never the size set itself. */
  def estate(seed: Long, total: Int, nZones: Int, zipfS: Double, kind: String): Estate = {
    val rnd = new Random(seed)
    val sizes = rnd.shuffle(Stats.zipfSizes(total, nZones, zipfS))
    val zones = zoneNames(nZones, kind)
    val recs = zones.zip(sizes).map { case (z, n) =>
      val names = mutable.LinkedHashSet.empty[String]
      while (names.size < n) names += label(rnd)
      names.iterator.map(h => ARecord(s"$h.$z", ip(rnd))).toVector
    }
    Estate(zones, recs)
  }

  /** Cumulative Zipf weights over `n` items, shuffled by `rnd`, for
    * skewed choice of which zone a change lands in. */
  private def skewedPicker(rnd: Random, n: Int, s: Double): () => Int = {
    val order = rnd.shuffle((0 until n).toVector)
    val w = (1 to n).map(i => 1.0 / math.pow(i.toDouble, s))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    () => {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cum, u)
      order(math.min(n - 1, if (i >= 0) i else -i - 1))
    }
  }

  /** Open-loop change schedule: `count` changes at `ratePerSec`, spread
    * unevenly over the estate's zones. Half add a fresh record, half
    * delete a record present at that point, so every change has a
    * distinct identity and must be emitted exactly once. `firstSeq`
    * keeps names unique across several schedules on one estate;
    * `present` is the zone state before the schedule, updated in place. */
  def streamSchedule(seed: Long, zones: Vector[String],
                     present: mutable.Map[String, mutable.ArrayBuffer[ARecord]],
                     ratePerSec: Double, count: Int, firstSeq: Int): Vector[Change] = {
    val rnd = new Random(seed)
    val pick = skewedPicker(rnd, zones.size, 1.0)
    (0 until count).map { i =>
      val seq = firstSeq + i
      val z = zones(pick())
      val recs = present(z)
      val due = (i * 1e9 / ratePerSec).toLong
      if (rnd.nextBoolean() && recs.nonEmpty) {
        val j = rnd.nextInt(recs.size)
        val r = recs(j)
        recs(j) = recs.last; recs.remove(recs.size - 1)
        Change(seq, due, z, r, delete = true)
      } else {
        val r = ARecord(s"c$seq.$z", ip(rnd))
        recs += r
        Change(seq, due, z, r, delete = false)
      }
    }.toVector
  }

  /** One write-path change set of `size` rows over `zones`, drawn
    * against the model `state` (read, not changed): adds of fresh
    * records, deletes of present ones, same-identity flips (a record
    * added then deleted, or deleted then re-added, in one set) and
    * repeated rows of one identity that last-write-wins must collapse.
    * Timestamps increase by one microsecond per row from `tsBase`. */
  def changeSet(rnd: Random, zones: Vector[String], state: WriteModel,
                size: Int, tsBase: Long, firstSeq: Int): Vector[UpdateRow] = {
    val pick = skewedPicker(rnd, zones.size, 1.0)
    val out = mutable.ArrayBuffer.empty[UpdateRow]
    val used = mutable.Set.empty[(String, String)]
    var seq = firstSeq
    def ts(): Long = tsBase + out.size
    def fresh(z: String): ARecord = { seq += 1; ARecord(s"n$seq.$z", ip(rnd)) }
    def existing(z: String): Option[ARecord] = {
      val cands = state.records(z).filterNot(r => used((r.fqdn, r.ip)))
      if (cands.isEmpty) None
      else { val r = cands(rnd.nextInt(cands.size)); used += ((r.fqdn, r.ip)); Some(r) }
    }
    def row(action: String, r: ARecord): UpdateRow =
      UpdateRow(action, r.fqdn, r.ip, ts(), 300)
    while (out.size < size) {
      val z = zones(pick())
      rnd.nextInt(10) match {
        case 0 | 1 | 2 | 3 =>
          out += row("IXFR_ADD", fresh(z))
        case 4 | 5 | 6 =>
          existing(z) match {
            case Some(r) => out += row("IXFR_DELETE", r)
            case None => out += row("IXFR_ADD", fresh(z))
          }
        case 7 => // flip of a new record: add, then delete
          val r = fresh(z)
          out += row("IXFR_ADD", r); out += row("IXFR_DELETE", r)
        case 8 => // flip of a present record: delete, then re-add
          existing(z) match {
            case Some(r) => out += row("IXFR_DELETE", r); out += row("IXFR_ADD", r)
            case None => out += row("IXFR_ADD", fresh(z))
          }
        case _ => // the same add twice; the later row must win
          val r = fresh(z)
          out += row("IXFR_ADD", r); out += row("IXFR_ADD", r)
      }
    }
    out.toVector
  }

  /** A single-zone bulk load of `n` fresh records. */
  def bulkLoad(rnd: Random, zone: String, n: Int, tsBase: Long): Vector[UpdateRow] =
    (0 until n).map(i => UpdateRow("IXFR_ADD", f"h$i%07d.$zone", ip(rnd), tsBase + i, 300)).toVector
}

/** Reference model of zone state on the write path, built from
  * acknowledged operations only. Applies the connector's documented
  * append semantics, written out independently of its code: rows go to
  * the zone named by the fqdn minus its first label; within a zone,
  * rows of one identity (action, fqdn, ip) collapse to the one with
  * the latest timestamp; survivors apply in (timestamp, action, fqdn,
  * ip) order, an add inserting and a delete removing the record. */
final class WriteModel(initial: Map[String, Seq[ARecord]]) {
  private val zones: mutable.Map[String, mutable.LinkedHashSet[ARecord]] =
    mutable.Map(initial.toSeq.map { case (z, rs) => z -> mutable.LinkedHashSet(rs: _*) }: _*)

  def records(zone: String): Vector[ARecord] = zones(zone).toVector
  def snapshot: Map[String, Set[ARecord]] = zones.map { case (z, s) => z -> s.toSet }.toMap

  def apply(rows: Seq[UpdateRow]): Unit =
    rows.groupBy(r => WriteModel.zoneOf(r.fqdn)).foreach { case (zone, zr) =>
      val st = zones.getOrElse(zone,
        throw new IllegalStateException(s"model has no zone '$zone'"))
      val latest = mutable.Map.empty[(String, String, String), UpdateRow]
      zr.foreach { r =>
        val k = (r.action, r.fqdn, r.ip)
        if (latest.get(k).forall(_.tsMicros < r.tsMicros)) latest(k) = r
      }
      latest.values.toSeq.sortBy(r => (r.tsMicros, r.action, r.fqdn, r.ip)).foreach { r =>
        val rec = ARecord(r.fqdn, r.ip)
        if (r.action == "IXFR_DELETE") st -= rec else st += rec
      }
    }
}

object WriteModel {
  def zoneOf(fqdn: String): String = {
    val abs = if (fqdn.endsWith(".")) fqdn else fqdn + "."
    abs.substring(abs.indexOf('.') + 1)
  }
}

/** Exactly-once check of a change stream: every generated change must
  * be emitted once, and nothing else may be emitted. */
final case class ExactlyOnce(generated: Int, emitted: Int, missing: Int,
                             duplicated: Int, unexpected: Int) {
  def ok: Boolean = missing == 0 && duplicated == 0 && unexpected == 0
}

object ExactlyOnce {
  def check(generated: Seq[ChangeKey], emitted: Seq[ChangeKey]): ExactlyOnce = {
    val want = generated.toSet
    require(want.size == generated.size, "generated change identities must be distinct")
    val counts = emitted.groupBy(identity).view.mapValues(_.size).toMap
    ExactlyOnce(
      generated = generated.size,
      emitted = emitted.size,
      missing = want.count(k => !counts.contains(k)),
      duplicated = counts.count { case (k, n) => want(k) && n > 1 },
      unexpected = counts.keysIterator.count(k => !want(k)))
  }
}
