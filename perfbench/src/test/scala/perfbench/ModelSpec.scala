package perfbench

import scala.collection.mutable
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.dns.ARecord

class ModelSpec extends AnyFunSuite {
  private def present(e: Estate) =
    mutable.Map(e.zones.zip(e.records).map { case (z, rs) => z -> mutable.ArrayBuffer(rs: _*) }: _*)

  test("generators are deterministic under a fixed seed") {
    val a = Gen.estate(7, 4096, 16, 1.0, "t")
    val b = Gen.estate(7, 4096, 16, 1.0, "t")
    assert(a == b)
    assert(a.total == 4096)
    assert(Gen.estate(8, 4096, 16, 1.0, "t") != a)
    // a different seed permutes the zone sizes, never changes the set of sizes
    assert(Gen.estate(8, 4096, 16, 1.0, "t").records.map(_.size).sorted == a.records.map(_.size).sorted)
    val s1 = Gen.streamSchedule(3, a.zones, present(a), 100, 500, 0)
    val s2 = Gen.streamSchedule(3, a.zones, present(a), 100, 500, 0)
    assert(s1 == s2)
    val m1 = new WriteModel(a.byZone); val m2 = new WriteModel(a.byZone)
    assert(Gen.changeSet(new Random(5), a.zones, m1, 300, 1, 0) ==
      Gen.changeSet(new Random(5), a.zones, m2, 300, 1, 0))
  }

  test("a stream schedule gives every change a distinct identity and mixes adds and deletes") {
    val e = Gen.estate(1, 1024, 8, 0.0, "t")
    val s = Gen.streamSchedule(2, e.zones, present(e), 100, 2000, 0)
    assert(s.map(_.key).distinct.size == s.size)
    assert(s.count(_.delete) > 600 && s.count(!_.delete) > 600)
    assert(s.map(_.dueNs) == (0 until 2000).map(i => (i * 1e9 / 100).toLong))
  }

  test("exactly-once accepts each change once, adds and deletes included") {
    val e = Gen.estate(1, 256, 4, 0.0, "t")
    val keys = Gen.streamSchedule(9, e.zones, present(e), 100, 200, 0).map(_.key)
    assert(keys.exists(_.action == "IXFR_DELETE") && keys.exists(_.action == "IXFR_ADD"))
    assert(ExactlyOnce.check(keys, Random.shuffle(keys)).ok)
  }

  test("exactly-once reports missing, duplicated and unexpected changes") {
    val k = (0 until 5).map(i => ChangeKey(if (i % 2 == 0) "IXFR_ADD" else "IXFR_DELETE", "z.", s"h$i.z.", "10.0.0.1"))
    val missingDelete = ExactlyOnce.check(k, k.filterNot(_ == k(1)))
    assert(!missingDelete.ok && missingDelete.missing == 1)
    val dup = ExactlyOnce.check(k, k :+ k(3))
    assert(!dup.ok && dup.duplicated == 1 && dup.missing == 0)
    val extra = ExactlyOnce.check(k, k :+ ChangeKey("IXFR_ADD", "z.", "other.z.", "10.0.0.2"))
    assert(!extra.ok && extra.unexpected == 1)
  }

  test("write model: last write wins per identity, then rows apply in timestamp order") {
    val z = "z1.t.bench."
    val a = ARecord(s"a.$z", "10.0.0.1")
    val b = ARecord(s"b.$z", "10.0.0.2")
    val c = ARecord(s"c.$z", "10.0.0.3")
    val m = new WriteModel(Map(z -> Seq(a)))
    m.apply(Seq(
      UpdateRow("IXFR_DELETE", a.fqdn, a.ip, 1, 300), // delete then re-add a: present
      UpdateRow("IXFR_ADD", a.fqdn, a.ip, 2, 300),
      UpdateRow("IXFR_ADD", b.fqdn, b.ip, 3, 300),    // add then delete b: absent
      UpdateRow("IXFR_DELETE", b.fqdn, b.ip, 4, 300),
      UpdateRow("IXFR_ADD", c.fqdn, c.ip, 9, 300),    // repeated add of c; the later row wins
      UpdateRow("IXFR_DELETE", c.fqdn, c.ip, 6, 300), // ... so c, deleted at 6, is re-added at 9
      UpdateRow("IXFR_ADD", c.fqdn, c.ip, 5, 300)))
    assert(m.snapshot(z) == Set(a, c))
  }

  test("write model: a later add beats an earlier delete regardless of row order") {
    val z = "z1.t.bench."
    val a = ARecord(s"a.$z", "10.0.0.1")
    val m = new WriteModel(Map(z -> Nil))
    m.apply(Seq(UpdateRow("IXFR_ADD", a.fqdn, a.ip, 10, 300), UpdateRow("IXFR_DELETE", a.fqdn, a.ip, 5, 300)))
    assert(m.snapshot(z) == Set(a))
    m.apply(Seq(UpdateRow("IXFR_DELETE", a.fqdn, a.ip, 20, 300)))
    assert(m.snapshot(z).isEmpty)
  }

  test("write model routes rows by fqdn minus its first label and rejects unknown zones") {
    val m = new WriteModel(Map("z1.t.bench." -> Nil))
    m.apply(Seq(UpdateRow("IXFR_ADD", "h.z1.t.bench", "10.0.0.1", 1, 300)))
    assert(m.snapshot("z1.t.bench.") == Set(ARecord("h.z1.t.bench", "10.0.0.1")))
    assertThrows[IllegalStateException](m.apply(Seq(UpdateRow("IXFR_ADD", "h.z9.t.bench.", "10.0.0.1", 1, 300))))
  }

  test("change sets contain flips and repeated identities, and only delete present records") {
    val e = Gen.estate(4, 2048, 16, 0.0, "t")
    val m = new WriteModel(e.byZone)
    val cs = Gen.changeSet(new Random(1), e.zones, m, 2000, 100, 0)
    val ids = cs.groupBy(r => (r.fqdn, r.ip))
    assert(ids.values.exists(rs => rs.map(_.action).toSet.size == 2)) // flips
    assert(ids.values.exists(rs => rs.count(_.action == "IXFR_ADD") == 2)) // repeated add
    val before = e.byZone.values.flatten.toSet
    assert(cs.filter(_.action == "IXFR_DELETE").forall { r =>
      before(ARecord(r.fqdn, r.ip)) || cs.exists(a => a.action == "IXFR_ADD" && a.fqdn == r.fqdn && a.tsMicros < r.tsMicros)
    })
    assert(cs.map(_.tsMicros).distinct.size == cs.size)
  }
}
