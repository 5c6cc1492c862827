package importbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def shape(c: Corpus) = c.deltas.map(_.map(_.pages.map(p =>
    (p.valid, p.corrected, p.invalid, p.htmlFiles.size, p.html.length / 1000))))

  test("the generator is deterministic per seed") {
    for (w <- Workloads.all) {
      val a = w.build(7L)
      val b = w.build(7L)
      assert(a.dirPages.map(_.html) == b.dirPages.map(_.html), w.name)
      assert(a.deltas.map(_.map(_.uri)) == b.deltas.map(_.map(_.uri)), w.name)
      assert(a.deltas.map(Gen.delta) == b.deltas.map(Gen.delta), w.name)
    }
  }

  test("another seed changes the content but not the amount of work") {
    for (w <- Workloads.all) {
      val a = w.build(7L)
      val c = w.build(8L)
      assert(a.dirPages.map(_.html) != c.dirPages.map(_.html), w.name)
      assert(shape(a).map(_.map(_.map(t => t.copy(_5 = 0)))) ==
        shape(c).map(_.map(_.map(t => t.copy(_5 = 0)))), w.name)
    }
  }

  test("every workload populates the partitions it is meant to stress") {
    val bulk = Workloads.bulkSharedDir.build(1L).tasks.head.pages
    assert(bulk.forall(p => p.htmlFiles.size == 20 && p.corrected == 0 && p.invalid == 0))
    val repair = Workloads.debugRepair.build(1L).tasks.head.pages
    assert(repair.forall(p => p.corrected > 0 && p.invalid > 0))
    assert(repair.map(_.htmlFiles.size).sum < repair.map(_.decisions.size).sum / 4)
  }

  test("expected partition contents follow the reference's overlap") {
    val p = Workloads.debugRepair.build(3L).tasks.head.pages.head
    assert(p.lines("valid") == p.valid + p.corrected)
    assert(p.lines("invalid") == p.invalid + p.corrected)
    assert(p.lines("corrected") == p.corrected)
    assert(p.lines("original") == p.valid + p.corrected + p.invalid)
    assert(p.registeredNames(debug = true).toSet ==
      Set("valid", "original", "invalid", "corrected").map(x => s"${p.name}-$x.ttl"))
  }
}
