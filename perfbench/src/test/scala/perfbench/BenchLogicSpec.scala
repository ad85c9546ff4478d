package perfbench

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: span self time, job attribution, the
  * tail-percentile rule and the lifecycle model check.
  */
class BenchLogicSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, start: Long, end: Long, name: String = "s") =
    Span(id, name, parent, "req", Map.empty, start, end)
  private val msToNs: Long => Long = _ * 1000000L
  private val noEngine = EngineSnapshot(Nil, Map.empty, Nil, Map.empty)

  test("interval union clips to the span and merges overlaps") {
    assert(Attribution.coveredNs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 100) == 30)
    assert(Attribution.coveredNs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8, 35) == 17)
    assert(Attribution.coveredNs(Nil, 0, 100) == 0)
    assert(Attribution.coveredNs(Seq((50L, 40L)), 0, 100) == 0)
  }

  test("self time subtracts only direct children, each once") {
    // root 0..100; children 10..30 and 50..90; grandchild 60..80
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 90),
      span(4, 3, 60, 80))
    val a = new Attribution(spans, noEngine, msToNs)
    assert(a.selfNs(1) == 40)
    assert(a.selfNs(2) == 20)
    assert(a.selfNs(3) == 20)
    assert(a.selfNs(4) == 20)
    assert(a.descendants(1).map(_.id).toSet == Set(2, 3, 4))
  }

  test("jobs go to the span their group names, else the innermost open span") {
    val ms = 1000000L
    val spans = Seq(span(1, 0, 0, 100 * ms), span(2, 1, 10 * ms, 40 * ms),
      span(3, 2, 20 * ms, 30 * ms), span(4, 1, 60 * ms, 90 * ms))
    val jobs = Seq(
      JobRec(0, Some(Recorder.groupOf(2)), 25, 28, Seq(0)), // group wins over time
      JobRec(1, Some("streaming-run-id"), 22, 29, Seq(1)), // foreign group: by time → 3
      JobRec(2, None, 70, 80, Seq(2, 0)), // no group: by time → 4; stage 0 already charged
      JobRec(3, None, 95, 99, Seq(3))) // only the root is open
    val tasks = Map(0 -> TaskSums(tasks = 2, runMs = 10), 1 -> TaskSums(tasks = 1, runMs = 5),
      2 -> TaskSums(tasks = 4, runMs = 40, longestMs = 30), 3 -> TaskSums(tasks = 1, runMs = 1))
    // planning phases go by start time: analysis in span 3, planning in span 4
    val snap = EngineSnapshot(jobs, tasks, Seq(0, 1, 2, 3), Map(7L -> Seq((21L, 2L), (61L, 3L))))
    val a = new Attribution(spans, snap, msToNs)
    assert(a.own(2).jobs == 1 && a.own(2).tasks.runMs == 10)
    assert(a.own(3).jobs == 1 && a.own(3).tasks.runMs == 5)
    assert(a.own(4).jobs == 1 && a.own(4).tasks.runMs == 40 && a.own(4).stages == 1)
    assert(a.own(4).planMs == 3 && a.own(3).planMs == 2)
    assert(a.own(1).jobs == 1)
    val root = a.inclusive(1)
    assert(root.jobs == 4 && root.tasks.tasks == 8 && root.tasks.longestMs == 30)
    // span 2 (10..40 ms) has jobs over 22..29 ms: 23 ms of driver gap
    assert(a.driverGapNs(2) == 23 * ms)
    assert(a.jobWallNs(1) == (7 + 10 + 4) * ms)
  }

  test("recorder nests spans and restores the parent after a failure") {
    val r = new Recorder(None)
    r.span("outer") {
      r.span("a")(())
      intercept[IllegalStateException](r.span("b")(throw new IllegalStateException("x")))
      r.span("c")(())
    }
    val byName = r.spans.map(s => s.name -> s).toMap
    val outer = byName("outer").id
    assert(Seq("a", "b", "c").forall(n => byName(n).parent == outer))
    assert(byName("outer").parent == 0)
  }

  test("tail is the highest ladder percentile with at least ten samples beyond") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    val t20 = Stats.tail((1 to 20).map(_.toDouble)).get
    assert(t20.percentile == 50.0 && t20.value == 10.0 && t20.beyond == 10)
    val t100 = Stats.tail((1 to 100).map(_.toDouble)).get
    assert(t100.percentile == 90.0 && t100.value == 90.0 && t100.beyond == 10)
    val t1000 = Stats.tail((1 to 1000).map(_.toDouble).reverse).get
    assert(t1000.percentile == 99.0 && t1000.value == 990.0 && t1000.n == 1000)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
  }

  test("the lifecycle model check catches a planted wrong row") {
    val kind = TableKind.Customer
    val exp = mutable.LongMap[Int](1L -> 1, 2L -> 2, 3L -> 1)
    val good = exp.toSeq.sortBy(_._1).map { case (k, v) => kind.row(5, k, v) }
    assert(Lifecycle.modelMismatches("t", kind, 5, exp, good.iterator).isEmpty)
    // a row carrying the values of an older version
    val stale = good.updated(1, kind.row(5, 2, 1))
    assert(Lifecycle.modelMismatches("t", kind, 5, exp, stale.iterator).exists(_.contains("key 2")))
    // one cell changed
    val edited = good.updated(0, good(0).updated(3, "0.00"))
    assert(Lifecycle.modelMismatches("t", kind, 5, exp, edited.iterator).nonEmpty)
    // a missing row, an extra row and a duplicated row
    assert(Lifecycle.modelMismatches("t", kind, 5, exp, good.take(2).iterator).exists(_.contains("missing")))
    assert(Lifecycle.modelMismatches("t", kind, 5, exp,
      (good :+ kind.row(5, 9, 1)).iterator).exists(_.contains("unexpected")))
    assert(Lifecycle.modelMismatches("t", kind, 5, exp,
      (good :+ good(0)).iterator).exists(_.contains("duplicate")))
  }

  test("composite keys round-trip through the CSV key columns") {
    val kind = TableKind.Lineitem
    val keys = (0L until 10L).map(kind.freshKey)
    assert(keys.distinct.size == 10)
    keys.foreach { k =>
      val r = kind.row(1, k, 1)
      assert(r(0).toLong * 8 + r(1).toLong == k)
    }
  }
}
