package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The seeded op generators and the reporting rules, without Spark. */
class PlanSpec extends AnyFunSuite {
  private def ctx(): Ctx = {
    val c = new Ctx(null, "corpus", "work", new Tracer(false, 0L))
    val r = new scala.util.Random(7)
    (0L until 2000L).foreach(i => c.vectors(i) = Array.fill(64)(r.nextGaussian()))
    c
  }

  private def keys(p: WorkloadPlan, rounds: Int): Seq[String] =
    p.warmup.map(_.key) ++ (1 to rounds).flatMap(i => p.round(i).map(_.key))

  for (w <- Seq(SearchMix, IngestSearch)) {
    test(s"${w.name}: the same seed gives the same op sequence") {
      assert(keys(w.plan(11, ctx()), 3) === keys(w.plan(11, ctx()), 3))
    }
    test(s"${w.name}: another seed gives another op sequence") {
      assert(keys(w.plan(11, ctx()), 3) !== keys(w.plan(12, ctx()), 3))
    }
  }

  test("search_mix: the warm-up runs all sixteen search types once, every round twice") {
    val p = SearchMix.plan(5, ctx())
    val kinds = SearchMix.types.map("search." + _.name)
    assert(p.warmup.map(_.kind).sorted === kinds.sorted)
    for (i <- 1 to 4)
      assert(p.round(i).map(_.kind).sorted === (kinds ++ kinds).sorted)
  }

  test("search_mix: every round repeats some warm-up queries (the determinism check has pairs)") {
    val p = SearchMix.plan(5, ctx())
    val warm = p.warmup.map(_.key).toSet
    for (i <- 1 to 4) assert(p.round(i).count(o => warm(o.key)) >= 6)
  }

  test("search_mix: round i has the same cost shape under every seed") {
    def shape(seed: Long, i: Int): Seq[String] = {
      val p = SearchMix.plan(seed, ctx())
      p.warmup
      (1 until i).foreach(p.round)
      p.round(i).map(o => o.kind + (if (o.kind == "search.CYPHER") o.key.take(40) else "")).sorted
    }
    for (i <- 1 to 3) assert(shape(1, i) === shape(2, i))
  }

  test("ingest_search: every write is followed by a verifying read of its group") {
    val ops = IngestSearch.plan(3, ctx()).round(1)
    val groups = ops.flatMap(_.writeGroup).distinct
    assert(groups.nonEmpty)
    for (g <- groups) {
      val lastWrite = ops.lastIndexWhere(_.writeGroup.contains(g))
      assert(ops.indexWhere(_.visibleOf.contains(g)) > lastWrite, g)
    }
  }

  test("ingest_search: a round's retrieve of live ids avoids the ids it deletes (re-runs agree)") {
    val p = IngestSearch.plan(3, ctx())
    for (i <- 1 to 3) {
      val ops = p.round(i)
      def ids(prefix: String) = ops.map(_.key).find(_.startsWith(prefix)).get
        .stripPrefix(prefix).split(",").map(_.toLong).toSet
      assert((ids("retrieve ") intersect ids("delete ")).isEmpty)
    }
  }

  test("percentile rule: a percentile needs ten samples beyond it") {
    assert(!Stats.reportable(99, 0.9))
    assert(Stats.reportable(100, 0.9))
    assert(Stats.beyond(100, 0.9) === 10)
    assert(Stats.tail(Seq.fill(16)(1.0)).isEmpty)
    assert(Stats.tail((1 to 40).map(_.toDouble)).map(_._1).contains(0.75))
    assert(Stats.tail((1 to 100).map(_.toDouble)).map(_._1).contains(0.9))
    assert(Stats.tail((1 to 1000).map(_.toDouble)).map(_._1).contains(0.99))
  }

  test("quantiles interpolate linearly between order statistics") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) === 3.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) === 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) === 9.0)
  }

  test("fingerprints ignore row order and see every value") {
    val a = Array(Row(1L, "x", 0.5), Row(2L, "y", 0.25))
    assert(Fingerprint(a) === Fingerprint(a.reverse))
    assert(Fingerprint(a) !== Fingerprint(Array(Row(1L, "x", 0.5), Row(2L, "y", 0.26))))
  }

  test("brute-force top-k ranks by rounded cosine, ties by id") {
    val q = Array(1.0, 0.0)
    val cands = Seq(3L -> Array(1.0, 0.0), 1L -> Array(1.0, 0.0), 2L -> Array(0.0, 1.0))
    assert(Checks.bruteTopK(q, cands, 2) === Seq((1L, 1.0), (3L, 1.0)))
  }

  test("job-interval union counts overlapping jobs once") {
    val c = new ExecCounters
    c.jobSpans ++= Seq((0L, 10L), (5L, 20L), (30L, 35L))
    assert(c.jobUnionMs === 25L)
    assert(c.jobUnionMs(8L, 32L) === 14L)
    assert(c.jobUnionMs(21L, 29L) === 0L)
  }

  test("sum check: driver time between a collect's jobs is unexplained") {
    def rec(collectExecMs: Double) = Rec(Op("k", "k", "l", _ => None), 0, 1, traced = true, ok = true,
      wallMs = 200.0, callMs = 50.0, collectMs = 140.0, collectExecMs = collectExecMs, rows = 1L,
      phases = Map("analysis" -> 1.0, "optimization" -> 6.0, "planning" -> 4.0), exec = None,
      inMemScans = 0, allScans = 0)
    assert(Report.sumsToWall(rec(138.0)))
    assert(Report.unexplainedMs(rec(100.0)) === 40.0)
    assert(!Report.sumsToWall(rec(100.0)))
  }
}
