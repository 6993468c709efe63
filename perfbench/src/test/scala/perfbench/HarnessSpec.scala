package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("a percentile is reported only with at least ten samples beyond it") {
    assert(Stats.supports(100, 90))
    assert(!Stats.supports(99, 90))
    assert(Stats.supports(1000, 99) && !Stats.supports(999, 99))
    assert(Stats.supports(20, 50) && !Stats.supports(20, 51))
    assert(!Stats.supports(9, 1))
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.tail(xs, 90).isEmpty)
    assert(Stats.tail(xs :+ 100.0, 90).exists(v => math.abs(v - 90.1) < 1e-9))
  }

  test("percentiles interpolate between neighbouring samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(Seq(0.0, 10.0), 90) == 9.0)
  }

  private def span(id: Long, parent: Long, start: Long, end: Long, op: String = "o",
                   ref: String = "", name: String = "x") =
    Span(id, name, "layer", parent, op, ref, start, end)

  test("self time is wall minus the union of the children's intervals") {
    val root = span(1, 0, 0, 100)
    val kids = Seq(span(2, 1, 10, 30), span(3, 1, 20, 40), span(4, 1, 90, 120), span(5, 2, 0, 100))
    // children 2,3 cover [10,40); child 4 covers [90,100) inside the root;
    // 5 is a grandchild and does not count
    assert(Attribution.selfTime(root, root +: kids) == 100 - 30 - 10)
    assert(Attribution.selfTime(kids.head, root +: kids) == 0)
  }

  test("driver-only time is wall minus the union of job intervals") {
    val s = span(1, 0, 1000, 2000)
    assert(Attribution.driverOnly(s, Nil) == 1000)
    assert(Attribution.driverOnly(s, Seq((1100L, 1300L), (1200L, 1400L), (1900L, 2500L))) == 1000 - 300 - 100)
    assert(Attribution.driverOnly(s, Seq((0L, 900L), (2100L, 3000L))) == 1000)
    assert(Intervals.unionLength(Seq((0L, 5L), (5L, 10L)), 0, 10) == 10)
  }

  private def job(id: Int, start: Long, group: Option[String] = None, hint: Option[Long] = None,
                  execution: Option[Long] = None) = new JobRec(id, start, group, hint, execution)

  test("jobs attach by group, then hint, then plan reference, then a lone open span") {
    val ms = Attribution.SlackNs
    val spans = Seq(
      span(1, 0, 0, 100 * ms, op = "a"), span(2, 1, 10 * ms, 20 * ms, op = "a", ref = "q1",
        name = "query_service.run"),
      span(3, 1, 30 * ms, 60 * ms, op = "a", ref = "q1"),
      span(4, 0, 50 * ms, 90 * ms, op = "b"), span(5, 4, 55 * ms, 80 * ms, op = "b", ref = "q2"))
    val jobs = Seq(
      job(1, 200 * ms, group = Some("q1")), // group wins even outside the span
      job(2, 70 * ms, hint = Some(5)), // hint inside its span
      job(3, 57 * ms, hint = Some(2), execution = Some(7)), // stale hint; plan reads q2
      job(4, 40 * ms), // only op a is open
      job(5, 58 * ms), // ops a and b both open: ambiguous
      job(6, 95 * ms)) // only op a's root is open
    val got = Attribution.assign(spans, jobs, (x, ref) => x == 7 && ref == "q2")
    assert(got.map { case (j, s) => j -> s.id } == Map(1 -> 2L, 2 -> 5L, 3 -> 5L, 4 -> 3L, 6 -> 1L))
  }

  test("the call site's layer narrows the open spans to one operation") {
    val ms = Attribution.SlackNs
    val spans = Seq(
      Span(1, "op.query", "op", 0, "a", "", 0, 100 * ms),
      Span(2, "export.csv", "export", 0, "b", "", 0, 100 * ms),
      Span(3, "op.export", "op", 0, "b", "", 0, 100 * ms))
    val jobs = Seq(new JobRec(1, 50 * ms, None, None, None, "csv at Exporters.scala:63"),
      new JobRec(2, 50 * ms, None, None, None, "count at Bench.scala:9"))
    assert(Attribution.siteLayer("csv at Exporters.scala:63").contains("export"))
    assert(Attribution.assign(spans, jobs, (_, _) => false).map { case (j, s) => j -> s.id } == Map(1 -> 2L))
  }

  test("a tagged worker's job takes the span of that worker's previous job") {
    val ms = Attribution.SlackNs
    val spans = Seq(
      Span(1, "export.csv", "export", 0, "a", "q1", 0, 100 * ms),
      Span(2, "export.json", "export", 0, "b", "q2", 0, 100 * ms))
    def job(id: Int, start: Long, exec: Option[Long], thread: Long) =
      new JobRec(id, start * ms, None, None, exec, "csv at ExportService.scala:90", Some(thread))
    val jobs = Seq(
      job(1, 10, Some(1), thread = 7), // reads q1's result: export a, worker 7
      job(2, 11, Some(2), thread = 8), // reads q2's result: export b, worker 8
      job(3, 20, None, thread = 8), // no plan: worker 8's previous job was b's
      job(4, 21, None, thread = 7),
      job(5, 30, None, thread = 9)) // a worker with no earlier job stays out
    val got = Attribution.assign(spans, jobs, (x, ref) => x == 1 && ref == "q1" || x == 2 && ref == "q2")
    assert(got.map { case (j, s) => j -> s.id } == Map(1 -> 1L, 2 -> 2L, 3 -> 2L, 4 -> 1L))
    // once the worker's span has closed, a later job is not pulled into it
    val late = job(6, 150, None, thread = 7)
    assert(!Attribution.assign(spans, jobs :+ late, (x, ref) => x == 1 && ref == "q1").contains(6))
  }

  test("the per-layer catalogue is the one BENCHMARK.json and METRICS.md name") {
    val root = Seq(new java.io.File(".."), new java.io.File(".")).find(d =>
      new java.io.File(d, "BENCHMARK.json").isFile && new java.io.File(d, "perfbench/METRICS.md").isFile)
      .getOrElse(fail("run from the perfbench directory or the repository root"))
    val bench = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(root, "BENCHMARK.json"))
    val declared = (0 until bench.get("per_layer").size).map { i =>
      val m = bench.get("per_layer").get(i)
      m.get("name").asText -> m.get("unit").asText
    }
    assert(declared.sorted == Layers.Catalogue.sorted)
    val doc = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(root, "perfbench/METRICS.md").toPath), "UTF-8")
    assert(Layers.Catalogue.map(_._1).filterNot(n => doc.contains(s"`$n`")).isEmpty)
  }

  test("the same seed gives the same operations, another seed other ones") {
    def service(seed: Long) = (0 to 1).map(c => Plans.serviceRounds(seed, c).take(5).toList)
    def vector(seed: Long) = { val p = new VectorPlan(seed, 2000); List.fill(200)(p.next()) }
    def passes(seed: Long) = Plans.curationPasses(seed).take(6).toList
    assert(service(7) == service(7))
    assert(service(7) != service(8))
    assert(vector(7) == vector(7))
    assert(vector(7) != vector(8))
    assert(passes(7) == passes(7))
    assert(passes(7) != passes(8))
    assert(Plans.warmupQueries(7) == Plans.warmupQueries(7))
  }

  test("every service round runs each stratum and format once, and two re-submits") {
    val rounds = Plans.serviceRounds(3, 0).take(30).toList
    val its = rounds.flatten
    assert(its.map(_.query).distinct.size == its.size)
    its.zipWithIndex.foreach { case (it, i) => it.repeat.foreach(k => assert(k < i)) }
    rounds.foreach { r =>
      assert(r.map(_.format).toSet == Plans.Formats.toSet)
      assert(r.count(_.repeat.nonEmpty) == Plans.RepeatsPerRound)
      assert(r.count(_.query.table == "lineitem") == 4)
      assert(r.forall(_.query.fields.size == 4))
    }
  }

  test("the vector plan probes only live ids and writes one operation in three") {
    val plan = new VectorPlan(5, 2000)
    val ops = List.fill(VectorPlan.Round * 25) {
      val op = plan.next()
      op match {
        case Probe(_, id) => assert(plan.isLive(id))
        case _ => ()
      }
      op
    }
    assert(ops.collect { case Probe(k, _) => k }.take(4) == List("ivf", "pq", "lsh", "ivf"))
    assert(ops.count(_.isInstanceOf[Probe]) == 150)
    assert(ops.take(VectorPlan.Round).collect { case w if !w.isInstanceOf[Probe] => w.getClass.getSimpleName } ==
      List("Remove", "Compact$", "Append"))
    assert(plan.liveCount == 2000 && plan.pending.isEmpty)
  }
}
