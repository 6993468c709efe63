package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import graft.engine.{Graft, QueryBuilder, QueryService}
import graft.engine.export.ExportService

/** service_mix: a closed loop of two clients walking the reference user
  * path — browse the catalog, submit a fresh query, poll its status until
  * it is terminal, preview it, export it, and now and then re-submit an
  * earlier query with its AND conjuncts commuted, which must return the
  * earlier id. Each client runs whole rounds ([[Plans.serviceRounds]])
  * until the deadline has passed. */
final class ServiceMix(a: Args, rec: Recorder, tr: Tracer) extends Workload {
  import Workload._

  private val clients = math.max(1, math.min(2, a.nproc))
  private var spark: SparkSession = _
  private var g: Graft = _
  private var registryAtStart = 0L
  private val executed = new ConcurrentHashMap[String, RefQuery]()
  private val previews = new ConcurrentLinkedQueue[(String, Int)]()
  private val exports = new ConcurrentLinkedQueue[(String, String, String)]()
  private val resultRows = new ConcurrentHashMap[String, Long]()
  private val submits = new java.util.concurrent.atomic.AtomicLong
  private val repeats = new java.util.concurrent.atomic.AtomicLong
  private val hits = new java.util.concurrent.atomic.AtomicLong

  private def registry = new java.io.File(g.queries.resultPath("_registry.tsv"))

  def setup(s: SparkSession, dir: String): Unit = {
    spark = s
    g = Graft(s, a.data, dir)
    // warm-up: one small query per table, a preview of each, every
    // export format once, and one cache hit per query. The export pool's
    // threads start here; traced, each is tagged.
    val formats = Plans.Formats.iterator
    Plans.warmupQueries(a.seed).zipWithIndex.foreach { case (q, i) =>
      val id = g.submit(q.table, q.partCol, q.partValue, q.fieldList, Some(q.condition))
      require(g.awaitQuery(id) == QueryService.Succeeded, s"warm-up query ${q.condition} failed")
      require(g.preview(id).isRight, "warm-up preview failed")
      formats.take(if (i == 0) 4 else 3).foreach { f =>
        require(tr.tagged(g.export(id, f)) != null &&
          g.awaitExport(id, f).isInstanceOf[ExportService.Done], s"warm-up export $f failed")
      }
      val c = q.commuted
      require(g.submit(c.table, c.partCol, c.partValue, c.fieldList, Some(c.condition)) == id,
        "warm-up re-submit missed the cache")
    }
  }

  def run(deadline: Long): Unit = {
    registryAtStart = registry.length
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => client(c, deadline), s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  /** Whole rounds until the deadline has passed. */
  private def client(c: Int, deadline: Long): Unit = {
    val history = ArrayBuffer.empty[(RefQuery, String)]
    val rounds = Plans.serviceRounds(a.seed, c)
    var i = 0
    while (Clock.now() < deadline) {
      rounds.next().foreach { it =>
        iteration(s"c$c-$i", it, history)
        i += 1
      }
    }
  }

  private def iteration(op: String, it: Iteration, history: ArrayBuffer[(RefQuery, String)]): Unit = {
    val q = it.query
    rec.op("browse") {
      tr.span("op.browse", "op", op) {
        val ts = tr.span("catalog.list_tables", "catalog", op)(g.tables())
        val cols = tr.span("catalog.describe", "catalog", op)(g.schema(q.table))
        val vals = tr.span("catalog.filter_values", "catalog", op)(g.filterValues(q.table, q.partCol))
        rec.check(ts.contains(q.table) && cols.exists(_._1 == q.partCol) && vals.contains(q.partValue),
          s"browse of ${q.table} misses table, column or value")
      }
    }

    var id: String = null
    rec.op("query") {
      val t0 = Clock.now()
      tr.span("op.query", "op", op) {
        val qid = submit(q, op)
        val state = await(qid, op)
        if (state != QueryService.Succeeded) throw new IllegalStateException(s"query $qid ended $state")
        id = qid
      }
      rec.add("query_ms", ms(t0))
      submits.incrementAndGet()
      if (executed.putIfAbsent(id, q) != null) rec.fail(s"fresh query ${q.condition} reused $id")
      history += ((q, id))
    }
    if (id == null) return
    if (tr.enabled) recompose(q, id, op)

    rec.op("preview") {
      val t0 = Clock.now()
      val rows = tr.span("op.preview", "op", op) {
        tr.span("query_service.preview", "query_service", op, id)(g.preview(id, 26))
      }.fold(e => throw new IllegalStateException(e), identity)
      rec.add("preview_ms", ms(t0))
      previews.add((id, rows.size))
    }

    rec.op("export") {
      val t0 = Clock.now()
      val path = tr.span("op.export", "op", op) {
        tr.span(s"export.${it.format}", "export", op, id)(export(id, it.format))
      }
      val took = ms(t0)
      rec.add("export_ms", took)
      rec.add(s"export_ms.${it.format}", took)
      exports.add((id, it.format, path))
    }

    it.repeat.flatMap(history.lift).foreach { case (prior, priorId) =>
      rec.op("repeat") {
        val t0 = Clock.now()
        val again = tr.span("op.repeat", "op", op) {
          val rid = submit(prior.commuted, op)
          (rid, g.status(rid).map(_.state))
        }
        rec.add("cache_hit_ms", ms(t0))
        repeats.incrementAndGet()
        if (again._1 == priorId) hits.incrementAndGet()
        rec.check(again._1 == priorId && again._2.contains(QueryService.Succeeded),
          s"AND-commuted re-submit of $priorId returned ${again._1} in state ${again._2}")
        if (again._1 != priorId) await(again._1, op)
      }
    }
  }

  /** The facade's submit: the program's own path, traced or not. */
  private def submit(q: RefQuery, op: String): String =
    tr.span("query_service.submit", "query_service", op) {
      g.submit(q.table, q.partCol, q.partValue, q.fieldList, Some(q.condition))
    }

  /** Traced only, after a fresh query and outside its timing: the steps
    * `QueryService.submit` composes, called one at a time through the
    * engine's own objects, so each step gets its own span (catalog.table,
    * query_builder.build, query_service.plan_key). A check keeps the
    * re-composition honest: submitting the plan it built must return the
    * id the facade's submit gave, as a cache hit. Its jobs stay out of the
    * spark.* totals ([[Layers]]). */
  private def recompose(q: RefQuery, id: String, op: String): Unit =
    tr.span("side.recompose", "side", op) {
      val table = tr.span("catalog.table", "catalog", op)(g.catalog.table(q.table))
      val df = tr.span("query_builder.build", "query_builder", op) {
        QueryBuilder.build(table, q.partCol, q.partValue, q.fieldList, Some(q.condition))
      }
      tr.span("query_service.plan_key", "query_service", op) {
        df.queryExecution.analyzed.canonicalized.semanticHash()
      }
      val again = g.queries.submitPlan(df)
      rec.check(again == id, s"the re-composed submit of $id returned $again")
    }

  /** Polls `status` at a fixed interval until the query is terminal. */
  private def await(id: String, op: String): QueryService.State = {
    val submitted = Clock.now()
    var running = 0L
    var polls = 0
    var state: QueryService.State = QueryService.Queued
    while (state == QueryService.Queued || state == QueryService.Running) {
      state = g.status(id).map(_.state).getOrElse(throw new IllegalStateException(s"unknown query $id"))
      polls += 1
      if (running == 0L && state != QueryService.Queued) running = Clock.now()
      if (state == QueryService.Queued || state == QueryService.Running) pause()
    }
    val done = Clock.now()
    rec.add("status_polls", polls)
    rec.add("queue_ms", (running - submitted) / 1e6)
    tr.record("query_service.queue", "query_service", op, id, submitted, running)
    tr.record("query_service.run", "query_service", op, id, running, done)
    state
  }

  /** Starts the export and waits for it through the facade. (Polling
    * `export` itself would not do: its existence probe reports Done as
    * soon as the writer has created the file.) */
  private def export(id: String, format: String): String = {
    tr.tagged(g.export(id, format))
    g.awaitExport(id, format) match {
      case ExportService.Done(path) => path
      case other => throw new IllegalStateException(s"export $id.$format ended $other")
    }
  }

  private var checkedExports: Seq[(String, String, String)] = Nil

  /** Recounts a seeded sample of queries from the source table, and picks
    * one export of each format for the python side to read back. */
  def check(): Unit = {
    val rng = new scala.util.Random(a.seed * 1000003L + 401L)
    val recount = rng.shuffle(executed.asScala.toSeq.sortBy(_._1)).take(6)
    checkedExports = Plans.Formats.flatMap { f =>
      rng.shuffle(exports.asScala.toSeq.filter(_._2 == f).sortBy(_._1)).headOption
    }
    (recount.map(_._1) ++ checkedExports.map(_._1)).distinct.foreach { id =>
      resultRows.put(id, spark.read.option("header", "true").csv(g.queries.resultPath(id)).count())
    }
    recount.foreach { case (id, q) =>
      val expect = QueryBuilder.build(g.catalog.table(q.table), q.partCol, q.partValue,
        q.fieldList, Some(q.condition)).count()
      rec.check(resultRows.get(id) == expect,
        s"query $id returned ${resultRows.get(id)} rows, the plan counts $expect")
    }
    previews.asScala.filter(p => resultRows.containsKey(p._1)).foreach { case (id, n) =>
      val expect = 1 + math.min(25L, resultRows.get(id))
      rec.check(n == expect, s"preview of $id has $n rows, expected $expect")
    }
  }

  def requestMs: Seq[Double] = rec.get("query_ms")

  def details: Map[String, Metric] =
    summary("query_ms", rec.get("query_ms"), "ms") ++
      summary("cache_hit_ms", rec.get("cache_hit_ms"), "ms").filter(_._1.endsWith("p50")) ++
      summary("preview_ms", rec.get("preview_ms"), "ms").filter(_._1.endsWith("p50")) ++
      summary("export_ms", rec.get("export_ms"), "ms")

  def layerExtras(spans: Seq[Span], jobsUnder: Long => Seq[JobRec]): Map[String, Double] = {
    val counted = resultRows.asScala.toSeq
    Map(
      "query_service.status_polls" -> med(rec.get("status_polls")),
      "query_service.queue_ms" -> med(rec.get("queue_ms")),
      "query_service.cache_hit_ratio" -> (if (repeats.get == 0) 0.0 else hits.get.toDouble / repeats.get),
      "query_service.registry_bytes_per_query" ->
        ratio(registry.length - registryAtStart, submits.get + repeats.get),
      "query_service.result_bytes_per_row" ->
        ratio(counted.map(c => dirBytes(g.queries.resultPath(c._1))).sum, counted.map(_._2.toLong).sum),
      "export.bytes_per_row" -> ratio(checkedExports.map(e => new java.io.File(e._3).length).sum,
        checkedExports.map(e => resultRows.get(e._1).toLong).sum)
    )
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def outputs: Map[String, Any] = Map("exports" -> checkedExports.map { case (id, f, p) =>
    Map("query" -> id, "format" -> f, "path" -> p, "rows" -> resultRows.get(id))
  })

  def close(): Unit = if (g != null) { g.close(); g = null }
}
