package perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run, computed from its spans and the
  * Spark jobs attributed to them. Every metric is reported on every
  * workload; a layer the workload does not exercise reads 0. */
object Layers {

  val Pipelines: Seq[String] = Plans.Pipelines.map(p => p.dropWhile(_ != '_').drop(1))

  /** Name and unit of every per-layer metric. */
  val Catalogue: Seq[(String, String)] = Seq(
    "catalog.table_ms" -> "ms", "catalog.describe_ms" -> "ms", "catalog.filter_values_ms" -> "ms",
    "query_builder.build_ms" -> "ms",
    "query_service.submit_ms" -> "ms", "query_service.plan_key_ms" -> "ms",
    "query_service.queue_ms" -> "ms", "query_service.run_ms" -> "ms",
    "query_service.preview_ms" -> "ms", "query_service.status_polls" -> "count",
    "query_service.cache_hit_ratio" -> "ratio", "query_service.registry_bytes_per_query" -> "B",
    "query_service.result_bytes_per_row" -> "B", "query_service.jobs_per_query" -> "count"
  ) ++ Plans.Formats.map(f => s"export.${f}_ms" -> "ms") ++ Seq(
    "export.queue_ms" -> "ms", "export.bytes_per_row" -> "B", "export.jobs_per_export" -> "count"
  ) ++ Pipelines.flatMap(p => Seq(s"batch.${p}_s" -> "s", s"batch.${p}_jobs" -> "count",
    s"batch.${p}_driver_only_ms" -> "ms", s"batch.${p}_shuffle_bytes" -> "B")) ++ Seq(
    "vector.probe_ivf_ms" -> "ms", "vector.probe_pq_ms" -> "ms", "vector.probe_lsh_ms" -> "ms",
    "vector.probe_jobs" -> "count", "vector.scan_fraction" -> "ratio",
    "lifecycle.remove_ms" -> "ms", "lifecycle.append_ms" -> "ms", "lifecycle.compact_ms" -> "ms",
    "lifecycle.rewrite_bytes_per_live_byte" -> "ratio",
    "lifecycle.index_bytes_per_vector_byte" -> "ratio", "lifecycle.index_files" -> "count",
    "lifecycle.tombstones" -> "count", "lifecycle.write_jobs" -> "count",
    "spark.jobs" -> "jobs/op", "spark.stages" -> "stages/op", "spark.tasks" -> "tasks/op",
    "spark.executor_run_ms" -> "ms/op", "spark.executor_cpu_ms" -> "ms/op", "spark.gc_ms" -> "ms/op",
    "spark.shuffle_read_bytes" -> "B/op", "spark.shuffle_write_bytes" -> "B/op",
    "spark.spill_bytes" -> "B/op", "spark.input_bytes" -> "B/op", "spark.driver_only_ms" -> "ms/op",
    "spark.unattributed_jobs" -> "count", "spark.window_jobs" -> "count",
    "spark.attributed_share" -> "ratio")

  /** Jobs attributed to each span or to any span beneath it. */
  def jobsUnder(spans: Seq[Span], attr: Map[Int, Span], jobs: Seq[JobRec]): Long => Seq[JobRec] = {
    val parent = spans.map(s => s.id -> s.parent).toMap
    val under = mutable.HashMap.empty[Long, mutable.ArrayBuffer[JobRec]]
    jobs.foreach { j =>
      attr.get(j.id).foreach { s =>
        var id = s.id
        while (id != 0L) {
          under.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += j
          id = parent.getOrElse(id, 0L)
        }
      }
    }
    id => under.get(id).map(_.toSeq).getOrElse(Nil)
  }

  def compute(spans: Seq[Span], jobs: Seq[JobRec], attr: Map[Int, Span], ops: Long,
              extras: Map[String, Double]): Map[String, Metric] = {
    val under = jobsUnder(spans, attr, jobs)
    def named(n: String) = spans.filter(_.name == n)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def wallMs(n: String) = med(named(n).map(_.wall / 1e6))
    def jobCount(ss: Seq[Span]) = med(ss.map(s => under(s.id).size.toDouble))
    def driverOnly(s: Span) =
      Attribution.driverOnly(s, under(s.id).map(j => (j.start, j.end))) / 1e6
    // jobs of side measurements (layer "side") are not the workload's own
    val side = spans.filter(_.layer == "side").flatMap(s => under(s.id)).map(_.id).toSet
    val own = jobs.filterNot(j => side(j.id))
    def perOp(f: JobRec => Double) = if (ops == 0) 0.0 else own.map(f).sum / ops
    val exportSpans = spans.filter(_.layer == "export")
    val opSpans = spans.filter(_.layer == "op")

    val values = mutable.LinkedHashMap.empty[String, Double]
    Seq("catalog.table", "catalog.describe", "catalog.filter_values", "query_builder.build",
      "query_service.submit", "query_service.plan_key", "query_service.run",
      "query_service.preview").foreach(n => values(s"${n}_ms") = wallMs(n))
    values("query_service.jobs_per_query") = jobCount(named("query_service.run"))
    Plans.Formats.foreach(f => values(s"export.${f}_ms") = wallMs(s"export.$f"))
    values("export.queue_ms") = med(exportSpans.flatMap { s =>
      under(s.id).map(_.start).minOption.map(first => math.max(0L, first - s.start) / 1e6)
    })
    values("export.jobs_per_export") = jobCount(exportSpans)
    Pipelines.foreach { p =>
      val ss = named(s"batch.$p")
      values(s"batch.${p}_s") = wallMs(s"batch.$p") / 1000
      values(s"batch.${p}_jobs") = jobCount(ss)
      values(s"batch.${p}_driver_only_ms") = med(ss.map(driverOnly))
      values(s"batch.${p}_shuffle_bytes") = med(ss.map(s => under(s.id).map(_.shuffleWrite.get).sum.toDouble))
    }
    Plans.ProbeKinds.foreach(k => values(s"vector.probe_${k}_ms") = wallMs(s"vector.probe_$k"))
    values("vector.probe_jobs") = jobCount(spans.filter(_.layer == "vector"))
    Seq("remove", "append", "compact").foreach(v => values(s"lifecycle.${v}_ms") = wallMs(s"lifecycle.$v"))
    values("lifecycle.write_jobs") = jobCount(spans.filter(_.layer == "lifecycle"))
    values("spark.jobs") = perOp(_ => 1.0)
    values("spark.stages") = perOp(_.stages.get.toDouble)
    values("spark.tasks") = perOp(_.tasks.get.toDouble)
    values("spark.executor_run_ms") = perOp(_.runMs.get.toDouble)
    values("spark.executor_cpu_ms") = perOp(_.cpuNs.get / 1e6)
    values("spark.gc_ms") = perOp(_.gcMs.get.toDouble)
    values("spark.shuffle_read_bytes") = perOp(_.shuffleRead.get.toDouble)
    values("spark.shuffle_write_bytes") = perOp(_.shuffleWrite.get.toDouble)
    values("spark.spill_bytes") = perOp(_.spill.get.toDouble)
    values("spark.input_bytes") = perOp(_.input.get.toDouble)
    values("spark.driver_only_ms") =
      if (opSpans.isEmpty) 0.0 else opSpans.map(driverOnly).sum / opSpans.size
    val attributed = jobs.count(j => attr.contains(j.id))
    values("spark.unattributed_jobs") = (jobs.size - attributed).toDouble
    values("spark.window_jobs") = jobs.size.toDouble
    values("spark.attributed_share") = if (jobs.isEmpty) 0.0 else attributed.toDouble / jobs.size
    values ++= extras

    Catalogue.map { case (n, unit) => n -> Metric(values.getOrElse(n, 0.0), unit) }.toMap
  }
}
