package perfbench

import java.lang.management.ManagementFactory
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload: a timed set-up, a timed window, the
  * correctness checks, and (traced) the per-layer report. Writes the
  * result as JSON to `--out`; `perfbench/run.py` is the entry point that
  * builds, generates the inputs, and prints the summary line.
  *
  * {{{
  * perfbench.Main --workload service_mix --seed 1 --seconds 10 --trace 0
  *   --data <tables dir> --work <fresh dir> --out <result.json>
  * }}}
  */
object Main {

  val Workloads: Seq[String] = Seq("service_mix", "curation_batch", "vector_lifecycle")


  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    require(Workloads.contains(need("workload")), s"unknown workload ${need("workload")}")
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"), need("out"),
      Runtime.getRuntime.availableProcessors)
    require(a.seconds > 0, "seconds must be positive")
    a
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.nproc}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.periodicGC.interval", "15s")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // plan descriptions keep whole file paths (the traced run matches a
      // preview's or export's jobs to its query by the result path)
      .config("spark.sql.maxMetadataStringLength", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap still in use after a full collection, in MB: what the process
    * retains (registries, caches, driver-side state) rather than how far
    * the collector lets garbage pile up between collections. It also holds
    * whatever shuffle and RDD blocks Spark's cleaner has not dropped yet,
    * which varies from run to run (on curation_batch 156-334 MB), so it is
    * a figure for the result file, not a bounded metric. */
  def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = new Recorder
    val tr = new Tracer(a.trace)
    val w: Workload = a.workload match {
      case "service_mix" => new ServiceMix(a, rec, tr)
      case "curation_batch" => new CurationBatch(a, rec, tr)
      case "vector_lifecycle" => new VectorLifecycle(a, rec, tr)
    }

    // set-up: session + warm-up (+ index builds). One per run: a cold
    // set-up takes 13-45 s on a 4-core machine, and a run has room for one.
    val setupStart = Clock.now()
    val spark = session(a)
    tr.attach(spark.sparkContext)
    w.setup(spark, s"${a.work}/setup")
    val setupS = (Clock.now() - setupStart) / 1e9

    val listener = if (a.trace) Some(new JobListener(keepPlans = a.workload == "service_mix")) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    System.gc()

    val t0 = Clock.now()
    w.run(t0 + a.seconds * 1000000000L)
    val t1 = Clock.now()
    val heapMb = retainedHeapMb()
    val windowS = (t1 - t0) / 1e9
    val completed = rec.completed.get

    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val spans = tr.all
    val jobs = listener.toSeq.flatMap(_.all)
      .filter(j => j.start >= t0 - Attribution.SlackNs && j.start <= t1 + Attribution.SlackNs)
    w.check()

    val request = w.requestMs
    val endToEnd = Map(
      "setup_s" -> Metric(setupS, "s"),
      "ops_s" -> Metric(completed / windowS, "1/s"),
      "request_ms_p50" -> Metric(if (request.isEmpty) Double.NaN else Stats.median(request), "ms"))
    val attempted = rec.attempted.get
    val details = w.details ++ Map(
      "heap_mb_retained" -> Metric(heapMb, "MB"),
      "fail_ratio" -> Metric(if (attempted == 0) 0.0 else rec.failed.get.toDouble / attempted, "ratio"))
    val attr = listener.map(l => Attribution.assign(spans, jobs, l.executionMentions))
    val perLayer = attr.map { at =>
      Layers.compute(spans, jobs, at, completed, w.layerExtras(spans, Layers.jobsUnder(spans, at, jobs)))
    }
    // the jobs no span claimed, for whoever chases them: call site, hint,
    // SQL execution, and the spans open when each started
    val unattributed = attr.map(at => jobs.filterNot(j => at.contains(j.id)).take(40).map { j =>
      Map("site" -> j.site, "hint" -> j.hint, "execution" -> j.execution,
        "open" -> spans.filter(s => s.start - Attribution.SlackNs <= j.start &&
          j.start <= s.end + Attribution.SlackNs).map(s => s"${s.op}/${s.name}"))
    })
    // every span name: calls, and median wall, self time and jobs per call
    val bySpan = attr.map { at =>
      val under = Layers.jobsUnder(spans, at, jobs)
      spans.groupBy(_.name).map { case (name, ss) => name -> Map(
        "calls" -> ss.size,
        "wall_ms_p50" -> Stats.median(ss.map(_.wall / 1e6)),
        "self_ms_p50" -> Stats.median(ss.map(Attribution.selfTime(_, spans) / 1e6)),
        "jobs_p50" -> Stats.median(ss.map(s => under(s.id).size.toDouble)))
      }
    }

    val out = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "attempted" -> attempted, "completed" -> completed, "failed" -> rec.failed.get,
      "failures" -> rec.failures.asScala.toSeq,
      "window_s" -> windowS,
      "end_to_end" -> metrics(endToEnd),
      "details" -> metrics(details),
      "samples" -> rec.names.map(n => n -> rec.get(n).size).toMap,
      "per_layer" -> perLayer.map(metrics),
      "unattributed" -> unattributed,
      "span_summary" -> bySpan,
      "spans" -> spans.size,
      "jvm" -> Map(
        "java_version" -> System.getProperty("java.version"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc" -> a.nproc)
    ) ++ w.outputs
    JsonMapper.builder().addModule(DefaultScalaModule).build().writeValue(new java.io.File(a.out), out)
    w.close()
    spark.stop()
  }

  private def metrics(m: Map[String, Metric]): Map[String, Any] =
    m.map { case (k, v) => k -> Map("value" -> v.value, "unit" -> v.unit) }
}
