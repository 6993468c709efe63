package perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.queries.QueryDefs

/** curation_batch: one client runs whole passes of the four curation
  * pipelines into the noop sink, in a seeded order per pass, until the
  * deadline has passed. The set-up runs every pipeline once into parquet;
  * the python side checks those outputs against the pipelines' DuckDB
  * oracle SQL. */
final class CurationBatch(a: Args, rec: Recorder, tr: Tracer) extends Workload {
  import Workload._

  private var spark: SparkSession = _
  private var outDir: String = _

  def short(pipeline: String): String = pipeline.dropWhile(_ != '_').drop(1)

  def setup(s: SparkSession, dir: String): Unit = {
    spark = s
    outDir = s"$dir/oracle"
    Plans.Pipelines.foreach { p =>
      QueryDefs.byName(p).build(s, a.data).write.mode("overwrite").parquet(s"$outDir/$p")
    }
  }

  def run(deadline: Long): Unit = {
    val passes = Plans.curationPasses(a.seed)
    var k = 0
    while (Clock.now() < deadline) {
      val op = s"pass-$k"
      val t0 = Clock.now()
      val ok = passes.next().map { p =>
        rec.op(p) {
          val t1 = Clock.now()
          tr.span("op.pipeline", "op", s"$op-${short(p)}") {
            tr.span(s"batch.${short(p)}", "batch", s"$op-${short(p)}") {
              QueryDefs.byName(p).build(spark, a.data).write.format("noop").mode("overwrite").save()
            }
          }
          rec.add(s"pipeline_ms.${short(p)}", ms(t1))
        }
      }
      if (ok.forall(identity)) rec.add("pass_ms", ms(t0))
      k += 1
    }
  }

  def check(): Unit = ()

  def requestMs: Seq[Double] = rec.get("pass_ms")

  def details: Map[String, Metric] = {
    val passes = rec.get("pass_ms")
    (if (passes.isEmpty) Map.empty[String, Metric]
     else Map("batch_pass_s" -> Metric(Stats.median(passes) / 1000, "s"))) ++
      Plans.Pipelines.map(short).flatMap { p =>
        val xs = rec.get(s"pipeline_ms.$p")
        if (xs.isEmpty) None else Some(s"pipeline_ms.$p" -> Metric(Stats.median(xs), "ms"))
      }
  }

  def layerExtras(spans: Seq[Span], jobsUnder: Long => Seq[JobRec]): Map[String, Double] = Map.empty

  def outputs: Map[String, Any] = Map("oracle" -> Plans.Pipelines.map { p =>
    Map("name" -> p, "path" -> s"$outDir/$p", "sql" -> SparkEntry.oracleSql(p))
  })

  def close(): Unit = ()
}
