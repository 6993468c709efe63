package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.engine.Tables
import graft.ops.{IndexLifecycle, Ivf, Quantize, Similarity}

/** vector_lifecycle: one client probes IVF, PQ and LSH indexes built from
  * the embeddings table (k = 10, the query a live corpus vector) while one
  * operation in three writes to the IVF index: tombstoned removes,
  * compactions, and re-appends of compacted-away ids ([[VectorPlan]]). */
final class VectorLifecycle(a: Args, rec: Recorder, tr: Tracer) extends Workload {
  import Workload._

  val K = 10
  private var spark: SparkSession = _
  private var dirs: Map[String, String] = Map.empty
  private var vectors: Map[Long, Array[Float]] = Map.empty
  private var plan: VectorPlan = _
  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true))))
  /** Probe span id -> bytes of the probed index at probe time (traced). */
  private val probeIndexBytes = new ConcurrentHashMap[Long, java.lang.Long]()
  @volatile private var ivfBytes = 0L

  private def frame(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(ids.map(id => Row(id, vectors(id).toSeq)).asJava, schema)

  def setup(s: SparkSession, dir: String): Unit = {
    spark = s
    val corpus = Tables.read(s, a.data, "embeddings").select("vec_id", "embedding")
    vectors = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    dirs = Plans.ProbeKinds.map(k => k -> s"$dir/$k").toMap
    Ivf.buildIndex(corpus, "vec_id", "embedding", dirs("ivf"))
    Quantize.buildPqIndex(corpus, "vec_id", "embedding", dirs("pq"))
    Similarity.buildLshIndex(corpus, "vec_id", "embedding", dirs("lsh"))
    // warm-up: two probes per index and one remove / compact / re-append
    // cycle, which leaves every id live and no tombstones
    for (id <- Seq(1L, 2L); k <- Plans.ProbeKinds)
      require(probe(k, id).contains(id), s"warm-up $k probe")
    val batch = 10L until 15L
    IndexLifecycle.removeIds(s, dirs("ivf"), frame(batch).select("vec_id"), "vec_id", tombstone = true)
    IndexLifecycle.compactIndex(s, dirs("ivf"))
    Ivf.appendIndex(frame(batch), "vec_id", "embedding", dirs("ivf"))
    plan = new VectorPlan(a.seed, vectors.size)
    ivfBytes = dirBytes(dirs("ivf"))
  }

  private def probe(kind: String, id: Long): Seq[Long] = {
    val q = frame(Seq(id))
    val top = kind match {
      case "ivf" => Ivf.probeIndex(spark, dirs("ivf"), "vec_id", "embedding", q, "embedding", k = K)
      case "pq" => Quantize.probePqIndex(spark, dirs("pq"), "vec_id", "embedding", q, "embedding", k = K)
      case "lsh" => Similarity.probeLshIndex(spark, dirs("lsh"), "vec_id", "embedding", q, "embedding", k = K)
    }
    top.select("vec_id").collect().map(_.getLong(0)).toSeq
  }

  /** Whole rounds of [[VectorPlan.Round]] operations until the deadline
    * has passed, so every run sees each write verb and probe kind equally. */
  def run(deadline: Long): Unit = {
    val indexBytes = Map("pq" -> dirBytes(dirs("pq")), "lsh" -> dirBytes(dirs("lsh")))
    var i = 0
    while (Clock.now() < deadline || i % VectorPlan.Round != 0) {
      val op = s"v$i"
      plan.next() match {
        case Probe(kind, id) =>
          rec.op(s"probe_$kind") {
            val t0 = Clock.now()
            val top = tr.span("op.probe", "op", op) {
              tr.span(s"vector.probe_$kind", "vector", op) {
                if (tr.enabled)
                  probeIndexBytes.put(tr.current, if (kind == "ivf") ivfBytes else indexBytes(kind))
                probe(kind, id)
              }
            }
            rec.add("probe_ms", ms(t0))
            rec.check(top.size == K && top.contains(id), s"$kind probe of $id returned ${top.mkString(",")}")
            if (kind == "ivf")
              rec.check(top.forall(plan.isLive), s"ivf probe of $id returned a removed id: ${top.mkString(",")}")
          }
        case w =>
          val verb = w match {
            case _: Remove => "remove"
            case _: Append => "append"
            case _ => "compact"
          }
          rec.op(verb) {
            val t0 = Clock.now()
            tr.span("op.write", "op", op) {
              tr.span(s"lifecycle.$verb", "lifecycle", op) {
                w match {
                  case Remove(ids) => IndexLifecycle.removeIds(spark, dirs("ivf"),
                    frame(ids).select("vec_id"), "vec_id", tombstone = true)
                  case Append(ids) => Ivf.appendIndex(frame(ids), "vec_id", "embedding", dirs("ivf"))
                  case _ => IndexLifecycle.compactIndex(spark, dirs("ivf"))
                }
              }
            }
            val took = ms(t0)
            rec.add("write_ms", took)
            rec.add(s"${verb}_ms", took)
            if (tr.enabled) ivfBytes = dirBytes(dirs("ivf"))
          }
      }
      i += 1
    }
  }

  private var stats: Row = _

  def check(): Unit = {
    stats = IndexLifecycle.indexStats(spark, dirs("ivf")).head()
    val live = stats.getAs[Long]("live_rows")
    val tombs = stats.getAs[Long]("tombstones")
    rec.check(live == plan.liveCount, s"ivf index serves $live rows, expected ${plan.liveCount}")
    rec.check(tombs == plan.pending.size, s"ivf index holds $tombs tombstones, expected ${plan.pending.size}")
  }

  def requestMs: Seq[Double] = rec.get("probe_ms")

  def details: Map[String, Metric] =
    summary("probe_ms", rec.get("probe_ms"), "ms") ++
      summary("write_ms", rec.get("write_ms"), "ms").filter(_._1.endsWith("p50"))

  def layerExtras(spans: Seq[Span], jobsUnder: Long => Seq[JobRec]): Map[String, Double] = {
    val fractions = spans.filter(_.name.startsWith("vector.probe_")).flatMap { s =>
      Option(probeIndexBytes.get(s.id)).filter(_ > 0).map(b => jobsUnder(s.id).map(_.input.get).sum.toDouble / b)
    }
    val writes = spans.filter(_.layer == "lifecycle").flatMap(s => jobsUnder(s.id)).map(_.output.get).sum
    val ivf = dirBytes(dirs("ivf"))
    Map(
      "vector.scan_fraction" -> (if (fractions.isEmpty) 0.0 else Stats.median(fractions)),
      "lifecycle.rewrite_bytes_per_live_byte" -> writes.toDouble / ivf,
      "lifecycle.index_bytes_per_vector_byte" -> ivf.toDouble / (plan.liveCount * 64L * 4L),
      "lifecycle.index_files" -> files(dirs("ivf")).size.toDouble,
      "lifecycle.tombstones" -> stats.getAs[Long]("tombstones").toDouble
    )
  }

  def outputs: Map[String, Any] = Map.empty

  def close(): Unit = ()
}
