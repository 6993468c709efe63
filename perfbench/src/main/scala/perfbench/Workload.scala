package perfbench

import org.apache.spark.sql.SparkSession

/** A metric value with its unit. */
final case class Metric(value: Double, unit: String)

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, work: String, out: String, nproc: Int)

/** One benchmark workload. Main calls `setup` with a fresh Spark session
  * and directory, then `run` until the deadline, then `check`. */
trait Workload {
  def setup(spark: SparkSession, dir: String): Unit
  def run(deadline: Long): Unit
  def check(): Unit
  /** Latency samples (ms) of the workload's request: the value behind
    * `request_ms_p50`. */
  def requestMs: Seq[Double]
  /** The workload's own named end-to-end figures, for the result file. */
  def details: Map[String, Metric]
  /** Per-layer figures that come from the workload rather than from spans. */
  def layerExtras(spans: Seq[Span], jobsUnder: Long => Seq[JobRec]): Map[String, Double]
  /** Files the python checks read back, for the result file. */
  def outputs: Map[String, Any]
  def close(): Unit
}

object Workload {
  def ms(fromNs: Long): Double = (Clock.now() - fromNs) / 1e6

  /** Sleeps between status polls; the service_mix client polls at this
    * fixed interval. */
  val PollMs = 2L

  def pause(): Unit = Thread.sleep(PollMs)

  def dirBytes(path: String): Long = files(path).map(_.length).sum

  /** Regular files under `path`, without Hadoop's checksum side files. */
  def files(path: String): Seq[java.io.File] = {
    val root = new java.io.File(path)
    if (!root.exists) Nil
    else if (root.isFile) Seq(root)
    else Option(root.listFiles).toSeq.flatten.flatMap(f => files(f.getPath))
      .filterNot(_.getName.endsWith(".crc"))
  }

  def summary(name: String, xs: Seq[Double], unit: String): Map[String, Metric] =
    if (xs.isEmpty) Map.empty
    else Map(s"${name}_p50" -> Metric(Stats.median(xs), unit)) ++
      Stats.tail(xs, 90).map(v => s"${name}_p90" -> Metric(v, unit))
}
