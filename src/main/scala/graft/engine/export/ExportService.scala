package graft.engine.export

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory}
import scala.util.control.NonFatal

/** Async export state machine (reference `app/main.py:280-358` +
  * `app/tasks.py:13-37`): per `{queryId}.{format}` target —
  * idempotency probe (existing file ⇒ DONE immediately), QUEUED →
  * PROCESSING → DONE | FAILED, and the reference's observable 60-second
  * FAILED retry lockout (a FAILED state blocks resubmission, then is
  * invalidated so the client may retry; `app/main.py:344-350`,
  * `app/tasks.py:34-37`). The Celery worker boundary becomes a
  * driver-side daemon pool; the converter reads the query's result CSV
  * (schema inferred, as `pd.read_csv` did) and re-encodes via
  * [[Exporters]].
  */
object ExportService {
  sealed trait State
  case object Queued extends State
  case object Processing extends State
  final case class Done(path: String) extends State
  final case class Failed(error: String, at: Long) extends State

  val FailedRetryLockoutMillis: Long = 60000 // app/main.py:349
}

final class ExportService(
    spark: SparkSession,
    resultCsvDir: String => String, // queryId -> result csv dir/file
    exportDir: String,
    clock: () => Long = () => System.currentTimeMillis(),
    poolSize: Int = 2 // reference Celery --concurrency=2, README.md:15
) extends AutoCloseable {
  import ExportService._

  private val states = new ConcurrentHashMap[String, State]()
  private val pool = Executors.newFixedThreadPool(poolSize, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "graft-export"); t.setDaemon(true); t
    }
  })

  def targetPath(queryId: String, format: String): String =
    s"$exportDir/$queryId.$format"

  /** Submit-or-poll, mirroring the reference's single endpoint that does
    * both. Returns the current state after the probe. */
  def export(queryId: String, format: String): State = {
    if (!Exporters.SupportedFormats.contains(format))
      throw new IllegalArgumentException(s"unsupported format: $format")
    val key = s"$queryId.$format"
    val target = targetPath(queryId, format)
    // idempotency probe: finished artifact wins over any state
    if (new java.io.File(target).exists()) {
      val done = Done(target); states.put(key, done); return done
    }
    states.get(key) match {
      case f @ Failed(_, at) =>
        // conditional remove: of N callers racing past the lockout check,
        // exactly one clears the FAILED entry and re-enqueues; the rest
        // fall through to the claim below and observe the fresh state
        if (clock() - at >= FailedRetryLockoutMillis && states.remove(key, f))
          enqueue(key, queryId, format, target)
        else if (clock() - at < FailedRetryLockoutMillis) f
        else Option(states.get(key)).getOrElse(enqueue(key, queryId, format, target))
      case null => enqueue(key, queryId, format, target)
      case st => st // QUEUED or PROCESSING: report as-is
    }
  }

  private def enqueue(key: String, queryId: String, format: String, target: String): State = {
    // claim-then-work: the soak spec caught two callers racing the null
    // check, BOTH enqueueing, and their workers writing the same target
    // concurrently (a torn artifact can then fail one of them). Only the
    // putIfAbsent winner submits a worker — one writer per key lifecycle.
    val prior = states.putIfAbsent(key, Queued)
    if (prior != null) return prior
    pool.submit(new Runnable {
      def run(): Unit = {
        states.put(key, Processing)
        // the streaming writers create their file when they open it, so
        // they write a sibling the idempotency probe never matches, which
        // then moves onto the target whole: the probe sees no file or the
        // finished one, never a half-written one
        val partial = Paths.get(s"$target.partial")
        try {
          val df = spark.read
            .option("header", "true").option("inferSchema", "true")
            .csv(resultCsvDir(queryId))
          new java.io.File(exportDir).mkdirs()
          Exporters.write(df, format, partial.toString)
          Files.move(partial, Paths.get(target), StandardCopyOption.ATOMIC_MOVE)
          states.put(key, Done(target))
        } catch {
          case NonFatal(e) =>
            states.put(key, Failed(String.valueOf(e.getMessage), clock()))
            Files.deleteIfExists(partial)
        }
      }
    })
    Queued
  }

  /** Test/ops hook: block until DONE/FAILED. */
  def await(queryId: String, format: String, timeoutMillis: Long = 120000): State = {
    val key = s"$queryId.$format"
    val deadline = System.currentTimeMillis() + timeoutMillis
    while (System.currentTimeMillis() < deadline) {
      states.get(key) match {
        case d: Done => return d
        case f: Failed => return f
        case _ => Thread.sleep(20)
      }
    }
    throw new java.util.concurrent.TimeoutException(key)
  }

  def close(): Unit = pool.shutdown()
}
