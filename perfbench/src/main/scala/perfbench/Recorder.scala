package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Samples, operation counts and correctness failures of one run. */
final class Recorder {
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  val attempted = new AtomicLong
  val completed = new AtomicLong
  val failed = new AtomicLong
  val failures = new ConcurrentLinkedQueue[String]()

  def add(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)

  def get(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  def names: Seq[String] = samples.keySet.asScala.toSeq.sorted

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 50) failures.add(msg)
  }

  /** A correctness check: attempted once, failed when `ok` is false. */
  def check(ok: Boolean, msg: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) fail(msg)
    ok
  }

  /** One user operation: completed unless it throws. */
  def op(name: String)(body: => Unit): Boolean = {
    attempted.incrementAndGet()
    try { body; completed.incrementAndGet(); true }
    catch { case NonFatal(e) => fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"); false }
  }
}
