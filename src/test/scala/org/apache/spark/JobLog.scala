package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** Test-side job log. It lives in `org.apache.spark` to drain the
  * listener bus, so a job the body launched is never missed. */
object JobLog {

  /** Run `body` in a fresh job group; return its result and, per job it
    * launched (jobs on threads it spawned included), the names of the
    * job's stages, e.g. "parquet at Tables.scala:85". */
  def stageNames[A](sc: SparkContext)(body: => A): (A, Seq[Seq[String]]) = {
    val group = s"joblog-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          jobs.add(e.stageInfos.map(_.name))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "test job log")
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
