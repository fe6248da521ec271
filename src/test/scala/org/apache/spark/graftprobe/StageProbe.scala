package org.apache.spark.graftprobe

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import scala.jdk.CollectionConverters._

/** Test helper: the stages a block of Spark work actually ran (skipped
  * stages, whose shuffle output was reused, never complete and are not
  * listed). Lives under `org.apache.spark` to drain the listener bus,
  * which is private to Spark. */
object StageProbe {
  def stagesRun(sc: SparkContext)(body: => Unit): Seq[StageInfo] = {
    sc.listenerBus.waitUntilEmpty()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = seen.add(e.stageInfo)
    }
    sc.addSparkListener(l)
    try { body; sc.listenerBus.waitUntilEmpty() } finally sc.removeSparkListener(l)
    seen.asScala.toSeq.sortBy(_.stageId)
  }

  /** Names of the plan operators whose RDDs a stage ran. */
  def operators(s: StageInfo): Seq[String] = s.rddInfos.flatMap(_.scope.map(_.name)).distinct
}
