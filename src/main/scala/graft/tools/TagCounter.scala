package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Jobs started, stages completed and tasks ended, per tag. A job's
  * tag is the local property [[TagCounter.Key]] it was submitted under
  * (broadcast and subquery threads capture their caller's properties);
  * its stages take the tag through `jobStart.stageInfos`, and tasks
  * take their stage's. Jobs without the property count under no tag,
  * and skipped stages never complete, so they count nothing. Read
  * [[counts]] once the listener bus has drained, e.g. after
  * `spark.stop()`. */
final class TagCounter extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  private val jobs, stages, tasks = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagCounter.Key)))
    val ids = e.stageInfos.map(_.stageId)
    tag match {
      case Some(t) => jobs(t) += 1; ids.foreach(stageTag(_) = t)
      case None => stageTag --= ids
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTag.get(e.stageInfo.stageId).foreach(stages(_) += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach(tasks(_) += 1)
  }

  /** tag -> (jobs, stages, tasks) */
  def counts: Map[String, (Long, Long, Long)] = synchronized {
    jobs.keys.map(t => t -> ((jobs(t), stages(t), tasks(t)))).toMap
  }
}

object TagCounter {
  val Key = "graft.tag"
}
