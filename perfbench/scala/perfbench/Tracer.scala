package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startNs: Long, var endNs: Long = -1L,
                      attrs: mutable.LinkedHashMap[String, Double] =
                        mutable.LinkedHashMap.empty)

/** Spans around every call the benchmark makes into a layer, kept in
  * memory and written out when the run ends.
  *
  * With `jobGroups` on, the calling thread's job group is the innermost
  * open span's id, so [[JobStats]] can attribute each Spark job (and its
  * stages and tasks) to the span that submitted it. */
final class Tracer(sc: SparkContext, var jobGroups: Boolean) {
  private val t0 = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L

  def spans: Seq[Span] = buf.toSeq

  def span[T](kind: String, name: String)(body: Span => T): T = {
    val s = Span(nextId, stack.headOption.fold(0L)(_.id), kind, name,
      System.nanoTime() - t0)
    nextId += 1
    buf += s
    stack = s :: stack
    if (jobGroups) sc.setJobGroup(s.id.toString, s"$kind:$name")
    try body(s)
    finally {
      s.endNs = System.nanoTime() - t0
      stack = stack.tail
      if (jobGroups) stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, s"${p.kind}:${p.name}")
        case None => sc.clearJobGroup()
      }
    }
  }
}

/** Spark's own job/stage/task counters, summed per job group (= span id).
  * Read only after the SparkContext has stopped, which drains the
  * listener bus. */
final class JobStats extends SparkListener {
  final class Acc {
    var jobs, stages, stagesSkipped, tasks, failedTasks = 0L
    var taskMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, input = 0L
  }
  val byGroup = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStages = mutable.HashMap.empty[Int, (String, Seq[Int])]
  private val submitted = mutable.HashSet.empty[Int]

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    val a = acc(g)
    a.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    jobStages(e.jobId) = (g, e.stageIds)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      if (submitted.add(id)) {
        val a = acc(stageGroup.getOrElse(id, "none"))
        a.stages += 1
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStages.remove(e.jobId).foreach { case (g, ids) =>
      val a = acc(g)
      a.stagesSkipped += ids.count(id => !submitted.contains(id))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, "none"))
    a.tasks += 1
    if (e.reason != Success) a.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }
}
