package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of a traced op. `parent` is -1 for an op's root.
  * Times are System.nanoTime based. */
final case class Span(op: Int, id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty) {
  def durNs: Long = endNs - startNs
  def interval: (Long, Long) = (startNs, endNs)
}

/** In-memory span recorder; the benchmark dumps it when it ends. */
final class Recorder {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def newId(): Int = synchronized { nextId += 1; nextId }

  def add(s: Span): Span = synchronized { spans += s; s }

  /** Time `body` as a span named `name` under `parent`. */
  def span[T](op: Int, parent: Int, name: String)(body: Int => T): (T, Span) = {
    val id = newId()
    val t0 = System.nanoTime()
    val r = body(id)
    (r, add(Span(op, id, parent, name, t0, System.nanoTime())))
  }

  def all: Seq[Span] = synchronized { spans.toList }
  def children(of: Span): Seq[Span] = all.filter(s => s.op == of.op && s.parent == of.id)
  def selfNs(of: Span): Long = Stats.selfTime(of.interval, children(of).map(_.interval))

  def dump(path: java.nio.file.Path): Unit = {
    val lines = all.map(s => Stats.json(Map("op" -> s.op, "id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "attrs" -> s.attrs)))
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Epoch-millisecond listener timestamps mapped onto the nanoTime base. */
object Clock {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def msToNano(epochMs: Long): Long = epochMs * 1000000L + offsetNs
}

/** Job, stage and task totals of one Spark job. */
final case class JobRec(tag: String, jobId: Int, startNs: Long, endNs: Long,
    stages: Int, tasks: Int, taskRunMs: Long, taskCpuMs: Double, taskGcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long)

/** Spark listener that attributes jobs, stages and tasks to the tag the
  * benchmark sets as the job-submitting thread's local property
  * [[JobListener.TagKey]]. */
final class JobListener extends SparkListener {
  private final class Acc(val tag: String, val startMs: Long) {
    var endMs = startMs; var stages = 0; var tasks = 0; var runMs = 0L
    var cpuNs = 0L; var gcMs = 0L; var shW = 0L; var shR = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Acc]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val done = mutable.ArrayBuffer.empty[JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.TagKey)))
    tag.foreach { t =>
      jobs(e.jobId) = new Acc(t, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); a <- jobs.get(j); m <- Option(e.taskMetrics)) {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shW += m.shuffleWriteMetrics.bytesWritten
      a.shR += m.shuffleReadMetrics.totalBytesRead
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { a =>
      done += JobRec(a.tag, e.jobId, Clock.msToNano(a.startMs), Clock.msToNano(e.time),
        a.stages, a.tasks, a.runMs, a.cpuNs / 1e6, a.gcMs, a.shW, a.shR)
    }
  }

  /** Completed jobs carrying `tag`, removed from the listener. */
  def take(tag: String): Seq[JobRec] = synchronized {
    val (mine, rest) = done.partition(_.tag == tag)
    done.clear(); done ++= rest
    stageJob.filterInPlace((_, j) => jobs.contains(j))
    mine.toList
  }
}

object JobListener {
  val TagKey = "perfbench.tag"

  /** Run `body` with its Spark jobs tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, null)
  }
}
