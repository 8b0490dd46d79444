package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Sums task metrics per benchmark job tag. A job is attributed to the
  * one tag starting with `prefix` that its submitting thread carried
  * (`SparkContext.addJobTag`); Spark copies job tags into AQE,
  * broadcast and subquery threads, which its recorded call site does
  * not reach. Jobs without exactly one such tag are counted as
  * untagged, so attribution gaps show as a number instead of vanishing.
  */
final class TagListener(prefix: String) extends SparkListener {
  final class Acc {
    var jobs = 0
    var tasks = 0L
    var taskS = 0.0
    var cpuS = 0.0
    var gcS = 0.0
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val taskDurations = mutable.ArrayBuffer.empty[Double]
    /** (submit, complete) epoch-ms of each finished job. */
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private var totalJobs = 0
  private var untaggedJobs = 0
  /** Call sites of the first untagged jobs, to show where a tag is lost. */
  private val untaggedSites = mutable.ArrayBuffer.empty[String]

  private def acc(tag: String): Acc = accs.getOrElseUpdate(tag, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    totalJobs += 1
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(',')).filter(_.startsWith(prefix)).distinct
    if (tags.size == 1) {
      val t = tags.head
      acc(t).jobs += 1
      jobStart(e.jobId) = (t, e.time)
      e.stageIds.foreach(stageTag(_) = t)
    } else {
      untaggedJobs += 1
      if (untaggedSites.size < 10) untaggedSites +=
        e.stageInfos.map(_.name).mkString("+")
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t, start) =>
      acc(t).jobIntervals += ((start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (t <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(t)
      val taskS = e.taskInfo.duration / 1e3
      a.tasks += 1
      a.taskS += taskS
      a.taskDurations += taskS
      a.cpuS += m.executorCpuTime / 1e9
      a.gcS += m.jvmGCTime / 1e3
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
    }
  }

  /** Per-tag sums plus the job counts, as JSON-ready maps. Call after
    * the listener bus has drained. */
  def snapshot(): java.util.Map[String, Object] = synchronized {
    val tags = new java.util.LinkedHashMap[String, Object]()
    accs.foreach { case (t, a) =>
      tags.put(t, Json.obj(
        "jobs" -> a.jobs, "tasks" -> a.tasks, "task_s" -> a.taskS,
        "cpu_s" -> a.cpuS, "gc_s" -> a.gcS, "input_bytes" -> a.inputBytes,
        "shuffle_write_bytes" -> a.shuffleWriteBytes,
        "spill_bytes" -> a.spillBytes, "task_durations_s" -> Json.arr(a.taskDurations.toSeq),
        "job_intervals_ms" -> Json.arr(a.jobIntervals.map { case (s, e) =>
          Json.arr(Seq(s, e)) }.toSeq)))
    }
    Json.obj("tags" -> tags, "total_jobs" -> totalJobs, "untagged_jobs" -> untaggedJobs,
      "untagged_call_sites" -> Json.arr(untaggedSites.toSeq))
  }
}

/** Minimal builders for the Jackson-serialised result file. */
object Json {
  def obj(kv: (String, Any)*): java.util.Map[String, Object] = {
    val m = new java.util.LinkedHashMap[String, Object]()
    kv.foreach { case (k, v) => m.put(k, v.asInstanceOf[Object]) }
    m
  }
  def arr(xs: Seq[Any]): java.util.List[Object] = {
    val l = new java.util.ArrayList[Object]()
    xs.foreach(x => l.add(x.asInstanceOf[Object]))
    l
  }
  def write(path: String, v: Object): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), v)
}
