package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._

/** JSON rendering of the run report: Scala maps, sequences, options,
  * strings, numbers and booleans. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** One timed interval of the trace. Times are `System.nanoTime` values;
  * `Recorder.epochAnchor` converts listener wall-clock milliseconds onto
  * the same axis. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    start: Long, end: Long)

/** Holds the spans of a traced run in memory, and the Spark listener that
  * records jobs, stages, tasks and block updates while it is attached. */
final class Recorder {
  /** (nanoTime, epoch millis) taken together: maps listener times onto
    * the span axis. */
  val epochAnchor: (Long, Long) = (System.nanoTime(), System.currentTimeMillis())

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  /** Runs `body` inside a span (its id passed in) and returns its value. */
  def span[T](name: String, kind: String, parent: Int)(body: Int => T): T = {
    val id = nextId
    nextId += 1
    val t0 = System.nanoTime()
    try body(id)
    finally spans += Span(id, parent, name, kind, t0, System.nanoTime())
  }

  /** Records an already measured interval. */
  def add(name: String, kind: String, parent: Int, start: Long, end: Long): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, kind, start, end)
    id
  }

  /** Sets the end of a span recorded with [[add]] before its end was known. */
  def close(id: Int, end: Long): Unit = {
    val i = spans.indexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(end = end)
  }

  def allSpans: Seq[Span] = spans.toSeq

  // ---- listener ---------------------------------------------------------

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Array[Long]]()
  private val blocks = mutable.HashMap.empty[String, Long]
  @volatile private var blockBytes = 0L
  @volatile private var blockPeak = 0L

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the result stage carries the job's call site ("count at Dedup.scala:512")
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs.add(Map("job" -> e.jobId, "start_ms" -> e.time, "site" -> site,
        "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add((e.jobId, e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      stages.add(Map("stage" -> s.stageId, "tasks" -> s.numTasks,
        "submit_ms" -> s.submissionTime.getOrElse(0L),
        "done_ms" -> s.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        val duration = i.finishTime - i.launchTime
        val schedDelay = math.max(0L, duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        tasks.add(Array(e.stageId.toLong, i.launchTime, i.finishTime,
          m.executorRunTime, m.jvmGCTime, schedDelay,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) blocks.synchronized {
        val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        blockBytes += now - blocks.getOrElse(b.blockId.name, 0L)
        if (now == 0L) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = now
        blockPeak = math.max(blockPeak, blockBytes)
      }
    }
  }

  /** Field names of the rows in `tasks`. */
  val taskFields: Seq[String] = Seq("stage", "launch_ms", "finish_ms", "run_ms",
    "gc_ms", "sched_delay_ms", "shuffle_read_b", "shuffle_write_b", "spill_b",
    "input_b", "output_b")

  def listenerJson: Map[String, Any] = {
    val ends = jobEnds.asScala.toMap
    Map(
      "jobs" -> jobs.asScala.toSeq.map(j => j + ("end_ms" -> ends.getOrElse(
        j("job").asInstanceOf[Int], j("start_ms").asInstanceOf[Long]))),
      "stages" -> stages.asScala.toSeq,
      "task_fields" -> taskFields,
      "tasks" -> tasks.asScala.toSeq.map(_.toSeq),
      "storage_peak_b" -> blockPeak)
  }
}
