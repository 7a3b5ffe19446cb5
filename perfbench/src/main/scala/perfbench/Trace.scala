package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Executor counters summed over the tasks of one span's jobs. */
final class ExecCounts {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, inputBytes, shuffleWriteBytes,
    shuffleReadRecords, spillBytes = 0L
  def add(o: ExecCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadRecords += o.shuffleReadRecords; spillBytes += o.spillBytes
  }
}

/** One timed call into a layer. `op` is the id of the root span (the
  * workload operation) the call belongs to. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    layer: String, start: Long, var end: Long = 0L) {
  val counts = new ExecCounts
  /** (start, end) of every Spark job the span itself launched */
  val jobTimes = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's own view of Spark: job → span attribution by job
  * description, plus per-task executor metrics. Registered by the
  * benchmark, not by the engine. Event times are wall-clock millis. */
final class SpanListener(spans: Long => Option[Span]) extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, (Span, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
    desc.flatMap(d => d.toLongOption).flatMap(spans).foreach { s =>
      s.counts.jobs += 1
      jobSpan(e.jobId) = (s, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, t0) =>
      s.jobTimes += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(_.counts.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = s.counts
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Spans around the benchmark's calls into each layer. Off (the timed
  * run), `span` only runs its body; on (the traced run), it records a
  * span, labels the Spark jobs the body launches with the span id, and
  * `force` materializes a layer's lazy output inside the layer's span. */
final class Tracer(val on: Boolean, sc: SparkContext, workload: String) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Long, Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private val counters = mutable.Map.empty[String, (Double, Int)]
  private val pinned = mutable.ArrayBuffer.empty[DataFrame]

  if (on) sc.addSparkListener(new SpanListener(id => synchronized(byId.get(id))))

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = synchronized {
        val s = Span(nextId, parent.map(_.id).getOrElse(0L),
          parent.map(_.op).getOrElse(nextId), name, layer, System.nanoTime())
        nextId += 1
        all += s
        byId(s.id) = s
        s
      }
      stack = s :: stack
      sc.setJobDescription(s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setJobDescription(stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Traced run only: pin `df` and run it with a noop write (never
    * `count()`, which prunes columns), so the work lands in the calling
    * span and later spans read the pinned result. */
  def force(df: DataFrame): DataFrame =
    if (!on) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.write.format("noop").mode("overwrite").save()
      pinned += p
      p
    }

  /** Drop what `force` pinned; called at the end of each operation. */
  def release(): Unit = {
    pinned.foreach(_.unpersist(blocking = false))
    pinned.clear()
  }

  /** A per-layer count, reported as its mean over the recordings. */
  def count(name: String, value: Double): Unit = if (on) synchronized {
    val (s, n) = counters.getOrElse(name, (0.0, 0))
    counters(name) = (s + value, n + 1)
  }

  def countMean(name: String): Double =
    counters.get(name).map { case (s, n) => s / n }.getOrElse(0.0)

  def spans: Seq[Span] = synchronized(all.toSeq)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchAccess.drain(sc)

  /** Mean duration in seconds of the spans called `name`, 0 if none. */
  def meanSeconds(name: String): Double = {
    val xs = spans.filter(s => s.name == name && s.end > 0)
    if (xs.isEmpty) 0.0 else xs.map(s => (s.end - s.start) / 1e9).sum / xs.size
  }

  /** Self time of every finished span: its duration minus the part of
    * it its child spans cover (children of one span never overlap: the
    * benchmark is one client thread). */
  def selfSeconds: Map[Long, Double] = {
    val done = spans.filter(_.end > 0)
    val childTime = done.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum
    }
    done.map(s => s.id -> (s.end - s.start - childTime.getOrElse(s.id, 0L)) / 1e9)
      .toMap
  }

  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val c = s.counts
      out.println(s"""{"workload":"$workload","id":${s.id},"parent":${s.parent},""" +
        s""""op":${s.op},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"jobs":${c.jobs},""" +
        s""""stages":${c.stages},"tasks":${c.tasks},"cpu_ns":${c.cpuNs},""" +
        s""""run_ms":${c.runMs},"gc_ms":${c.gcMs},"input_bytes":${c.inputBytes},""" +
        s""""shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""shuffle_read_records":${c.shuffleReadRecords},""" +
        s""""spill_bytes":${c.spillBytes}}""")
    } finally out.close()
  }
}
