package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval with a parent, in epoch seconds. */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double)

object Clock {
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  /** Epoch seconds at nanosecond resolution (monotonic within the run). */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9
}

/** Spans of one run, kept in memory and written out when the run ends. */
final class Spans {
  private val buf = mutable.LinkedHashMap.empty[Int, Span]
  def open(name: String, parent: Int, start: Double = Clock.now()): Int = {
    val id = buf.size + 1
    buf(id) = Span(id, name, parent, start, start)
    id
  }
  def close(id: Int, end: Double = Clock.now()): Unit = buf(id) = buf(id).copy(end = end)
  def add(name: String, parent: Int, start: Double, end: Double): Int = {
    val id = open(name, parent, start); close(id, end); id
  }
  def all: Seq[Span] = buf.values.toSeq
}

/** Per-row accumulators for the layers the listeners see. Listener
  * threads add into it; the harness reads it after draining the bus. */
final class Layer {
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Catalyst phases of each finished query: (startMs, endMs) per phase. */
  val plans = mutable.ArrayBuffer.empty[Map[String, (Long, Long)]]
  def add(k: String, v: Double): Unit = synchronized { c(k) += v }
  def max(k: String, v: Double): Unit = synchronized { c(k) = math.max(c(k), v) }

  /** Seconds during which at least one job of the row ran. */
  def jobWallS: Double = synchronized {
    var total = 0L; var curS = -1L; var curE = -1L
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + curE - curS) / 1e3
  }
}

/** Listeners for the traced run. Spark jobs carry the row's key as a
  * local property set on the client thread (inherited by the threads a
  * row starts, such as stream executions); query-execution and
  * streaming events carry no properties, so they go to the row that is
  * active when they are delivered, and the harness drains the bus at
  * the end of every row. */
final class Tracer(spark: SparkSession, cores: Int) {
  val Key = "graftbench.row"
  private val layers = new ConcurrentHashMap[String, Layer]()
  private val stageLayer = new ConcurrentHashMap[Int, Layer]()
  private val jobLayer = new ConcurrentHashMap[Int, (Layer, Long)]()
  @volatile private var active: Layer = new Layer

  def begin(key: String): Layer = {
    val l = new Layer
    layers.put(key, l); active = l
    spark.sparkContext.setLocalProperty(Key, key)
    l
  }
  def end(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.setLocalProperty(Key, null)
    active = new Layer
  }

  private def layerOf(props: java.util.Properties): Layer =
    Option(props).flatMap(p => Option(p.getProperty(Key)))
      .flatMap(k => Option(layers.get(k))).getOrElse(active)

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val l = layerOf(e.properties)
      jobLayer.put(e.jobId, (l, e.time))
      e.stageIds.foreach(s => stageLayer.put(s, l))
      l.add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobLayer.remove(e.jobId)).foreach { case (l, t0) =>
        l.synchronized { l.jobIntervals += ((t0, e.time)) } }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val l = stageLayer.getOrDefault(si.stageId, active)
      l.add("spark.stages", 1)
      for (s <- si.submissionTime; f <- si.completionTime
           if si.numTasks == 1 && cores > 1)
        l.add("spark.single_task_stage_s", (f - s) / 1e3)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val l = stageLayer.getOrDefault(e.stageId, active)
      l.add("spark.tasks", 1)
      if (!e.taskInfo.successful) l.add("spark.failed_tasks", 1)
      l.max("spark.max_task_s", e.taskInfo.duration / 1e3)
      val m = e.taskMetrics
      if (m != null) {
        l.add("spark.task_s", m.executorRunTime / 1e3)
        l.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        l.add("spark.gc_s", m.jvmGCTime / 1e3)
        l.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        l.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        l.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        l.add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
        l.add("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
        l.add("scan.input_records", m.inputMetrics.recordsRead.toDouble)
        l.add("write.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        l.add("write.output_records", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  private val catalyst = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val l = active
      val ph = qe.tracker.phases.map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) }
      l.add("plan.queries", 1)
      Seq("analysis", "optimization", "planning").foreach(k =>
        ph.get(k).foreach { case (s, e) => l.add(s"plan.${k}_s", (e - s) / 1e3) })
      l.synchronized { l.plans += ph }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val l = active
      val p = e.progress
      val d = p.durationMs.asScala
      def ms(k: String): Double = d.get(k).map(_.doubleValue / 1e3).getOrElse(0.0)
      l.add("stream.batches", 1)
      l.add("stream.trigger_s", ms("triggerExecution"))
      l.add("stream.add_batch_s", ms("addBatch"))
      l.add("stream.query_planning_s", ms("queryPlanning"))
      l.add("stream.wal_commit_s", ms("walCommit"))
      l.add("stream.commit_offsets_s", ms("commitOffsets"))
      l.add("stream.latest_offset_s", ms("latestOffset"))
      l.add("stream.input_rows", p.numInputRows.toDouble)
      p.stateOperators.foreach { s =>
        l.add("stream.state_rows", s.numRowsTotal.toDouble)
        l.add("stream.state_memory_bytes", s.memoryUsedBytes.toDouble)
        l.add("stream.state_commit_s", s.commitTimeMs / 1e3)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streams)
  }
  def detach(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streams)
  }
}

/** Files under the run's scratch roots, for the lake-files layer. */
object DiskWalk {
  def snapshot(roots: Seq[java.nio.file.Path]): Map[String, Long] =
    roots.filter(java.nio.file.Files.exists(_)).flatMap { r =>
      val w = java.nio.file.Files.walk(r)
      try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .flatMap(p => scala.util.Try(p.toString -> java.nio.file.Files.size(p)).toOption)
        .toVector
      finally w.close()
    }.toMap
}
