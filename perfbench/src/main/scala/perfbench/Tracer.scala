package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spans recorded from outside the program, around the calls the benchmark
  * makes into each layer's public function.
  *
  * A span has a name, a start, an end and a parent; spans are kept in memory
  * and only turned into the per-layer table when the run ends. Spark work
  * is folded in by a `SparkListener` registered here: each job goes to the
  * innermost span open when it was submitted, and each task's metrics go to
  * its stage's job. Jobs are matched by time, not by job group, because the
  * program submits some jobs from its own worker threads, which do not
  * inherit the caller's job group. The job group is still set on every
  * span, so an event log names the layer of each job submitted from the
  * benchmark thread.
  *
  * Spans opened by [[span]] nest on the benchmark thread. Spans that
  * happen on another thread (a streaming micro-batch) are added after the
  * fact with [[addSpan]] under an open parent.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val nextId = new AtomicInteger(0)
  // epoch milliseconds (listener and streaming timestamps) minus the
  // nanoTime clock the spans are timed on
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageTasks = new ConcurrentHashMap[Int, TaskSums]()
  @volatile private var markerJob = -1
  @volatile private var markerEnded = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (e.properties != null && e.properties.getProperty(MarkerKey) != null)
        markerJob = e.jobId
      else {
        jobs.put(e.jobId, Job(e.jobId, e.time))
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) markerEnded = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sums = stageTasks.computeIfAbsent(e.stageId, _ => new TaskSums)
      sums.synchronized {
        if (e.reason != Success) sums.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          sums.runMs += m.executorRunTime
          sums.gcMs += m.jvmGCTime
          sums.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          sums.spill += m.diskBytesSpilled
          sums.inRecords += m.inputMetrics.recordsRead
          sums.inBytes += m.inputMetrics.bytesRead
          sums.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Runs `body` in a span named `name` under the innermost open span. */
  def span[A](name: String)(body: => A): A = {
    val s = Span(nextId.incrementAndGet(), name, open.headOption.map(_.id),
      System.currentTimeMillis(), System.nanoTime())
    spans.synchronized(spans += s)
    open = s :: open
    spark.sparkContext.setJobGroup(s"perfbench-${s.id}", name,
      interruptOnCancel = false)
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(s"perfbench-${p.id}",
          p.name, interruptOnCancel = false)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** Id of the innermost open span. */
  def current: Int = open.head.id

  /** Adds a finished span observed on another thread. */
  def addSpan(name: String, parent: Int, startMs: Long, durationMs: Long): Span = {
    val s = Span(nextId.incrementAndGet(), name, Some(parent), startMs,
      startMs * 1000000L - epochOffsetNs, startMs + durationMs,
      (startMs + durationMs) * 1000000L - epochOffsetNs)
    spans.synchronized(spans += s)
    s
  }

  /** Records a layer-specific measurement on the named layer. */
  def note(layer: String, key: String, value: Double): Unit =
    notes.synchronized(notes.getOrElseUpdate((layer, key), mutable.ArrayBuffer.empty) += value)
  private val notes = mutable.Map.empty[(String, String), mutable.ArrayBuffer[Double]]

  /** Mean of the values recorded under (`layer`, `key`), if any. */
  def noteOf(layer: String, key: String): Option[Double] =
    notes.synchronized(notes.get((layer, key)).map(vs => vs.sum / vs.size))

  /** Waits until the listener has seen every job submitted so far: the
    * listener bus is asynchronous, so a marker job is run and its end event
    * awaited (events of one queue arrive in order). */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.clearJobGroup()
    markerEnded = false
    sc.setLocalProperty(MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!markerEnded && System.nanoTime() < deadline) Thread.sleep(5)
    require(markerEnded, "Spark listener did not catch up within 30 s")
  }

  def stop(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** The per-layer fold of everything recorded so far. */
  def layers(cores: Int): Seq[Layer] = {
    drain()
    val all = spans.synchronized(spans.toVector)
    val children = all.groupBy(_.parent)
    def selfSec(s: Span): Double = {
      val kids = children.getOrElse(Some(s.id), Vector.empty)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var hi = Long.MinValue
      kids.foreach { case (a, b) =>
        val from = math.max(a, hi)
        if (b > from) covered += b - from
        hi = math.max(hi, b)
      }
      (s.endNs - s.startNs - covered) / 1e9
    }
    // each job goes to the innermost span open at its submission time
    val byId = all.map(s => s.id -> s).toMap
    def depth(s: Span): Int =
      Iterator.iterate(s.parent)(_.flatMap(byId.get).flatMap(_.parent))
        .takeWhile(_.isDefined).size
    def owner(tMs: Long): Option[Span] =
      all.filter(s => s.startMs <= tMs && tMs <= s.endMs)
        .maxByOption(s => (depth(s), s.startNs))
    val jobSums = mutable.Map.empty[Int, TaskSums]
    stageJob.asScala.foreach { case (stage, job) =>
      Option(stageTasks.get(stage)).foreach { t =>
        jobSums.getOrElseUpdate(job, new TaskSums).add(t)
      }
    }
    val jobOwner = jobs.values.asScala.toSeq.flatMap(j => owner(j.submitMs).map(_.name -> j.id))
    all.groupBy(_.name).toSeq.map { case (name, ss) =>
      val sums = new TaskSums
      val mine = jobOwner.filter(_._1 == name).map(_._2)
      mine.foreach(j => jobSums.get(j).foreach(sums.add))
      val wall = ss.map(selfSec).sum
      Layer(name, ss.size, wall, ss.map(s => (s.endNs - s.startNs) / 1e9).sum,
        mine.size, sums, cores)
    }.sortBy(_.name)
  }
}

object Tracer {
  private val MarkerKey = "perfbench.listener.marker"

  final case class Span(id: Int, name: String, parent: Option[Int],
      startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L)

  final case class Job(id: Int, submitMs: Long)

  final class TaskSums {
    var failed = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L
    var inRecords = 0L; var inBytes = 0L; var outBytes = 0L
    def add(o: TaskSums): Unit = o.synchronized {
      failed += o.failed; runMs += o.runMs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; spill += o.spill
      inRecords += o.inRecords; inBytes += o.inBytes; outBytes += o.outBytes
    }
  }

  /** One row of the per-layer table. `wallSec` is self time: the spans'
    * durations minus the time their child spans cover. */
  final case class Layer(name: String, spans: Int, wallSec: Double,
      spanSec: Double, jobs: Int, sums: TaskSums, cores: Int) {
    def taskSec: Double = sums.runMs / 1000.0
    def util: Double = if (wallSec > 0) taskSec / (wallSec * cores) else 0.0
  }
}
