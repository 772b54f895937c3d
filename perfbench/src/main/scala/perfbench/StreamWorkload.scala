package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.functions.col
import graft.core.Checkpoints
import graft.index.SimIndex
import graft.pipeline.{ConnectedComponents, Dedup, DedupConfig}
import graft.streaming.StreamingDedup

/** `stream`: the corpus rows in seeded shuffled order, as many small
  * parquet files, so members of one planted group land in different
  * micro-batches. Closed loop, one client: each repetition drains every
  * file with `StreamingDedup.run` (`Trigger.AvailableNow`, four files per
  * micro-batch) into a fresh state directory, then runs
  * `StreamingDedup.clustersIncremental`. Micro-batch latency is read from
  * the progress events of a `StreamingQueryListener`. */
object StreamWorkload {
  val Groups = 16
  /** Input files: nine micro-batches of four files, so every drain reaches
    * the default compaction cadence (the state folds once 8 batches are
    * committed, in the ninth) and the tail shows it. */
  val InputFiles = 36
  /** Clustering calls after each drain, and how many of them are not
    * timed: the first calls run up to 1.5 times as slow while the JIT
    * compiles the planner for them. */
  val ClusterCalls = 5
  val WarmClusterCalls = 2
  /** Files the warm-up drains: one micro-batch. */
  val WarmFiles = 4

  /** Progress events per query run id, and the run ids that terminated. */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentHashMap[java.util.UUID, java.util.List[StreamingQueryProgress]]()
    val ended = ConcurrentHashMap.newKeySet[java.util.UUID]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      events.computeIfAbsent(e.progress.runId,
        _ => java.util.Collections.synchronizedList(new java.util.ArrayList())).add(e.progress)
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.runId)

    /** Micro-batches that read input, once the query's terminated event
      * (posted after all its progress events) has arrived. */
    def batches(runId: java.util.UUID): Seq[StreamingQueryProgress] = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!ended.contains(runId) && System.nanoTime() < deadline) Thread.sleep(5)
      require(ended.contains(runId), "streaming listener did not see the query end")
      Option(events.get(runId)).map(_.asScala.toSeq).getOrElse(Nil)
        .filter(_.numInputRows > 0).sortBy(_.batchId)
    }
  }

  def triggerMs(p: StreamingQueryProgress): Long = p.durationMs.get("triggerExecution")

  def run(ctx: Ctx, out: Outcome, tr: Option[Tracer]): Unit = {
    val spark = ctx.spark
    val listener = new Progress
    spark.streams.addListener(listener)
    val setup = Setup.run { k =>
      val corpus = Inputs.corpus(spark, ctx.seed, Groups, ctx.root.resolve(s"corpus$k"))
      val dir = ctx.root.resolve(s"input$k")
      (corpus, dir, Inputs.streamFiles(spark, corpus, ctx.seed, InputFiles, dir))
    }
    val (corpus, input, inputBytes) = setup.last

    /** One drain into a fresh state dir: (micro-batches, drain seconds). */
    def drain(state: Path, from: Path = input): (Seq[StreamingQueryProgress], Double) = {
      val (q, sec) = Stats.timed {
        val q = StreamingDedup.run(spark, from.toString, state.toString, metrics = true)
        q.awaitTermination()
        q
      }
      q.exception.foreach(e => throw e)
      (listener.batches(q.runId), sec)
    }
    val warm = Stats.timed {
      val warmInput = Files.createDirectories(ctx.root.resolve("warm_input"))
      val s = Files.list(input)
      try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString).take(WarmFiles)
        .foreach(f => Files.copy(f, warmInput.resolve(f.getFileName),
          java.nio.file.StandardCopyOption.COPY_ATTRIBUTES))
      finally s.close()
      val state = ctx.root.resolve("warm_state")
      drain(state, warmInput)
      val clusters = StreamingDedup.clustersIncremental(spark, state.toString)
      clusters.count()
      Checkpoints.release(clusters)
    }._2
    out.metric("setup_s", ctx.sessionSec + setup.medianSec + warm, "s")
    out.info += f"setup: session ${ctx.sessionSec}%.2f s + median input ${setup.medianSec}%.2f s " +
      f"(${setup.secs.map(s => f"$s%.2f").mkString(", ")}) + warm-up drain $warm%.2f s"

    val lat = mutable.ArrayBuffer.empty[Double]
    val drainSecs = mutable.ArrayBuffer.empty[Double]
    val repSecs = mutable.ArrayBuffer.empty[Double]
    val tracedSecs = mutable.ArrayBuffer.empty[Double]
    val clusterSecs = mutable.ArrayBuffer.empty[Double]
    val clusterCounts = mutable.ArrayBuffer.empty[Int]
    val recalls = mutable.ArrayBuffer.empty[Double]
    val stored = mutable.ArrayBuffer.empty[Double]
    var lastState: Option[Path] = None
    val t0 = System.nanoTime()
    val deadline = ctx.deadlineAfter(t0)
    var i = 0
    while (i < (if (tr.isDefined) 2 else 1) || System.nanoTime() < deadline) {
      val state = ctx.root.resolve(s"state$i")
      val before = Checkpoints.snapshot(spark)
      val traced = tr.filter(_ => i % 2 == 1)
      val rep0 = System.nanoTime()
      def inSpan[A](name: String)(body: => A): A = traced match {
        case Some(t) => t.span(name)(body)
        case None => body
      }
      inSpan("stream") {
        out.attempted += 1 // the drain itself; each micro-batch is one more
        try {
          val (batches, sec) = drain(state)
          out.attempted += batches.size
          traced match {
            case Some(t) =>
              batches.foreach { p =>
                t.addSpan("streaming", t.current,
                  java.time.Instant.parse(p.timestamp).toEpochMilli, triggerMs(p))
              }
              streamingNotes(t, spark, state, batches)
            case None =>
              lat ++= batches.map(triggerMs(_) / 1000.0)
              drainSecs += sec
          }
          val m = StreamingDedup.metricsFromState(spark, state.toString)
            .selectExpr("sum(new_rows + exact_dropped)").head()
          val rows = if (m.isNullAt(0)) 0L else m.getLong(0)
          out.check(rows == corpus.rows, s"drain #$i ingested $rows rows, expected ${corpus.rows}")
        } catch { case e: Exception => out.fail(s"stream drain #$i threw: $e") }
        // full clusterings: before each, the labels snapshot that makes
        // later calls incremental is removed, so every call redoes the
        // whole fold; the first call's labels are checked. A traced run
        // prints no cluster_s, so each of its repetitions clusters once,
        // which keeps it well inside the run time limit.
        val calls = if (tr.isDefined) 1 else ClusterCalls
        val secs = (1 to calls).flatMap { c =>
          Stats.deleteTree(state.resolve("labels"))
          out.op(s"clustersIncremental #$i.$c") {
            val (labels, sec) = Stats.timed(inSpan("pipeline.cc") {
              val clusters = StreamingDedup.clustersIncremental(spark, state.toString)
              try Inputs.clusterMap(clusters) finally Checkpoints.release(clusters)
            })
            if (c == 1) {
              clusterCounts += labels.values.toSet.size
              recalls += Inputs.dupPairRecall(corpus.truth, labels)
              out.check(recalls.last >= 0.99, f"dup_pair_recall ${recalls.last}%.4f < 0.99 on #$i")
              traced.foreach(_.note("pipeline.cc", "rows_out", labels.size.toDouble))
            }
            sec
          }
        }
        if (traced.isEmpty && secs.size > WarmClusterCalls) {
          clusterSecs += Stats.median(secs.drop(WarmClusterCalls))
          out.info += s"clustersIncremental s after drain #$i ($WarmClusterCalls untimed): ${Setup.samples(secs)}"
        }
        traced.foreach { t =>
          t.span("bench") {
            val pairs = StreamingDedup.pairsFromState(spark, state.toString)
            val edges = pairs.select(col("a").as("s"), col("b").as("d"))
              .union(pairs.select(col("b").as("s"), col("a").as("d"))).distinct().count()
            t.note("pipeline.cc", "edges", pairs.distinct().count().toDouble)
            t.note("pipeline.cc", "local_path",
              if (edges <= ConnectedComponents.defaultLocalEdgeThreshold) 1.0 else 0.0)
          }
        }
        val leaked = (Checkpoints.snapshot(spark) -- before).size
        traced.foreach(_.note("core.checkpoints", "leaked_rdds", leaked.toDouble))
        out.check(leaked == 0, s"stream repetition #$i left $leaked persistent RDDs")
        stored += Stats.dirBytes(state).toDouble / inputBytes
      }
      (if (traced.isDefined) tracedSecs else repSecs) += Stats.secondsSince(rep0)
      lastState.foreach(Stats.deleteTree)
      lastState = Some(state)
      i += 1
    }
    val loopSec = Stats.secondsSince(t0)
    out.check(clusterCounts.distinct.size <= 1,
      s"cluster count differs across repetitions: ${clusterCounts.mkString(", ")}")
    // the streaming index has no QueryJob entry point; these are the calls
    // QueryJob.run makes for raw image rows, against the committed index
    val index = StreamingDedup.indexFromState(spark, lastState.get.toString)
      .withColumnRenamed("image_id", "id")
    Serve.run(ctx, out, tr, Groups) { f =>
      val queries = Dedup.signatures(spark.read.parquet(f), DedupConfig())
        .select(col("image_id").as("query_id"), col("sim_hi"), col("sim_lo"))
      SimIndex.queryTopN(index, queries, 5, 0.8)
        .select("query_id", "id").collect().toSeq.map(r => r.getString(0) -> r.getString(1))
    }

    out.metric("peak_rss_mb", Stats.peakRssMb(), "MB")
    if (lat.nonEmpty) {
      val p50 = Stats.median(lat.toSeq)
      val tail = Stats.tail(lat.toSeq)
      out.metric("images_per_s", corpus.rows / Stats.median(drainSecs.toSeq), "1/s")
      out.metric("latency_p50_s", p50, "s")
      out.metric("latency_tail_s", tail.value, "s")
      out.info += f"micro-batch latency p50 $p50%.3f s, tail ${tail.value}%.3f s (${tail.label})"
    }
    if (clusterSecs.nonEmpty) out.metric("cluster_s", Stats.median(clusterSecs.toSeq), "s")
    out.metric("stored_bytes_per_input_byte", Stats.median(stored.toSeq), "ratio")
    out.metric("dup_pair_recall", recalls.minOption.getOrElse(0.0), "ratio")
    out.info += f"$i drains in $loopSec%.1f s, ${corpus.rows} rows in ${Files.list(input).count()} " +
      f"files, clusters ${clusterCounts.distinct.mkString("/")}"
    spark.streams.removeListener(listener)
    tr.foreach(t => LayerReport.emit(t, ctx, out, "stream", tracedSecs.toSeq, repSecs.toSeq))
  }

  /** The streaming layer's own metrics, from the state directory's
    * per-batch metrics table and its compacted bases. A base named
    * `base_<n>` is written by the compaction in batch n + 1. */
  private def streamingNotes(t: Tracer, spark: org.apache.spark.sql.SparkSession,
      state: Path, batches: Seq[StreamingQueryProgress]): Unit = {
    val m = StreamingDedup.metricsFromState(spark, state.toString).collect()
    def sum(c: String) = m.map(_.getAs[Long](c)).sum.toDouble
    val input = batches.map(_.numInputRows).sum.toDouble
    t.note("streaming", "rows_out", sum("new_rows"))
    t.note("streaming", "read_ratio",
      if (sum("state_files_total") > 0) sum("state_files_read") / sum("state_files_total") else 0.0)
    t.note("streaming", "exact_dropped_share", if (input > 0) sum("exact_dropped") / input else 0.0)
    val index = state.resolve("index")
    val compacted = if (!Files.exists(index)) Set.empty[Long] else {
      val s = Files.list(index)
      try s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.matches("base_-?\\d+") => n.stripPrefix("base_").toLong + 1 }.toSet
      finally s.close()
    }
    val compactionMs = batches.filter(p => compacted.contains(p.batchId)).map(triggerMs)
    if (compactionMs.nonEmpty)
      t.note("streaming", "compaction_batch_s", compactionMs.sum / 1000.0 / compactionMs.size)
    t.note("streaming", "batches", batches.size.toDouble)
  }
}
