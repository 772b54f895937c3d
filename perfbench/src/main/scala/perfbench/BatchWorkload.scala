package perfbench

import scala.collection.mutable
import graft.DedupJob
import graft.core.Checkpoints
import graft.io.ParquetTableIO
import graft.pipeline.DedupConfig

/** `batch`: what a corpus owner launches. Closed loop, one client: each
  * operation is `DedupJob.run` over the whole planted corpus into a fresh
  * work directory. */
object BatchWorkload {
  val Groups = 60

  def run(ctx: Ctx, out: Outcome, tr: Option[Tracer]): Unit = {
    val spark = ctx.spark
    val setup = Setup.run { k =>
      Inputs.corpus(spark, ctx.seed, Groups, ctx.root.resolve(s"corpus$k"))
    }
    val corpus = setup.last
    val images = corpus.read(spark)
    val warm = Stats.timed(DedupJob.run(spark, images, ctx.root.resolve("warm").toString)
      .count())._2
    out.metric("setup_s", ctx.sessionSec + setup.medianSec + warm, "s")
    out.info += f"setup: session ${ctx.sessionSec}%.2f s + median input ${setup.medianSec}%.2f s " +
      f"(${setup.secs.map(s => f"$s%.2f").mkString(", ")}) + warm-up DedupJob $warm%.2f s"

    val lat = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val clusterCounts = mutable.ArrayBuffer.empty[Int]
    val recalls = mutable.ArrayBuffer.empty[Double]
    val stored = mutable.ArrayBuffer.empty[Double]
    // what an untraced DedupJob.run committed, for the traced copy to match
    var reference = Map.empty[String, Long]
    var lastWork: Option[java.nio.file.Path] = None
    var lastPairs: Option[org.apache.spark.sql.DataFrame] = None
    val t0 = System.nanoTime()
    val deadline = ctx.deadlineAfter(t0)
    var i = 0
    // at least two operations; in a traced run every second one is traced
    while (i < 2 || System.nanoTime() < deadline) {
      val work = ctx.root.resolve(s"work$i")
      val before = Checkpoints.snapshot(spark)
      val tracedRep = tr.isDefined && i % 2 == 1
      out.op(s"DedupJob.run #$i") {
        val clusters = if (tracedRep) {
          val t = tr.get
          val (pairs, sec) = Stats.timed(t.span("batch")(
            TracedDedup.run(t, spark, images, work.toString)))
          traced += sec
          lastPairs = Some(pairs)
          val got = TracedDedup.committed(spark, work.toString)
          out.check(got == reference, s"traced repetition #$i committed " +
            (got.toSet diff reference.toSet).toSeq.sorted.mkString(", ") +
            s" where DedupJob.run committed " +
            (reference.toSet diff got.toSet).toSeq.sorted.mkString(", "))
          new ParquetTableIO(work.toString)
            .readStage(spark, "clusters", DedupConfig().stageHash).get
        } else {
          val (c, sec) = Stats.timed(DedupJob.run(spark, images, work.toString))
          lat += sec
          if (tr.isDefined) reference = TracedDedup.committed(spark, work.toString)
          val leaked = (Checkpoints.snapshot(spark) -- before).size
          tr.foreach(_.note("core.checkpoints", "leaked_rdds", leaked.toDouble))
          out.check(leaked == 0, s"DedupJob.run #$i left $leaked persistent RDDs")
          c
        }
        val labels = Inputs.clusterMap(clusters)
        clusterCounts += labels.values.toSet.size
        recalls += Inputs.dupPairRecall(corpus.truth, labels)
        out.check(recalls.last >= 0.99, f"dup_pair_recall ${recalls.last}%.4f < 0.99 on #$i")
        stored += Stats.dirBytes(work).toDouble / corpus.bytes
      }
      lastWork.foreach(Stats.deleteTree)
      lastWork = Some(work)
      i += 1
    }
    val loopSec = Stats.secondsSince(t0)
    out.check(clusterCounts.distinct.size <= 1,
      s"cluster count differs across repetitions: ${clusterCounts.mkString(", ")}")
    val work = lastWork.get.toString

    // a second run on a committed work directory resumes every stage
    val (_, resumeSec) = Stats.timed(out.op("DedupJob.run resume") {
      DedupJob.run(spark, images, work).count()
    })
    val lineage = spark.read.parquet(s"$work/lineage").collect()
    out.check(lineage.nonEmpty && lineage.forall(_.getBoolean(1)),
      s"resume recomputed stages: ${lineage.filterNot(_.getBoolean(1)).map(_.getString(0)).mkString(", ")}")

    val clusterSecs = Setup.reclusterSecs(spark, images, work)
    Serve.run(ctx, out, tr, Groups) { f =>
      graft.QueryJob.run(spark, work, spark.read.parquet(f))
        .select("query_id", "id").collect().toSeq.map(r => r.getString(0) -> r.getString(1))
    }

    out.metric("peak_rss_mb", Stats.peakRssMb(), "MB")
    if (lat.nonEmpty) Setup.latencyMetrics(out, lat.toSeq, corpus.rows.toDouble)
    out.metric("cluster_s", Stats.median(clusterSecs), "s")
    out.info += s"recluster s: ${Setup.samples(clusterSecs)}"
    out.metric("stored_bytes_per_input_byte", Stats.median(stored.toSeq), "ratio")
    out.metric("dup_pair_recall", recalls.minOption.getOrElse(0.0), "ratio")
    out.info += f"$i operations in $loopSec%.1f s (${lat.size} untraced, ${traced.size} traced), " +
      f"${corpus.rows} images, clusters ${clusterCounts.distinct.mkString("/")}"

    tr.foreach { t =>
      t.note("io", "resume_s", resumeSec)
      val (distributed, dSec) = TracedDedup.distributedCc(spark, images, lastPairs.get)
      val local = Inputs.clusterMap(new ParquetTableIO(work)
        .readStage(spark, "clusters", DedupConfig().stageHash).get)
      out.check(distributed == local,
        "distributed connected components disagree with the local path")
      t.note("pipeline.cc", "distributed_wall_s", dSec)
      LayerReport.emit(t, ctx, out, "batch", traced.toSeq, lat.toSeq)
    }
  }
}
