package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Checkpoints
import graft.io.ParquetTableIO
import graft.pipeline.{Dedup, DedupConfig}

/** Set-up and post-run helpers shared by the workloads. */
object Setup {
  final case class Reps[A](values: Seq[A], secs: Seq[Double]) {
    def last: A = values.last
    def medianSec: Double = Stats.median(secs)
  }

  /** Set-up is repeated three times and its median time reported, so the
    * time moved into set-up shows without one slow repetition deciding it;
    * the last repetition's result is used. */
  def run[A](rep: Int => A): Reps[A] = {
    val done = (1 to 3).map(k => Stats.timed(rep(k)))
    Reps(done.map(_._1), done.map(_._2))
  }

  def latencyMetrics(out: Outcome, lat: Seq[Double], imagesPerOp: Double): Unit = {
    val p50 = Stats.median(lat)
    val tail = Stats.tail(lat)
    out.metric("images_per_s", imagesPerOp / p50, "1/s")
    out.metric("latency_p50_s", p50, "s")
    out.metric("latency_tail_s", tail.value, "s")
    out.info += f"latency p50 $p50%.3f s, tail ${tail.value}%.3f s (${tail.label}): ${samples(lat)}"
  }

  /** Times of seven re-clusterings of a work directory's committed pairs
    * (`Dedup.clusters`, materialized by a count), after five untimed ones.
    * A clustering is a few sub-second Spark jobs, mostly query planning,
    * and the planner's code is still being compiled by the JIT when the
    * workload reaches this point: without the untimed calls, the first
    * samples run up to a third slower and the median moves by run. */
  def reclusterSecs(spark: SparkSession, images: DataFrame,
      workDir: String): Seq[Double] = {
    val pairs = new ParquetTableIO(workDir)
      .readStage(spark, "pairs", DedupConfig().stageHash).get
    val before = Checkpoints.snapshot(spark)
    val secs = (1 to 12).map { _ =>
      val s = Stats.timed(Dedup.clusters(images, pairs).count())._2
      Checkpoints.sweep(spark, before)
      s
    }
    secs.drop(5)
  }

  def samples(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString(", ")
}
