package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, spark_partition_id}
import graft.core.Checkpoints
import graft.io.{ParquetTableIO, StageRunner}
import graft.pipeline.{ConnectedComponents, Dedup, DedupConfig}

/** `DedupJob.run`, call for call, from outside the program, so each
  * layer's public function runs in its own span: the same `Dedup` calls
  * under the same default `DedupConfig`, the same five `StageRunner.stage`
  * commits and the same metrics, lineage and partition-lineage tables.
  *
  * It differs in one way. `DedupJob.run` hands each stage's lazy plan to
  * its commit, so a layer's work would run inside the commit's write job.
  * Here each layer's output is materialized inside its own span (a local
  * checkpoint, as `Dedup.run` does for signatures and candidates) and then
  * committed inside an `io` span. That extra materialization is part of a
  * traced repetition's time, and so of the tracing overhead. The caller
  * checks that a traced repetition commits the same stage row counts and
  * metrics table as an untraced `DedupJob.run` ([[committed]]), so the
  * copy cannot drift from the program unnoticed.
  *
  * The metric jobs and tables after the stages run in the caller's span and
  * show as the unattributed remainder. Bookkeeping counts for the
  * layer-specific metrics run in `bench` spans. The checkpoints this makes
  * are released in a `core.checkpoints` span at the end.
  */
object TracedDedup {
  val Stages: Seq[String] = Seq("signatures", "bands", "candidates", "pairs", "clusters")

  /** What a `DedupJob.run` committed in `workDir`: each stage's row count,
    * from its commit manifest, and each row of its metrics table. */
  def committed(spark: SparkSession, workDir: String): Map[String, Long] = {
    val io = new ParquetTableIO(workDir)
    val stageRows = Stages.map(s => s"rows($s)" -> io.stageRows(s, DedupConfig().stageHash).getOrElse(-1L))
    val metrics = spark.read.parquet(s"$workDir/metrics").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    (stageRows ++ metrics).toMap
  }

  /** Runs the traced pipeline into `workDir`; returns the committed
    * `pairs` stage (for the distributed connected-components check). */
  def run(tr: Tracer, spark: SparkSession, images: DataFrame, workDir: String): DataFrame = {
    import spark.implicits._
    val cfg = DedupConfig()
    val cfgHash = cfg.stageHash
    val before = Checkpoints.snapshot(spark)
    val io = new ParquetTableIO(workDir)
    val stages = new StageRunner(io, spark, cfgHash)
    def rows(stage: String): Long = io.stageRows(stage, cfgHash).get

    val sigs0 = tr.span("featurize")(Checkpoints.ckpt(
      if (cfg.bandProbes > 0) Dedup.signaturesWithMargins(images, cfg)
      else Dedup.signatures(images, cfg)))
    val sigs = tr.span("io")(stages.stage("signatures")(sigs0))
    val bands0 = tr.span("lsh")(Checkpoints.ckpt(Dedup.bands(sigs, cfg)
      .repartitionByRange(col("band_id"), col("band_key"), col("sort_hi"))
      .sortWithinPartitions("band_id", "band_key", "sort_hi", "sort_lo")))
    val bands = tr.span("io")(stages.stage("bands")(bands0))
    val cands0 = tr.span("pipeline.candidates") {
      val candInput =
        if (cfg.bandProbes > 0) bands.unionByName(Dedup.probeBands(sigs, cfg))
        else bands
      Checkpoints.ckpt(Dedup.candidates(candInput, cfg))
    }
    val cands = tr.span("io")(stages.stage("candidates")(cands0))
    val verified = tr.span("pipeline.verify")(Checkpoints.ckpt(Dedup.verified(cands, sigs, cfg)))
    val substring = tr.span("pipeline.substring")(Checkpoints.ckpt(Dedup.substringPairs(sigs, cfg)))
    val pairs = tr.span("io")(stages.stage("pairs")(verified.union(substring).distinct()))
    val clusters0 = tr.span("pipeline.cc")(Checkpoints.ckpt(Dedup.clusters(images, pairs)))
    val clusters = tr.span("io")(stages.stage("clusters")(clusters0))

    // the rest of DedupJob.run: metric jobs and its three small tables
    val Seq(inputRows, skewRow, nClusters) = Checkpoints.parallelRun[Any](Seq(
      () => images.count(),
      () => Dedup.bucketStats(bands, cfg).collect()(0),
      () => clusters.select("cluster_id").distinct().count()))
    val skew = skewRow.asInstanceOf[Row]
    Seq(("input_rows", inputRows.asInstanceOf[Long]),
        ("signatures", rows("signatures")),
        ("band_rows", rows("bands")),
        ("buckets", skew.getAs[Long]("buckets")),
        ("max_bucket", skew.getAs[Long]("max_bucket")),
        ("hot_buckets_above_threshold", skew.getAs[Long]("hot_buckets")),
        ("candidate_pairs", rows("candidates")),
        ("verified_pairs", rows("pairs")),
        ("clusters", nClusters.asInstanceOf[Long]))
      .toDF("metric", "value").coalesce(1).write.mode("overwrite")
      .parquet(s"$workDir/metrics")
    stages.lineageLog.toDF("stage", "resumed_from_checkpoint")
      .coalesce(1).write.mode("overwrite").parquet(s"$workDir/lineage")
    bands.groupBy(spark_partition_id().as("partition"))
      .count().write.mode("overwrite").parquet(s"$workDir/partition_lineage")

    tr.span("bench") {
      val nSigs = rows("signatures").toDouble
      val nBands = rows("bands").toDouble
      val nCands = rows("candidates").toDouble
      val nVerified = verified.count().toDouble
      val nHamming = cands.filter(col("dist") <= cfg.maxHamming).count().toDouble
      val edges = pairs.select(col("a").as("s"), col("b").as("d"))
        .union(pairs.select(col("b").as("s"), col("a").as("d"))).distinct().count()
      tr.note("featurize", "rows_out", nSigs)
      tr.note("lsh", "rows_out", nBands)
      tr.note("lsh", "band_rows_per_image", nBands / nSigs)
      tr.note("lsh", "max_bucket", skew.getAs[Long]("max_bucket").toDouble)
      tr.note("pipeline.candidates", "rows_out", nCands)
      tr.note("pipeline.candidates", "pairs_per_band_row", nCands / nBands)
      tr.note("pipeline.verify", "rows_out", nVerified)
      tr.note("pipeline.verify", "accept_ratio", nVerified / nCands)
      tr.note("pipeline.verify", "jaccard_share",
        if (nVerified > 0) (nVerified - nHamming) / nVerified else 0.0)
      tr.note("pipeline.substring", "rows_out", substring.count().toDouble)
      tr.note("pipeline.cc", "rows_out", rows("clusters").toDouble)
      tr.note("pipeline.cc", "edges", rows("pairs").toDouble)
      tr.note("pipeline.cc", "local_path",
        if (edges <= ConnectedComponents.defaultLocalEdgeThreshold) 1.0 else 0.0)
      tr.note("io", "rows_out", Stages.map(rows).sum.toDouble)
    }
    val released = tr.span("core.checkpoints")(Checkpoints.sweep(spark, before))
    tr.note("core.checkpoints", "rows_out", released.toDouble)
    pairs
  }

  /** Labels of the committed clustering, and of the distributed
    * connected-components loop forced on the same edges
    * (`localEdgeThreshold = 0`) with its wall time. At this size the
    * default path is the driver-local union-find, so this is the only way
    * the scale path runs. */
  def distributedCc(spark: SparkSession, images: DataFrame,
      pairs: DataFrame): (Map[String, String], Double) = {
    val before = Checkpoints.snapshot(spark)
    val (labels, sec) = Stats.timed {
      Inputs.clusterMap(ConnectedComponents.run(spark, pairs,
          images.select(col("image_id").as("id")), localEdgeThreshold = 0)
        .withColumnRenamed("id", "image_id"))
    }
    Checkpoints.sweep(spark, before)
    (labels, sec)
  }
}
