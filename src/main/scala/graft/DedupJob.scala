package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{ParquetTableIO, StageRunner}
import graft.pipeline.{Dedup, DedupConfig}

/** spark-submit entrypoint for the full dedup pipeline with checkpoint-
  * resumable stage boundaries and lineage + metrics tables (north rule).
  *
  *   spark-submit --class graft.DedupJob app.jar <inputParquet> <workDir>
  *
  * Stage tables land under <workDir>/<stage>/data with an atomically-renamed
  * MANIFEST.json keyed by the config hash; a re-launched job (e.g. after an
  * executor-loss abort) recomputes only the stages whose manifest is missing
  * or stale. Mirrors the reference's reopen-existing-index semantics
  * (`simhashsearchindex.cpp:23-40`) at every stage boundary instead of only
  * at the index file.
  */
object DedupJob {

  def run(spark: SparkSession, images: DataFrame, workDir: String,
      cfg: DedupConfig = DedupConfig()): DataFrame = {
    val cfgHash = cfg.stageHash
    val io = new ParquetTableIO(workDir)
    val stages = new StageRunner(io, spark, cfgHash)

    val sigs = stages.stage("signatures")(Dedup.signaturesFor(images, cfg))
    // persist the band table range-partitioned + sorted on the bucket key —
    // the reference's ordered index layout (T1, simhashsearchindex.hpp:98-99)
    // as a columnar table: QueryJob's pushed bucket predicate can skip row
    // groups by their (band_id, band_key) statistics, and the sorted-neighbor
    // pass reads presorted runs. EXACT keys only: under
    // a multi-probe config (cfg.bandProbes > 0) the probe rows are generated
    // transiently into the candidate pass below — never persisted, so the
    // stored index keeps the reduced-band volume that is the probes' point.
    val bands = stages.stage("bands")(
      Dedup.bands(sigs, cfg)
        .repartitionByRange(col("band_id"), col("band_key"), col("sort_hi"))
        .sortWithinPartitions("band_id", "band_key", "sort_hi", "sort_lo"))
    val cands = stages.stage("candidates")(
      Dedup.candidates(Dedup.candidateBands(sigs, cfg, Some(bands)), cfg))
    val pairs = stages.stage("pairs")(
      Dedup.verified(cands, sigs, cfg)
        .union(Dedup.substringPairs(sigs, cfg)).distinct())
    val clusters = stages.stage("clusters")(Dedup.clusters(images, pairs))

    // metrics + lineage tables (north rule: per-partition observability;
    // bucket skew stats make capped rows explicit — no silent truncation).
    // Stage row counts come from the commit manifests (each commit's write
    // job counted its rows — re-running a count job per stage was pure
    // overhead, r5 verdict #7). The jobs that remain (input count, skew
    // stats, distinct clusters) and the lineage and partition-lineage
    // writes are independent and run concurrently; only the metrics table,
    // which needs their results, is written after them.
    import spark.implicits._
    def rowsOf(name: String, fallback: => Long): Long =
      io.stageRows(name, cfgHash).getOrElse(fallback)
    val Seq(inputRows, skewRow, nClusters, _, _) =
      graft.core.Checkpoints.parallelRun[Any](Seq(
        () => images.count(),
        () => Dedup.bucketStats(bands, cfg).collect()(0),
        () => clusters.select("cluster_id").distinct().count(),
        () => stages.lineageLog.toDF("stage", "resumed_from_checkpoint")
          .coalesce(1).write.mode("overwrite").parquet(s"$workDir/lineage"),
        // per-partition lineage of the widest stage
        () => bands.groupBy(spark_partition_id().as("partition")).count()
          .write.mode("overwrite").parquet(s"$workDir/partition_lineage")))
    val skew = skewRow.asInstanceOf[org.apache.spark.sql.Row]
    val metrics = Seq(
      ("input_rows", inputRows.asInstanceOf[Long]),
      ("signatures", rowsOf("signatures", sigs.count())),
      ("band_rows", rowsOf("bands", bands.count())),
      ("buckets", skew.getAs[Long]("buckets")),
      ("max_bucket", skew.getAs[Long]("max_bucket")),
      ("hot_buckets_above_threshold", skew.getAs[Long]("hot_buckets")),
      ("candidate_pairs", rowsOf("candidates", cands.count())),
      ("verified_pairs", rowsOf("pairs", pairs.count())),
      ("clusters", nClusters.asInstanceOf[Long])
    ).toDF("metric", "value")
    metrics.coalesce(1).write.mode("overwrite").parquet(s"$workDir/metrics")
    clusters
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.DedupJob <inputParquet> <workDir>")
      sys.exit(2)
    }
    val Array(input, workDir) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.makeSession(cpus)
    val clusters = run(spark, spark.read.parquet(input), workDir)
    clusters.write.mode("overwrite").parquet(s"$workDir/clusters_out")
    println(s"clusters: ${spark.read.parquet(s"$workDir/clusters_out").count()} rows")
    spark.stop()
  }
}
