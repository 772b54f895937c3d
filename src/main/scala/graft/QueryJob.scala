package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.SimIndex
import graft.io.ParquetTableIO
import graft.pipeline.{Dedup, DedupConfig}

/** spark-submit entrypoint for top-N similarity queries against a persisted
  * index — the workflow of the reference's `matchfunctionsfromindex`
  * (`tools/matchfunctionsfromindex.cpp:82-200`): open an existing index
  * (`create=false`, `simhashsearchindex.cpp:23-40`), load the metadata
  * store, featurize the query inputs, probe the permuted-band buckets,
  * rank by similarity, and report enriched matches.
  *
  *   spark-submit --class graft.QueryJob app.jar \
  *     <workDir> <queriesParquet> <outDir> [minSimilarity] [topN]
  *     [metadataTxt] [probes]
  *
  *  - <workDir> is a `graft.DedupJob` work directory: the committed `bands`
  *    stage table IS the index (reopened, never rebuilt — the reference's
  *    reopen-existing-index semantics). A missing/stale stage fails fast
  *    with instructions, mirroring the tool's refusal to run without an
  *    index file.
  *  - <queriesParquet> is either raw image rows (featurized with the same
  *    config as ingest — the reference disassembles its query binary with
  *    the same FeatureOptions) or pre-computed signatures
  *    (id/image_id, sim_hi, sim_lo) — the `functionfingerprints` form.
  *  - minSimilarity defaults to 0.8 like the tool
  *    (`matchfunctionsfromindex.cpp:36`); matches must EXCEED it (F5).
  *  - metadataTxt, when given, is the reference's 5-column metadata format
  *    (`functionmetadata.cpp:47-72`); hits join file name, base64-decoded
  *    symbol, and the vulnerability flag (J3), ids following the
  *    `fileid:address` convention.
  *  - probes > 0 enables query-side multi-probe (`SimIndex.queryTopN
  *    extraProbes`): each band additionally probes that many lowest-margin
  *    key-bit flips, matching a wide-band index's recall against one built
  *    with several-fold fewer bands. Raw image queries are featurized with
  *    fold margins automatically; pre-computed signature queries must
  *    carry the `margins` column (`Dedup.signaturesWithMargins`) — probing
  *    without margins fails fast rather than probing random bits.
  *
  * A batch of at most `SimIndex.smallBatchRows` queries (2 × the session's
  * default parallelism) is served eagerly in 2 Spark jobs: raw rows are
  * featurized in their own scan partitions and collected, and the index
  * rows under their probe keys are read with one pushed predicate and
  * collected (`SimIndex.queryTopN`); the result is a local DataFrame.
  * Larger batches are spread across the session's tasks and served lazily
  * by the broadcast-join plan, as is a small batch whose index hits exceed
  * the broadcast budget.
  *
  * Results land in <outDir> as parquet ordered by (query_id, rank); the
  * strongest matches are echoed to stdout like the tool's report lines.
  */
object QueryJob {

  def run(spark: SparkSession, workDir: String, queries: DataFrame,
      minSimilarity: Double = 0.8, topN: Int = 5,
      metadataTxt: Option[String] = None,
      cfg: DedupConfig = DedupConfig(), probes: Int = -1): DataFrame = {
    // one probe knob: the explicit parameter (CLI [probes]) when given,
    // else the config's own bandProbes — a cfg carrying bandProbes > 0
    // must probe here too, not silently query exact-only (the index that
    // cfg built with DedupJob stores the reduced band count that NEEDS
    // query-side probes for its recall)
    val extraProbes = if (probes >= 0) probes else cfg.bandProbes
    val cfgHash = cfg.stageHash
    val io = new ParquetTableIO(workDir)
    val index = io.readStage(spark, "bands", cfgHash).getOrElse(sys.error(
      s"no committed 'bands' stage under $workDir for config hash $cfgHash " +
        "— run graft.DedupJob over the corpus first (the index is reopened, " +
        "never rebuilt here)"))
      .withColumnRenamed("image_id", "id")
    // (query_id, sim_hi, sim_lo[, margins]); raw image rows are featurized
    // where they lie for the small path and spread first for the join plan
    val withMargins = extraProbes > 0
    def querySigs(spread: Boolean): DataFrame =
      if (queries.columns.contains("sim_hi")) {
        require(!withMargins || queries.columns.contains("margins"),
          s"probes=$extraProbes needs fold margins, but the pre-computed " +
            "signature queries carry no `margins` column — featurize with " +
            "Dedup.signaturesWithMargins, or pass raw image rows")
        val idCol = if (queries.columns.contains("query_id")) "query_id"
          else if (queries.columns.contains("image_id")) "image_id" else "id"
        val base = Seq(col(idCol).as("query_id"), col("sim_hi"), col("sim_lo"))
        queries.select((if (withMargins) base :+ col("margins")
          else base): _*)
      } else {
        val sigs =
          if (!spread) Dedup.featurized(queries, cfg, withMargins)
          else if (withMargins) Dedup.signaturesWithMargins(queries, cfg)
          else Dedup.signatures(queries, cfg)
        val base = Seq(col("image_id").as("query_id"),
          col("sim_hi"), col("sim_lo"))
        sigs.select((if (withMargins) base :+ col("margins")
          else base): _*)
      }
    val topn = SimIndex.localTopN(index, querySigs(spread = false), topN,
        minSimilarity, cfg, extraProbes)
      .getOrElse(SimIndex.joinTopN(index, querySigs(spread = true), topN,
        minSimilarity, cfg, extraProbes))
    metadataTxt match {
      case Some(m) =>
        SimIndex.enrichTopN(topn,
          graft.refio.RefFormats.readMetadata(spark, m))
      case None => topn
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: graft.QueryJob <workDir> <queriesParquet> " +
        "<outDir> [minSimilarity] [topN] [metadataTxt] [probes]")
      sys.exit(2)
    }
    val Array(workDir, queriesPath, outDir) = args.take(3)
    val minSim = args.lift(3).map(_.toDouble).getOrElse(0.8)
    val topN = args.lift(4).map(_.toInt).getOrElse(5)
    val metadata = args.lift(5)
    val probes = args.lift(6).map(_.toInt).getOrElse(0)
    val spark = Bench.makeSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val result = run(spark, workDir, spark.read.parquet(queriesPath),
      minSim, topN, metadata, probes = probes)
      .orderBy(col("query_id"), col("rank"))
    result.write.mode("overwrite").parquet(outDir)
    val persisted = spark.read.parquet(outDir)
    println(s"matches: ${persisted.count()} rows -> $outDir")
    // reference-style report lines for the strongest matches
    persisted.orderBy(col("similarity").desc, col("query_id"), col("rank"))
      .limit(25).collect().foreach { r =>
        val base = f"[${r.getAs[Int]("similarity")}%3d/128] " +
          s"${r.getAs[String]("query_id")} -> ${r.getAs[String]("id")}"
        val sym =
          if (r.schema.fieldNames.contains("symbol") &&
              r.getAs[String]("symbol") != null)
            s" ${r.getAs[String]("symbol")}" +
              (if (r.getAs[Boolean]("vulnerable")) " [VULNERABLE]" else "")
          else ""
        println(base + sym)
      }
    spark.stop()
  }
}
