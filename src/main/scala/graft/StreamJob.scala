package graft

import org.apache.spark.sql.streaming.Trigger
import graft.pipeline.DedupConfig
import graft.streaming.StreamingDedup

/** spark-submit entrypoint for the streaming incremental dedup pipeline —
  * the streaming sibling of `DedupJob`.
  *
  *   spark-submit --class graft.StreamJob app.jar <inputDir> <stateDir> [intervalSec|cluster|resize <newP>]
  *
  * Modes:
  *  - no third arg: drain every file currently in <inputDir> in bounded
  *    micro-batches (`Trigger.AvailableNow`), write the clustering of
  *    everything ingested so far to <stateDir>/clusters_out, and exit —
  *    safe to re-launch as new files land (the streaming checkpoint skips
  *    files already processed, and the band index / pair log carry forward).
  *  - `intervalSec` (a number): tail the directory continuously.
  *  - `cluster`: NO streaming query — read-only clustering of the state
  *    accumulated so far, written to <stateDir>/clusters_out. This is the
  *    periodic-clustering companion to a long-running `intervalSec`
  *    instance: it never touches the checkpoint or claims input files, so
  *    it is safe to run concurrently with the ingesting instance.
  *  - `resize <newP>`: OFFLINE stateP migration (no ingesting or
  *    cluster-mode instance may be running): rewrites every state table's
  *    base under the new modulus, which each base records in its own
  *    `_done` marker — the operator response to `metrics.recommended_p`
  *    outgrowing the active `state_p`. A crash part-way leaves valid state
  *    (each base is pruned under its own modulus); re-running completes
  *    the migration. Later ingesting launches keep the resized modulus:
  *    their default `stateP` only seeds a table's first base.
  *
  * OWNERSHIP: at most ONE ingesting StreamJob (either non-`cluster` mode)
  * may own a given <stateDir> at a time. Structured Streaming's
  * checkpointLocation has no cross-process lock — two ingesting instances
  * on the same checkpoint would both claim input files and write
  * conflicting offsets/state. Periodic clustering alongside a running
  * ingester must use `cluster` mode, never a second ingesting launch.
  *
  * Per-batch observability lands in <stateDir>/metrics (batch id, new rows,
  * index rows probed, candidate/accepted pair counts, state files read).
  */
object StreamJob {
  def main(args: Array[String]): Unit = {
    // --auto-resize (ingest modes only): when a compaction leaves the index
    // base > 2x the per-partition target, run the stateP migration between
    // batches automatically instead of waiting for an operator to notice
    // metrics.recommended_p
    val autoResize = args.contains("--auto-resize")
    val pos = args.filterNot(_ == "--auto-resize")
    if (pos.length < 2) {
      System.err.println("usage: graft.StreamJob <inputDir> <stateDir> " +
        "[intervalSec|cluster|resize <newP>] [--auto-resize]")
      sys.exit(2)
    }
    val input = pos(0)
    val stateDir = pos(1)
    val mode = pos.lift(2)
    val spark = Bench.makeSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    def writeClusters(): Unit = {
      // incremental: folds only batches newer than the labels snapshot,
      // re-clustering just the touched components (falls back to one full
      // pass when the snapshot lags a compaction). At most one clustering
      // runner per stateDir — same single-writer rule as ingest.
      val clusters = StreamingDedup.clustersIncremental(spark, stateDir)
      clusters.write.mode("overwrite").parquet(s"$stateDir/clusters_out")
      println(s"clusters: ${spark.read.parquet(s"$stateDir/clusters_out").count()} rows")
    }
    mode match {
      case Some("cluster") =>
        writeClusters()
      case Some("resize") =>
        val newP = pos.lift(3).flatMap(_.toIntOption).getOrElse {
          System.err.println("usage: ... <inputDir> <stateDir> resize <newP>")
          sys.exit(2)
        }
        StreamingDedup.resizeStateP(spark, stateDir, newP)
      case other =>
        val trigger = other.map(s => Trigger.ProcessingTime(s.toInt * 1000L))
          .getOrElse(Trigger.AvailableNow())
        val q = StreamingDedup.run(spark, input, stateDir, DedupConfig(),
          trigger, metrics = true, autoResize = autoResize)
        q.awaitTermination()
        if (other.isEmpty) writeClusters()
    }
    spark.stop()
  }
}
