package perfbench

import scala.collection.mutable

/** The serve phase each workload ends with: a closed loop of top-N queries,
  * one client, against the index the workload just built. Each call asks
  * one batch of raw image rows (half fresh copies of indexed images, half
  * unrelated images) and collects the hits. The first [[WarmCalls]] calls
  * are not timed: a call is a few sub-second Spark jobs, mostly query
  * planning, and the JIT is still compiling the planner for this plan
  * shape; timed too early, the calls run up to a third slower and the
  * median moves by run. */
object Serve {
  val WarmCalls = 3
  val Calls = WarmCalls + 5
  val BatchSize = 8
  val RecallRows = 128

  /** `query` runs one call over a parquet file of raw image rows and
    * returns its `(query_id, id)` hits. */
  def run(ctx: Ctx, out: Outcome, tr: Option[Tracer], indexedGroups: Int)(
      query: String => Seq[(String, String)]): Unit = {
    val (files, sources) = Inputs.queryBatches(ctx.spark, ctx.seed, indexedGroups,
      Calls, BatchSize, ctx.root.resolve("queries"))
    val secs = mutable.ArrayBuffer.empty[Double]
    val hits = mutable.ArrayBuffer.empty[(String, String)]
    files.zipWithIndex.foreach { case (f, k) =>
      out.op(s"top-N query #$k") {
        val (h, sec) = Stats.timed(tr match {
          case Some(t) => t.span("index")(query(f))
          case None => query(f)
        })
        if (k >= WarmCalls) secs += sec
        hits ++= h
        tr.foreach { t =>
          t.note("index", "hits_per_query", h.size.toDouble)
          t.note("index", "rows_out", h.size.toDouble)
        }
      }
    }
    // recall from one larger, untimed batch as well, so it rests on a few
    // hundred planted copies rather than the timed calls' two dozen
    val (recallFiles, recallSources) = Inputs.queryBatches(ctx.spark, ctx.seed,
      indexedGroups, 1, RecallRows, ctx.root.resolve("recall_queries"), tag = "r")
    out.op("top-N recall batch")(hits ++= query(recallFiles.head))
    if (secs.nonEmpty) out.metric("queries_per_s", 1.0 / Stats.median(secs.toSeq), "1/s")
    out.metric("topn_recall", Inputs.topnRecall(hits.toSeq, sources ++ recallSources), "ratio")
    if (secs.nonEmpty)
      out.info += f"serve: ${secs.size} timed top-N calls of $BatchSize rows, " +
        f"median ${Stats.median(secs.toSeq)}%.3f s (${Setup.samples(secs.toSeq)})"
  }
}
