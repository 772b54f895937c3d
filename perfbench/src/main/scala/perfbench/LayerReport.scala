package perfbench

/** The per-layer table of a traced run. Layers take the program's module
  * names. Every layer reports the common metrics, averaged per traced
  * repetition (a `DedupJob` run or a streaming drain; for `index`, per
  * top-N call); a layer the workload does not run reports zeros. */
object LayerReport {

  val Layers: Seq[String] = Seq("featurize", "lsh", "pipeline.candidates",
    "pipeline.verify", "pipeline.substring", "pipeline.cc", "io", "streaming",
    "index", "core.checkpoints")

  val Common: Seq[(String, String)] = Seq("wall_s" -> "s", "task_s" -> "s",
    "util" -> "ratio", "gc_s" -> "s", "jobs" -> "count",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "rows_out" -> "count",
    "tasks_failed" -> "count")

  val Specific: Map[String, Seq[(String, String)]] = Map(
    "lsh" -> Seq("band_rows_per_image" -> "ratio", "max_bucket" -> "count"),
    "pipeline.candidates" -> Seq("pairs_per_band_row" -> "ratio"),
    "pipeline.verify" -> Seq("accept_ratio" -> "ratio", "jaccard_share" -> "ratio"),
    "pipeline.cc" -> Seq("edges" -> "count", "local_path" -> "bool",
      "distributed_wall_s" -> "s"),
    "io" -> Seq("bytes_written_mb" -> "MB", "resume_s" -> "s"),
    "streaming" -> Seq("batch_jobs" -> "count", "read_ratio" -> "ratio",
      "exact_dropped_share" -> "ratio", "compaction_batch_s" -> "s"),
    "index" -> Seq("scan_rows_per_query" -> "count", "scan_mb_per_query" -> "MB",
      "hits_per_query" -> "count", "jobs_per_call" -> "count"),
    "core.checkpoints" -> Seq("leaked_rdds" -> "count"))

  val Totals: Seq[(String, String)] = Seq("trace.wall_s" -> "s",
    "trace.unattributed_s" -> "s", "trace.bookkeeping_s" -> "s",
    "trace.overhead_s" -> "s")

  /** Every per-layer metric name with its unit, in output order. */
  def names: Seq[(String, String)] =
    Layers.flatMap(l => (Common ++ Specific.getOrElse(l, Nil))
      .map { case (m, u) => s"$l.$m" -> u }) ++ Totals

  private val MB = 1024.0 * 1024.0

  /** Folds the trace into `out.layerMetrics` and prints the table.
    * `root` names the span of one traced repetition; `tracedSec` and
    * `untracedSec` are the repetition times of the traced and untraced
    * operations, whose medians differ by the tracing overhead. */
  def emit(tr: Tracer, ctx: Ctx, out: Outcome, root: String,
      tracedSec: Seq[Double], untracedSec: Seq[Double]): Unit = {
    val layers = tr.layers(ctx.cores).map(l => l.name -> l).toMap
    val reps = layers.get(root).map(_.spans).getOrElse(0).max(1).toDouble
    def put(name: String, unit: String, v: Double): Unit = out.layerMetric(name, v, unit)
    Layers.foreach { name =>
      val l = layers.get(name)
      // the serve phase's index spans are their own roots, one per call
      val unit = if (name == "index") l.map(_.spans).getOrElse(1).toDouble else reps
      def per(f: Tracer.Layer => Double) = l.map(f).getOrElse(0.0) / unit
      put(s"$name.wall_s", "s", per(_.wallSec))
      put(s"$name.task_s", "s", per(_.taskSec))
      put(s"$name.util", "ratio", l.map(_.util).getOrElse(0.0))
      put(s"$name.gc_s", "s", per(_.sums.gcMs / 1000.0))
      put(s"$name.jobs", "count", per(_.jobs.toDouble))
      put(s"$name.shuffle_write_mb", "MB", per(_.sums.shuffleWrite / MB))
      put(s"$name.spill_mb", "MB", per(_.sums.spill / MB))
      put(s"$name.rows_out", "count", tr.noteOf(name, "rows_out").getOrElse(0.0))
      put(s"$name.tasks_failed", "count", per(_.sums.failed.toDouble))
      Specific.getOrElse(name, Nil).foreach { case (m, u) =>
        val v = (name, m) match {
          case ("io", "bytes_written_mb") => per(_.sums.outBytes / MB)
          case ("streaming", "batch_jobs") =>
            per(_.jobs.toDouble) / tr.noteOf(name, "batches").getOrElse(1.0)
          case ("index", "scan_rows_per_query") => per(_.sums.inRecords.toDouble)
          case ("index", "scan_mb_per_query") => per(_.sums.inBytes / MB)
          case ("index", "jobs_per_call") => per(_.jobs.toDouble)
          case _ => tr.noteOf(name, m).getOrElse(0.0)
        }
        put(s"$name.$m", u, v)
      }
    }
    val wall = layers.get(root).map(_.spanSec).getOrElse(0.0) / reps
    val unattributed = layers.get(root).map(_.wallSec).getOrElse(0.0) / reps
    val bookkeeping = layers.get("bench").map(_.wallSec).getOrElse(0.0) / reps
    val overhead =
      if (tracedSec.nonEmpty && untracedSec.nonEmpty)
        Stats.median(tracedSec) - Stats.median(untracedSec)
      else 0.0
    put("trace.wall_s", "s", wall)
    put("trace.unattributed_s", "s", unattributed)
    put("trace.bookkeeping_s", "s", bookkeeping)
    put("trace.overhead_s", "s", overhead)

    out.info += f"per-layer table, $root, per traced repetition (${reps.toInt} traced):"
    out.info += f"  ${"layer"}%-20s ${"self_s"}%8s ${"task_s"}%8s ${"util"}%5s ${"gc_s"}%6s " +
      f"${"jobs"}%5s ${"shufMB"}%7s ${"spillMB"}%7s ${"rows_out"}%9s ${"failed"}%6s  specific"
    val shown = Layers.filter(n => n != "index" && layers.contains(n)) :+ "bench"
    shown.filter(layers.contains).foreach { name =>
      val m = out.layerMetrics
      def g(k: String) = m.get(s"$name.$k").map(_._1).getOrElse(0.0)
      val l = layers(name)
      val specific = Specific.getOrElse(name, Nil)
        .map { case (k, _) => f"$k=${g(k)}%.4g" }.mkString(" ")
      if (name == "bench")
        out.info += f"  ${"(bookkeeping)"}%-20s ${l.wallSec / reps}%8.3f"
      else
        out.info += f"  $name%-20s ${g("wall_s")}%8.3f ${g("task_s")}%8.3f ${g("util")}%5.2f " +
          f"${g("gc_s")}%6.3f ${g("jobs")}%5.1f ${g("shuffle_write_mb")}%7.2f " +
          f"${g("spill_mb")}%7.2f ${g("rows_out")}%9.0f ${g("tasks_failed")}%6.1f  $specific"
    }
    val selfSum = shown.filter(layers.contains).map(n => layers(n).wallSec).sum / reps
    out.info += f"  ${"(unattributed)"}%-20s $unattributed%8.3f"
    out.info += f"  ${"= traced wall"}%-20s ${selfSum + unattributed}%8.3f " +
      f"(root spans $wall%.3f s); tracing overhead $overhead%.3f s " +
      f"(traced median minus untraced median)"
    layers.get("index").foreach { l =>
      def g(k: String) = out.layerMetrics(s"index.$k")._1
      out.info += f"  serve phase, per top-N call (${l.spans} calls): index ${g("wall_s")}%.3f s " +
        f"task ${g("task_s")}%.3f s, jobs ${g("jobs_per_call")}%.1f, scan ${g("scan_rows_per_query")}%.0f rows " +
        f"${g("scan_mb_per_query")}%.2f MB, hits ${g("hits_per_query")}%.1f"
    }
  }
}
