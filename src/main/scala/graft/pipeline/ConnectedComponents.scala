package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.CodePointOrder

/** Connected components over a pair table via iterative DataFrame self-joins
  * (min-label propagation), the explicit clustering step the north rule adds
  * on top of the reference's implicit top-N clusters (SURVEY.md §2.5 J6).
  *
  * Cost shape matters more than data volume here: at dedup workloads the
  * edge set is a small fraction of the vertex set, and clusters are
  * near-cliques (diameter 2-3). Two paths, one contract. Small edge sets
  * collapse via a driver-local union-find — a distributed fixpoint on
  * kilobytes is pure scheduling overhead: the raw pair rows come to the
  * driver in ONE bounded collect (`limit(⌊localEdgeThreshold/2⌋ + 1)`, no
  * shuffle, no checkpoint, no count job), since union-find is indifferent
  * to edge direction, duplicate pairs and self-loops. Only when that
  * collect overflows its cap does the iterative loop run, and the loop
  * alone symmetrizes and distincts the edge set. For the loop:
  *  - propagation runs ONLY over vertices incident to an edge; the (vast)
  *    singleton majority never enters the loop and is unioned back at the end;
  *  - each round combines one-hop neighbor propagation with pointer
  *    doubling (label := label's label), so convergence takes O(log D)
  *    rounds, not O(D) — long chains cannot outrun the iteration budget;
  *  - convergence is detected with a single partial-aggregable hash-sum over
  *    the label table (one narrow job) instead of a join against the
  *    previous iteration (a shuffle per iteration);
  *  - `localCheckpoint` after every round truncates lineage so the plan does
  *    not grow exponentially (the classic iterative-join failure mode).
  * Labels are the vertex keys themselves (min in the key type's Spark order:
  * code-point order for strings, numeric for longs), so the result is
  * deterministic and partitioning-independent. The operator is generic
  * over the key column type — every distributed step is min/least/equi-join
  * algebra — with a dedicated driver-local union-find kernel per key shape
  * (long keys are the production shape at 10^12 rows: an 8-byte shuffle
  * key where a padded string costs 2.5x the bytes for pure ceremony).
  */
object ConnectedComponents {

  /** Driver-heap budget per symmetrized edge that sizes the default
    * threshold: `localEdgeThreshold` counts symmetrized edges, and the
    * default spends at most a quarter of the driver heap at this rate,
    * capped at 16M edges (the cap binds only above ~14 GB of driver heap;
    * below that the heap/4 term governs).
    *
    * What the local path needs is measured per RAW row (UnionFindProbe,
    * 36-char ids, 1 GB heap): the collected tuple array retains ~189 B per
    * row, and the kernel's transient peak on top of it (intern map,
    * `names`, `parent`/`rank`, `minOf` and the label array, bisected with a
    * heap ballast) adds ~141 B per row for dedup-shaped clusters (1.25 ids
    * per row: ~330 B per row in all) and 250–260 B per row in the worst
    * case, a matching whose every row brings two fresh ids (439–448 B per
    * row in all; 440 MB at 1M rows). The collect stops at ⌊threshold/2⌋ + 1
    * raw rows, so the worst-case peak is ~(threshold/2) × 448 B ≈ 1.0 × the
    * heap/4 budget — at the budget, not over it, so the default is kept. A
    * raw row is at most two symmetrized edges, and the kernel, which runs
    * only on a collect within the cap, interns at most `threshold` ids.
    * Spark's own decode buffers during the collect are not in these
    * figures.
    *
    * The cap was 2M through round 4, tuned for a small driver: the
    * round-5 735k-image scaling run crossed it at 2.5M edges, fell into
    * the distributed fixpoint, and its per-round scheduling floor showed
    * up as a ~50 s Amdahl tail at BOTH 2 and 8 cores (2→8 efficiency
    * 0.720) — the loop's per-iteration cost is fixed shuffle/scheduling
    * until edge volume is orders of magnitude larger, which is precisely
    * when the driver no longer fits it. */
  val MeasuredBytesPerEdge = 225L

  def defaultLocalEdgeThreshold: Long =
    math.min(16000000L, Runtime.getRuntime.maxMemory / 4 / MeasuredBytesPerEdge)

  /** @param edges two string columns `a`, `b` (undirected pairs)
    * @param vertices one string column `id` (all vertices, incl. singletons)
    * @param localEdgeThreshold symmetrized-edge count at or below which the
    *   component labels are computed by a driver-local union-find instead of
    *   the iterative join loop. The loop's per-iteration cost is dominated
    *   by fixed shuffle/scheduling, not data (measured: ~6 s for a
    *   3.7k-image corpus whose union-find takes milliseconds; ~36 s for a
    *   418k-image corpus's 1.5M edges, an Amdahl tail that caps measured
    *   N->4N efficiency), so small edge sets belong on the driver. The test
    *   is made on the raw rows: at most ⌊threshold/2⌋ of them take the
    *   local path. For canonical, duplicate-free pairs (`a < b`, distinct —
    *   DedupJob's `pairs` stage) that is exactly "symmetrized count <=
    *   threshold"; raw input with duplicates, both directions or
    *   self-loops may fall back to the loop a little earlier than its
    *   symmetrized count would, never later. `0` forces the loop. The
    *   default is `defaultLocalEdgeThreshold` (see `MeasuredBytesPerEdge`
    *   for the measured heap it costs). The switch is on EDGE volume: dup
    *   edges are a small fraction of rows, and the (vast) singleton
    *   majority never enters either path. Results are bit-identical (same
    *   min-id-per-component contract, asserted in the spec); past the
    *   threshold the pointer-doubling loop is the scale path.
    * @return (id, cluster_id) with cluster_id = min id in the component
    */
  def run(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
      maxIters: Int = 25,
      localEdgeThreshold: Long = defaultLocalEdgeThreshold): DataFrame = {
    import spark.implicits._
    val raw = edges.select(col("a").as("src"), col("b").as("dst"))
    // union-find ignores direction, duplicates and self-loops, so the raw
    // rows go to the driver as they are: one bounded collect, no shuffle.
    // A raw row stands for at most two symmetrized edges, so a cap of
    // threshold/2 raw rows keeps the guard on the symmetrized count.
    val cap = math.max(0L, math.min(localEdgeThreshold / 2, Int.MaxValue - 1L)).toInt
    val local = raw.schema("src").dataType match {
      case LongType => collectAtMost[(Long, Long)](raw, cap)
        .map(e => labelsOfLong(e).toSeq.toDF("id", "cluster_id"))
      case _ => collectAtMost[(String, String)](raw, cap)
        .map(e => labelsOf(e).toSeq.toDF("id", "cluster_id"))
    }
    local match {
      case Some(labels) => labels.union(singletons(vertices, labels))
      case None => distributed(raw, vertices, maxIters)
    }
  }

  /** All rows of `df` if there are at most `cap` of them, else None, from
    * one `limit(cap + 1)` collect: the driver never holds more than
    * `cap + 1` rows. */
  private[pipeline] def collectAtMost[T: Encoder](df: DataFrame, cap: Int): Option[Array[T]] =
    Some(df.as[T].limit(cap + 1).collect()).filter(_.length <= cap)

  /** Vertices with no incident edge, each its own cluster. */
  private def singletons(vertices: DataFrame, labels: DataFrame): DataFrame =
    vertices.join(labels.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))

  /** The pointer-doubling loop over the symmetrized, checkpointed edge
    * table — the scale path past the local threshold. */
  private def distributed(raw: DataFrame, vertices: DataFrame,
      maxIters: Int): DataFrame = {
    // symmetrize once; checkpoint — reused every iteration
    val sym = graft.core.Checkpoints.ckpt(
      raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())

    // only edge-incident vertices propagate
    var labels = graft.core.Checkpoints.ckpt(
      sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("cluster_id")))

    def labelFingerprint(df: DataFrame): Long =
      // bit_xor: overflow-free under ANSI mode; rows are unique (id keyed) so
      // xor cancellation needs a 2^-64 hash coincidence
      df.agg(coalesce(bit_xor(xxhash64(col("id"), col("cluster_id"))), lit(0L)))
        .collect()(0).getLong(0)

    var fp = labelFingerprint(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // (1) neighbor propagation: pull the minimum label one hop
      val fromNeighbors = sym
        .join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("cluster_id"))
      val hop = labels.select(col("id"), col("cluster_id"))
        .union(fromNeighbors)
        .groupBy("id").agg(min("cluster_id").as("cluster_id"))
      // (2) pointer doubling: replace each label by its label's label, so a
      // chain of length D collapses in O(log D) rounds instead of O(D) —
      // degenerate identical-signature runs (sorted-neighbor W-chains) have
      // diameter ~run_length/W and would otherwise outrun any fixed budget
      val parents = hop.select(col("id").as("p_id"), col("cluster_id").as("p_cluster"))
      val next0 = hop
        .join(parents, hop("cluster_id") === parents("p_id"), "left")
        .select(hop("id"),
          least(hop("cluster_id"), coalesce(col("p_cluster"), hop("cluster_id")))
            .as("cluster_id"))
      val next = graft.core.Checkpoints.ckpt(next0)
      val nextFp = labelFingerprint(next)
      // `next` is eagerly materialized, so the SUPERSEDED label checkpoint
      // can be released now — without this each round's copy of the label
      // table stays persisted until a GC lets the ContextCleaner find it,
      // and a long-lived session running CC repeatedly (streaming batches,
      // tiered cascades) accumulates O(iterations) copies in block storage
      unpersistCheckpoint(labels)
      labels = next
      converged = nextFp == fp
      fp = nextFp
      iter += 1
    }
    require(converged,
      s"connected components did not converge after $maxIters doubling rounds" +
        " (diameter > 2^maxIters is impossible for any physical edge set —" +
        " this indicates a fingerprint collision or a bug)")
    // the final labels are their own checkpoint; the edge table is done
    unpersistCheckpoint(sym)
    labels.union(singletons(vertices, labels))
  }

  /** Release a `localCheckpoint`'s persisted RDD explicitly (see
    * [[graft.core.Checkpoints]] — this loop supersedes one checkpoint per
    * round, far too fast for the GC-driven ContextCleaner). */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    graft.core.Checkpoints.release(df)

  /** The driver-side kernel, separated so UnionFindProbe can measure its
    * heap (see `MeasuredBytesPerEdge`): classic union-find with path
    * compression + union by rank, then min id per root in Spark's string
    * order ([[graft.core.CodePointOrder]], not Java's UTF-16 `<`) — exactly
    * the min-label fixpoint the loop computes. */
  private[graft] def labelsOf(e: Array[(String, String)]): Array[(String, String)] =
    unionFind(e)(CodePointOrder.lt)

  /** [[labelsOf]] for long keys, min elected numerically. */
  private[graft] def labelsOfLong(e: Array[(Long, Long)]): Array[(Long, Long)] =
    unionFind(e)(_ < _)

  /** Union-find over edges `e`, labelling each id with the least member of
    * its component under `lt`; ids are boxed only at the interning map. */
  private def unionFind[K](e: Array[(K, K)])(lt: (K, K) => Boolean): Array[(K, K)] = {
    val index = new java.util.HashMap[K, Integer]()
    val names = scala.collection.mutable.ArrayBuffer.empty[K]
    def idOf(s: K): Int = {
      val got = index.get(s)
      if (got ne null) got.intValue()
      else {
        val i = names.length
        index.put(s, Integer.valueOf(i)); names += s; i
      }
    }
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    val rank = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    e.foreach { case (as, bs) =>
      val a = idOf(as); val b = idOf(bs)
      while (parent.length < names.length) {
        parent += parent.length; rank += 0
      }
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = (rank(ra) + 1).toByte }
      }
    }
    val minOf = new java.util.HashMap[Int, K]()
    names.indices.foreach { i =>
      val r = find(i)
      val cur = minOf.get(r)
      if (cur == null || lt(names(i), cur)) minOf.put(r, names(i))
    }
    Array.tabulate(names.length)(i => (names(i), minOf.get(find(i))))
  }
}
