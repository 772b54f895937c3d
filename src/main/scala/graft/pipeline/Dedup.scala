package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.MinHash
import graft.featurize.{FeaturizeConfig, ImageFeaturizer}
import graft.lsh.Bands

/** Dedup pipeline configuration, pinned to the reference's query config where
  * one exists:
  *  - 28 bands (`pybindings.cpp:385`, tests), 8-bit band prefix
  *    (`simhashsearchindex.cpp:65`);
  *  - Hamming verify at similarity > 0.8·128 (`matchfunctionsfromindex.cpp:36,165`)
  *    i.e. distance <= 25;
  *  - our additions per the north rule: MinHash/Jaccard caption verify,
  *    substring-caption pass, hot-bucket cap (the skew guard).
  * `prefixBits` widens beyond 8 for cluster scale (see Bands scaladoc).
  */
final case class DedupConfig(
    nBands: Int = 28,
    prefixBits: Int = 8,
    // query-side multi-probe flips per band (0 = off). With probes on, the
    // PERSISTED simhash band count (`nBands`) can shrink several-fold at
    // equal recall: new rows additionally probe `bandProbes` flipped-key
    // buckets per band (lowest fold-margin bits first — Lv et al.), but
    // only exact-key rows are ever stored. At 10^12 rows the stored
    // bands-x-rows volume dominates state, so e.g. nBands=8/bandProbes=3
    // carries ~3.5x less index state than the 28-band default (the A/B in
    // StreamingDedupSpec measures it).
    bandProbes: Int = 0,
    maxHamming: Int = 25,
    minhashBands: Int = 16,
    minhashRows: Int = 4,
    minJaccard: Double = 0.7,
    substringWindow: Int = 24,
    sortedWindow: Int = 8,
    hotBucketThreshold: Int = 100000,
    featurize: FeaturizeConfig = FeaturizeConfig()) {
  require(minhashBands * minhashRows <= featurize.minhashK,
    "minhash banding exceeds sketch size")
  // fail at construction, not inside an executor UDF mid-batch (in
  // streaming that would surface AFTER the batch's commit marker moved)
  require(bandProbes >= 0 && bandProbes <= prefixBits,
    s"bandProbes $bandProbes must be in [0, prefixBits=$prefixBits]")

  /** Stage-table key for checkpoint-resume (DedupJob/QueryJob): a hex hash
    * over the NON-DEFAULT fields only, as `name=value` pairs. The raw
    * case-class toString would re-key every persisted stage whenever a new
    * config field is ADDED (even at its default — adding `bandProbes`
    * would have orphaned every index built before it, breaking the
    * reopened-never-rebuilt contract on upgrade); comparing field-by-field
    * against the default instance keeps previously committed stages
    * reachable across additive config evolution, while changing any
    * EFFECTIVE value still re-keys every stage, as it must.
    *
    * One-time migration note: stages committed under the pre-round-5 key
    * (`cfg.toString.hashCode`, which baked in the then-current field list)
    * are re-keyed by this change itself — DedupJob recomputes them once
    * (stage manifests are a cache, recompute is the designed degradation)
    * and QueryJob fails fast with the rebuild instruction. The old key
    * cannot be recovered from the current class (the field list already
    * grew), which is exactly the defect this scheme removes going
    * forward. */
  def stageHash: String = {
    val defaults = DedupConfig().productIterator.toSeq
    val diff = productElementNames.zip(productIterator).zip(defaults)
      .collect { case ((n, v), d) if v != d => s"$n=$v" }.toSeq
    java.lang.Integer.toHexString(
      ("DedupConfig" +: diff).mkString(";").hashCode)
  }
}

/** The near-duplicate detection + clustering pipeline: stage-typed
  * DataFrame→DataFrame transforms (signatures → bands → candidates →
  * verified ∪ substring → clusters), each independently materializable for
  * checkpoint-resume (see StageRunner).
  */
object Dedup {

  /** Caption normalization as a column, THE one producer of normalized
    * caption text (null-safe: null → ""). Shared by `signatures`
    * (caption_norm) and every caption-only consumer (e.g. the tiered
    * cascade's undecodable-row path), because tier-3 containment joins
    * compare these strings byte-for-byte — two drifting copies of the
    * normalizer would silently break those links. */
  def captionNormCol(c: Column): Column =
    udf((s: String) => ImageFeaturizer.normalizeCaption(s)).apply(c)

  /** Stage 1 — featurize + fold: one decode pass per row, emitting
    * (image_id, caption, sim_hi, sim_lo, minhash). The fold is row-local
    * (SURVEY.md §2.4 A1): a scalar UDF inside a projection, no shuffle.
    * Column pruning keeps `bytes` out of every downstream stage. */
  def signatures(images: DataFrame, cfg: DedupConfig): DataFrame =
    featurized(spread(images), cfg, withMargins = false)

  /** The signatures a self-dedup run needs under `cfg`: with margins when
    * it probes (`cfg.bandProbes > 0`, the input of [[probeBands]]), plain
    * otherwise. */
  def signaturesFor(images: DataFrame, cfg: DedupConfig): DataFrame =
    if (cfg.bandProbes > 0) signaturesWithMargins(images, cfg)
    else signatures(images, cfg)

  /** [[signatures]] plus the fold's 128-entry margin column — the
    * multi-probe flip-priority signal, computed in the SAME decode pass
    * (the hash is bit-identical; only |accumulator| values ride along).
    * Margins are transient by contract: consumers drop the column before
    * any persist/shuffle that does not need it. */
  def signaturesWithMargins(images: DataFrame, cfg: DedupConfig): DataFrame =
    featurized(spread(images), cfg, withMargins = true)

  /** The featurize projection of [[signatures]] (with `margins` when
    * `withMargins`), run where the rows lie: no spread. For batches too
    * small to fill the session's tasks (QueryJob's small serve path). */
  private[graft] def featurized(images: DataFrame, cfg: DedupConfig,
      withMargins: Boolean): DataFrame = {
    val fz = cfg.featurize
    val sigUdf =
      if (withMargins)
        udf((bytes: Array[Byte], caption: String) =>
          ImageFeaturizer.signatureWithMargins(bytes, caption, fz))
      else udf((bytes: Array[Byte], caption: String) =>
        ImageFeaturizer.signature(bytes, caption, fz))
    val base = images
      .select(col("image_id"), captionNormCol(col("caption")).as("caption_norm"),
        sigUdf(col("bytes"), col("caption")).as("sig"))
    val cols = Seq(col("image_id"), col("caption_norm"),
      col("sig.sim_hi").as("sim_hi"), col("sig.sim_lo").as("sim_lo"),
      col("sig.minhash").as("minhash")) ++
      (if (withMargins) Seq(col("sig.margins").as("margins")) else Nil)
    base.select(cols: _*)
  }

  /** Decode is CPU-bound per ROW, but scan splits are sized by BYTES
    * (spark.sql.files.maxPartitionBytes): a few hundred MB of compressed
    * images arrive as a handful of splits and starve the executors. Fan a
    * genuinely-starved scan out to twice the session's parallelism before
    * decoding — but never reshuffle the (heavy) image bytes when the scan
    * already covers the cores. For checkpointed inputs (the streaming /
    * cascade callers) the partition count is read off the existing RDD —
    * the `images.rdd` probe re-planned the whole upstream query per call. */
  private def spread(images: DataFrame): DataFrame = {
    val target = images.sparkSession.sparkContext.defaultParallelism
    val scanParts = images.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getNumPartitions
      case _ => images.rdd.getNumPartitions
    }
    if (scanParts < target) images.repartition(target * 2) else images
  }

  /** Stage 2 — LSH banding: explode each signature into one row per band,
    * carrying the FULL band value (`sort_hi/sort_lo`) plus its bucket prefix
    * (`band_key`). This is the Spark form of the reference's sorted index
    * tuples (`simhashsearchindex.hpp:91-99`): the mmap'd ordered set becomes
    * a table shuffled on (band_id, band_key) and ORDERED by the band value —
    * the `lower_bound` range scan becomes a window sort per bucket. */
  def bands(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val nb = cfg.nBands; val pb = cfg.prefixBits
    val mb = cfg.minhashBands; val mr = cfg.minhashRows
    val bandsUdf = udf((hi: Long, lo: Long, mh: Array[Long]) =>
      Bands.simhashBands(hi, lo, nb, pb) ++ Bands.minhashBands(mh, mb, mr, pb))
    sigs.select(col("image_id"), col("sim_hi"), col("sim_lo"),
        explode(bandsUdf(col("sim_hi"), col("sim_lo"), col("minhash"))).as("bk"))
      .select(col("bk.band_id").as("band_id"), col("bk.band_key").as("band_key"),
        col("bk.sort_hi").as("sort_hi"), col("bk.sort_lo").as("sort_lo"),
        col("image_id"), col("sim_hi"), col("sim_lo"))
  }

  /** Stage 2b — query-side multi-probe rows (simhash family only; minhash
    * caption bands are unprobed): per band, `cfg.bandProbes` extra rows,
    * each flipping ONE lowest-margin bucket-key bit of the row's own fold
    * (`Bands.simhashProbeBands`). Same schema as [[bands]]; `sort_hi`
    * carries the flip so probe rows sort adjacent to the probed bucket's
    * true members in the sliding-window candidate pass. TRANSIENT: probe
    * rows join/collide only — they are never persisted into index state
    * (that is the whole point: probing on the query side buys a smaller
    * stored band count). Input must carry `margins`
    * ([[signaturesWithMargins]]). */
  def probeBands(sigsM: DataFrame, cfg: DedupConfig): DataFrame = {
    val nb = cfg.nBands; val pb = cfg.prefixBits; val k = cfg.bandProbes
    val probeUdf = udf((hi: Long, lo: Long, m: Seq[Double]) =>
      Bands.simhashProbeBands(hi, lo, m.toArray, nb, pb, k))
    sigsM.select(col("image_id"), col("sim_hi"), col("sim_lo"),
        explode(probeUdf(col("sim_hi"), col("sim_lo"), col("margins"))).as("bk"))
      .select(col("bk.band_id").as("band_id"), col("bk.band_key").as("band_key"),
        col("bk.sort_hi").as("sort_hi"), col("bk.sort_lo").as("sort_lo"),
        col("image_id"), col("sim_hi"), col("sim_lo"))
  }

  /** Stage 3 — candidate generation: sorted-neighbor pass, NOT a bucket
    * self-join.
    *
    * Within each (band_id, band_key) bucket, rows are sorted by the full
    * band value (unsigned) and each row is paired with its next
    * `sortedWindow` neighbors — the sorted-fingerprint scheme of Manku et
    * al. (WWW'07). Near-duplicates agree on long prefixes of some permuted
    * band value, so they sort adjacent in at least one of the bands;
    * candidate volume is N × bands × W — LINEAR in N, where the bucket
    * cross product is quadratic and explodes past ~10^5 rows (measured: 1B+
    * candidate rows at 100k images with 8-bit buckets).
    *
    * Skew: a degenerate run of identical signatures (blank images) sorts
    * contiguously and yields W pairs per row; connected components closes
    * the chain into one cluster — no quadratic blowup, no silent drops.
    * Cross-band duplicates collapse via groupBy-min, the reference's
    * candidate-dedup map (`simhashsearchindex.cpp:51,102`).
    */
  private type BandRow = (Int, Long, Long, Long, String, Long, Long)

  /** The sliding-window pair emitter over bucket-sorted rows: each row pairs
    * with its previous <= `w` rows of the same (band_id, band_key) bucket.
    * The first `skip` rows only PRIME the ring (no emission) — the overlap
    * mechanism of the range-salted path; `skip = 0` for the hash path. */
  private def slidingPairs(it: Iterator[BandRow], w: Int, maxH: Int,
      skip: Int): Iterator[(String, String, Int, Boolean)] = {
    val buf = new Array[BandRow](w)
    var n = 0 // rows of the CURRENT bucket held in buf (ring, newest last)
    var consumed = 0
    new Iterator[(String, String, Int, Boolean)] {
      private var pending: List[(String, String, Int, Boolean)] = Nil
      private def advance(): Unit = {
        while (pending.isEmpty && it.hasNext) {
          val r = it.next()
          if (n > 0 && (buf((n - 1) % w)._1 != r._1 || buf((n - 1) % w)._2 != r._2))
            n = 0 // bucket boundary: sliding never crosses it
          val lo = math.max(0, n - w)
          var i = lo
          var acc: List[(String, String, Int, Boolean)] = Nil
          if (consumed >= skip) {
            while (i < n) {
              val p = buf(i % w)
              val dist = java.lang.Long.bitCount(p._6 ^ r._6) +
                java.lang.Long.bitCount(p._7 ^ r._7)
              val fromMinhash = r._1 >= Bands.MinhashBandOffset &&
                p._3 == r._3 && p._4 == r._4
              // map-side rejection BEFORE the dedup shuffle: a pair that
              // fails the Hamming bound and did not collide in a minhash
              // band can never verify (measured 290 s of junk sketch-join
              // shuffle at 100k rows without this)
              if (dist <= maxH || fromMinhash) {
                val (a, b) = if (p._5 <= r._5) (p._5, r._5) else (r._5, p._5)
                acc = (a, b, dist, fromMinhash) :: acc
              }
              i += 1
            }
          }
          consumed += 1
          buf(n % w) = r
          n += 1
          if (n >= 2 * w) n = w + (n - w) % w // keep counters bounded
          pending = acc
        }
      }
      def hasNext: Boolean = { advance(); pending.nonEmpty }
      def next(): (String, String, Int, Boolean) = {
        advance()
        val h = pending.head; pending = pending.tail; h
      }
    }
  }

  private def unsignedCol(c: Column): Column = c.bitwiseXOR(lit(Long.MinValue))

  /** Hash-partition by bucket, sort, one sliding pass.
    *
    * Sliding pass as ONE sorted mapPartitions, not a WindowExec with
    * `sortedWindow` lead() struct columns + array + explode: that plan
    * allocates 8 neighbor structs per band row (18M rows -> ~8 GB of
    * transient garbage at 420k images) and measured 4x ANTI-scaling from
    * 8 to 32 cores (30 s -> 124 s) from the allocation/kernel-page churn;
    * this pass is allocation-free per row and scales with the sort.
    * Correctness is identical: repartition hashes each (band_id, band_key)
    * bucket wholly into one partition, rows sort by (bucket, unsigned band
    * value, id), and each row pairs with its next <=W in-bucket neighbors
    * — so output depends only on bucket contents, never on partitioning. */
  def candidates(bandsDf: DataFrame, cfg: DedupConfig): DataFrame = {
    import bandsDf.sparkSession.implicits._
    val w = cfg.sortedWindow
    val maxH = cfg.maxHamming
    val sorted = bandsDf
      .repartition(col("band_id"), col("band_key"))
      .sortWithinPartitions(col("band_id"), col("band_key"),
        unsignedCol(col("sort_hi")), unsignedCol(col("sort_lo")), col("image_id"))
      .select("band_id", "band_key", "sort_hi", "sort_lo",
        "image_id", "sim_hi", "sim_lo")
      .as[BandRow]
    sorted.mapPartitions(it => slidingPairs(it, w, maxH, skip = 0))
      .toDF("a", "b", "dist", "from_minhash")
      .groupBy("a", "b").agg(min("dist").as("dist"),
        max("from_minhash").as("from_minhash"))
  }

  /** Range-SALTED candidate path — the explicit skew guard the north rule
    * names: the hash path sends each (band_id, band_key) bucket wholly to
    * one task, so one degenerate mega-bucket (e.g. millions of blank
    * images sharing a signature) becomes a single straggler task. Here rows
    * are RANGE-partitioned on the full sort key (bucket, unsigned band
    * value, id), which splits hot buckets across tasks at arbitrary sort
    * positions, and the W-row window that would straddle a partition
    * boundary is repaired by an overlap pass: each partition's last W rows
    * (one cheap extra scan of the narrow band tuples, collected — W × P
    * rows total) are broadcast and PREPENDED to the next partition, priming
    * its ring buffer without re-emitting (skip = overlap length). The
    * emitted pair set is therefore exactly that of [[candidates]] — asserted
    * by DedupPipelineSpec on planted and degenerate corpora — and output
    * no longer depends on where the range sampler cut, so run-to-run
    * boundary variation cannot change results. Extra cost: one cache +
    * tail-collect pass; worth it only when bucketStats reports hot
    * buckets, so no pipeline calls it yet. Returns an eagerly checkpointed
    * frame (its cached RDD and tails broadcast are released on exit). */
  def candidatesSalted(bandsDf: DataFrame, cfg: DedupConfig,
      numPartitions: Option[Int] = None): DataFrame = {
    import bandsDf.sparkSession.implicits._
    val spark = bandsDf.sparkSession
    val w = cfg.sortedWindow
    val maxH = cfg.maxHamming
    // explicit partition count pins the split (AQE coalesces small range
    // shuffles to one partition, which would bypass the overlap machinery
    // — tests force several partitions to actually exercise it)
    val ranged = numPartitions match {
      case Some(n) => bandsDf.repartitionByRange(n, col("band_id"),
        col("band_key"), unsignedCol(col("sort_hi")),
        unsignedCol(col("sort_lo")), col("image_id"))
      case None => bandsDf.repartitionByRange(col("band_id"), col("band_key"),
        unsignedCol(col("sort_hi")), unsignedCol(col("sort_lo")), col("image_id"))
    }
    val sorted = ranged
      .sortWithinPartitions(col("band_id"), col("band_key"),
        unsignedCol(col("sort_hi")), unsignedCol(col("sort_lo")), col("image_id"))
      .select("band_id", "band_key", "sort_hi", "sort_lo",
        "image_id", "sim_hi", "sim_lo")
      .as[BandRow]
    val rdd = sorted.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rawTails = rdd.mapPartitionsWithIndex { (i, it) =>
        val ring = new Array[BandRow](w)
        var n = 0
        it.foreach { r => ring(n % w) = r; n += 1 }
        val lastW = (math.max(0, n - w) until n).map(j => ring(j % w)).toArray
        Iterator.single((i, lastW))
      }.collect().sortBy(_._1)
      // transitive fold: a partition with < W rows cannot supply the full
      // W-row context by itself (a bucket can span 3+ partitions), so the
      // effective tail of p = last W rows of (effective tail of p-1 ++ p)
      // — i.e. exactly the W rows preceding partition p+1 in global order
      val tails = collection.mutable.Map.empty[Int, Array[BandRow]]
      var prev = Array.empty[BandRow]
      rawTails.foreach { case (i, tail) =>
        prev = (prev ++ tail).takeRight(w)
        tails(i) = prev
      }
      val bTails = spark.sparkContext.broadcast(tails.toMap)
      val pairs = rdd.mapPartitionsWithIndex { (i, it) =>
        val prefix = bTails.value.getOrElse(i - 1, Array.empty[BandRow])
        slidingPairs(prefix.iterator ++ it, w, maxH, skip = prefix.length)
      }
      val out = graft.core.Checkpoints.ckpt(
        pairs.toDF("a", "b", "dist", "from_minhash")
          .groupBy("a", "b").agg(min("dist").as("dist"),
            max("from_minhash").as("from_minhash"))
      ) // eager: materialized before rdd/broadcast release
      bTails.destroy()
      out
    } finally rdd.unpersist(false)
  }

  /** Full-width Hamming distance as a built-in column expression — pure
    * codegen, no UDF (`bit_count` ≥ Spark 3.3; SURVEY.md §1.3). */
  def hamming128Col(aHi: Column, aLo: Column, bHi: Column, bLo: Column): Column =
    bit_count(aHi.bitwiseXOR(bHi)) + bit_count(aLo.bitwiseXOR(bLo))

  /** Stage 4 — verify: accept a candidate pair if its SimHash Hamming
    * distance passes F5 (`dist <= maxHamming`), else look up both MinHash
    * sketches and accept on estimated caption Jaccard >= minJaccard. Only
    * Hamming-rejected minhash-band collisions pay the sketch join. */
  def verified(cands: DataFrame, sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val byHamming = cands.filter(col("dist") <= cfg.maxHamming)
      .select(col("a"), col("b"))
    val rest = cands.filter(col("dist") > cfg.maxHamming && col("from_minhash"))
    val jacc = udf((x: Array[Long], y: Array[Long]) => MinHash.estimateJaccard(x, y))
    val mh = sigs.select(col("image_id"), col("minhash"))
    val byJaccard = rest
      .join(mh.select(col("image_id").as("a"), col("minhash").as("mh_a")), "a")
      .join(mh.select(col("image_id").as("b"), col("minhash").as("mh_b")), "b")
      .filter(jacc(col("mh_a"), col("mh_b")) >= cfg.minJaccard)
      .select(col("a"), col("b"))
    byHamming.union(byJaccard)
  }

  /** The Hamming-accepted (signature-evidence) subset of [[verified]] —
    * the image-dominated tier, without the caption-MinHash accept path.
    * The modality audits ([[ModalityAudit]]) cluster on THIS evidence:
    * the Jaccard path accepts on caption similarity alone, which would
    * merge the very image-vs-caption disagreements the audits measure
    * (spec-asserted in ModalityAuditSpec). */
  def verifiedHamming(cands: DataFrame, cfg: DedupConfig): DataFrame =
    cands.filter(col("dist") <= cfg.maxHamming).select(col("a"), col("b"))

  /** Stage 5 — exact substring-duplicate captions (north-rule must-link). */
  def substringPairs(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    SubstringDup.containedPairs(sigs.sparkSession,
      sigs.select(col("image_id").as("id"), col("caption_norm").as("text")),
      cfg.substringWindow)

  /** Stage 6 — clusters: connected components over all accepted pairs. */
  def clusters(images: DataFrame, pairs: DataFrame): DataFrame =
    ConnectedComponents.run(images.sparkSession, pairs,
      images.select(col("image_id").as("id")))
      .withColumnRenamed("id", "image_id")

  /** The sorted-neighbor candidate input for a self-dedup batch: the exact
    * band rows (`exact`, by default [[bands]] of `sigs`), plus — when
    * `cfg.bandProbes > 0` — every row's TRANSIENT probe rows
    * ([[probeBands]]), which sort adjacent to the flipped bucket's true
    * members so a reduced-band config recovers the recall of a wide one
    * (the batch form of the streaming probe join; `sigs` must carry
    * `margins` when probing, see [[signaturesFor]]). Probe rows exist only
    * inside this candidate pass — anything PERSISTED (DedupJob's bands
    * stage, the streaming index) stays exact-only. */
  def candidateBands(sigs: DataFrame, cfg: DedupConfig,
      exact: Option[DataFrame] = None): DataFrame = {
    val exactBands = exact.getOrElse(bands(sigs, cfg))
    if (cfg.bandProbes > 0) exactBands.unionByName(probeBands(sigs, cfg))
    else exactBands
  }

  /** Every accepted pair of a self-dedup batch: signatures →
    * {candidates ∥ substring} → verified ∪ substring, the in-memory form
    * of the pair pipeline ([[graft.DedupJob]] commits the same stages for
    * resume). The intermediates go through [[graft.core.Checkpoints.ckpt]],
    * so a caller's scope releases them. The pairs are NOT distinct: the
    * local union-find is indifferent to duplicates, and the distributed
    * loop distincts its symmetrized edge table itself. */
  def acceptedPairs(images: DataFrame, cfg: DedupConfig): DataFrame = {
    import graft.core.Checkpoints.{ckpt, par2}
    val sigs = ckpt(signaturesFor(images, cfg))
    // checkpoint: `verified` consumes candidates on two branches (Hamming
    // accept + minhash-jaccard remainder) and Catalyst does not reuse
    // common subplans across DataFrame branches — without this the whole
    // band-sort-window DAG executes twice. The substring pass depends only
    // on the signatures, so it materializes CONCURRENTLY with the candidate
    // job (guide §2.6) instead of serially inside the consumer's action.
    val (cands, ssp) = par2(
      () => ckpt(candidates(candidateBands(sigs, cfg), cfg)),
      () => ckpt(substringPairs(sigs, cfg)))
    verified(cands, sigs, cfg).union(ssp)
  }

  /** End-to-end: images → (image_id, cluster_id). Scoped ([[graft.core
    * .Checkpoints]]): the signature/candidate checkpoints are released once
    * the clustering is materialized, so repeated runs in one session do not
    * accumulate block storage. */
  def run(images: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame =
    graft.core.Checkpoints.scoped(images.sparkSession) {
      clusters(images, acceptedPairs(images, cfg))
    }

  /** All predicted duplicate pairs implied by the clustering (for the recall
    * gate): within-cluster pairs, a < b. */
  def clusterPairs(clusterDf: DataFrame): DataFrame = {
    val l = clusterDf.select(col("cluster_id"), col("image_id").as("a"))
    val r = clusterDf.select(col("cluster_id"), col("image_id").as("b"))
    l.join(r, "cluster_id").filter(col("a") < col("b")).select("a", "b")
  }

  /** Per-bucket size stats — the skew observability feed for the metrics
    * table. The sorted-neighbor pass never drops rows, but a bucket above
    * `hotBucketThreshold` signals the prefix is too coarse for the data
    * volume (action: widen prefixBits — north rule: no silent degradation). */
  def bucketStats(bandsDf: DataFrame, cfg: DedupConfig): DataFrame =
    bandsDf.groupBy("band_id", "band_key").count()
      .agg(count(lit(1)).as("buckets"),
        max("count").as("max_bucket"),
        sum(when(col("count") > cfg.hotBucketThreshold, 1L).otherwise(0L))
          .as("hot_buckets"))
}

final case class BandKey(band_id: Int, band_key: Long)
