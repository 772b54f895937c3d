package graft.index

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.core.{BitOps, CodePointOrder}
import graft.lsh.Bands
import graft.pipeline.{Dedup, DedupConfig}

/** The reference's primary API re-expressed as DataFrame transforms:
  * `SimHashSearchIndex.AddFunction` / `QueryTopN`
  * (`searchbackend/simhashsearchindex.cpp:48-187`, surfaced in
  * `pybindings.cpp:360-517` as add_function/query_top_N).
  *
  * The index is a table, not a file: one row per (permutation, bucket)
  * per record. A query batch is served one of two ways (see [[queryTopN]]):
  *  - small batches, like the reference's per-query `lower_bound` bucket
  *    lookups: the probe keys are computed on the driver and the matching
  *    index rows are read with ONE pushed predicate
  *    `OR over bands (band_id = b AND band_key IN keys_b)`, then ranked on
  *    the driver. On parquet, the pushed predicate lets row-group statistics
  *    skip row groups whose (band_id, band_key) range misses every key;
  *    nothing prunes whole files yet (no per-file key bounds are kept).
  *  - larger batches, as a broadcast of the probe rows against the index:
  *    one equi-join on (band_id, band_key).
  */
object SimIndex {

  /** Build index rows from signatures `(id, sim_hi, sim_lo)`. Append = just
    * union/append more rows (the reference's index-file append, K1).
    * Carries BOTH the un-permuted signature (`sim_hi/sim_lo`, for the
    * full-width Hamming verify) and the permuted band words
    * (`sort_hi/sort_lo` — what the reference's `IndexEntry` actually stores,
    * `simhashsearchindex.hpp:91-99`, and what `DumpIndexToStdout` prints). */
  def build(sigs: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame = {
    val nb = cfg.nBands; val pb = cfg.prefixBits
    val bandsUdf = udf((hi: Long, lo: Long) => Bands.simhashBands(hi, lo, nb, pb))
    sigs.select(col("id"), col("sim_hi"), col("sim_lo"),
        explode(bandsUdf(col("sim_hi"), col("sim_lo"))).as("bk"))
      .select(col("bk.band_id").as("band_id"), col("bk.band_key").as("band_key"),
        col("bk.sort_hi").as("sort_hi"), col("bk.sort_lo").as("sort_lo"),
        col("id"), col("sim_hi"), col("sim_lo"))
  }

  /** Top-N most-similar index entries per query, reference semantics:
    * probe the query's `nBands` permuted buckets, full-width Hamming on every
    * collision, dedup per candidate (A3), `similarity = 128 - distance`,
    * keep `similarity > minSimilarity*128` (strict, F5,
    * `matchfunctionsfromindex.cpp:165`), rank by (distance asc, id asc) and
    * take N (`simhashsearchindex.cpp:111-136`).
    *
    * With `extraProbes > 0` (multi-probe — Lv et al. applied to the
    * permuted-band layout), each query band also probes that many
    * flipped-key buckets, flipping its lowest-|fold-accumulator| key bits
    * first; queries must then carry a `margins` column (the 128-entry
    * array from `SimHash.simhash128WithMargins`). Probing buys back the
    * recall a smaller `cfg.nBands` gives up — the INDEX side, which is
    * what dominates storage at 10^12 rows, shrinks by the band ratio while
    * only the per-query probe fan-out grows. Candidate semantics are
    * unchanged: full-width Hamming verify, per-candidate dedup, same
    * ranking (probing can only ADD candidates, never alter a distance).
    *
    * Two plans, one result (same rows, same schema):
    *  - the small path ([[localTopN]]) while the batch has at most
    *    [[smallBatchRows]] rows and its index hits fit the session's
    *    `spark.sql.autoBroadcastJoinThreshold`: two bounded collects (the
    *    query rows, then the index rows one pushed predicate selects) and a
    *    driver-side rank. It runs eagerly, in two Spark jobs, and returns a
    *    local DataFrame.
    *  - otherwise the broadcast-join plan ([[joinTopN]]), lazily. A batch
    *    over the cap, or a hit set over the bound, wastes the one bounded
    *    collect that found it out; a threshold of -1 skips the small path.
    *
    * @param queries `(query_id, sim_hi, sim_lo[, margins])` — small batch
    */
  def queryTopN(index: DataFrame, queries: DataFrame, n: Int,
      minSimilarity: Double, cfg: DedupConfig = DedupConfig(),
      extraProbes: Int = 0): DataFrame =
    localTopN(index, queries, n, minSimilarity, cfg, extraProbes)
      .getOrElse(joinTopN(index, queries, n, minSimilarity, cfg, extraProbes))

  /** The query rows the small path takes: twice the session's default
    * parallelism, the partition count `Dedup.signatures` spreads a starved
    * scan to — spreading a batch this small buys at most one row per task. */
  private[graft] def smallBatchRows(spark: SparkSession): Int =
    2 * spark.sparkContext.defaultParallelism

  /** [[queryTopN]]'s broadcast-join plan: probe rows broadcast against the
    * index, Hamming per collision, min per (query, candidate), rank window. */
  private[graft] def joinTopN(index: DataFrame, queries: DataFrame, n: Int,
      minSimilarity: Double, cfg: DedupConfig = DedupConfig(),
      extraProbes: Int = 0): DataFrame = {
    val nb = cfg.nBands; val pb = cfg.prefixBits
    val probes0 =
      if (extraProbes == 0) {
        val bandsUdf =
          udf((hi: Long, lo: Long) => Bands.simhashBands(hi, lo, nb, pb))
        queries.select(col("query_id"),
          col("sim_hi").as("q_hi"), col("sim_lo").as("q_lo"),
          explode(bandsUdf(col("sim_hi"), col("sim_lo"))).as("bk"))
      } else {
        requireMargins(queries, extraProbes)
        val probeUdf = udf((hi: Long, lo: Long, m: Seq[Double]) =>
          Bands.simhashBands(hi, lo, nb, pb) ++
            Bands.simhashProbeBands(hi, lo, m.toArray, nb, pb, extraProbes))
        queries.select(col("query_id"),
          col("sim_hi").as("q_hi"), col("sim_lo").as("q_lo"),
          explode(probeUdf(col("sim_hi"), col("sim_lo"), col("margins"))).as("bk"))
      }
    val probes = probes0
      .select(col("bk.band_id").as("band_id"), col("bk.band_key").as("band_key"),
        col("query_id"), col("q_hi"), col("q_lo"))
    val hits = broadcast(probes)
      .join(index, Seq("band_id", "band_key"))
      .select(col("query_id"), col("id"),
        Dedup.hamming128Col(col("q_hi"), col("q_lo"),
          col("sim_hi"), col("sim_lo")).as("dist"))
      .groupBy("query_id", "id").agg(min("dist").as("dist"))
      .withColumn("similarity", lit(128) - col("dist"))
      .filter(col("similarity") > lit(minSimilarity * 128))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("id").asc)
    hits.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .select("query_id", "id", "similarity", "rank")
  }

  /** [[queryTopN]]'s small path, or None where the join plan must serve.
    *  1. The query rows come to the driver in one bounded collect: at most
    *     [[smallBatchRows]], else None (the batch is large).
    *  2. Their probe keys are computed here, by the same
    *     `Bands.simhashBands` / `simhashProbeBands` kernels the join plan's
    *     UDFs call.
    *  3. The index rows under those keys come in a second bounded collect,
    *     read with one pushed predicate; the bound is the number of hit rows
    *     whose planner size estimate (8 bytes + the row's default size) fits
    *     `spark.sql.autoBroadcastJoinThreshold`, the budget the join plan's
    *     broadcast already assumes. Over it, None.
    *  4. Min distance per (query_id, id), the strict
    *     `similarity > minSimilarity·128` filter and the (dist, id) rank run
    *     here, ids in Spark's string order ([[CodePointOrder]]).
    * Queries with a null signature probe nothing, as the join plan's UDF
    * yields no rows for them. Only string ids and string/int/long query ids
    * take this path (their Java equality and order are Spark's). */
  private[graft] def localTopN(index: DataFrame, queries: DataFrame, n: Int,
      minSimilarity: Double, cfg: DedupConfig = DedupConfig(),
      extraProbes: Int = 0): Option[DataFrame] = {
    val spark = queries.sparkSession
    val hitCols = Seq("band_id", "band_key", "id", "sim_hi", "sim_lo").map(col)
    val hitRowBytes = 8L + index.select(hitCols: _*).schema.defaultSize
    val hitCap = math.min(spark.sessionState.conf.autoBroadcastJoinThreshold /
      hitRowBytes, Int.MaxValue - 1L).toInt
    val qIdField = queries.schema("query_id")
    val idField = index.schema("id")
    val keyed = Set[DataType](StringType, IntegerType, LongType)
    if (hitCap < 1 || idField.dataType != StringType ||
        !keyed(qIdField.dataType)) return None
    requireMargins(queries, extraProbes)
    val qCols = Seq("query_id", "sim_hi", "sim_lo") ++
      (if (extraProbes > 0) Seq("margins") else Nil)
    val schema = StructType(Seq(qIdField, idField,
      StructField("similarity", IntegerType, nullable = true),
      StructField("rank", IntegerType, nullable = false)))
    for {
      qs <- collectWithin(queries.select(qCols.map(col): _*), smallBatchRows(spark))
      probes = probesOf(qs, cfg, extraProbes)
      hits <-
        if (probes.isEmpty) Some(Array.empty[Row])
        else collectWithin(index.filter(bucketPredicate(probes.keySet))
          .select(hitCols: _*), hitCap)
    } yield spark.createDataFrame(
      rankHits(qs, probes, hits, n, minSimilarity).asJava, schema)
  }

  /** Probe bucket `(band_id, band_key)` -> the query rows
    * `(query_id, sim_hi, sim_lo[, margins])` probing it, by the join plan's
    * kernels; a row with a null signature probes nothing. */
  private def probesOf(qs: Array[Row], cfg: DedupConfig,
      extraProbes: Int): Map[(Int, Long), Seq[Row]] = {
    val nb = cfg.nBands; val pb = cfg.prefixBits
    qs.toSeq.filterNot(q => q.isNullAt(1) || q.isNullAt(2)).flatMap { q =>
      val (hi, lo) = (q.getLong(1), q.getLong(2))
      val exact = Bands.simhashBands(hi, lo, nb, pb)
      val keys =
        if (extraProbes == 0) exact
        else {
          require(!q.isNullAt(3), s"query ${q.get(0)} has null margins")
          exact ++ Bands.simhashProbeBands(hi, lo,
            q.getSeq[Double](3).toArray, nb, pb, extraProbes)
        }
      keys.map(k => (k.band_id, k.band_key) -> q)
    }.groupMap(_._1)(_._2)
  }

  /** `OR over bands (band_id = b AND band_key IN keys_b)`: a filter Parquet
    * can push down and check against row-group statistics. */
  private def bucketPredicate(buckets: Set[(Int, Long)]): Column =
    buckets.groupMap(_._1)(_._2).toSeq.sortBy(_._1).map { case (b, ks) =>
      col("band_id") === b && col("band_key").isin(ks.toSeq.sorted: _*)
    }.reduce(_ || _)

  /** The join plan's aggregate and rank, on the driver: min distance per
    * (query_id, id), strict `similarity > minSimilarity·128`, then the first
    * `n` by (dist asc, id asc) — ids in Spark's string order, a null id
    * first. Rows `(query_id, id, similarity, rank)`. */
  private def rankHits(qs: Array[Row], probes: Map[(Int, Long), Seq[Row]],
      hits: Array[Row], n: Int, minSimilarity: Double): Seq[Row] = {
    // query_id -> (id -> min distance), queries in first-seen order
    val best = new java.util.LinkedHashMap[Any, java.util.HashMap[String, Integer]]()
    qs.foreach(q => best.putIfAbsent(q.get(0), new java.util.HashMap()))
    hits.filterNot(h => h.isNullAt(3) || h.isNullAt(4)).foreach { h =>
      probes.getOrElse((h.getInt(0), h.getLong(1)), Nil).foreach { q =>
        val d = BitOps.hamming128(q.getLong(1), q.getLong(2), h.getLong(3), h.getLong(4))
        best.get(q.get(0)).merge(h.getString(2), d, (x, y) => math.min(x, y))
      }
    }
    def before(a: (String, Int), b: (String, Int)): Boolean =
      if (a._2 != b._2) a._2 < b._2
      else if (a._1 == null) b._1 != null
      else b._1 != null && CodePointOrder.lt(a._1, b._1)
    best.asScala.toSeq.flatMap { case (qid, cands) =>
      cands.asScala.toSeq.map { case (id, d) => (id, d.intValue) }
        .filter { case (_, d) => (128 - d).toDouble > minSimilarity * 128 }
        .sortWith(before).take(math.max(n, 0)).zipWithIndex
        .map { case ((id, d), r) => Row(qid, id, 128 - d, r + 1) }
    }
  }

  private def requireMargins(queries: DataFrame, extraProbes: Int): Unit =
    require(extraProbes == 0 || queries.columns.contains("margins"),
      "multi-probe queries need a margins column " +
        "(SimHash.simhash128WithMargins)")

  /** All rows of `df` if it has at most `cap`, else None — from ONE Spark
    * job over every partition (`limit(cap + 1).collect()` scans partitions
    * in growing waves, one job per wave). Each task returns at most
    * `cap + 1` rows, and the driver keeps at most `cap + 1` in all. The
    * job runs `df`'s own physical plan (`Dataset.rdd` would plan it again
    * under a deserializer); only the kept rows are converted. */
  private def collectWithin(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val rdd = df.queryExecution.toRdd
    val parts = new Array[Array[InternalRow]](rdd.getNumPartitions)
    var kept = 0L
    df.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => it.take(cap + 1).map(_.copy()).toArray,
      (i: Int, rows: Array[InternalRow]) =>
        if (kept <= cap) { kept += rows.length; parts(i) = rows })
    if (kept > cap) None
    else {
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      Some(parts.flatten.map(toRow(_).asInstanceOf[Row]))
    }
  }


  /** J3 — metadata enrichment of query results, the composition the
    * reference's match tool performs per hit
    * (`matchfunctionsfromindex.cpp:189-196`): candidate id → file name,
    * base64-decoded symbol, vulnerability flag. Metadata is the small side
    * → broadcast left join; hits with no metadata row keep null columns
    * (the reference prints them bare). `metadata` is `RefFormats
    * .readMetadata` output; ids follow the `fileid:address` convention. */
  def enrichTopN(results: DataFrame, metadata: DataFrame): DataFrame =
    results.join(
      broadcast(metadata.select(
        concat_ws(":", col("file_id"), col("address")).as("id"),
        col("file_name"), col("symbol"), col("vulnerable"))),
      Seq("id"), "left")

  /** Index introspection — the `indexed_functions` / `get_used_size`
    * surface (`pybindings.cpp:430-474`, stats dump
    * `simhashsearchindex.cpp:189-211`): total index entries, distinct
    * indexed records, occupied buckets, and the largest bucket (the skew
    * signal). Free/used BYTE sizes are deliberately absent — columnar
    * storage is elastic, the mmap-full guard (F8) has no analog. */
  def stats(index: DataFrame): DataFrame = {
    val buckets = index.groupBy("band_id", "band_key").count()
    index.agg(count(lit(1)).as("index_entries"),
        countDistinct("id").as("indexed_records"))
      .crossJoin(buckets.agg(count(lit(1)).as("occupied_buckets"),
        max("count").as("max_bucket")))
  }

  /** `GetOddsOfRandomHit` (`simhashsearchindex.cpp:142-157`), same
    * direction and scale as the reference: "such a deviation would occur by
    * chance once every RESULT searches" — BIGGER is better; < 1 means the
    * match is probably random. Normal approximation of Binomial(128, 0.5)
    * (mean 64, sd sqrt(32)): `1 / (1 - erf(z/sqrt 2)) / indexedRecords`
    * where z = |similarity - 64| / sd. */
  def oddsOfRandomHit(similarity: Int, indexedRecords: Long): Double = {
    val sd = math.sqrt(128.0 * 0.5 * 0.5)
    val z = math.abs(similarity - 64.0) / sd
    // complementary tail computed DIRECTLY (erfc), not as 1 - erf: for
    // similarity ≳ 112 the tail is below ulp(1.0) and `1 - erf(z)` cancels
    // to exactly 0.0, returning Infinity for the strongest (most common)
    // hits; the A&S polynomial times exp(-x²) keeps it finite
    1.0 / erfc(z / math.sqrt(2.0)) / indexedRecords
  }

  /** Complementary error function via Abramowitz–Stegun 7.1.26
    * (|err| < 1.5e-7 absolute; the poly·exp(−x²) form stays accurate and
    * non-zero deep into the tail where 1−erf(x) underflows). */
  private def erfc(x: Double): Double = {
    val a = math.abs(x)
    val t = 1.0 / (1.0 + 0.3275911 * a)
    val tail = (((((1.061405429 * t - 1.453152027) * t) + 1.421413741) * t -
      0.284496736) * t + 0.254829592) * t * math.exp(-a * a)
    if (x >= 0) tail else 2.0 - tail
  }
}
