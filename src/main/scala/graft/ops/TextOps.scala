package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the `documents`
  * table — language-ID, quality scoring, token counting, fingerprinting,
  * n-gram shingling. All pure `org.apache.spark.sql.functions` column
  * expressions (whole-stage codegen, no UDFs), each with an exact DuckDB
  * oracle in SparkEntry.oracleSql.
  */
object TextOps {

  /** Whitespace tokens, empties dropped (deterministic across engines). */
  def tokensCol(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Word 3-gram shingles (distinct), space-joined — the mnemonic-3-gram
    * analog (SURVEY.md §2.2 P2). A compiled single-pass UDF, deliberately
    * NOT array higher-order functions: `transform`/`element_at` lambdas are
    * interpreted (no whole-stage codegen) with no common-subexpression
    * elimination, so the embedded `split()` re-executed per position ×3 —
    * measured 34+ s at sf0.1 where this UDF plan takes ~2 s. Semantics are
    * identical to the DuckDB oracle's list comprehension. */
  val shingles3Udf = udf((text: String) => {
    if (text == null) Array.empty[String]
    else {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      if (toks.length < 3) Array.empty[String]
      else toks.sliding(3).map(_.mkString(" ")).toArray.distinct
    }
  })

  def shingles3Col(text: Column): Column = shingles3Udf(text)

  def tokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(tokensCol(col("text"))).as("n_tokens"))
      .orderBy("doc_id")

  /** Stopword-voting language ID. Deterministic: max hits wins, ties broken
    * by language-code order, zero hits → "und". */
  val StopwordSets: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ein", "nicht", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "los", "y", "que", "un", "una", "es"),
    "fr" -> Seq("le", "les", "et", "que", "un", "une", "est"))

  def langId(docs: DataFrame): DataFrame = {
    val toks = tokensCol(col("text"))
    val hitCols = StopwordSets.map { case (lang, words) =>
      lang -> size(filter(toks, t =>
        array_contains(array(words.map(lit): _*), t)))
    }
    val best = hitCols.foldLeft((lit("und"), lit(0))) {
      case ((bl, bh), (lang, hits)) =>
        // strictly-greater keeps the earlier (lexicographically first) winner
        (when(hits > bh, lit(lang)).otherwise(bl),
          when(hits > bh, hits).otherwise(bh))
    }
    docs.select(col("doc_id"), best._1.as("lang_pred"), best._2.as("hits"))
      .orderBy("doc_id")
  }

  /** Quality signals: token count, mean token length, distinct-token ratio,
    * stopword ratio — rounded so the Spark and DuckDB doubles agree. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokensCol(col("text"))
    val allStop = StopwordSets.flatMap(_._2).distinct.sorted
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      round(aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") /
        size(toks), 4).as("mean_tok_len"),
      round(size(array_distinct(toks)).cast("double") / size(toks), 4)
        .as("uniq_ratio"),
      round(size(filter(toks, t =>
        array_contains(array(allStop.map(lit): _*), t))).cast("double") /
        size(toks), 4).as("stopword_ratio")
    ).orderBy("doc_id")
  }

  /** Positional document fingerprint: (sum (i+1)·code(ch_i) mod p, sum
    * code(ch_i)) over the raw characters — an order-sensitive rolling
    * fingerprint expressible exactly in both engines (SURVEY.md §2.9 C6
    * caveat: the hash spec must be engine-portable, so the fingerprint is
    * defined arithmetically, not via a library hash).
    *
    * Implementation: one compiled single-pass UDF over the code points —
    * the previous split-per-character + `zip_with`/`aggregate` HOF chain
    * was interpreted (CodegenFallback) and allocated one single-char
    * string per character per row (r5 verdict #3 follow-up; the
    * `shingles3Udf` rationale at the top of this file). Arithmetic is
    * identical, including the null/empty edges the HOF form had: null
    * text → (null, null); zero characters → (null, 0) — the HOF chain's
    * `sequence(1, greatest(size, 1))` zip padded a null into the
    * positional sum there. The DuckDB oracle (q14) mirrors the same
    * definition and is unchanged. */
  val fingerprintUdf = udf((text: String) => {
    if (text == null) (None: Option[Long], None: Option[Long])
    else {
      var pos = 0L; var sum = 0L; var idx = 1L
      var i = 0
      while (i < text.length) {
        val cp = text.codePointAt(i)
        pos += idx * cp
        sum += cp
        idx += 1
        i += Character.charCount(cp)
      }
      if (idx == 1L) (None: Option[Long], Some(0L))
      else (Some(java.lang.Math.floorMod(pos, 1000000007L)), Some(sum))
    }
  })

  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprintUdf(col("text")).as("fp"))
      .select(col("doc_id"), col("fp._1").as("fp_pos"),
        col("fp._2").as("fp_sum"))
      .orderBy("doc_id")

  /** All document pairs with word-3-gram Jaccard >= `minJaccard`, computed
    * the scalable way: explode shingles, equi-join on the shingle, count
    * intersections, derive |A∪B| = |A|+|B|−|A∩B|. No O(n²) cross join —
    * this is the exact-verification mirror of the MinHash path and the plan
    * shape that survives 100×: the join key is the shingle and the
    * aggregation is partial-agg friendly.
    *
    * Hot-shingle guard: a shingle present in m documents emits m² join rows
    * — one common phrase ("click here to subscribe") in a web corpus turns
    * the equi-join quadratic. Shingles with document frequency >
    * `maxShingleDf` are excluded from the shingle universe (both the
    * intersection AND the per-doc sizes, so Jaccard stays consistent), and
    * the drop is LOGGED — no silent truncation. The oracle SQL applies the
    * identical cap, so the operator semantics are "Jaccard over
    * df<=K shingles" in both engines. */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double,
      maxShingleDf: Int = 1000): DataFrame =
    graft.core.Checkpoints.scoped(docs.sparkSession) {
      ngramJaccardPairsImpl(docs, minJaccard, maxShingleDf)
    }

  private def ngramJaccardPairsImpl(docs: DataFrame, minJaccard: Double,
      maxShingleDf: Int): DataFrame = {
    // materialized once: the shingle table feeds the hot-key count, the
    // per-doc sizes, and BOTH sides of the intersection self-join — without
    // this the text scan + shingle explode runs four times per action
    val shAll = graft.core.Checkpoints.ckpt(
      docs.select(col("doc_id"), explode(shingles3Col(col("text"))).as("sh")))
    val sh = dropHotKeys(shAll, "sh", maxShingleDf, "ngramJaccardPairs")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.select(col("doc_id").as("a"), col("sh"))
      .join(sh.select(col("doc_id").as("b"), col("sh")), "sh")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      // threshold on the RAW ratio, round only for output — the DuckDB
      // oracle's WHERE compares the unrounded value, and a pair landing in
      // [minJaccard - 5e-5, minJaccard) would otherwise pass here only
      .withColumn("jacc_raw", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jacc_raw") >= minJaccard)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        round(col("jacc_raw"), 4).as("jacc"))
      .orderBy("doc_a", "doc_b")
  }

  /** The df-cap hot-key guard shared by every capped candidate generator
    * (n-gram Jaccard here, shared-span mining in SubstringDup): keys with
    * document frequency > `maxDf` are excluded and the drop is LOGGED —
    * no silent truncation. The hot set (df > K) is tiny by construction,
    * so it is collected ONCE (a `count` plus a later `broadcast(hot)`
    * would run the same groupBy twice) and excluded via a local-relation
    * broadcast anti-join, never shuffling the full key table; no hot
    * keys → no join at all. One implementation so the guard's contract —
    * which both operators' DuckDB oracles mirror — cannot drift between
    * them. */
  private[graft] def dropHotKeys(df: DataFrame, keyCol: String, maxDf: Int,
      opLabel: String): DataFrame =
    splitHotKeys(df, keyCol, maxDf, opLabel)._1

  /** Like `dropHotKeys`, but also RETURNS the hot-key rows so a caller can
    * process them through a bounded fallback (e.g. the embedding ANN's
    * connectivity-preserving chain over a hot bucket) instead of losing
    * them. `(kept, hot)` partition the input; `hot` is empty (fast path:
    * no join at all) when no key exceeds `maxDf`. */
  private[graft] def splitHotKeys(df: DataFrame, keyCol: String, maxDf: Int,
      opLabel: String): (DataFrame, DataFrame) = {
    val hot = df.groupBy(keyCol).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(keyCol)
    val hotRows = hot.collect()
    if (hotRows.isEmpty) (df, df.limit(0))
    else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$opLabel: split off ${hotRows.length} keys with df > $maxDf " +
          "(hot-key guard); candidates are over the capped universe")
      import scala.jdk.CollectionConverters._
      val hotDf = broadcast(df.sparkSession.createDataFrame(
        hotRows.toList.asJava, hot.schema))
      (df.join(hotDf, Seq(keyCol), "left_anti"),
        df.join(hotDf, Seq(keyCol), "left_semi"))
    }
  }

  /** Distinct word n-grams, space-joined — `shingles3Udf` generalized (same
    * compiled-single-pass rationale; the HOF route re-executes the split
    * per position). */
  def gramsCol(text: Column, n: Int): Column = {
    val g = udf((t: String) =>
      if (t == null) Array.empty[String]
      else {
        val toks = t.split("\\s+").filter(_.nonEmpty)
        if (toks.length < n) Array.empty[String]
        else toks.sliding(n).map(_.mkString(" ")).toArray.distinct
      })
    g(text)
  }

  /** Test-set decontamination — the published exact-overlap recipe (GPT-3
    * appendix C / Llama 2 §A.6: a training document is contaminated if it
    * shares any word 13-gram with an evaluation benchmark). One row per
    * contaminated training doc: distinct shared grams + distinct benchmark
    * docs hit.
    *
    * Scale shape: benchmarks are small by nature (MBs of eval sets vs the
    * full training corpus), so the bench gram table is BROADCAST — the
    * training side streams scan → explode → broadcast-hash-join with no
    * shuffle of training grams; the only shuffle is the per-doc aggregate
    * over MATCHED rows (bounded by contamination volume, not corpus
    * volume). If the bench side ever outgrew the broadcast budget the same
    * plan degrades to a sort-merge join on the gram — semantics unchanged. */
  def decontaminate(train: DataFrame, bench: DataFrame,
      n: Int = 13): DataFrame = {
    val tg = train.select(col("doc_id"),
      explode(gramsCol(col("text"), n)).as("gram"))
    val bg = bench.select(col("doc_id").as("bench_id"),
      explode(gramsCol(col("text"), n)).as("gram"))
    tg.join(broadcast(bg), "gram")
      .groupBy("doc_id")
      .agg(countDistinct("gram").as("n_shared_grams"),
        countDistinct("bench_id").as("n_bench_docs"))
      .orderBy("doc_id")
  }

  /** Near-match test-set decontamination — the fuzzy sibling of
    * [[decontaminate]]: an exact shared-13-gram rule misses a benchmark doc
    * that was re-formatted, lightly paraphrased, or token-edited on its way
    * into the crawl (every 13-gram is broken by one edit per 12 tokens),
    * while its word-3-gram Jaccard against the training doc stays high. The
    * published fuzzy recipe is MinHash-LSH between the training corpus and
    * the eval benchmarks with an exact-Jaccard verify on the candidates
    * (the cross-corpus form of `minhashLshDedup`). One row per
    * (training doc, benchmark doc) pair with Jaccard >= `minJaccard`.
    *
    * Scale shape: the benchmark side is small by nature (MBs of eval sets),
    * so BOTH its band table and its shingle sets are BROADCAST — the
    * training side streams scan → sketch → band explode →
    * broadcast-hash-join with no training-side shuffle at all; the only
    * shuffled rows are matched candidates (bounded by contamination
    * volume). At b=16/r=4 a pair at Jaccard >= 0.5 is missed with
    * probability < 1e-15, which is what makes DuckDB's brute-force
    * train × bench exact Jaccard a value oracle for the whole operator
    * (q17's argument, cross-corpus). */
  def fuzzyDecontaminate(train: DataFrame, bench: DataFrame,
      minJaccard: Double = 0.5, k: Int = 64, bands: Int = 16,
      rows: Int = 4): DataFrame =
    graft.core.Checkpoints.scoped(train.sparkSession) {
      fuzzyDecontaminateImpl(train, bench, minJaccard, k, bands, rows,
        graft.core.Checkpoints.ckpt)
    }

  /** The operator body without the checkpoint scope — PlanDump uses this to
    * inspect the composed physical plan (a scope's eager materialization
    * reduces explain() to the checkpointed RDD scan). */
  private[graft] def fuzzyDecontaminateUnscoped(train: DataFrame,
      bench: DataFrame, minJaccard: Double): DataFrame =
    fuzzyDecontaminateImpl(train, bench, minJaccard, 64, 16, 4, identity)

  private def fuzzyDecontaminateImpl(train: DataFrame, bench: DataFrame,
      minJaccard: Double, k: Int, bands: Int, rows: Int,
      mat: DataFrame => DataFrame): DataFrame = {
    // train sketches feed the band explode AND the verify join-back;
    // bench sketches feed the (broadcast) band table AND the verify —
    // each materialized once
    val ts = mat(DedupOps.shingleSketch(train, k))
    val bs = mat(DedupOps.shingleSketch(bench, k))
    val tb = DedupOps.sketchBands(ts, bands, rows)
    val bb = DedupOps.sketchBands(bs, bands, rows)
      .select(col("doc_id").as("bench_id"), col("band_id"), col("band_key"))
    val cands = mat(tb.join(broadcast(bb), Seq("band_id", "band_key"))
      .select("doc_id", "bench_id").distinct())
    // the candidate count grows with contamination, not with the bench, so
    // the broadcast is forced only while the candidates' size, estimated
    // per row as the planner does (8 bytes + the schema's default size),
    // fits the session's autoBroadcastJoinThreshold; above it the planner
    // picks the join
    val candBytes = cands.count() * (8L + cands.schema.defaultSize)
    val candSide = if (candBytes <= train.sparkSession.sessionState.conf
      .autoBroadcastJoinThreshold) broadcast(cands) else cands
    val jacc = udf((x: Seq[Long], y: Seq[Long]) =>
      graft.core.MinHash.exactJaccard(x.toSet, y.toSet))
    // candidates (contamination-bounded, usually tiny) broadcast against
    // the training sketch table — not the other way around: `cands.join(ts)`
    // planned a full shuffle of every training doc's shingle set unless AQE
    // happened to convert it, contradicting the no-training-side-shuffle
    // scale shape documented above (r5 ADVICE)
    ts.select(col("doc_id"), col("sh"))
      .join(candSide, "doc_id")
      .join(broadcast(bs.select(col("doc_id").as("bench_id"),
        col("sh").as("bench_sh"))), "bench_id")
      .withColumn("jacc", round(jacc(col("sh"), col("bench_sh")), 4))
      .filter(col("jacc") >= minJaccard)
      .select(col("doc_id"), col("bench_id"), col("jacc"))
      .orderBy("doc_id", "bench_id")
  }

  /** Per-doc intra-document repetition signals (the Gopher quality-filter
    * family, Rae et al. 2021 §A1.1): the most frequent word 2-gram and the
    * fraction of text characters its occurrences cover (count × gram length
    * / text length), plus the fraction of 5-gram positions whose gram
    * occurs more than once. Ties on the top 2-gram break to the
    * lexicographically smallest gram; docs under 2 (resp. 5) tokens get
    * NULL for the signal. A per-doc statistic needs no shuffle at all — one
    * compiled single-pass UDF per row (map-only projection), NOT a
    * groupBy(doc, gram) that would shuffle every gram in the corpus. */
  val repetitionUdf = udf((text: String) => {
    val toks =
      if (text == null) Array.empty[String]
      else text.split("\\s+").filter(_.nonEmpty)
    def counts(n: Int): scala.collection.mutable.HashMap[String, Int] = {
      val m = scala.collection.mutable.HashMap.empty[String, Int]
      if (toks.length >= n) toks.sliding(n).foreach { g =>
        val k = g.mkString(" "); m.update(k, m.getOrElse(k, 0) + 1)
      }
      m
    }
    val c2 = counts(2)
    val (top2, top2n) =
      if (c2.isEmpty) (null: String, 0)
      else c2.toArray.minBy { case (g, c) => (-c, g) }
    val c5 = counts(5)
    (top2, top2n, c5.valuesIterator.sum,
      c5.valuesIterator.filter(_ > 1).sum)
  })

  def repetitionScore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), length(col("text")).as("n_txt"),
      repetitionUdf(col("text")).as("r"))
      .select(col("doc_id"),
        col("r._1").as("top_2gram"),
        when(col("r._2") > 0,
          round(col("r._2") * length(col("r._1")) /
            col("n_txt").cast("double"), 4)).as("top_2gram_frac"),
        when(col("r._3") > 0,
          round(col("r._4").cast("double") / col("r._3"), 4))
          .as("dup_5gram_frac"))
      .orderBy("doc_id")

  /** Deterministic per-source sampling — the domain-mixing step of a
    * training-data pipeline (down/up-weight sources to a target mix).
    * Keep a row iff `(doc_id·40503 + 9973) mod m < thr(source)`: pure
    * codegen arithmetic, reproducible across engines and re-runs (no RNG
    * seed drift, unlike `sampleBy`), and exactly mirrorable in the DuckDB
    * oracle. Map-only over the corpus — the thresholds are a broadcast dim
    * join; sources absent from the map are dropped (rate 0). */
  def deterministicSample(docs: DataFrame, thrBySource: Map[String, Long],
      m: Long = 1000003L): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val rows = thrBySource.toSeq.sortBy(_._1)
      .map { case (s, t) => org.apache.spark.sql.Row(s, t) }
    val dim = broadcast(docs.sparkSession.createDataFrame(rows.asJava,
      StructType(Seq(StructField("source", StringType, nullable = false),
        StructField("thr", LongType, nullable = false)))))
    docs.join(dim, Seq("source"), "inner")
      .filter(pmod(col("doc_id") * lit(40503L) + lit(9973L), lit(m)) <
        col("thr"))
      .drop("thr")
  }
}
