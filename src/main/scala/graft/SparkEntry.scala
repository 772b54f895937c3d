package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Checkpoints.ckpt
import graft.ops.{DedupOps, EmbeddingOps, TextOps, TieredDedup}
import graft.pipeline.{Dedup, DedupConfig}
import graft.images.SyntheticCorpus

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2), each with a DuckDB oracle where ANSI-expressible.
  * Hash-kernel operators (SimHash/LSH/image pipeline) have no SQL
  * equivalent → rows-only checks + golden/recall gates in ScalaTest.
  */
object SparkEntry {

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(deleteRecursively)
    f.delete(); ()
  }

  private def t(dir: String, name: String) = s"$dir/$name.parquet"
  private def rd(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(t(dir, name))

  /** Flagship: end-to-end image near-dup clustering on a planted corpus. */
  def entry(spark: SparkSession): DataFrame = {
    val (images, _) = SyntheticCorpus.generate(spark, nGroups = 10,
      variantsPerGroup = 2, nDistractors = 10)
    Dedup.run(images, DedupConfig())
      .groupBy("cluster_id").agg(count(lit(1)).as("size"))
      .orderBy("cluster_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (scan/filter/agg with pushdown) ----
    "q01_agg" -> ((s, dir) => {
      rd(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 1).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          count(lit(1)).as("n_rows"),
          round(avg("l_discount"), 4).as("avg_disc"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q02_join_broadcast" -> ((s, dir) => {
      rd(s, dir, "orders")
        .join(broadcast(rd(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("c_mktsegment")
    }),
    "q03_join_shuffle" -> ((s, dir) => {
      rd(s, dir, "lineitem")
        .join(rd(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")
    }),
    "q04_window_topn" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      rd(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }),
    "q05_sort_limit" -> ((s, dir) => {
      rd(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(20)
    }),
    "q06_anti_join" -> ((s, dir) => {
      rd(s, dir, "customer")
        .join(rd(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    }),
    "q07_semi_join" -> ((s, dir) => {
      rd(s, dir, "part")
        .join(rd(s, dir, "lineitem"),
          col("p_partkey") === col("l_partkey"), "left_semi")
        .groupBy("p_brand").agg(count(lit(1)).as("n_parts"))
        .orderBy("p_brand")
    }),
    "q08_set_except" -> ((s, dir) => {
      rd(s, dir, "customer").filter(col("c_acctbal") > 8000)
        .select(col("c_nationkey").as("nationkey")).distinct()
        .except(rd(s, dir, "supplier").filter(col("s_acctbal") > 8000)
          .select(col("s_nationkey").as("nationkey")).distinct())
        .orderBy("nationkey")
    }),
    "q09_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rd(s, dir, "lineitem")
        .withColumn("running_qty", round(sum("l_quantity").over(w), 1))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }),
    "q10_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      rd(s, dir, "events")
        .withColumn("prev", lag("ts", 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev"))) > 1800, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(sum("new_s").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),
    // ---- text-pipeline ops over documents ----
    "q11_token_count" -> ((s, dir) => TextOps.tokenCount(rd(s, dir, "documents"))),
    "q12_lang_id" -> ((s, dir) => TextOps.langId(rd(s, dir, "documents"))),
    "q13_quality" -> ((s, dir) => TextOps.qualityScore(rd(s, dir, "documents"))),
    "q14_fingerprint" -> ((s, dir) => TextOps.fingerprint(rd(s, dir, "documents"))),
    "q15_ngram_jaccard" -> ((s, dir) =>
      TextOps.ngramJaccardPairs(rd(s, dir, "documents"), 0.5)),
    "q16_exact_dedup" -> ((s, dir) => DedupOps.exactDedup(rd(s, dir, "documents"))),
    "q17_minhash_lsh_dedup" -> ((s, dir) =>
      DedupOps.minhashLshDedup(rd(s, dir, "documents"), 0.5)),
    "q18_simhash_dedup" -> ((s, dir) => {
      // kernel half dumped as oracle evidence; relational half (band join +
      // bit_count Hamming verify) re-derived by DuckDB from the dump
      val banded = OracleDump.dump("q18_banded",
        DedupOps.simhashBanded(rd(s, dir, "documents")))
      DedupOps.simhashPairsFromBands(banded)
    }),
    "q35_tiered_dedup" -> ((s, dir) => {
      // the composed exact -> MinHash-near -> embedding-semantic cascade
      // (ops/TieredDedup): each tier dedups only the previous tier's
      // survivors; DuckDB re-derives the ENTIRE cascade relationally —
      // exact groupBy, brute-force shingle Jaccard, transitive closure,
      // exact cosine among tier-2 survivors, closure again — so the tier
      // attribution and canonical assignment are value-checked end-to-end
      TieredDedup.run(rd(s, dir, "documents"), rd(s, dir, "embeddings"),
        minJaccard = 0.5, minCos = 0.4).verdicts
    }),
    "q39_tiered_approx" -> ((s, dir) => {
      // the cascade's SCALE configuration under the oracle: tier 3 via
      // multi-probe LSH (approxSem = true — the only path a 100-TB corpus
      // can run; the exact broadcast tier is budget-guarded). The tier-3
      // probe table is dumped as evidence; DuckDB re-derives tiers 1-2
      // relationally (q35's CTEs) and then the probe candidate join, caps,
      // chain + anchor edges, cosine verify, and closure (q38's CTEs) —
      // so the scale path's verdicts are value-checked end-to-end.
      TieredDedup.run(rd(s, dir, "documents"), rd(s, dir, "embeddings"),
        minJaccard = 0.5, minCos = 0.4, approxSem = true,
        tier3ProbeDump = df => OracleDump.dump("q39_probes", df)).verdicts
    }),
    "q52_semantic_decontaminate" -> ((s, dir) => {
      // the decontamination family's third rung: embedding cosine vs the
      // benchmark split — catches PARAPHRASED eval contamination that
      // shares no grams (q41) and little shingle jaccard (q51). Map-only
      // over the corpus under a broadcast bench; DuckDB brute-forces the
      // same cross cosine as the value oracle.
      val emb = rd(s, dir, "embeddings")
      EmbeddingOps.crossCosineContaminated(
        emb.filter(pmod(col("vec_id"), lit(10L)) =!= 0),
        emb.filter(pmod(col("vec_id"), lit(10L)) === 0), 0.4)
    }),
    // ---- similarity search over embeddings ----
    "q19_knn_brute" -> ((s, dir) => EmbeddingOps.knnBrute(rd(s, dir, "embeddings"))),
    "q20_cosine_pairs" -> ((s, dir) =>
      EmbeddingOps.cosinePairs(rd(s, dir, "embeddings"), 0.4)),
    "q21_label_stats" -> ((s, dir) => EmbeddingOps.labelStats(rd(s, dir, "embeddings"))),
    "q22_ann_lsh" -> ((s, dir) => {
      val emb = rd(s, dir, "embeddings")
      // skew guard (hot-bucket chain + cap) lives in lshCandidates and is
      // mirrored relationally in the oracle SQL below
      val banded = OracleDump.dump("q22_banded", EmbeddingOps.lshBands(emb))
      EmbeddingOps.verifyCosPairs(
        EmbeddingOps.lshCandidates(banded, 1000), emb, 0.4)
    }),
    "q38_multiprobe_lsh" -> ((s, dir) => {
      // multi-probe LSH: 4x fewer bands than q22 (24 vs 96), recall bought
      // back by probing each band's 2 lowest-margin bit-flips on the query
      // side. The dumped probe table carries is_exact, so DuckDB re-derives
      // the probe-vs-exact candidate join and the cosine verify end-to-end.
      val emb = rd(s, dir, "embeddings")
      val probes = OracleDump.dump("q38_probes",
        EmbeddingOps.lshProbeBands(emb, bands = 24, extraProbes = 2))
      EmbeddingOps.verifyCosPairs(
        EmbeddingOps.multiProbeCandidates(probes), emb, 0.4)
    }),
    // ---- the image near-dup pipeline: hash kernels dumped as oracle
    // evidence; the relational stages (sorted-neighbor candidates, Hamming/
    // Jaccard verify, connected components, recall join) re-derived in
    // DuckDB. Corpus is materialized once (OracleDump.sharedCorpus) so
    // query timings measure pipeline work, not image synthesis. ----
    "q44_ivf_pairs" -> ((s, dir) => {
      // SemDeDup-style semantic dedup: IVF cell assignment (spherical
      // k-means kernel in Spark, dumped as oracle evidence), intra-cell
      // pair join through the skew-guarded candidate machinery, exact
      // cosine verify — DuckDB re-derives everything downstream of the
      // dumped cell table (same algebra as q22 on cell buckets)
      val emb = rd(s, dir, "embeddings")
      val cents = EmbeddingOps.ivfCentroids(emb, nCells = 16)
      val cells = OracleDump.dump("q44_cells",
        EmbeddingOps.ivfCells(emb, cents, nAssign = 3))
      EmbeddingOps.verifyCosPairs(
        EmbeddingOps.lshCandidates(cells, maxBucket = 1000), emb, minCos = 0.4)
    }),
    "q23_img_clusters" -> ((s, _) => {
      val cfg = DedupConfig()
      val (images, _) = OracleDump.sharedCorpus(s, 40, 3, 30)
      val accepted = Dedup.acceptedPairs(images, cfg)
      val (pairs, _) = graft.core.Checkpoints.par2(
        () => OracleDump.dump("q23_pairs", accepted.distinct()),
        () => OracleDump.dump("q23_ids", images.select("image_id")))
      Dedup.clusters(images, pairs).orderBy("image_id")
    }),
    "q24_img_pairs" -> ((s, _) => {
      val cfg = DedupConfig()
      val (images, _) = OracleDump.sharedCorpus(s, 40, 3, 30)
      val sigs = OracleDump.dump("q24_sigs",
        Dedup.signatures(images, cfg))
      val bands = OracleDump.dump("q24_bands", Dedup.bands(sigs, cfg))
      Dedup.verified(Dedup.candidates(bands, cfg), sigs, cfg)
        .orderBy("a", "b")
    }),
    "q25_img_recall" -> ((s, _) => {
      val cfg = DedupConfig()
      val (images, truth) = OracleDump.sharedCorpus(s, 40, 3, 30)
      val tl = truth.select(col("group_id"), col("image_id").as("a"))
      val tr = truth.select(col("group_id"), col("image_id").as("b"))
      // the pipeline run and the truth-pair derivation are independent —
      // concurrent jobs (guide §2.6)
      val (predicted, truthPairs) = graft.core.Checkpoints.par2(
        () => OracleDump.dump("q25_pred",
          Dedup.clusterPairs(Dedup.run(images, cfg))),
        () => OracleDump.dump("q25_truth",
          tl.join(tr, "group_id").filter(col("a") < col("b"))
            .select("a", "b")))
      truthPairs
        .join(predicted.withColumn("matched", lit(1)), Seq("a", "b"), "left")
        .agg(sum(when(col("matched").isNotNull, 1L).otherwise(0L)).as("hit"),
          count(lit(1)).as("total"))
        .select(col("hit"), col("total"),
          (col("hit").cast("double") / col("total")).as("recall"))
    }),
    "q26_cfg_simhash" -> ((s, _) => {
      // A1 fold, now ORACLE-CHECKED: the occurrence/weight-resolved feature
      // stream (the exact input simhash128 folds) is dumped, and the DuckDB
      // side re-derives the whole fold — per-bit ±weight accumulate, the
      // `>= 0` tie rule, 64-bit word packing, hex format — with pure SQL
      // bit arithmetic. Featurization itself stays golden-pinned by
      // CfgParitySpec (bit-exact vs the reference's published hash).
      import s.implicits._
      val feats = graft.core.SimHash.resolvedFeatures(
        graft.cfg.CfgFeaturizer.features(Fixtures.fiveNodeCfg()),
        graft.core.SimHashConfig())
      OracleDump.dump("q26_feats",
        feats.toDF("feature_hi", "feature_lo", "weight"))
      val (hi, lo) = Fixtures.fiveNodeCfgSimHash()
      Seq(("five_node_cfg", f"$hi%016x$lo%016x")).toDF("name", "simhash_hex")
    }),
    "q27_cos_histogram" -> ((s, dir) => {
      // A4 analog: pair-distance histogram over a LABELED pair set — the
      // reference histograms attract/repulse pairs (evalsimhashweights
      // .cpp:52-99), never all pairs. Same-label pairs are the labeled set
      // here; the join is an equi-join on label, not a cross product.
      // Per-label membership is CAPPED deterministically (first `cap`
      // members by vec_id) so a huge label cannot go quadratic — the drop
      // is counted and logged, never silent (north rule), and the DuckDB
      // oracle applies the identical cap.
      val cap = 100
      val e0 = rd(s, dir, "embeddings")
      val wnd = Window.partitionBy("label").orderBy("vec_id")
      val e = e0.withColumn("rn", row_number().over(wnd))
        .filter(col("rn") <= cap).drop("rn")
      // cap-drop observability: two small counting jobs that are NOT
      // pipeline work — skipped under bench timing (same contract as
      // OracleDump evidence writes); the cap itself applies identically
      if (!OracleDump.benchMode) {
        val total = e0.count(); val kept = e.count()
        if (kept < total)
          println(s"q27: per-label cap $cap dropped ${total - kept} of " +
            s"$total members from the pair histogram")
      }
      val withNorm = e.select(col("vec_id"), col("label"), col("embedding"),
        EmbeddingOps.normCol(col("embedding")).as("nrm"))
      val a = withNorm.select(col("label"), col("vec_id").as("a"),
        col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
      val b = withNorm.select(col("label"), col("vec_id").as("b"),
        col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
      a.join(b, "label").filter(col("a") < col("b"))
        // + 0.0 canonicalizes IEEE negative zero: values in (-0.05, 0]
        // round to -0.0, and a hash aggregate may surface either zero as
        // the group representative (observed as a DuckDB-side flake)
        .select((round(EmbeddingOps.dotCol(col("a_emb"), col("b_emb")) /
          (col("a_nrm") * col("b_nrm")), 1) + lit(0.0)).as("cos_bucket"))
        .groupBy("cos_bucket").agg(count(lit(1)).as("n"))
        .orderBy("cos_bucket")
    }),
    "q28_cfg_json_scan" -> ((s, _) => {
      // S2 scan, now ORACLE-CHECKED: the raw JSON line is dumped so DuckDB
      // independently re-parses it (node/edge counts, branching out-degree,
      // the min-size filter), and the resolved feature table lets it
      // re-derive simhash_hex exactly as in q26. Edge endpoints implicitly
      // add nodes and parallel edges count separately — both sides model
      // the reference's AddNode/AddEdge semantics (flowgraph.cpp:40-47).
      import s.implicits._
      val raw = OracleDump.dump("q28_raw",
        Seq(Fixtures.diamondCfgJson).toDF("value"))
      OracleDump.dump("q28_feats",
        graft.cfg.CfgSparkOps.featureTableFromJson(raw))
      graft.cfg.CfgSparkOps.fromJson(raw).orderBy("name")
    }),
    // ---- trainer + retrieval-quality harness ----
    "q29_train_eval" -> ((s, dir) => {
      // U1 + trainer (simhashtrainer.cpp:89-158) + A4 eval
      // (evalsimhashweights.cpp:52-99): learn per-feature weights from
      // attract/repulse pairs over the documents corpus, then report the
      // pair-distance stats under untrained vs trained weights. The WHOLE
      // featurize/resolve chain is distributed (shingle explode -> global
      // feature ids -> per-doc sorted id vectors -> pair-resolution joins,
      // the Spark form of learning/trainingdata.cpp:65-145); only the
      // distinct-feature hash table (the weight vector's index, which the
      // driver-side solver holds by construction) and the tiny resolved
      // pair set ever reach the driver. Stats are relational over dumped
      // per-phase signatures -> DuckDB-checked.
      import s.implicits._
      import graft.learning.SimHashTrainer
      val docs = rd(s, dir, "documents")
      val shingleUdf = udf((text: String) => {
        val toks = text.split("\\s+").filter(_.nonEmpty)
        toks.sliding(3).filter(_.size == 3)
          .map(w => graft.core.HashFamily.tuple3Hash128(w(0), w(1), w(2), 0L))
          .toArray.distinct
      })
      val feats = docs
        .select(col("doc_id").as("function_key"),
          explode(shingleUdf(col("text"))).as("h"))
        .select(col("function_key"), col("h._1").as("feature_hi"),
          col("h._2").as("feature_lo"))
      // byDoc feeds pair resolution AND both signature passes (4 consumers
      // total) — materialize the featurize chain once; the table is
      // (id, int-array) sized, ~3 MB at sf0.1. After the id table lands,
      // the hash collect, the per-doc vector build, and the LSH pair table
      // are three independent jobs — concurrent (guide §2.6).
      val ids = SimHashTrainer.featureIdTable(feats)
      val r29 = graft.core.Checkpoints.parallelRun[Any](Seq(
        () => SimHashTrainer.collectHashes(ids),
        () => ckpt(SimHashTrainer.featureVectors(feats, ids)),
        () => ckpt(DedupOps.minhashLshDedup(docs, 0.5)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))))
      val hashes = r29(0).asInstanceOf[Array[(Long, Long)]]
      val byDoc = r29(1).asInstanceOf[DataFrame]
      val attract = r29(2).asInstanceOf[DataFrame]
      val hi = hashes.map(_._1); val lo = hashes.map(_._2)
      val nDocs = docs.count()
      // the two rank-index constructions are independent (zipWithIndex runs
      // its partition-count job eagerly) — concurrent jobs
      val (ranked, attractIdx) = graft.core.Checkpoints.par2(
        () => docs.select("doc_id").orderBy("doc_id")
          .rdd.zipWithIndex.map { case (r, i) => (r.getLong(0), i) }
          .toDF("rid", "rank"),
        () => attract.orderBy("a", "b")
          .rdd.zipWithIndex.map { case (r, i) => (r.getLong(0), r.getLong(1), i) }
          .toDF("a", "b", "i"))
      val repulse = attractIdx
        .join(ranked.select(col("rank").as("r1"), col("rid").as("ra")),
          pmod(col("i"), lit(nDocs)) === col("r1"))
        .join(ranked.select(col("rank").as("r2"), col("rid").as("rb")),
          pmod(col("i") + lit(nDocs / 2), lit(nDocs)) === col("r2"))
        .filter(col("ra") =!= col("rb"))
        .select(col("ra").as("a"), col("rb").as("b"))
      val pairDf = OracleDump.dump("q29_pairs",
        attract.withColumn("pair_set", lit("attract"))
          .unionByName(repulse.withColumn("pair_set", lit("repulse"))))
      val resolved = SimHashTrainer.resolvePairs(byDoc,
        pairDf.withColumn("attract", col("pair_set") === "attract")
          .select("a", "b", "attract"))
      val w = SimHashTrainer.train(s, Right(resolved), hi, lo, maxIters = 50)
      val wm = SimHashTrainer.weightMap(hashes, w)
      // per-doc signatures under both weight sets, computed where the
      // feature vectors live (broadcast hash table + weights, one pass)
      val bHashes = s.sparkContext.broadcast(hashes)
      def sigFor(phase: String, weights: Map[Long, Double]) = {
        val bW = s.sparkContext.broadcast(weights)
        val sigUdf = udf((fs: Seq[Int]) => {
          val hs = fs.map(f => bHashes.value(f))
          graft.core.SimHash.simhashOfHashes(hs, bW.value)
        })
        byDoc.select(col("function_key").as("doc_id"), lit(phase).as("phase"),
            sigUdf(col("feats")).as("sg"))
          .select(col("doc_id"), col("phase"),
            col("sg._1").as("sim_hi"), col("sg._2").as("sim_lo"))
      }
      val sigs = OracleDump.dump("q29_sigs",
        sigFor("untrained", Map.empty).unionByName(sigFor("trained", wm)))
      pairDf
        .join(sigs.select(col("doc_id").as("a"), col("phase"),
          col("sim_hi").as("a_hi"), col("sim_lo").as("a_lo")), "a")
        .join(sigs.select(col("doc_id").as("b"), col("phase"),
          col("sim_hi").as("b_hi"), col("sim_lo").as("b_lo")), Seq("b", "phase"))
        .select(col("pair_set"), col("phase"),
          Dedup.hamming128Col(col("a_hi"), col("a_lo"), col("b_hi"), col("b_lo"))
            .as("dist"))
        .groupBy("pair_set", "phase")
        .agg(count(lit(1)).as("n_pairs"), round(avg("dist"), 4).as("mean_dist"),
          min("dist").as("min_dist"), max("dist").as("max_dist"))
        .orderBy("pair_set", "phase")
    }),
    "q31_ann_ivf" -> ((s, dir) => {
      // IVF coarse-quantizer ANN: the spherical-k-means kernel runs in
      // Spark; its outputs (cell assignment + per-query probe lists) are
      // dumped as oracle evidence and DuckDB re-derives the entire search
      // (probed-cell restriction, exact cosine, per-query top-k) from them.
      val emb = rd(s, dir, "embeddings")
      val cents = EmbeddingOps.ivfCentroids(emb, nCells = 16)
      val queries = emb.filter(col("vec_id") < 10)
      val assign = OracleDump.dump("q31_assign",
        EmbeddingOps.ivfAssign(emb, cents))
      val probes = OracleDump.dump("q31_probes",
        EmbeddingOps.ivfProbes(queries, cents, nprobe = 4))
      EmbeddingOps.ivfTopKFrom(emb, assign, probes, queries, k = 5)
    }),
    "q32_stream_dedup" -> ((s, _) => {
      // Structured-Streaming incremental dedup: drain the corpus directory
      // in micro-batches (AvailableNow), accumulating a band index + pair
      // log, then cluster. The pair log is dumped as evidence; DuckDB
      // re-derives the connected components from it (same oracle shape as
      // q23), so the streaming accumulation is value-checked end-to-end.
      import org.apache.spark.sql.streaming.Trigger
      val stateDir = s"${OracleDump.Root}/q32_state"
      val inputDir = s"${OracleDump.Root}/q32_input"
      deleteRecursively(new java.io.File(stateDir))
      val (images, _) = OracleDump.sharedCorpus(s, 40, 3, 30)
      // ONE AvailableNow micro-batch: multi-batch behavior (probe pruning,
      // compaction, replay) is what StreamingDedupSpec exercises; here the
      // operators under the oracle are the accumulate-probe-verify chain,
      // and draining file-by-file was 28% of the whole bench in scheduling
      // overhead (r2 verdict #5)
      images.coalesce(2).write.mode("overwrite").parquet(inputDir)
      graft.streaming.StreamingDedup.run(s, inputDir, stateDir,
        DedupConfig(), Trigger.AvailableNow(), maxFilesPerTrigger = 4,
        metrics = true)
        .awaitTermination()
      // evidence goes through the engine's committed-state reader — a raw
      // recursive listing could pick up .tmp/deferred-delete dirs the
      // engine ignores, letting oracle and engine silently diverge
      graft.core.Checkpoints.par2(
        () => OracleDump.dump("q32_pairs",
          graft.streaming.StreamingDedup.pairsFromState(s, stateDir)
            .distinct()),
        () => OracleDump.dump("q32_ids", images.select("image_id")))
      graft.streaming.StreamingDedup.clustersFromState(s, stateDir)
        .orderBy("image_id")
    }),
    "q34_stream_resize" -> ((s, _) => {
      // stateP migration under the oracle: ingest part of the corpus at
      // stateP=8 with a compaction in between (so a p=-partitioned base
      // exists), migrate the state to stateP=32 offline (resizeStateP —
      // StreamJob `resize` mode), then ingest the rest under the new
      // modulus. The pair log accumulated ACROSS the migration boundary is
      // the dumped evidence; DuckDB re-derives the connected components
      // from it (same oracle shape as q32), so a mis-pruned probe against
      // the rewritten base — i.e. any lost cross-boundary duplicate —
      // breaks the hash.
      val cfg = DedupConfig()
      val stateDir = s"${OracleDump.Root}/q34_state"
      deleteRecursively(new java.io.File(stateDir))
      val (images, _) = OracleDump.sharedCorpus(s, 40, 3, 30)
      // deterministic hash split; dup groups straddle the resize boundary
      // compactEvery high enough that no mid-ingest compaction fires: the
      // resize itself folds the batch dirs into a p=-partitioned base (the
      // rewrite-an-EXISTING-base leg is what StreamingDedupSpec's resize
      // test pins), and each avoided compaction is six table rewrites of
      // pure bench overhead at this toy scale
      val part = pmod(crc32(col("image_id")), lit(4))
      def ingest(q: org.apache.spark.sql.Column, id: Long, p: Int): Unit =
        graft.streaming.StreamingDedup.processBatch(s, images.filter(q),
          stateDir, cfg, batchId = id, stateP = p, compactEvery = 4)
      ingest(part === 0, 0L, 8)
      ingest(part === 1, 1L, 8)
      graft.streaming.StreamingDedup.resizeStateP(s, stateDir, 32)
      ingest(part >= 2, 2L, 32)
      graft.core.Checkpoints.par2(
        () => OracleDump.dump("q34_pairs",
          graft.streaming.StreamingDedup.pairsFromState(s, stateDir)
            .distinct()),
        () => OracleDump.dump("q34_ids", images.select("image_id")))
      graft.streaming.StreamingDedup.clustersFromState(s, stateDir)
        .orderBy("image_id")
    }),
    "q40_stream_multiprobe" -> ((s, _) => {
      // the REDUCED-band multi-probe streaming config under the oracle —
      // the state-volume scale path (stored simhash bands 28 -> 8 per
      // record; recall bought back by 3 query-side flipped-key probes per
      // band, Lv et al. flip priority from the fold's own margins). The
      // corpus is split INSIDE every dup group across two micro-batches,
      // so batch 2's variants can only find their batch-1 partners by
      // probing COMMITTED state — the flipped-key probe path end-to-end.
      // DuckDB re-derives the clusters from the dumped pair log (q32's CC
      // shape) and the truth recall from the dumped planted pairs; the
      // result row also carries the persisted simhash band-row count, so
      // the "probe rows are never stored" volume contract (8 bands/record,
      // not 8 + 24 probes) is part of the gate artifact.
      val cfg = DedupConfig(nBands = 8, bandProbes = 3)
      val stateDir = s"${OracleDump.Root}/q40_state"
      deleteRecursively(new java.io.File(stateDir))
      val (images, truth) = OracleDump.sharedCorpus(s, 40, 3, 30)
      // group members alternate sides (row_number mod 2 within group);
      // distractors split by id hash — deterministic, straddles every group
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("group_id").orderBy("image_id")
      val sides = truth.select(col("image_id"),
        (row_number().over(w) % 2).as("side"))
      val sided = images.join(sides, Seq("image_id"), "left")
        .withColumn("side",
          coalesce(col("side"), pmod(crc32(col("image_id")), lit(2)).cast("int")))
      def ingest(sideVal: Int, id: Long): Unit =
        graft.streaming.StreamingDedup.processBatch(s,
          sided.filter(col("side") === sideVal).drop("side"), stateDir, cfg,
          batchId = id, stateP = 8, compactEvery = 4)
      ingest(0, 0L)
      ingest(1, 1L)
      val tl = truth.select(col("group_id"), col("image_id").as("a"))
      val tr = truth.select(col("group_id"), col("image_id").as("b"))
      // the five evidence/result materializations over the committed state
      // are mutually independent — concurrent jobs (guide §2.6)
      val Seq(_, _, truthPairs, idx, clusters) =
        graft.core.Checkpoints.parallelRun[DataFrame](Seq(
          () => OracleDump.dump("q40_pairs", graft.streaming.StreamingDedup
            .pairsFromState(s, stateDir).distinct()),
          () => OracleDump.dump("q40_ids", images.select("image_id")),
          () => OracleDump.dump("q40_truth",
            tl.join(tr, "group_id").filter(col("a") < col("b"))
              .select("a", "b")),
          () => OracleDump.dump("q40_index",
            graft.streaming.StreamingDedup.indexFromState(s, stateDir)
              .select("band_id", "image_id")),
          () => ckpt(graft.streaming.StreamingDedup
            .clustersFromState(s, stateDir))))
      val la = clusters.select(col("image_id").as("a"), col("cluster_id").as("la"))
      val lb = clusters.select(col("image_id").as("b"), col("cluster_id").as("lb"))
      val hit = truthPairs.join(la, "a").join(lb, "b")
        .agg(sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("truth_hit"),
          count(lit(1)).as("truth_total"))
      val counts = clusters.agg(count(lit(1)).as("n_images"),
        countDistinct("cluster_id").as("n_clusters"))
      val simBands = idx.filter(col("band_id") < lit(1000))
        .agg(count(lit(1)).as("sim_band_rows"))
      counts.crossJoin(hit).crossJoin(simBands)
        .select(col("n_images"), col("n_clusters"), col("truth_total"),
          col("truth_hit"),
          (col("truth_hit").cast("double") / col("truth_total")).as("recall"),
          col("sim_band_rows"))
    }),
    "q36_img_tiered" -> ((s, _) => {
      // the tiered cascade on the north-rule image+caption table: tier 1
      // exact record hash (sha-256 over bytes AND caption), tier 2
      // SimHash/MinHash near-dup, tier 3 caption substring containment —
      // each over the previous tier's survivors, per-tier drop
      // attribution. DuckDB re-derives tier 1 from the dumped record
      // hashes, tier 2's closure from the dumped verified pairs (the
      // pairs themselves are value-checked by q24), and the ENTIRE tier-3
      // substring operator independently (strpos over the dumped
      // normalized captions) — plus both closures.
      val cfg = DedupConfig()
      val (images, _) = OracleDump.sharedCorpus(s, 40, 3, 30)
      // plant identical-record copies so the exact tier has real work;
      // the suffixed id sorts after its original (prefix property),
      // keeping the original as the expected canonical
      val copies = images.filter(pmod(crc32(col("image_id")), lit(5)) === 0)
        .withColumn("image_id", concat(col("image_id"), lit("~c")))
      val all = ckpt(images.union(copies))
      val normUdf = udf((c: String) =>
        graft.featurize.ImageFeaturizer.normalizeCaption(c))
      // the evidence dump over the input and the cascade itself are
      // independent — concurrent jobs (guide §2.6)
      val (_, res) = graft.core.Checkpoints.par2(
        () => OracleDump.dump("q36_input", all.select(col("image_id"),
          graft.pipeline.TieredImageDedup
            .recordSha(col("bytes"), col("caption")).as("record_sha"),
          normUdf(col("caption")).as("caption_norm"))),
        () => graft.pipeline.TieredImageDedup.run(all, cfg))
      OracleDump.dump("q36_near", res.nearPairs)
      res.verdicts
    }),
    "q30_roc" -> ((s, _) => {
      // evaluate_ROC_curve.py port over the image corpus: grouped truth,
      // exact-search TPR/FPR/IRR per similarity cutoff (the approximate-
      // search variant is gated in RocEvalSpec against this exact curve)
      val cfg = DedupConfig()
      val (images, truth) = OracleDump.sharedCorpus(s, 40, 3, 30)
      val sigs = OracleDump.dump("q30_sigs",
        Dedup.signatures(images, cfg).join(truth, "image_id")
          .select(col("image_id").as("id"), col("group_id"),
            col("sim_hi"), col("sim_lo")))
      graft.eval.RocEval.exactRoc(sigs)
    }),
    "q33_roc_approx" -> ((s, _) => {
      // the APPROXIMATE (LSH bucket probe) retrieval curve of evaluate_ROC_
      // curve.py — the permuted-band index is the dumped kernel evidence;
      // bucket collision join, per-(query,candidate) best similarity, and
      // the full rate grid are re-derived relationally by DuckDB
      val cfg = DedupConfig()
      val (images, truth) = OracleDump.sharedCorpus(s, 40, 3, 30)
      val sigs = OracleDump.dump("q33_sigs",
        Dedup.signatures(images, cfg).join(truth, "image_id")
          .select(col("image_id").as("id"), col("group_id"),
            col("sim_hi"), col("sim_lo")))
      val index = OracleDump.dump("q33_index",
        graft.index.SimIndex.build(sigs.select("id", "sim_hi", "sim_lo"), cfg))
      graft.eval.RocEval.approxRocFromIndex(index, sigs)
    }),
    "q37_shared_spans" -> ((s, dir) => {
      // cross-document repeated-span mining (suffix-array-family pass,
      // north rule): pairs of documents sharing a verbatim >=40-char span,
      // with the exact count of distinct shared 40-char windows. The
      // entire operator — window explosion, hot-window cap, pair join,
      // shared-window count — is re-derived relationally by DuckDB.
      val docs = rd(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"))
      graft.pipeline.SubstringDup.sharedSpanPairs(s, docs, w = 40)
        .select(col("a").as("doc_a"), col("b").as("doc_b"),
          col("n_shared").cast("long").as("n_shared"))
        .orderBy("doc_a", "doc_b")
    }),
    // ---- training-mix hygiene ops over documents ----
    "q41_decontaminate" -> ((s, dir) => {
      // eval-set decontamination (13-gram exact overlap): benchmark =
      // every 10th doc, training = the rest; one row per contaminated
      // training doc
      val docs = rd(s, dir, "documents")
      TextOps.decontaminate(
        docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10L)) === 0))
    }),
    "q51_fuzzy_decontaminate" -> ((s, dir) => {
      // near-match decontamination (MinHash-LSH train × bench, exact-
      // Jaccard verify): q41's exact-13-gram rule misses re-formatted /
      // token-edited eval docs; this catches them at word-3-gram Jaccard
      // >= 0.5. Same split as q41 (every 10th doc = benchmark). The b=16/
      // r=4 banding misses a j>=0.5 pair with probability < 1e-15, so
      // DuckDB's brute-force cross Jaccard is the value oracle end-to-end.
      val docs = rd(s, dir, "documents")
      TextOps.fuzzyDecontaminate(
        docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10L)) === 0), 0.5)
    }),
    "q42_repetition" -> ((s, dir) =>
      TextOps.repetitionScore(rd(s, dir, "documents"))),
    "q43_domain_mix" -> ((s, dir) => {
      // deterministic domain mixing: per-source keep thresholds (src0-4 →
      // 25%, src5-9 → 50%, src10-14 → 75%, src15-19 → ~100% of modulus)
      val docs = rd(s, dir, "documents")
      val thr = (0 until 20).map(i => s"src$i" -> ((i / 5 + 1) * 250000L)).toMap
      val kept = TextOps.deterministicSample(docs, thr)
      docs.groupBy("source").agg(count(lit(1)).as("n_total"))
        .join(kept.groupBy("source").agg(count(lit(1)).as("n_kept")),
          Seq("source"), "left")
        .select(col("source"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
    }),
    // ---- dataset assembly downstream of dedup (ops/MixOps) ----
    "q45_cluster_split" -> ((s, _) => {
      // leakage-free train/val/test split: whole near-dup clusters are
      // assigned to one split via an engine-portable positional hash of the
      // cluster label, so no dup pair straddles a boundary. DuckDB
      // re-derives the closure (q23's recursive CTE), the hash, and the
      // bucket→split mapping end-to-end.
      val cfg = DedupConfig()
      val (images, _) = OracleDump.sharedCorpus(s, 40, 3, 30)
      val accepted = Dedup.acceptedPairs(images, cfg)
      val (pairs, _) = graft.core.Checkpoints.par2(
        () => OracleDump.dump("q45_pairs", accepted.distinct()),
        () => OracleDump.dump("q45_ids", images.select("image_id")))
      graft.ops.MixOps.clusterSplit(Dedup.clusters(images, pairs))
        .orderBy("image_id")
    }),
    "q53_mix_plan" -> ((s, dir) => {
      // token-budget mix planning: src0 is over-weighted (alloc 5000
      // tokens vs a ~1400-token source) so the rate cap + shortfall
      // reporting is exercised; the other 19 sources plan at rate < 1.
      // The thresholds land directly in q43's sampler (same modulus).
      val weights = Map("src0" -> 0.5) ++
        (1 until 20).map(i => s"src$i" -> 0.025)
      graft.ops.MixOps.mixPlan(rd(s, dir, "documents"), weights, 10000L)
    }),
    "q46_stratified_sample" -> ((s, dir) => {
      // exact-quota per-source sample: the 10 docs per source with the
      // smallest portable-LCG hash values — the quota companion of q43's
      // rate-based keep
      graft.ops.MixOps.stratifiedSample(rd(s, dir, "documents"), k = 10)
        .orderBy("source", "rk")
    }),
    "q47_dedup_report" -> ((s, _) => {
      // dedup savings report over the image pipeline's clusters: cluster-
      // size histogram with image + removed-bytes accounting. DuckDB
      // re-derives the closure, the canonical-member convention, and both
      // aggregation layers from the dumped pair/size evidence.
      val cfg = DedupConfig()
      val (images, _) = OracleDump.sharedCorpus(s, 40, 3, 30)
      val accepted = Dedup.acceptedPairs(images, cfg)
      val (pairs, sizes) = graft.core.Checkpoints.par2(
        () => OracleDump.dump("q47_pairs", accepted.distinct()),
        () => OracleDump.dump("q47_sizes",
          images.select(col("image_id"),
            length(col("bytes")).cast("long").as("n_bytes"))))
      graft.ops.MixOps.dedupReport(Dedup.clusters(images, pairs), sizes)
    }),
    "q48_corpus_build" -> ((s, _) => {
      // the full corpus-build composite (CorpusBuildJob's compute chain, no
      // stage I/O): near-dup clustering → caption hygiene (token floor 12 +
      // dup-5-gram cap 0.75) → decontamination against the 2 smallest-id
      // captions as a stand-in benchmark set (derivable relationally, so
      // the oracle needs no second input table) → canonical election among
      // survivors → leakage-free split. DuckDB re-derives EVERYTHING from
      // the dumped pair + caption evidence: closure, tokenizer, repetition
      // fraction, gram-overlap contamination, the near-match (fuzzy
      // Jaccard) contamination rule, min-survivor election, and the split
      // hash.
      val cfg = DedupConfig()
      val (images, _) = OracleDump.sharedCorpus(s, 40, 3, 30)
      val accepted = Dedup.acceptedPairs(images, cfg)
      val (pairs, caps) = graft.core.Checkpoints.par2(
        () => OracleDump.dump("q48_pairs", accepted.distinct()),
        () => OracleDump.dump("q48_caps",
          images.select(col("image_id").as("doc_id"),
            col("caption").as("text"))))
      val hyg = graft.CorpusBuildJob.hygiene(caps, minTokens = 12,
        maxDup5 = 0.75)
      val bench = caps.orderBy("doc_id").limit(2)
      val cont = TextOps.decontaminate(caps, bench, n = 5)
      // the opt-in near-match rule (CorpusBuildJob fuzzyMinJaccard), also
      // re-derived by the oracle: word-3-gram Jaccard >= 0.5 vs the bench.
      // The clustering (eager CC) and the fuzzy rule's sketch
      // materializations are independent — concurrent jobs.
      val (clusters48, fuzzy) = graft.core.Checkpoints.par2(
        () => Dedup.clusters(images, pairs),
        () => TextOps.fuzzyDecontaminate(caps, bench, 0.5))
      graft.CorpusBuildJob.assemble(clusters48,
        hyg.filter(col("keep")).select(col("doc_id").as("image_id")),
        cont.select(col("doc_id").as("image_id"))
          .union(fuzzy.select(col("doc_id").as("image_id"))),
        nBuckets = 10, trainUpTo = 8, valUpTo = 9)
        .orderBy("image_id")
    }),
    "q49_caption_rewrite" -> ((s, _) => {
      // cross-modality disagreement, direction 1: image-near-dup pairs
      // (signature evidence — the weighted fold makes the pixel class
      // dominate, so a caption edit can't hide an image dup) whose
      // normalized captions DIFFER, ranked by caption token-set Jaccard.
      // DuckDB re-derives the caption join, the inequality filter, and the
      // token-set Jaccard from the dumped pair log + normalized captions.
      // variants = 5 so the generator's 4-case variant cycle reaches the
      // caption-paraphrase case (v=4) — the (40,3,·) corpus has none.
      val cfg = DedupConfig()
      val (images, _) = OracleDump.sharedCorpus(s, 30, 5, 20)
      val sigs = ckpt(Dedup.signatures(images, cfg))
      val normUdf = udf((c: String) =>
        graft.featurize.ImageFeaturizer.normalizeCaption(c))
      // the candidate→pair chain and the caption normalization dump are
      // independent — concurrent jobs (guide §2.6)
      val (pairs, caps) = graft.core.Checkpoints.par2(
        () => {
          val cands = ckpt(Dedup.candidates(Dedup.bands(sigs, cfg), cfg))
          OracleDump.dump("q49_pairs", Dedup.verifiedHamming(cands, cfg))
        },
        () => OracleDump.dump("q49_caps", images.select(col("image_id"),
          normUdf(col("caption")).as("caption_norm"))))
      graft.pipeline.ModalityAudit.captionRewrites(pairs, caps).orderBy("a", "b")
    }),
    "q50_caption_spam" -> ((s, _) => {
      // cross-modality disagreement, direction 2: one normalized caption
      // spanning >= 2 image near-dup CLUSTERS — boilerplate/alt-text spam
      // (re-encodes of one image sharing a caption are NOT spam, which is
      // why the threshold is on clusters, not rows). Spam rows are planted
      // by stamping a fixed caption onto a deterministic subset of images
      // from different groups. The oracle re-derives the closure, the
      // caption grouping, and both thresholds from the dumped evidence.
      val cfg = DedupConfig()
      val (images, _) = OracleDump.sharedCorpus(s, 40, 3, 30)
      val spam = images.filter(pmod(crc32(col("image_id")), lit(7)) === 0)
        .withColumn("image_id", concat(col("image_id"), lit("~s")))
        .withColumn("caption", lit("Stock photo — buy now, best price!"))
      val all = ckpt(images.union(spam))
      val sigs = ckpt(Dedup.signatures(all, cfg))
      val normUdf = udf((c: String) =>
        graft.featurize.ImageFeaturizer.normalizeCaption(c))
      // candidate→pair chain ∥ id dump ∥ caption dump (guide §2.6)
      val Seq(pairs, _, caps) = graft.core.Checkpoints.parallelRun[DataFrame](Seq(
        () => {
          val cands = ckpt(Dedup.candidates(Dedup.bands(sigs, cfg), cfg))
          OracleDump.dump("q50_pairs", Dedup.verifiedHamming(cands, cfg))
        },
        () => OracleDump.dump("q50_ids", all.select("image_id")),
        () => OracleDump.dump("q50_caps", all.select(col("image_id"),
          normUdf(col("caption")).as("caption_norm")))))
      val clusters = Dedup.clusters(all.select("image_id"), pairs)
      graft.pipeline.ModalityAudit.boilerplateCaptions(clusters, caps)
        .orderBy("caption_norm")
    })
  )

  /** The DuckDB re-derivation of the 128-bit SimHash fold from a dumped
    * resolved-feature table — ONE implementation shared by the q26 and q28
    * oracles, so the fold contract (per-bit ±weight accumulate over both
    * 64-bit words, the reference's `>= 0 -> 1` tie rule
    * (functionsimhash.cpp:46), HUGEINT word packing) cannot drift between
    * them. Emits the CTEs `f`, `bits`, `acc`, `words`; `words` has columns
    * (`groupCol`..., hi_u, lo_u). Safe against float-reorder: CfgParitySpec
    * pins min |accumulator| of the fixtures far above summation-order
    * error. */
  private def simhashFoldSql(glob: String, groupCol: Option[String]): String = {
    val g = groupCol.map(c => s"f.$c, ").getOrElse("")
    val gSel = groupCol.map(c => s"$c, ").getOrElse("")
    val gBy = groupCol.map(c => s" GROUP BY $c").getOrElse("")
    s"""f AS (SELECT * FROM read_parquet('$glob')),
      |bits AS (SELECT i::INT AS i FROM generate_series(0, 63) t(i)),
      |acc AS (SELECT ${g}b.i,
      |  SUM(CASE WHEN ((f.feature_hi >> b.i) & 1) != 0
      |      THEN f.weight ELSE -f.weight END) AS ah,
      |  SUM(CASE WHEN ((f.feature_lo >> b.i) & 1) != 0
      |      THEN f.weight ELSE -f.weight END) AS al
      | FROM f CROSS JOIN bits b GROUP BY ${g}b.i),
      |words AS (SELECT $gSel
      |  SUM(CASE WHEN ah >= 0 THEN (1::HUGEINT << i) ELSE 0::HUGEINT END) AS hi_u,
      |  SUM(CASE WHEN al >= 0 THEN (1::HUGEINT << i) ELSE 0::HUGEINT END) AS lo_u
      | FROM acc$gBy)""".stripMargin
  }

  /** Hex rendering of the fold's two words — the reference tools'
    * `%016x%016x` format. */
  private val simhashHexSql: String =
    "lower(lpad(to_hex(hi_u::UBIGINT), 16, '0') || " +
      "lpad(to_hex(lo_u::UBIGINT), 16, '0'))"

  /** An EMPTY feature fold: all accumulators 0, `>= 0` sets every bit —
    * the all-ones hash (same convention as the Scala kernel's tie rule). */
  private val allOnesHexSql: String = "'" + "f" * 32 + "'"

  def oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),1) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base, count(*) AS n_rows,
        | round(avg(l_discount),4) AS avg_disc
        | FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        | GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | round(sum(o_totalprice),2) AS sum_price
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q03_join_shuffle" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | round(sum(l_extendedprice * (1.0 - l_discount)),2) AS revenue
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q04_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |   row_number() OVER (PARTITION BY o_custkey
        |     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q05_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        | ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        | LIMIT 20""".stripMargin,
    "q06_anti_join" ->
      """SELECT c_custkey FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        | ORDER BY c_custkey""".stripMargin,
    "q07_semi_join" ->
      """SELECT p_brand, count(*) AS n_parts FROM part
        | WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        | GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q08_set_except" ->
      """SELECT nationkey FROM (
        |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |    WHERE c_acctbal > 8000
        |  EXCEPT
        |  SELECT DISTINCT s_nationkey AS nationkey FROM supplier
        |    WHERE s_acctbal > 8000)
        | ORDER BY nationkey""".stripMargin,
    "q09_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(sum(l_quantity) OVER (PARTITION BY l_suppkey
        |   ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),1) AS running_qty
        | FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "q10_sessionize" ->
      """WITH x AS (SELECT user_id, ts, event_id,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
        |  FROM events)
        |SELECT user_id,
        | CAST(sum(CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        | count(*) AS n_events
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q11_token_count" ->
      """SELECT doc_id,
        | CAST(len(list_filter(regexp_split_to_array(text,'\s+'), x -> x <> ''))
        |   AS INT) AS n_tokens
        | FROM documents ORDER BY doc_id""".stripMargin,
    "q12_lang_id" ->
      """WITH tk AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |h AS (SELECT doc_id,
        |  len(list_filter(t, x -> list_contains(['der','die','und','das','ein','nicht','ist'], x))) AS h_de,
        |  len(list_filter(t, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS h_en,
        |  len(list_filter(t, x -> list_contains(['el','los','y','que','un','una','es'], x))) AS h_es,
        |  len(list_filter(t, x -> list_contains(['le','les','et','que','un','une','est'], x))) AS h_fr
        |  FROM tk)
        |SELECT doc_id,
        | CASE WHEN greatest(h_de,h_en,h_es,h_fr) = 0 THEN 'und'
        |      WHEN h_de >= greatest(h_en,h_es,h_fr) THEN 'de'
        |      WHEN h_en >= greatest(h_es,h_fr) THEN 'en'
        |      WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END AS lang_pred,
        | CAST(greatest(h_de,h_en,h_es,h_fr) AS INT) AS hits
        |FROM h ORDER BY doc_id""".stripMargin,
    "q13_quality" ->
      """WITH tk AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS t
        |  FROM documents)
        |SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
        | round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)/len(t),4)
        |   AS mean_tok_len,
        | round(CAST(len(list_distinct(t)) AS DOUBLE)/len(t),4) AS uniq_ratio,
        | round(CAST(len(list_filter(t, x -> list_contains(
        |   ['a','and','das','der','die','ein','el','es','est','et','in','is','ist','le','les','los','nicht','of','que','the','to','un','una','und','une','y'], x))) AS DOUBLE)/len(t),4)
        |   AS stopword_ratio
        |FROM tk ORDER BY doc_id""".stripMargin,
    "q14_fingerprint" ->
      """SELECT doc_id,
        | CAST(list_sum([unicode(text[i]) * i FOR i IN range(1, length(text)+1)])
        |   % 1000000007 AS BIGINT) AS fp_pos,
        | CAST(list_sum([unicode(text[i]) FOR i IN range(1, length(text)+1)])
        |   AS BIGINT) AS fp_sum
        | FROM documents ORDER BY doc_id""".stripMargin,
    "q15_ngram_jaccard" ->
      """WITH ex AS (SELECT doc_id, unnest(list_distinct(
        |   [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t)-1)])) AS sh
        |  FROM (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS t
        |    FROM documents)),
        |kept AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= 1000),
        |s AS (SELECT doc_id, ex.sh FROM ex JOIN kept ON ex.sh = kept.sh),
        |sizes AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
        |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
        |  FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT inter.a AS doc_a, inter.b AS doc_b,
        |  round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jacc
        |FROM inter JOIN sizes sa ON sa.doc_id = inter.a
        |  JOIN sizes sb ON sb.doc_id = inter.b
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q16_exact_dedup" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS dup_count
        | FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin,
    "q37_shared_spans" ->
      """WITH w AS (SELECT doc_id, unnest(list_distinct(
        |   [substr(text, i, 40) FOR i IN range(1, greatest(length(text)-38, 1))])) AS win
        |  FROM documents),
        |kept AS (SELECT win FROM w GROUP BY win HAVING count(*) <= 1000),
        |wk AS (SELECT w.doc_id, w.win FROM w JOIN kept ON w.win = kept.win),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM wk a JOIN wk b ON a.win = b.win AND a.doc_id < b.doc_id)
        |SELECT p.doc_a, p.doc_b, count(*) AS n_shared
        |FROM pairs p
        |  JOIN w wa ON wa.doc_id = p.doc_a
        |  JOIN w wb ON wb.doc_id = p.doc_b AND wb.win = wa.win
        |GROUP BY p.doc_a, p.doc_b
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q35_tiered_dedup" ->
      """WITH RECURSIVE
        |canon1 AS (SELECT text, min(doc_id) AS c FROM documents GROUP BY text),
        |l1 AS (SELECT d.doc_id, canon1.c FROM documents d JOIN canon1 USING (text)),
        |surv1 AS (SELECT doc_id FROM l1 WHERE doc_id = c),
        |sh AS (SELECT doc_id, list_distinct(
        |   [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t)-1)]) AS sh
        |  FROM (SELECT d.doc_id,
        |    list_filter(regexp_split_to_array(d.text,'\s+'), x -> x <> '') AS t
        |    FROM documents d JOIN surv1 USING (doc_id))),
        |p2 AS (SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.5),
        |sym2 AS (SELECT a, b FROM p2 UNION SELECT b, a FROM p2),
        |reach2(src, dst) AS (
        |  SELECT a, b FROM sym2
        |  UNION
        |  SELECT r.src, s.b FROM reach2 r JOIN sym2 s ON r.dst = s.a),
        |l2 AS (SELECT v.doc_id,
        |    least(v.doc_id, coalesce(min(r.dst), v.doc_id)) AS c
        |  FROM surv1 v LEFT JOIN reach2 r ON r.src = v.doc_id
        |  GROUP BY v.doc_id),
        |surv2 AS (SELECT doc_id FROM l2 WHERE doc_id = c),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings JOIN surv2 ON vec_id = doc_id),
        |p3 AS (SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v) /
        |   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        |   >= 0.4),
        |sym3 AS (SELECT a, b FROM p3 UNION SELECT b, a FROM p3),
        |reach3(src, dst) AS (
        |  SELECT a, b FROM sym3
        |  UNION
        |  SELECT r.src, s.b FROM reach3 r JOIN sym3 s ON r.dst = s.a),
        |l3 AS (SELECT v.doc_id,
        |    least(v.doc_id, coalesce(min(r.dst), v.doc_id)) AS c
        |  FROM surv2 v LEFT JOIN reach3 r ON r.src = v.doc_id
        |  GROUP BY v.doc_id)
        |SELECT doc_id, tier, canonical_id FROM (
        |  SELECT doc_id, 1 AS tier, c AS canonical_id FROM l1 WHERE doc_id <> c
        |  UNION ALL
        |  SELECT doc_id, 2, c FROM l2 WHERE doc_id <> c
        |  UNION ALL
        |  SELECT doc_id, 3, c FROM l3 WHERE doc_id <> c
        |  UNION ALL
        |  SELECT doc_id, 0, doc_id FROM l3 WHERE doc_id = c)
        |ORDER BY doc_id""".stripMargin,
    "q39_tiered_approx" ->
      // tiers 1-2 = q35's relational re-derivation; tier 3 = q38's probe
      // candidate algebra over the dumped probe table + closure
      s"""WITH RECURSIVE
        |canon1 AS (SELECT text, min(doc_id) AS c FROM documents GROUP BY text),
        |l1 AS (SELECT d.doc_id, canon1.c FROM documents d JOIN canon1 USING (text)),
        |surv1 AS (SELECT doc_id FROM l1 WHERE doc_id = c),
        |sh AS (SELECT doc_id, list_distinct(
        |   [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t)-1)]) AS sh
        |  FROM (SELECT d.doc_id,
        |    list_filter(regexp_split_to_array(d.text,'\\s+'), x -> x <> '') AS t
        |    FROM documents d JOIN surv1 USING (doc_id))),
        |p2 AS (SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.5),
        |sym2 AS (SELECT a, b FROM p2 UNION SELECT b, a FROM p2),
        |reach2(src, dst) AS (
        |  SELECT a, b FROM sym2
        |  UNION
        |  SELECT r.src, s.b FROM reach2 r JOIN sym2 s ON r.dst = s.a),
        |l2 AS (SELECT v.doc_id,
        |    least(v.doc_id, coalesce(min(r.dst), v.doc_id)) AS c
        |  FROM surv1 v LEFT JOIN reach2 r ON r.src = v.doc_id
        |  GROUP BY v.doc_id),
        |surv2 AS (SELECT doc_id FROM l2 WHERE doc_id = c),
        |p AS (SELECT * FROM read_parquet('${OracleDump.glob("q39_probes")}')),
        |exr AS (SELECT bk, vec_id FROM p WHERE is_exact),
        |exocc AS (SELECT bk, count(*) AS c FROM exr GROUP BY bk),
        |keptex AS (SELECT exr.* FROM exr JOIN exocc USING (bk) WHERE c <= 1000),
        |hotex AS (SELECT exr.bk, exr.vec_id,
        |    row_number() OVER (PARTITION BY exr.bk ORDER BY exr.vec_id) AS rn
        |  FROM exr JOIN exocc USING (bk) WHERE c > 1000),
        |ner AS (SELECT bk, vec_id FROM p WHERE NOT is_exact),
        |keptne AS (SELECT ner.* FROM ner WHERE bk IN
        |  (SELECT bk FROM ner GROUP BY bk HAVING count(*) <= 1000)),
        |hotanchor AS (SELECT bk, min(vec_id) AS anchor FROM hotex GROUP BY bk),
        |cand AS (SELECT x.vec_id AS a, y.vec_id AS b
        |    FROM keptex x JOIN keptex y ON x.bk = y.bk AND x.vec_id < y.vec_id
        |  UNION
        |  SELECT least(x.vec_id, y.vec_id) AS a, greatest(x.vec_id, y.vec_id) AS b
        |    FROM keptne x JOIN keptex y ON x.bk = y.bk AND x.vec_id <> y.vec_id
        |  UNION
        |  SELECT least(x.vec_id, h.anchor) AS a, greatest(x.vec_id, h.anchor) AS b
        |    FROM keptne x JOIN hotanchor h ON x.bk = h.bk AND x.vec_id <> h.anchor
        |  UNION
        |  SELECT h1.vec_id AS a, h2.vec_id AS b
        |    FROM hotex h1 JOIN hotex h2 ON h1.bk = h2.bk AND h2.rn = h1.rn + 1),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p3 AS (SELECT cand.a, cand.b
        |  FROM cand JOIN e ea ON ea.vec_id = cand.a JOIN e eb ON eb.vec_id = cand.b
        |  WHERE list_dot_product(ea.v, eb.v) /
        |   (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
        |   >= 0.4),
        |sym3 AS (SELECT a, b FROM p3 UNION SELECT b, a FROM p3),
        |reach3(src, dst) AS (
        |  SELECT a, b FROM sym3
        |  UNION
        |  SELECT r.src, s.b FROM reach3 r JOIN sym3 s ON r.dst = s.a),
        |l3 AS (SELECT v.doc_id,
        |    least(v.doc_id, coalesce(min(r.dst), v.doc_id)) AS c
        |  FROM surv2 v LEFT JOIN reach3 r ON r.src = v.doc_id
        |  GROUP BY v.doc_id)
        |SELECT doc_id, tier, canonical_id FROM (
        |  SELECT doc_id, 1 AS tier, c AS canonical_id FROM l1 WHERE doc_id <> c
        |  UNION ALL
        |  SELECT doc_id, 2, c FROM l2 WHERE doc_id <> c
        |  UNION ALL
        |  SELECT doc_id, 3, c FROM l3 WHERE doc_id <> c
        |  UNION ALL
        |  SELECT doc_id, 0, doc_id FROM l3 WHERE doc_id = c)
        |ORDER BY doc_id""".stripMargin,
    "q17_minhash_lsh_dedup" ->
      """WITH s AS (SELECT doc_id, list_distinct(
        |   [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t)-1)]) AS sh
        |  FROM (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS t
        |    FROM documents))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jacc
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q51_fuzzy_decontaminate" ->
      """WITH s AS (SELECT doc_id, list_distinct(
        |   [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t)-1)]) AS sh
        |  FROM (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS t
        |    FROM documents)),
        |tr AS (SELECT * FROM s WHERE doc_id % 10 <> 0),
        |be AS (SELECT * FROM s WHERE doc_id % 10 = 0)
        |SELECT tr.doc_id AS doc_id, be.doc_id AS bench_id,
        |  round(CAST(len(list_intersect(tr.sh, be.sh)) AS DOUBLE) /
        |   (len(tr.sh) + len(be.sh) - len(list_intersect(tr.sh, be.sh))), 4) AS jacc
        |FROM tr JOIN be ON
        |  round(CAST(len(list_intersect(tr.sh, be.sh)) AS DOUBLE) /
        |   (len(tr.sh) + len(be.sh) - len(list_intersect(tr.sh, be.sh))), 4) >= 0.5
        |ORDER BY doc_id, bench_id""".stripMargin,
    "q19_knn_brute" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |  list_dot_product(q.v, n.v) /
        |   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS c
        | FROM e q JOIN e n ON q.vec_id < 10 AND q.vec_id <> n.vec_id)
        |SELECT q_id, n_id, rank, round(c, 4) AS cos FROM (
        | SELECT q_id, n_id, c,
        |  row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id ASC) AS rank
        | FROM scored) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "q20_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        | round(list_dot_product(a.v, b.v) /
        |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
        |  AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q52_semantic_decontaminate" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |tr AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
        |be AS (SELECT * FROM e WHERE vec_id % 10 = 0)
        |SELECT tr.vec_id AS doc_id, be.vec_id AS bench_id,
        | round(list_dot_product(tr.v, be.v) /
        |  (sqrt(list_dot_product(tr.v, tr.v)) * sqrt(list_dot_product(be.v, be.v))), 4)
        |  AS cos
        |FROM tr JOIN be ON
        | list_dot_product(tr.v, be.v) /
        |  (sqrt(list_dot_product(tr.v, tr.v)) * sqrt(list_dot_product(be.v, be.v))) >= 0.4
        |ORDER BY doc_id, bench_id""".stripMargin,
    "q21_label_stats" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT label, count(*) AS n,
        | round(avg(sqrt(list_dot_product(v, v))), 4) AS mean_norm
        |FROM e GROUP BY label ORDER BY label""".stripMargin,
    // ---- dump-evidence oracles: the hash-kernel outputs land in
    // /tmp/graft_oracle parquet (OracleDump); DuckDB re-derives every
    // relational stage downstream of them ----
    "q18_simhash_dedup" ->
      s"""WITH b AS (SELECT * FROM read_parquet('${OracleDump.glob("q18_banded")}'))
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  min(bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo))) AS dist
        |FROM b x JOIN b y
        |  ON x.band_id = y.band_id AND x.band_key = y.band_key
        |  AND x.doc_id < y.doc_id
        |GROUP BY 1, 2
        |HAVING min(bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo))) <= 25
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q22_ann_lsh" ->
      s"""WITH b0 AS (SELECT * FROM read_parquet('${OracleDump.glob("q22_banded")}')),
        |occ AS (SELECT bk, count(*) AS c FROM b0 GROUP BY bk),
        |b AS (SELECT b0.* FROM b0 JOIN occ USING (bk) WHERE c <= 1000),
        |hot AS (SELECT b0.bk, b0.vec_id,
        |    row_number() OVER (PARTITION BY b0.bk ORDER BY b0.vec_id) AS rn
        |  FROM b0 JOIN occ USING (bk) WHERE c > 1000),
        |cand AS (SELECT x.vec_id AS a, y.vec_id AS b
        |    FROM b x JOIN b y ON x.bk = y.bk AND x.vec_id < y.vec_id
        |  UNION
        |  SELECT h1.vec_id AS a, h2.vec_id AS b
        |    FROM hot h1 JOIN hot h2 ON h1.bk = h2.bk AND h2.rn = h1.rn + 1),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT cand.a AS vec_a, cand.b AS vec_b,
        |  round(list_dot_product(ea.v, eb.v) /
        |   (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 4)
        |   AS cos
        |FROM cand JOIN e ea ON ea.vec_id = cand.a JOIN e eb ON eb.vec_id = cand.b
        |WHERE list_dot_product(ea.v, eb.v) /
        |   (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q38_multiprobe_lsh" ->
      s"""WITH p AS (SELECT * FROM read_parquet('${OracleDump.glob("q38_probes")}')),
        |exr AS (SELECT bk, vec_id FROM p WHERE is_exact),
        |exocc AS (SELECT bk, count(*) AS c FROM exr GROUP BY bk),
        |keptex AS (SELECT exr.* FROM exr JOIN exocc USING (bk) WHERE c <= 1000),
        |hotex AS (SELECT exr.bk, exr.vec_id,
        |    row_number() OVER (PARTITION BY exr.bk ORDER BY exr.vec_id) AS rn
        |  FROM exr JOIN exocc USING (bk) WHERE c > 1000),
        |ner AS (SELECT bk, vec_id FROM p WHERE NOT is_exact),
        |keptne AS (SELECT ner.* FROM ner WHERE bk IN
        |  (SELECT bk FROM ner GROUP BY bk HAVING count(*) <= 1000)),
        |hotanchor AS (SELECT bk, min(vec_id) AS anchor FROM hotex GROUP BY bk),
        |cand AS (SELECT x.vec_id AS a, y.vec_id AS b
        |    FROM keptex x JOIN keptex y ON x.bk = y.bk AND x.vec_id < y.vec_id
        |  UNION
        |  SELECT least(x.vec_id, y.vec_id) AS a, greatest(x.vec_id, y.vec_id) AS b
        |    FROM keptne x JOIN keptex y ON x.bk = y.bk AND x.vec_id <> y.vec_id
        |  UNION
        |  SELECT least(x.vec_id, h.anchor) AS a, greatest(x.vec_id, h.anchor) AS b
        |    FROM keptne x JOIN hotanchor h ON x.bk = h.bk AND x.vec_id <> h.anchor
        |  UNION
        |  SELECT h1.vec_id AS a, h2.vec_id AS b
        |    FROM hotex h1 JOIN hotex h2 ON h1.bk = h2.bk AND h2.rn = h1.rn + 1),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT cand.a AS vec_a, cand.b AS vec_b,
        |  round(list_dot_product(ea.v, eb.v) /
        |   (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 4)
        |   AS cos
        |FROM cand JOIN e ea ON ea.vec_id = cand.a JOIN e eb ON eb.vec_id = cand.b
        |WHERE list_dot_product(ea.v, eb.v) /
        |   (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q44_ivf_pairs" ->
      s"""WITH b0 AS (SELECT * FROM read_parquet('${OracleDump.glob("q44_cells")}')),
        |occ AS (SELECT bk, count(*) AS c FROM b0 GROUP BY bk),
        |b AS (SELECT b0.* FROM b0 JOIN occ USING (bk) WHERE c <= 1000),
        |hot AS (SELECT b0.bk, b0.vec_id,
        |    row_number() OVER (PARTITION BY b0.bk ORDER BY b0.vec_id) AS rn
        |  FROM b0 JOIN occ USING (bk) WHERE c > 1000),
        |cand AS (SELECT x.vec_id AS a, y.vec_id AS b
        |    FROM b x JOIN b y ON x.bk = y.bk AND x.vec_id < y.vec_id
        |  UNION
        |  SELECT h1.vec_id AS a, h2.vec_id AS b
        |    FROM hot h1 JOIN hot h2 ON h1.bk = h2.bk AND h2.rn = h1.rn + 1),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT cand.a AS vec_a, cand.b AS vec_b,
        |  round(list_dot_product(ea.v, eb.v) /
        |   (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 4)
        |   AS cos
        |FROM cand JOIN e ea ON ea.vec_id = cand.a JOIN e eb ON eb.vec_id = cand.b
        |WHERE list_dot_product(ea.v, eb.v) /
        |   (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q23_img_clusters" ->
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a, b FROM read_parquet('${OracleDump.glob("q23_pairs")}')),
        |sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
        |SELECT v.image_id,
        |  least(v.image_id, coalesce(min(r.dst), v.image_id)) AS cluster_id
        |FROM read_parquet('${OracleDump.glob("q23_ids")}') v
        |LEFT JOIN reach r ON r.src = v.image_id
        |GROUP BY v.image_id ORDER BY v.image_id""".stripMargin,
    "q36_img_tiered" ->
      s"""WITH RECURSIVE
        |inp AS (SELECT * FROM read_parquet('${OracleDump.glob("q36_input")}')),
        |canon1 AS (SELECT record_sha, min(image_id) AS c FROM inp GROUP BY record_sha),
        |l1 AS (SELECT i.image_id, canon1.c FROM inp i JOIN canon1 USING (record_sha)),
        |surv1 AS (SELECT image_id FROM l1 WHERE image_id = c),
        |p2 AS (SELECT a, b FROM read_parquet('${OracleDump.glob("q36_near")}')),
        |sym2 AS (SELECT a, b FROM p2 UNION SELECT b, a FROM p2),
        |reach2(src, dst) AS (
        |  SELECT a, b FROM sym2
        |  UNION
        |  SELECT r.src, s.b FROM reach2 r JOIN sym2 s ON r.dst = s.a),
        |l2 AS (SELECT v.image_id,
        |    least(v.image_id, coalesce(min(r.dst), v.image_id)) AS c
        |  FROM surv1 v LEFT JOIN reach2 r ON r.src = v.image_id
        |  GROUP BY v.image_id),
        |surv2 AS (SELECT image_id FROM l2 WHERE image_id = c),
        |cap AS (SELECT i.image_id, i.caption_norm
        |  FROM inp i JOIN surv2 USING (image_id)),
        |p3 AS (SELECT a.image_id AS a, b.image_id AS b
        |  FROM cap a JOIN cap b ON a.image_id <> b.image_id
        |  WHERE length(a.caption_norm) >= 24
        |    AND strpos(b.caption_norm, a.caption_norm) > 0),
        |sym3 AS (SELECT a, b FROM p3 UNION SELECT b, a FROM p3),
        |reach3(src, dst) AS (
        |  SELECT a, b FROM sym3
        |  UNION
        |  SELECT r.src, s.b FROM reach3 r JOIN sym3 s ON r.dst = s.a),
        |l3 AS (SELECT v.image_id,
        |    least(v.image_id, coalesce(min(r.dst), v.image_id)) AS c
        |  FROM surv2 v LEFT JOIN reach3 r ON r.src = v.image_id
        |  GROUP BY v.image_id)
        |SELECT image_id, tier, canonical_id FROM (
        |  SELECT image_id, 1 AS tier, c AS canonical_id FROM l1 WHERE image_id <> c
        |  UNION ALL
        |  SELECT image_id, 2, c FROM l2 WHERE image_id <> c
        |  UNION ALL
        |  SELECT image_id, 3, c FROM l3 WHERE image_id <> c
        |  UNION ALL
        |  SELECT image_id, 0, image_id FROM l3 WHERE image_id = c)
        |ORDER BY image_id""".stripMargin,
    "q24_img_pairs" ->
      s"""WITH b AS (SELECT * FROM read_parquet('${OracleDump.glob("q24_bands")}')),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY band_id, band_key
        |    ORDER BY xor(sort_hi, -9223372036854775807 - 1),
        |             xor(sort_lo, -9223372036854775807 - 1), image_id) AS rn
        |  FROM b),
        |cand0 AS (SELECT
        |    CASE WHEN x.image_id < y.image_id THEN x.image_id ELSE y.image_id END AS a,
        |    CASE WHEN x.image_id < y.image_id THEN y.image_id ELSE x.image_id END AS b,
        |    bit_count(xor(x.sim_hi, y.sim_hi)) + bit_count(xor(x.sim_lo, y.sim_lo)) AS dist,
        |    (x.band_id >= 1000 AND x.sort_hi = y.sort_hi AND x.sort_lo = y.sort_lo)
        |      AS from_minhash
        |  FROM r x JOIN r y
        |    ON x.band_id = y.band_id AND x.band_key = y.band_key
        |    AND y.rn BETWEEN x.rn + 1 AND x.rn + 8),
        |cand AS (SELECT a, b, min(dist) AS dist, bool_or(from_minhash) AS fm
        |  FROM cand0 WHERE dist <= 25 OR from_minhash GROUP BY a, b),
        |s AS (SELECT image_id, minhash
        |  FROM read_parquet('${OracleDump.glob("q24_sigs")}')),
        |byj AS (SELECT cand.a, cand.b FROM cand
        |  JOIN s sa ON sa.image_id = cand.a JOIN s sb ON sb.image_id = cand.b
        |  WHERE cand.dist > 25 AND cand.fm
        |  AND CAST(list_sum([CASE WHEN sa.minhash[i] = sb.minhash[i] THEN 1 ELSE 0 END
        |    FOR i IN range(1, len(sa.minhash) + 1)]) AS DOUBLE) / len(sa.minhash) >= 0.7)
        |SELECT a, b FROM cand WHERE dist <= 25
        |UNION ALL SELECT a, b FROM byj
        |ORDER BY a, b""".stripMargin,
    "q25_img_recall" ->
      s"""WITH t AS (SELECT a, b FROM read_parquet('${OracleDump.glob("q25_truth")}')),
        |p AS (SELECT a, b FROM read_parquet('${OracleDump.glob("q25_pred")}'))
        |SELECT CAST(sum(CASE WHEN p.a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hit,
        |  count(*) AS total,
        |  CAST(sum(CASE WHEN p.a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |    AS recall
        |FROM t LEFT JOIN p ON t.a = p.a AND t.b = p.b""".stripMargin,
    "q26_cfg_simhash" ->
      // Re-derives the ENTIRE SimHash fold from the dumped resolved-feature
      // stream (shared fold SQL — see simhashFoldSql).
      s"""WITH ${simhashFoldSql(OracleDump.glob("q26_feats"), None)}
        |SELECT 'five_node_cfg' AS name, $simhashHexSql AS simhash_hex
        |FROM words""".stripMargin,
    "q28_cfg_json_scan" ->
      // Independent re-parse of the dumped raw JSON (DuckDB's own JSON
      // reader, not Spark's): nodes = distinct(addresses ∪ edge endpoints)
      // (AddEdge adds both nodes, flowgraph.cpp:40-47), branching = sources
      // with >= 2 out-edge ENTRIES (parallel edges count), min-size filter
      // F1 (branching > 5, addfunctionstoindex.cpp:103-111); simhash_hex
      // from the shared fold SQL (simhashFoldSql). TOTAL over the raw
      // dump: every JSON line yields a row even for a degenerate CFG (no
      // nodes, no features) — LEFT JOINs from `named`, zero-coalesced
      // counts, and the empty fold's all-ones hex, matching the Scala
      // kernel's tie rule.
      s"""WITH j AS (SELECT value::JSON AS g
        |  FROM read_parquet('${OracleDump.glob("q28_raw")}')),
        |named AS (SELECT coalesce(json_extract_string(g, '$$.name'), '') AS name, g FROM j),
        |edge_rows AS (SELECT name,
        |    json_extract(e, '$$.source')::BIGINT AS src,
        |    json_extract(e, '$$.destination')::BIGINT AS dst
        |  FROM (SELECT name, unnest(json_extract(g, '$$.edges')::JSON[]) AS e FROM named)),
        |node_addrs AS (SELECT DISTINCT name, addr FROM (
        |  SELECT name, json_extract(n, '$$.address')::BIGINT AS addr
        |    FROM (SELECT name, unnest(json_extract(g, '$$.nodes')::JSON[]) AS n FROM named)
        |  UNION ALL SELECT name, src FROM edge_rows
        |  UNION ALL SELECT name, dst FROM edge_rows)),
        |counts AS (SELECT name, count(*) AS n_nodes FROM node_addrs GROUP BY name),
        |branching AS (SELECT name, count(*) AS branching_nodes
        |  FROM (SELECT name, src FROM edge_rows GROUP BY name, src HAVING count(*) >= 2)
        |  GROUP BY name),
        |${simhashFoldSql(OracleDump.glob("q28_feats"), Some("name"))}
        |SELECT n.name, coalesce(c.n_nodes, 0) AS n_nodes,
        |  coalesce(br.branching_nodes, 0) AS branching_nodes,
        |  coalesce(br.branching_nodes, 0) > 5 AS passes_min_size,
        |  coalesce($simhashHexSql, $allOnesHexSql) AS simhash_hex
        |FROM (SELECT DISTINCT name FROM named) n
        |  LEFT JOIN counts c USING (name)
        |  LEFT JOIN branching br USING (name)
        |  LEFT JOIN words w USING (name)
        |ORDER BY n.name""".stripMargin,
    "q27_cos_histogram" ->
      """WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |  row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
        |  FROM embeddings),
        |e AS (SELECT vec_id, label, v FROM e0 WHERE rn <= 100)
        |SELECT round(list_dot_product(a.v, b.v) /
        |   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 1)
        |   + 0.0
        |   AS cos_bucket, count(*) AS n
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q29_train_eval" ->
      s"""WITH s AS (SELECT * FROM read_parquet('${OracleDump.glob("q29_sigs")}')),
        |p AS (SELECT * FROM read_parquet('${OracleDump.glob("q29_pairs")}'))
        |SELECT p.pair_set, sa.phase,
        |  count(*) AS n_pairs,
        |  round(avg(bit_count(xor(sa.sim_hi, sb.sim_hi)) +
        |            bit_count(xor(sa.sim_lo, sb.sim_lo))), 4) AS mean_dist,
        |  min(bit_count(xor(sa.sim_hi, sb.sim_hi)) +
        |      bit_count(xor(sa.sim_lo, sb.sim_lo))) AS min_dist,
        |  max(bit_count(xor(sa.sim_hi, sb.sim_hi)) +
        |      bit_count(xor(sa.sim_lo, sb.sim_lo))) AS max_dist
        |FROM p JOIN s sa ON sa.doc_id = p.a
        |  JOIN s sb ON sb.doc_id = p.b AND sb.phase = sa.phase
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q31_ann_ivf" ->
      s"""WITH a AS (SELECT * FROM read_parquet('${OracleDump.glob("q31_assign")}')),
        |p AS (SELECT * FROM read_parquet('${OracleDump.glob("q31_probes")}')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (SELECT p.q_id, a.vec_id AS n_id,
        |  list_dot_product(q.v, n.v) /
        |   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS c
        | FROM p JOIN a ON a.cell = p.cell
        | JOIN e q ON q.vec_id = p.q_id
        | JOIN e n ON n.vec_id = a.vec_id
        | WHERE a.vec_id <> p.q_id)
        |SELECT q_id, n_id, rank, round(c, 4) AS cos FROM (
        | SELECT q_id, n_id, c,
        |  row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id ASC) AS rank
        | FROM scored) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "q32_stream_dedup" ->
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a, b FROM read_parquet('${OracleDump.glob("q32_pairs")}')),
        |sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
        |SELECT v.image_id,
        |  least(v.image_id, coalesce(min(r.dst), v.image_id)) AS cluster_id
        |FROM read_parquet('${OracleDump.glob("q32_ids")}') v
        |LEFT JOIN reach r ON r.src = v.image_id
        |GROUP BY v.image_id ORDER BY v.image_id""".stripMargin,
    "q34_stream_resize" ->
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a, b FROM read_parquet('${OracleDump.glob("q34_pairs")}')),
        |sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
        |SELECT v.image_id,
        |  least(v.image_id, coalesce(min(r.dst), v.image_id)) AS cluster_id
        |FROM read_parquet('${OracleDump.glob("q34_ids")}') v
        |LEFT JOIN reach r ON r.src = v.image_id
        |GROUP BY v.image_id ORDER BY v.image_id""".stripMargin,
    "q40_stream_multiprobe" ->
      // clusters re-derived from the pair log (q32's recursive-CTE CC),
      // truth recall from the dumped planted pairs, persisted simhash
      // band-row count from the dumped committed index — all three joined
      // into the single summary row the Spark side computes from the
      // engine's own clustersFromState labels
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a, b FROM read_parquet('${OracleDump.glob("q40_pairs")}')),
        |sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
        |lab AS (SELECT v.image_id,
        |    least(v.image_id, coalesce(min(r.dst), v.image_id)) AS cluster_id
        |  FROM read_parquet('${OracleDump.glob("q40_ids")}') v
        |  LEFT JOIN reach r ON r.src = v.image_id
        |  GROUP BY v.image_id),
        |t AS (SELECT a, b FROM read_parquet('${OracleDump.glob("q40_truth")}')),
        |hit AS (SELECT
        |    CAST(sum(CASE WHEN la.cluster_id = lb.cluster_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS truth_hit,
        |    count(*) AS truth_total
        |  FROM t JOIN lab la ON la.image_id = t.a
        |  JOIN lab lb ON lb.image_id = t.b),
        |c AS (SELECT count(*) AS n_images,
        |    count(DISTINCT cluster_id) AS n_clusters FROM lab),
        |ib AS (SELECT count(*) AS sim_band_rows
        |  FROM read_parquet('${OracleDump.glob("q40_index")}')
        |  WHERE band_id < 1000)
        |SELECT c.n_images, c.n_clusters, hit.truth_total, hit.truth_hit,
        |  CAST(hit.truth_hit AS DOUBLE) / hit.truth_total AS recall,
        |  ib.sim_band_rows
        |FROM c, hit, ib""".stripMargin,
    "q30_roc" ->
      s"""WITH s AS (SELECT * FROM read_parquet('${OracleDump.glob("q30_sigs")}')),
        |gs AS (SELECT group_id, count(*) AS gsize FROM s GROUP BY group_id),
        |q AS (SELECT s.id AS qid, s.group_id AS qg, s.sim_hi AS qh,
        |    s.sim_lo AS ql, gs.gsize
        |  FROM s JOIN gs ON s.group_id = gs.group_id WHERE gs.gsize >= 2),
        |cut AS (SELECT unnest([96,100,104,108,112,116,120,124,128]) AS cutoff),
        |sc AS (SELECT q.qid, (q.qg = o.group_id) AS relevant,
        |    128 - (bit_count(xor(q.qh, o.sim_hi)) +
        |           bit_count(xor(q.ql, o.sim_lo))) AS sim
        |  FROM q JOIN s o ON o.id <> q.qid),
        |cnt AS (SELECT qid, cutoff,
        |    sum(CASE WHEN relevant AND sim >= cutoff THEN 1 ELSE 0 END) AS rel_ret,
        |    sum(CASE WHEN NOT relevant AND sim >= cutoff THEN 1 ELSE 0 END) AS irr_ret
        |  FROM sc CROSS JOIN cut GROUP BY qid, cutoff),
        |per AS (SELECT g.cutoff,
        |    CAST(coalesce(c.rel_ret, 0) AS DOUBLE) / (g.gsize - 1) AS tpr,
        |    CAST(coalesce(c.irr_ret, 0) AS DOUBLE) /
        |      ((SELECT count(*) FROM s) - g.gsize) AS fpr,
        |    CASE WHEN coalesce(c.rel_ret, 0) + coalesce(c.irr_ret, 0) > 0
        |      THEN CAST(coalesce(c.irr_ret, 0) AS DOUBLE) /
        |        (coalesce(c.rel_ret, 0) + coalesce(c.irr_ret, 0))
        |      ELSE 0.0 END AS irr
        |  FROM (SELECT qid, gsize, cutoff FROM q CROSS JOIN cut) g
        |  LEFT JOIN cnt c ON c.qid = g.qid AND c.cutoff = g.cutoff)
        |SELECT cutoff, round(avg(tpr), 6) AS tpr, round(avg(fpr), 6) AS fpr,
        |  round(avg(irr), 6) AS irr
        |FROM per GROUP BY cutoff ORDER BY cutoff""".stripMargin,
    "q33_roc_approx" ->
      s"""WITH s AS (SELECT * FROM read_parquet('${OracleDump.glob("q33_sigs")}')),
        |i AS (SELECT * FROM read_parquet('${OracleDump.glob("q33_index")}')),
        |gs AS (SELECT group_id, count(*) AS gsize FROM s GROUP BY group_id),
        |q AS (SELECT s.id AS qid, s.group_id AS qg, gs.gsize
        |  FROM s JOIN gs ON s.group_id = gs.group_id WHERE gs.gsize >= 2),
        |hits AS (SELECT x.id AS qid, y.id AS oid,
        |    max(128 - (bit_count(xor(x.sim_hi, y.sim_hi)) +
        |               bit_count(xor(x.sim_lo, y.sim_lo)))) AS sim
        |  FROM i x JOIN i y
        |    ON x.band_id = y.band_id AND x.band_key = y.band_key
        |    AND x.id <> y.id
        |  GROUP BY 1, 2),
        |cut AS (SELECT unnest([96,100,104,108,112,116,120,124,128]) AS cutoff),
        |sc AS (SELECT h.qid, q.gsize, (q.qg = o.group_id) AS relevant, h.sim
        |  FROM hits h JOIN q ON q.qid = h.qid JOIN s o ON o.id = h.oid),
        |cnt AS (SELECT qid, cutoff,
        |    sum(CASE WHEN relevant AND sim >= cutoff THEN 1 ELSE 0 END) AS rel_ret,
        |    sum(CASE WHEN NOT relevant AND sim >= cutoff THEN 1 ELSE 0 END) AS irr_ret
        |  FROM sc CROSS JOIN cut GROUP BY qid, cutoff),
        |per AS (SELECT g.cutoff,
        |    CAST(coalesce(c.rel_ret, 0) AS DOUBLE) / (g.gsize - 1) AS tpr,
        |    CAST(coalesce(c.irr_ret, 0) AS DOUBLE) /
        |      ((SELECT count(*) FROM s) - g.gsize) AS fpr,
        |    CASE WHEN coalesce(c.rel_ret, 0) + coalesce(c.irr_ret, 0) > 0
        |      THEN CAST(coalesce(c.irr_ret, 0) AS DOUBLE) /
        |        (coalesce(c.rel_ret, 0) + coalesce(c.irr_ret, 0))
        |      ELSE 0.0 END AS irr
        |  FROM (SELECT qid, gsize, cutoff FROM q CROSS JOIN cut) g
        |  LEFT JOIN cnt c ON c.qid = g.qid AND c.cutoff = g.cutoff)
        |SELECT cutoff, round(avg(tpr), 6) AS tpr, round(avg(fpr), 6) AS fpr,
        |  round(avg(irr), 6) AS irr
        |FROM per GROUP BY cutoff ORDER BY cutoff""".stripMargin,
    "q41_decontaminate" ->
      """WITH tok AS (SELECT doc_id,
        |   list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |   [array_to_string(t[i:i+12], ' ') FOR i IN range(1, len(t)-11)])) AS gram
        |  FROM tok WHERE len(t) >= 13),
        |tr AS (SELECT * FROM g WHERE doc_id % 10 <> 0),
        |be AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 10 = 0)
        |SELECT tr.doc_id, count(DISTINCT tr.gram) AS n_shared_grams,
        |  count(DISTINCT bench_id) AS n_bench_docs
        |FROM tr JOIN be USING (gram)
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    "q42_repetition" ->
      """WITH tok AS (SELECT doc_id, length(text) AS n_txt,
        |   list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS t
        |  FROM documents),
        |g2 AS (SELECT doc_id,
        |   unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS g
        |  FROM tok WHERE len(t) >= 2),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
        |top2 AS (SELECT doc_id, g AS top_2gram, c AS top2n FROM (
        |  SELECT doc_id, g, c, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM c2)
        |  WHERE rn = 1),
        |g5 AS (SELECT doc_id,
        |   unnest([array_to_string(t[i:i+4], ' ') FOR i IN range(1, len(t)-3)]) AS g
        |  FROM tok WHERE len(t) >= 5),
        |c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2),
        |d5 AS (SELECT doc_id, sum(c) AS n5,
        |   sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup5 FROM c5 GROUP BY 1)
        |SELECT tok.doc_id, top_2gram,
        |  CASE WHEN top2n > 0 THEN
        |    round(top2n * length(top_2gram) / CAST(n_txt AS DOUBLE), 4)
        |  END AS top_2gram_frac,
        |  CASE WHEN n5 > 0 THEN round(CAST(dup5 AS DOUBLE) / n5, 4)
        |  END AS dup_5gram_frac
        |FROM tok LEFT JOIN top2 USING (doc_id) LEFT JOIN d5 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q43_domain_mix" ->
      """WITH thr AS (SELECT source,
        |   (CAST(substr(source, 4) AS BIGINT) // 5 + 1) * 250000 AS thr
        |  FROM (SELECT DISTINCT source FROM documents)),
        |kept AS (SELECT d.source FROM documents d JOIN thr USING (source)
        |  WHERE ((d.doc_id * 40503 + 9973) % 1000003) < thr),
        |k AS (SELECT source, count(*) AS n_kept FROM kept GROUP BY 1)
        |SELECT d.source, count(*) AS n_total,
        |  coalesce(any_value(k.n_kept), 0) AS n_kept
        |FROM documents d LEFT JOIN k USING (source)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q45_cluster_split" ->
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a, b FROM read_parquet('${OracleDump.glob("q45_pairs")}')),
        |sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
        |cl AS (SELECT v.image_id,
        |    least(v.image_id, coalesce(min(r.dst), v.image_id)) AS cluster_id
        |  FROM read_parquet('${OracleDump.glob("q45_ids")}') v
        |  LEFT JOIN reach r ON r.src = v.image_id
        |  GROUP BY v.image_id),
        |h AS (SELECT image_id, cluster_id,
        |    CAST(list_sum([unicode(cluster_id[i]) * i
        |      FOR i IN range(1, length(cluster_id)+1)]) % 1000003 AS BIGINT)
        |      % 10 AS bucket
        |  FROM cl)
        |SELECT image_id, cluster_id,
        |  CASE WHEN bucket < 8 THEN 'train' WHEN bucket < 9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h ORDER BY image_id""".stripMargin,
    "q46_stratified_sample" ->
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source, CAST(row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY (doc_id * 40503 + 9973) % 1000003 ASC, doc_id ASC)
        |    AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    "q53_mix_plan" -> {
      val weightRows = (Seq("src0" -> 0.5) ++
        (1 until 20).map(i => s"src$i" -> 0.025)).sortBy(_._1)
        .map { case (s, w) => s"('$s', CAST($w AS DOUBLE))" }.mkString(", ")
      s"""WITH w(source, weight) AS (VALUES $weightRows),
        |t AS (SELECT source, count(*) AS n_docs,
        |   CAST(sum(len(list_filter(regexp_split_to_array(text,'\\s+'),
        |     x -> x <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |p AS (SELECT t.source, n_docs, n_tokens, weight,
        |   weight * 10000.0 AS alloc_raw,
        |   least(CAST(1.0 AS DOUBLE), weight * 10000.0 / n_tokens) AS rate_raw
        |  FROM t JOIN w ON t.source = w.source)
        |SELECT source, n_docs, n_tokens, weight,
        |  round(alloc_raw, 4) AS alloc_tokens,
        |  round(rate_raw, 6) AS rate,
        |  CAST(floor(rate_raw * 1000003.0) AS BIGINT) AS thr,
        |  round(rate_raw * n_tokens, 4) AS expected_tokens,
        |  round(greatest(CAST(0.0 AS DOUBLE), alloc_raw - n_tokens), 4)
        |    AS shortfall
        |FROM p ORDER BY source""".stripMargin
    },
    "q47_dedup_report" ->
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a, b FROM read_parquet('${OracleDump.glob("q47_pairs")}')),
        |sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
        |sz AS (SELECT * FROM read_parquet('${OracleDump.glob("q47_sizes")}')),
        |cl AS (SELECT v.image_id, v.n_bytes,
        |    least(v.image_id, coalesce(min(r.dst), v.image_id)) AS cluster_id
        |  FROM sz v LEFT JOIN reach r ON r.src = v.image_id
        |  GROUP BY v.image_id, v.n_bytes),
        |per AS (SELECT cluster_id, count(*) AS sz, sum(n_bytes) AS total_bytes,
        |    sum(CASE WHEN image_id = cluster_id THEN n_bytes ELSE 0 END)
        |      AS kept_bytes
        |  FROM cl GROUP BY cluster_id)
        |SELECT sz, count(*) AS n_clusters,
        |  CAST(sum(sz) AS BIGINT) AS n_images,
        |  CAST(sum(total_bytes - kept_bytes) AS BIGINT) AS bytes_removed
        |FROM per GROUP BY sz ORDER BY sz""".stripMargin,
    "q48_corpus_build" ->
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a, b FROM read_parquet('${OracleDump.glob("q48_pairs")}')),
        |sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
        |caps AS (SELECT doc_id, text
        |  FROM read_parquet('${OracleDump.glob("q48_caps")}')),
        |cl AS (SELECT v.doc_id AS image_id,
        |    least(v.doc_id, coalesce(min(r.dst), v.doc_id)) AS cluster_id
        |  FROM caps v LEFT JOIN reach r ON r.src = v.doc_id
        |  GROUP BY v.doc_id),
        |tok AS (SELECT doc_id,
        |   list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '') AS t
        |  FROM caps),
        |g5 AS (SELECT doc_id,
        |   unnest([array_to_string(t[i:i+4], ' ') FOR i IN range(1, len(t)-3)]) AS g
        |  FROM tok WHERE len(t) >= 5),
        |c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2),
        |d5 AS (SELECT doc_id, sum(c) AS n5,
        |   sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup5 FROM c5 GROUP BY 1),
        |hyg AS (SELECT tok.doc_id FROM tok LEFT JOIN d5 USING (doc_id)
        |  WHERE len(t) >= 12
        |    AND (n5 IS NULL OR round(CAST(dup5 AS DOUBLE) / n5, 4) <= 0.75)),
        |gb AS (SELECT doc_id, unnest(list_distinct(
        |   [array_to_string(t[i:i+4], ' ') FOR i IN range(1, len(t)-3)])) AS gram
        |  FROM tok WHERE len(t) >= 5),
        |be AS (SELECT DISTINCT gram FROM gb
        |  WHERE doc_id IN (SELECT doc_id FROM caps ORDER BY doc_id LIMIT 2)),
        |cont AS (SELECT DISTINCT gb.doc_id FROM gb JOIN be USING (gram)),
        |sh3 AS (SELECT doc_id, list_distinct(
        |   [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)]) AS sh
        |  FROM tok),
        |bsh AS (SELECT * FROM sh3
        |  WHERE doc_id IN (SELECT doc_id FROM caps ORDER BY doc_id LIMIT 2)),
        |fz AS (SELECT DISTINCT a.doc_id FROM sh3 a JOIN bsh b ON
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.5),
        |canon AS (SELECT cluster_id, min(image_id) AS image_id FROM cl
        |  WHERE image_id IN (SELECT doc_id FROM hyg)
        |    AND image_id NOT IN (SELECT doc_id FROM cont)
        |    AND image_id NOT IN (SELECT doc_id FROM fz)
        |  GROUP BY cluster_id),
        |h AS (SELECT image_id, cluster_id,
        |    CAST(list_sum([unicode(cluster_id[i]) * i
        |      FOR i IN range(1, length(cluster_id)+1)]) % 1000003 AS BIGINT)
        |      % 10 AS bucket
        |  FROM canon)
        |SELECT image_id, cluster_id,
        |  CASE WHEN bucket < 8 THEN 'train' WHEN bucket < 9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h ORDER BY image_id""".stripMargin,
    "q49_caption_rewrite" ->
      s"""WITH p AS (SELECT a, b FROM read_parquet('${OracleDump.glob("q49_pairs")}')),
        |t AS (SELECT image_id, caption_norm,
        |    list_distinct(list_filter(string_split(caption_norm, ' '),
        |      x -> x <> '')) AS toks
        |  FROM read_parquet('${OracleDump.glob("q49_caps")}'))
        |SELECT p.a, p.b,
        |  CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
        |    / greatest(len(list_distinct(list_concat(ta.toks, tb.toks))), 1)
        |    AS cap_jaccard
        |FROM p JOIN t ta ON ta.image_id = p.a JOIN t tb ON tb.image_id = p.b
        |WHERE ta.caption_norm <> tb.caption_norm
        |ORDER BY a, b""".stripMargin,
    "q50_caption_spam" ->
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a, b FROM read_parquet('${OracleDump.glob("q50_pairs")}')),
        |sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
        |cl AS (SELECT v.image_id,
        |    least(v.image_id, coalesce(min(r.dst), v.image_id)) AS cluster_id
        |  FROM read_parquet('${OracleDump.glob("q50_ids")}') v
        |  LEFT JOIN reach r ON r.src = v.image_id
        |  GROUP BY v.image_id),
        |c AS (SELECT image_id, caption_norm
        |  FROM read_parquet('${OracleDump.glob("q50_caps")}')),
        |g AS (SELECT caption_norm, count(*) AS n_images,
        |    count(DISTINCT cluster_id) AS n_clusters
        |  FROM cl JOIN c USING (image_id) GROUP BY caption_norm)
        |SELECT caption_norm, n_images, n_clusters FROM g
        |WHERE n_images >= 2 AND n_clusters >= 2
        |ORDER BY caption_norm""".stripMargin
  )
}
