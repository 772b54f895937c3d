package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  test("minhash LSH dedup finds exactly the brute-force jaccard>=0.5 pairs") {
    val lsh = DedupOps.minhashLshDedup(docs, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = TextOps.ngramJaccardPairs(docs, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === brute, s"LSH=${lsh.size} brute=${brute.size}")
    assert(brute.nonEmpty, "fixture should contain planted near-dup docs")
  }

  test("simhash dedup finds the planted near-dup docs too") {
    val sim = DedupOps.simhashDedup(docs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = TextOps.ngramJaccardPairs(docs, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // simhash at <=25 bits is a different (stricter/looser) metric; require
    // it recovers at least 90% of the very-near pairs (j ~ 0.98 fixtures)
    val recovered = brute.intersect(sim).size.toDouble / brute.size
    assert(recovered >= 0.9, s"simhash recovered $recovered of jaccard pairs")
  }

  test("exact dedup keeps one keeper per distinct text") {
    val out = DedupOps.exactDedup(docs)
    assert(out.count() === docs.select("text").distinct().count())
    assert(out.agg(sum("dup_count")).collect()(0).getLong(0) === docs.count())
  }

  test("token count matches n_chars-consistent recomputation") {
    val out = TextOps.tokenCount(docs)
    val bad = out.join(docs, "doc_id")
      .filter(size(split(col("text"), " ")) =!= col("n_tokens")).count()
    assert(bad === 0) // single-space-separated fixture text
  }

  test("knn brute force: rank 1 is the max-cosine neighbor, deterministic") {
    val out = EmbeddingOps.knnBrute(emb, nQueries = 3, k = 5).collect()
    assert(out.length === 15)
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (_, rows) =>
      val cos = rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(cos.zip(cos.tail).forall { case (x, y) => x >= y }, "not sorted")
    }
    val again = EmbeddingOps.knnBrute(emb, nQueries = 3, k = 5).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("LSH ANN pairs recall vs exact cosine pairs at 0.4") {
    val exact = EmbeddingOps.cosinePairs(emb, 0.4)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = EmbeddingOps.lshCosinePairs(emb, 0.4)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ANN is approximate; every ANN pair must be a true pair (verify step).
    // Recall gate 0.9: deterministic hyperplanes + fixed fixture => the
    // measured 0.92 at (r=8, b=96) is stable, not flaky
    assert(ann.subsetOf(exact))
    assert(exact.nonEmpty, "fixture should contain cos>=0.4 pairs")
    assert(ann.size.toDouble / exact.size >= 0.9,
      s"ANN recall ${ann.size}/${exact.size}")
  }

  test("multi-probe LSH: extraProbes=0 == single-probe; probes lift recall at 4x fewer bands") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(EmbeddingOps.cosinePairs(emb, 0.4))
    // extraProbes = 0 must reproduce the single-probe operator exactly —
    // pins the probe path's exact-key arithmetic to lshBands
    val single = pairs(EmbeddingOps.lshCosinePairs(emb, 0.4, bands = 24))
    val zero = pairs(EmbeddingOps.multiProbeCosinePairs(emb, 0.4,
      bands = 24, extraProbes = 0))
    assert(zero === single)
    val multi = pairs(EmbeddingOps.multiProbeCosinePairs(emb, 0.4,
      bands = 24, extraProbes = 2))
    // verify step: every reported pair is a true pair; probe set includes
    // the exact key, so single-probe pairs are a subset by construction
    assert(multi.subsetOf(exact))
    assert(single.subsetOf(multi))
    // the point of probing: at 24 bands (4x less index state than q22's
    // 96), the 2-probe recall must beat single-probe and clear 0.8
    assert(multi.size > single.size,
      s"probing added nothing: multi=${multi.size} single=${single.size}")
    println(s"multi-probe LSH @24 bands: single-probe ${single.size}/" +
      s"${exact.size}, 2-probe ${multi.size}/${exact.size}")
    assert(multi.size.toDouble / exact.size >= 0.8,
      s"multi-probe recall ${multi.size}/${exact.size}")
    // determinism
    val again = pairs(EmbeddingOps.multiProbeCosinePairs(emb, 0.4,
      bands = 24, extraProbes = 2))
    assert(again === multi)
  }

  test("IVF cosine pairs: subset of exact, single-cell config IS exact, recall floor") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(EmbeddingOps.cosinePairs(emb, 0.4))
    assert(exact.nonEmpty, "fixture should contain cos>=0.4 pairs")
    // nCells=1 puts every vector in one cell: candidates = all pairs, so
    // the operator must reproduce the exact baseline bit-for-bit
    val one = pairs(EmbeddingOps.ivfCosinePairs(emb, 0.4, nCells = 1,
      maxBucket = 1000000))
    assert(one === exact)
    // single-assignment misses are exactly the pairs the quantizer splits
    // across cells — at the mid threshold 0.4 on this wide-spectrum
    // fixture that is most of them (measured 26/66 at 8 cells), which is
    // WHY nAssign exists; multi-assignment buys them back (54/66 at
    // nAssign=2, 64/66 at 3 — deterministic, not flaky)
    val single = pairs(EmbeddingOps.ivfCosinePairs(emb, 0.4, nCells = 8))
    val ivf = pairs(EmbeddingOps.ivfCosinePairs(emb, 0.4, nCells = 8,
      nAssign = 3))
    assert(single.subsetOf(ivf),
      "nAssign=1 cells are every vector's top cell, so its pairs survive")
    assert(ivf.subsetOf(exact))
    println(s"IVF pairs @8 cells: nAssign=1 ${single.size}/${exact.size}, " +
      s"nAssign=3 ${ivf.size}/${exact.size}")
    assert(ivf.size.toDouble / exact.size >= 0.9,
      s"IVF recall ${ivf.size}/${exact.size}")
    // determinism (no-RNG k-means + deterministic sample)
    assert(pairs(EmbeddingOps.ivfCosinePairs(emb, 0.4, nCells = 8,
      nAssign = 3)) === ivf)
  }

  test("LSH skew guard: a mega-bucket collapses to a verified chain; isolated pairs survive") {
    import spark.implicits._
    // 40 identical vectors share EVERY band key — 40²×bands join rows with
    // no cap (the skewed-LSH-bucket case the north rule names). With
    // maxBucket = 10 their buckets go through the chain fallback: O(m)
    // sorted-adjacent VERIFIED pairs that keep the cluster connected for
    // downstream components, instead of either m² pairs or (the old
    // behavior) nothing at all. The genuine near-dup pair in an orthogonal
    // direction keeps its own cold buckets.
    val hot = Array(1f, 0f, 0f, 0f)
    val vecs = (0L until 40L).map(i => (i, hot)) ++
      Seq((100L, Array(0f, 1f, 0f, 0f)), (101L, Array(0f, 1f, 0.05f, 0f)))
    val embT = vecs.toDF("vec_id", "embedding")
    def ps(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val chain = (0L until 39L).map(i => (i, i + 1)).toSet
    assert(ps(EmbeddingOps.multiProbeCosinePairs(embT, 0.9, dims = 4,
      maxBucket = 10)) === chain + ((100L, 101L)))
    assert(ps(EmbeddingOps.lshCosinePairs(embT, 0.9, dims = 4,
      maxBucket = 10)) === chain + ((100L, 101L)))
    // cap above the group size: the identical vectors pair up fully again
    assert(ps(EmbeddingOps.multiProbeCosinePairs(embT, 0.9, dims = 4,
      maxBucket = 1000)).size === 40 * 39 / 2 + 1)
  }

  test("multiProbeCandidates: per-bucket contract (chain, foreign-flood cap, probe join)") {
    import spark.implicits._
    // hand-built probe table pins the relational contract directly:
    //  bk=1: 12 exact members, cap 10 -> hot -> adjacent chain only
    //  bk=2: 3 exact members + 50 foreign probe rows (> cap) -> the flood
    //        is dropped, intra-bucket pairs survive (the one-sided-cap bug
    //        would have emitted 50x3 foreign pairs here)
    //  bk=3: 2 exact members + 2 foreign probes (<= cap) -> probe rows
    //        pair with BOTH exact members, not with each other
    val rows =
      (0L until 12L).map(i => (i, 1L, true)) ++
      Seq(100L, 101L, 102L).map(i => (i, 2L, true)) ++
      (200L until 250L).map(i => (i, 2L, false)) ++
      Seq(300L, 301L).map(i => (i, 3L, true)) ++
      Seq(400L, 401L).map(i => (i, 3L, false))
    val probes = rows.toDF("vec_id", "bk", "is_exact")
    val got = EmbeddingOps.multiProbeCandidates(probes, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want =
      (0L until 11L).map(i => (i, i + 1)).toSet ++
      Set((100L, 101L), (100L, 102L), (101L, 102L)) ++
      Set((300L, 301L), (300L, 400L), (301L, 400L), (300L, 401L), (301L, 401L))
    assert(got === want)
  }

  test("IVF ANN: probing all cells equals brute force; nprobe=4 has recall") {
    val exact = EmbeddingOps.knnBrute(emb, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // nprobe == nCells probes every cell => IVF must reproduce brute force
    val full = EmbeddingOps.ivfTopK(emb, nQueries = 10, k = 5,
      nCells = 16, nprobe = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact, "all-cells IVF must equal exact top-k")
    val probed = EmbeddingOps.ivfTopK(emb, nQueries = 10, k = 5,
      nCells = 16, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = probed.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF nprobe=4 recall $recall")
    // determinism: no RNG anywhere in the centroid training
    val again = EmbeddingOps.ivfTopK(emb, nQueries = 10, k = 5,
      nCells = 16, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === probed)
  }

  test("tiered dedup: each doc dropped by the FIRST tier that catches it") {
    import spark.implicits._
    // ids 0,1,2: byte-identical -> tier 1 keeps 0; id 3: one word changed
    // (shingle jaccard 0.75) -> tier 2, canonical 0; ids 4,5: lexically
    // unrelated but near-identical embeddings -> tier 3 drops 5; id 6:
    // unique text, orthogonal embedding -> kept
    val t0 = "the quick brown fox jumps over the lazy dog today"
    val texts = Seq(
      0L -> t0, 1L -> t0, 2L -> t0,
      3L -> "the quick brown fox jumps over the lazy cat today",
      4L -> "colorless green ideas sleep furiously in the garden tonight",
      5L -> "stock markets rallied sharply after the surprise rate cut",
      6L -> "entirely different content about cooking pasta with garlic")
    val docs = texts.toDF("doc_id", "text")
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(1f, 0f, 0f, 0f), 3L -> Array(1f, 0f, 0f, 0f),
      4L -> Array(0f, 1f, 0f, 0.01f), 5L -> Array(0f, 1f, 0f, 0f),
      6L -> Array(0f, 0f, 1f, 0f))
    val embT = vecs.toDF("vec_id", "embedding")
    val res = TieredDedup.run(docs, embT)
    val v = res.verdicts.collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(v === Map(
      0L -> ((0, 0L)), 1L -> ((1, 0L)), 2L -> ((1, 0L)), 3L -> ((2, 0L)),
      4L -> ((0, 4L)), 5L -> ((3, 4L)), 6L -> ((0, 6L))))
    // frontier monotonicity: tier-3 evidence never mentions a doc already
    // dropped at tier 1/2 (the expensive tier only sees survivors)
    val dropped12 = v.filter { case (_, (t, _)) => t == 1 || t == 2 }.keySet
    val semIds = res.semPairs.select("vec_a").union(
      res.semPairs.select("vec_b")).collect().map(_.getLong(0)).toSet
    assert(semIds.intersect(dropped12).isEmpty)
  }

  test("docs with < 3 tokens are never near-duplicates (no empty-evidence candidates)") {
    import spark.implicits._
    // a shingle-less doc sketches to the all-MaxValue vector (minhash) or
    // the all-ones hash (simhash tie rule) — identical for EVERY short
    // doc, so without the empty-evidence exclusion all short docs would
    // band-collide and verify at Jaccard 1.0 / Hamming 0 against each
    // other, and m of them would emit bands*m^2 join rows
    val docs = Seq(
      1L -> "hello world", 2L -> "goodbye moon", 3L -> "one",
      4L -> "the quick brown fox jumps over the lazy dog today",
      5L -> "the quick brown fox jumps over the lazy cat today")
      .toDF("doc_id", "text")
    val mh = DedupOps.minhashLshDedup(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh === Set((4L, 5L))) // real near-dups still found
    val sh = DedupOps.simhashDedup(docs).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.forall { case (a, b) => a >= 4L && b >= 4L },
      s"short docs paired by simhash: $sh")
  }

  test("tiered dedup: negative doc_ids canonicalize to the true numeric minimum") {
    import spark.implicits._
    // the internal string encoding must be order-preserving over the WHOLE
    // long range — plain zero-padding inverts negative order ("-0…1" <
    // "-0…2" lexicographically but -1 > -2), silently electing the wrong
    // canonical. Mixed-sign and all-negative components both exercised.
    // DISTINCT near-dup texts, so the components form at tier 2 — the
    // tier that actually routes through the string-encoded min-label
    // closure. (Byte-identical texts would collapse at tier 1's numeric
    // groupBy and never exercise the encoding: under the broken padding
    // this exact fixture elected -1 over -2.)
    val docs = Seq(
      -1L -> "the quick brown fox jumps over the lazy dog today",
      -2L -> "the quick brown fox jumps over the lazy cat today",
      3L -> "the quick brown fox jumps over the lazy owl today",
      -5L -> "colorless green ideas sleep furiously in the garden tonight",
      -4L -> "colorless green ideas sleep furiously in the garden morning")
      .toDF("doc_id", "text")
    val embT = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val v = TieredDedup.run(docs, embT).verdicts.collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(v === Map(
      -2L -> ((0, -2L)), -1L -> ((2, -2L)), 3L -> ((2, -2L)),
      -5L -> ((0, -5L)), -4L -> ((2, -5L))))
  }

  test("tiered dedup approxSem: multi-probe tier 3 is a verified subset of exact") {
    def ps(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def byTier(r: TieredDedup.Result, ts: Set[Int]) =
      r.verdicts.collect()
        .map(row => (row.getLong(0), row.getInt(1), row.getLong(2)))
        .filter(t => ts.contains(t._2)).toSet
    val exactR = TieredDedup.run(docs, emb)
    val approxR = TieredDedup.run(docs, emb, approxSem = true)
    // approxSem only changes tier 3's pair source: tiers 1-2 identical
    assert(byTier(approxR, Set(1, 2)) === byTier(exactR, Set(1, 2)))
    // every approx sem pair passed the exact-cosine verify -> subset; and
    // pair subset => component refinement => approx tier-3 DROPS are a
    // subset of exact tier-3 drops (a missed edge can only keep a doc,
    // never invent a drop)
    val exPairs = ps(exactR.semPairs)
    val apPairs = ps(approxR.semPairs)
    assert(exPairs.nonEmpty, "fixture must exercise tier 3")
    assert(apPairs.subsetOf(exPairs))
    val exDrops = byTier(exactR, Set(3)).map(_._1)
    val apDrops = byTier(approxR, Set(3)).map(_._1)
    assert(apDrops.subsetOf(exDrops))
    println(s"approxSem tier-3: pairs ${apPairs.size}/${exPairs.size}, " +
      s"drops ${apDrops.size}/${exDrops.size}")
    assert(apPairs.size.toDouble / exPairs.size >= 0.75,
      s"approx tier-3 pair recall ${apPairs.size}/${exPairs.size}")
  }

  test("tiered dedup exact tier-3 fails fast past the broadcast budget") {
    // survivors * 64 dims * 4 B far exceeds a 1-byte budget -> the guard
    // must fire BEFORE any broadcast attempt, naming the scale path
    val ex = intercept[IllegalArgumentException] {
      TieredDedup.run(docs, emb, maxExactBroadcastBytes = 1L)
    }
    assert(ex.getMessage.contains("approxSem = true"), ex.getMessage)
    // the approx path ignores the exact budget entirely
    val ok = TieredDedup.run(docs, emb, approxSem = true,
      maxExactBroadcastBytes = 1L)
    assert(ok.verdicts.count() === docs.count())
  }

  test("tiered dedup on the sf tables: partition of all docs, tiers consistent with single-tier ops") {
    val res = TieredDedup.run(docs, emb)
    val v = res.verdicts.cache()
    assert(v.count() === docs.count())
    assert(v.select("doc_id").distinct().count() === docs.count())
    // canonical of every dropped doc is a kept doc of a LOWER-or-equal tier
    // world: tier-1/2 canonicals survive to at least tier 2; tier-3
    // canonicals are kept
    val kept = v.filter(col("tier") === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val t3canon = v.filter(col("tier") === 3).select("canonical_id")
      .collect().map(_.getLong(0)).toSet
    assert(t3canon.subsetOf(kept))
    // tier-2 pair evidence must agree with the standalone q17 operator on
    // the same frontier (no exact dups in the sf fixture -> same input)
    assert(docs.count() === docs.select("text").distinct().count())
    val standalone = DedupOps.minhashLshDedup(docs, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tiered = res.nearPairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tiered === standalone)
    v.unpersist()
    ()
  }

  test("fingerprint is order-sensitive") {
    import spark.implicits._
    val t = Seq((1L, "ab"), (2L, "ba")).toDF("doc_id", "text")
    val fp = TextOps.fingerprint(t).collect().map(_.getLong(1))
    assert(fp(0) !== fp(1))
  }

  test("decontaminate flags exactly the 13-gram-overlap docs with per-doc counts") {
    import spark.implicits._
    // 13 shared tokens = exactly one shared 13-gram; the contaminated span
    // sits mid-document on the training side, so the match is positional,
    // not whole-doc. Doc 3 shares only 12 tokens -> NOT contaminated.
    val span = (1 to 13).map(i => s"w$i").mkString(" ")
    val train = Seq(
      1L -> s"alpha beta $span gamma delta",
      2L -> s"$span $span", // repeated span, still ONE distinct gram
      3L -> (1 to 12).map(i => s"w$i").mkString(" "),
      4L -> "totally unrelated text with thirteen completely different tokens here now one two three four")
      .toDF("doc_id", "text")
    val bench = Seq(
      100L -> span,
      101L -> s"prefix $span suffix")
      .toDF("doc_id", "text")
    val got = TextOps.decontaminate(train, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 and 2 each share the single gram with BOTH bench docs
    assert(got.toSeq === Seq((1L, 1L, 2L), (2L, 1L, 2L)))
  }

  test("semantic decontaminate equals the cross-split restriction of exact cosine pairs") {
    val train = emb.filter(pmod(col("vec_id"), lit(10L)) =!= 0)
    val bench = emb.filter(pmod(col("vec_id"), lit(10L)) === 0)
    val got = EmbeddingOps.crossCosineContaminated(train, bench, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // cosinePairs (the q20-oracle-backed exact baseline) restricted to
    // pairs straddling the split, re-oriented to (train, bench)
    val expected = EmbeddingOps.cosinePairs(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, c) =>
        (a % 10, b % 10) match {
          case (0, x) if x != 0 => Some((b, a, c))
          case (x, 0) if x != 0 => Some((a, b, c))
          case _ => None
        }
      }.toSet
    assert(got === expected, s"got=${got.size} expected=${expected.size}")
    assert(expected.nonEmpty, "fixture should contain cross-split pairs")
  }

  test("fuzzy decontaminate equals brute-force cross jaccard on the fixture") {
    val train = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
    val bench = docs.filter(pmod(col("doc_id"), lit(10L)) === 0)
    val got = TextOps.fuzzyDecontaminate(train, bench, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def sh(t: String) = t.split("\\s+").filter(_.nonEmpty).sliding(3)
      .filter(_.length == 3).map(_.mkString(" ")).toSet
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val tr = train.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> sh(r.getString(1)))
    val be = bench.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> sh(r.getString(1)))
    val brute = (for {
      (a, sa) <- tr
      (b, sb) <- be
      inter = sa.intersect(sb).size
      uni = sa.size + sb.size - inter
      if uni > 0 && r4(inter.toDouble / uni) >= 0.5
    } yield (a, b, r4(inter.toDouble / uni))).toSet
    assert(got === brute, s"lsh=${got.size} brute=${brute.size}")
    assert(brute.nonEmpty, "fixture should contain cross-split near-dups")
  }

  test("fuzzy decontaminate: candidates over the broadcast budget take the planner's join, same rows") {
    val train = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
    val bench = docs.filter(pmod(col("doc_id"), lit(10L)) === 0)
    def rows = TextOps.fuzzyDecontaminate(train, bench, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def broadcastJoins = TextOps.fuzzyDecontaminateUnscoped(train, bench, 0.5)
      .queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }.size
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val (hinted, hintedJoins) = (rows, broadcastJoins)
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1") // no candidate set fits: the hint is dropped
    val (planned, plannedJoins) =
      try (rows, broadcastJoins)
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(hinted.nonEmpty)
    assert(planned === hinted)
    assert(hintedJoins === 3) // bench bands, candidates, bench shingles
    assert(plannedJoins === 2) // the candidates join is the planner's
  }

  test("fuzzy decontaminate catches a token edit the exact 13-gram rule misses") {
    import spark.implicits._
    // 25 tokens, one edit at position 13: EVERY shared 13-gram window
    // contains the edit (window starts 1..13 all cover position 13), so
    // the exact-overlap rule sees nothing — but 20 of the 26 distinct
    // word-3-grams still agree (jaccard 0.7692), the re-formatted-eval-doc
    // case fuzzy decontamination exists for.
    val orig = (1 to 25).map(i => s"w$i").mkString(" ")
    val edited = (1 to 25).map(i => if (i == 13) "EDIT" else s"w$i").mkString(" ")
    val train = Seq(1L -> edited).toDF("doc_id", "text")
    val bench = Seq(100L -> orig).toDF("doc_id", "text")
    assert(TextOps.decontaminate(train, bench).count() === 0,
      "exact rule should miss the edited doc")
    val fz = TextOps.fuzzyDecontaminate(train, bench, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(fz.toSeq === Seq((1L, 100L, 0.7692)))
  }

  test("fuzzy decontaminate excludes short docs (no shingles, no evidence)") {
    import spark.implicits._
    val train = Seq(1L -> "a b", 2L -> "x y z x y z").toDF("doc_id", "text")
    val bench = Seq(100L -> "a b", 101L -> "x y z x y z").toDF("doc_id", "text")
    val fz = TextOps.fuzzyDecontaminate(train, bench, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the 2-token pair is identical text but has NO 3-gram evidence ->
    // excluded (the exact front tier's job, not this op's); the 6-token
    // pair matches at jaccard 1.0
    assert(fz.toSeq === Seq((2L, 101L)))
  }

  test("repetition score: top 2-gram, lexicographic tie break, coverage fractions, short-doc nulls") {
    import spark.implicits._
    val docs = Seq(
      // "a b","b b","b a","a c" all occur 2x -> lexicographic tie break
      // elects "a b"; 10 tokens -> 6 5-gram positions, of which the two
      // "a b b a c" occurrences are the only dup positions
      1L -> "a b b a c a b b a c",
      // tie: "x y" and "y x" both occur twice -> lexicographically
      // smallest wins ("x y")
      2L -> "x y x y x",
      3L -> "one", // < 2 tokens -> all signals null
      4L -> "p q r s") // 4 tokens: has a 2-gram signal, no 5-grams
      .toDF("doc_id", "text")
    val out = TextOps.repetitionScore(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) === "a b")
    // "a b" occurs 2x, len 3, text len 19 -> 2*3/19
    assert(out(1L).getDouble(2) === BigDecimal(6.0 / 19)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // 5-grams of doc1: [a b b a c],[b b a c a],[b a c a b],[a c a b b],
    // [c a b b a],[a b b a c] -> "a b b a c" occurs twice -> dup 2/6
    assert(out(1L).getDouble(3) === BigDecimal(2.0 / 6)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(2L).getString(1) === "x y")
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(2) && out(3L).isNullAt(3))
    assert(out(4L).getString(1) === "p q") // all 2-grams tie at 1 -> lex min
    assert(out(4L).isNullAt(3)) // no 5-gram positions
  }

  test("deterministic sample: exact membership by formula, absent sources dropped, rerun-stable") {
    import spark.implicits._
    val docs = (0L until 400L).map(i =>
      (i, s"src${i % 4}", s"text $i")).toDF("doc_id", "source", "text")
    val thr = Map("src0" -> 250000L, "src1" -> 1000003L, "src2" -> 0L)
    val kept = TextOps.deterministicSample(docs, thr)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = (0L until 400L).filter { i =>
      val t = (i % 4) match {
        case 0 => 250000L; case 1 => 1000003L; case _ => -1L }
      t >= 0 && ((i * 40503L + 9973L) % 1000003L) < t
    }.toSet
    assert(kept === want)
    // src1 at thr=modulus keeps everything; src2 at 0 and src3 (absent)
    // keep nothing
    assert((0L until 400L).filter(_ % 4 == 1).forall(kept))
    assert(kept.forall(i => i % 4 != 2 && i % 4 != 3))
    val again = TextOps.deterministicSample(docs, thr)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === kept)
  }

  test("compiled fingerprint UDF ≡ r5 HOF chain incl. null/empty/unicode") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello world"),
      (2L, ""),
      (3L, null: String),
      (4L, "tabs\tand  spaces"),
      (5L, "unicode: héllo wörld ✓"),
      (6L, "a"),
      (7L, "0123456789" * 50),
      (8L, "\uD83D\uDE00 emoji caption") // astral plane: a surrogate pair
    ).toDF("doc_id", "text")
    // old: per-character HOF chain
    val chars = filter(split(col("text"), ""), c => length(c) === 1)
    val codes = transform(chars, c => ascii(c).cast("long"))
    val old = docs.select(col("doc_id"),
      pmod(aggregate(zip_with(codes,
        sequence(lit(1L), greatest(size(codes).cast("long"), lit(1L))),
        (c, i) => c * i), lit(0L), (a, x) => a + x), lit(1000000007L))
        .as("fp_pos"),
      aggregate(codes, lit(0L), (a, c) => a + c).as("fp_sum"))
      .orderBy("doc_id").collect().toSeq
    val neu = graft.ops.TextOps.fingerprint(docs).collect().toSeq
    assert(neu == old)
  }

  test("merged occupancy job in multiProbeCandidates ≡ per-side hot split") {
    import spark.implicits._
    // probe-side flood into bucket 7 (hot among probes only), exact-side
    // crowd in bucket 9 (hot among exact only), small mixed bucket 1
    val rows =
      (1L to 30L).map(i => (7L, 100 + i, false)) ++ // hot probe bucket
      (1L to 30L).map(i => (9L, 200 + i, true)) ++  // hot exact bucket
      Seq((9L, 300L, false),                        // probe aimed at hot exact
        (1L, 1L, true), (1L, 2L, true), (1L, 3L, false))
    val probes = rows.toDF("bk", "vec_id", "is_exact")
    val got = graft.ops.EmbeddingOps.multiProbeCandidates(probes, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // expected, per the r5 contract: hot EXACT bucket 9 -> sorted-adjacent
    // chain + anchor edge from the kept probe row 300 to min member 201;
    // hot PROBE bucket 7 dropped; bucket 1: exact-exact pair (1,2) and
    // probe-exact pairs (1,3),(2,3)
    val chain9 = (201L to 229L).map(i => (i, i + 1)).toSet
    val expected = chain9 ++ Set((201L, 300L), (1L, 2L), (1L, 3L), (2L, 3L))
    assert(got == expected)
  }
}
