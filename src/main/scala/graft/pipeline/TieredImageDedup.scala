package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tiered deduplication over the north-rule image+caption corpus — the
  * image-payload counterpart of `ops.TieredDedup`'s document cascade:
  *
  *   tier 1  exact     sha-256(record) groupBy            identical records
  *   tier 2  near      SimHash/MinHash LSH + verify       perceptual near-dups
  *   tier 3  caption   anchored windowed-hash substring   caption-containment
  *
  * Tier 1 keys on the WHOLE record (bytes AND caption), not bytes alone:
  * a byte-identical row with a different caption is not fully redundant —
  * its caption drives minhash and substring edges the later tiers need —
  * so dropping it against a keeper with another caption would silently
  * lose those links. Only a row whose keeper is feature-for-feature
  * indistinguishable may skip the expensive tiers.
  *
  * Each tier sees only the SURVIVORS of the previous one. The monolithic
  * pipeline (`Dedup.run`) unions the near + substring edges into ONE
  * transitive closure — correct when all you need is the surviving set —
  * but a production corpus audit needs attribution: WHICH mechanism dropped
  * each row, and against which canonical. The cascade keeps the tiers
  * separate and emits one verdict row per image:
  * `(image_id, tier, canonical_id)` where `tier` is the FIRST tier that
  * dropped the row (0 = survived all three, canonical_id = itself) and
  * `canonical_id` is the minimum image_id of its duplicate component AT
  * that tier.
  *
  * Scale shape (the reason the cascade order is fixed): the exact tier is
  * one hash shuffle with partial aggregation and at web scale removes the
  * bulk crawl-duplicate volume before anything decodes a pixel; the LSH
  * tier decodes + shuffles band keys only for exact-survivors; the
  * substring tier's window-hash explode (the widest per-row expansion)
  * runs last, on the smallest frontier. sha-256 (not a 64-bit hash) keys
  * the exact tier: at 10^12 rows a 64-bit key expects thousands of
  * birthday collisions, each silently merging two unrelated images.
  *
  * Caveat vs `Dedup.run`: closing the tiers separately can keep one extra
  * representative alive when a near-component and a substring-component
  * overlap only through a dropped row (the union closure would merge
  * them). That is the price of attribution and is the documented contract;
  * the monolithic pipeline remains the recall-gate path.
  */
object TieredImageDedup {

  /** sha-256 identity of one (bytes, caption) record, null-safe: a null
    * bytes or caption groups with its own kind instead of producing a null
    * key that silently falls out of every equi-join (a null-keyed row would
    * get NO verdict and NO pair — it would just vanish). Unambiguous by
    * construction: the first component is either a 64-char hex digest or
    * the non-hex marker `nullbytes`, so no (bytes, caption) pair can
    * boundary-shift into a different one; a null caption is marked with a
    * NUL, which no real caption equals. */
  def recordSha(bytes: Column, caption: Column): Column =
    sha2(concat(
      coalesce(sha2(bytes, 256), lit("nullbytes")),
      coalesce(caption, lit("\u0000"))), 256)

  final case class Result(
      verdicts: DataFrame, // (image_id, tier, canonical_id) — one row per image
      nearPairs: DataFrame, // tier-2 evidence: (a, b) verified near-dup pairs
      subPairs: DataFrame) // tier-3 evidence: (a, b) caption-containment pairs

  /** `images`: the north-rule table (image_id, bytes, w, h, fmt, caption,
    * phash). Tier-2/3 parameters come from `cfg` (same knobs as the
    * monolithic pipeline, so a verdict here is comparable to `Dedup.run`
    * over the same config). */
  def run(images: DataFrame, cfg: DedupConfig = DedupConfig()): Result = {
    import graft.core.Checkpoints
    val spark = images.sparkSession
    val Seq(verdictsR, nearPairsR, subPairsR) = Checkpoints.scopedSeq(spark) {

    // ---- tier 1: exact record (one shuffle on the content hash; the
    // heavy bytes column never shuffles — only its digest does) ----
    // checkpointed: it feeds both the groupBy and the join-back, and
    // Catalyst does not share subplans across DataFrame branches — without
    // this the sha-256 over every image's bytes runs twice per action
    val hashed = Checkpoints.ckpt(images.select(col("image_id"),
      recordSha(col("bytes"), col("caption")).as("record_sha")))
    val canon1 = hashed.groupBy("record_sha")
      .agg(min("image_id").as("canonical_id"))
    val labeled1 = Checkpoints.ckpt(hashed.join(canon1, "record_sha")
      .select("image_id", "canonical_id"))
    val t1 = labeled1.filter(col("image_id") =!= col("canonical_id"))
      .select(col("image_id"), lit(1).as("tier"), col("canonical_id"))
    val surv1 = images.join(
      labeled1.filter(col("image_id") === col("canonical_id"))
        .select("image_id"), Seq("image_id"), "left_semi")

    // ---- tier 2: perceptual near-dup (the monolithic pipeline's stages
    // 1-4, minus the substring union) over tier-1 survivors. Null-bytes
    // survivors (tier 1 deliberately keeps one per (null, caption) group)
    // CANNOT be decoded, so they skip the pixel tier instead of crashing
    // the featurize UDF, and rejoin at the caption tier below — their only
    // evidence channel. ----
    val decodable = surv1.filter(col("bytes").isNotNull)
    val nullBytes = surv1.filter(col("bytes").isNull)
      .select(col("image_id"), col("caption"))
    val sigs = Checkpoints.ckpt(Dedup.signaturesFor(decodable, cfg))
    // candidateBands honors cfg.bandProbes (transient probe rows into the
    // sorted-neighbor pass; nothing persisted), same as Dedup.run
    val cands = Checkpoints.ckpt(
      Dedup.candidates(Dedup.candidateBands(sigs, cfg), cfg))
    val nearPairs = Checkpoints.ckpt(
      Dedup.verified(cands, sigs, cfg).distinct())
    // checkpointed (as in TieredDedup): the label table's singleton leg
    // re-executes the vertices lineage per consumer otherwise
    val lab2 = Checkpoints.ckpt(
      components(spark, sigs.select("image_id"), nearPairs))
    val t2 = lab2.filter(col("image_id") =!= col("canonical_id"))
      .select(col("image_id"), lit(2).as("tier"), col("canonical_id"))
    val surv2 = lab2.filter(col("image_id") === col("canonical_id"))
      .select("image_id")

    // ---- tier 3: exact caption containment over tier-2 survivors plus
    // the undecodable rows; the normalized captions ride along from the
    // tier-2 signature table so the raw `bytes` column is never read
    // again ----
    val nullByteCaps = nullBytes.select(col("image_id").as("id"),
      Dedup.captionNormCol(col("caption")).as("text"))
    val capRows = sigs.join(surv2, Seq("image_id"), "left_semi")
      .select(col("image_id").as("id"), col("caption_norm").as("text"))
      .unionByName(nullByteCaps)
    val subPairs = Checkpoints.ckpt(SubstringDup.containedPairs(spark,
      capRows, cfg.substringWindow))
    val lab3raw = Checkpoints.ckpt(components(spark,
      surv2.unionByName(nullBytes.select("image_id")), subPairs))
    // canonical RE-ELECTION: a mixed component (decodable + undecodable
    // members) must keep a record that still HAS image bytes — blind
    // min-id election could crown a null-bytes row and drop the only
    // pixel-bearing copy, which for a training corpus is data loss. Min
    // decodable id wins; an all-undecodable component falls back to its
    // min id. One cluster-granularity aggregate + join; a no-null corpus
    // is bit-identical to plain min-id (the oracle's q36 case).
    val nullIds = nullBytes.select(col("image_id"), lit(true).as("is_null"))
    val elected = lab3raw
      .join(nullIds, Seq("image_id"), "left")
      .groupBy("canonical_id")
      .agg(coalesce(min(when(col("is_null").isNull, col("image_id"))),
        min(col("image_id"))).as("canonical2"))
    val lab3 = Checkpoints.ckpt(lab3raw.join(elected, "canonical_id")
      .select(col("image_id"), col("canonical2").as("canonical_id")))
    val t3 = lab3.filter(col("image_id") =!= col("canonical_id"))
      .select(col("image_id"), lit(3).as("tier"), col("canonical_id"))
    val kept = lab3.filter(col("image_id") === col("canonical_id"))
      .select(col("image_id"), lit(0).as("tier"),
        col("image_id").as("canonical_id"))

    // scoped release (graft.core.Checkpoints): the cascade's intermediate
    // checkpoints (hashed, labeled1, sigs, cands, CC label tables) die
    // when the scope closes; only the three result frames stay persisted
    // for the caller
    Seq(t1.union(t2).union(t3).union(kept).orderBy("image_id"),
      nearPairs, subPairs)
    }
    Result(verdictsR, nearPairsR, subPairsR)
  }

  /** Min-id transitive closure over string image ids (ConnectedComponents'
    * native key type; its min-label contract is lexicographic, which IS
    * the image-id order). */
  private def components(spark: org.apache.spark.sql.SparkSession,
      vertices: DataFrame, edges: DataFrame): DataFrame =
    ConnectedComponents.run(spark,
      edges.toDF("a", "b"),
      vertices.toDF("id"))
      .select(col("id").as("image_id"), col("cluster_id").as("canonical_id"))
}
