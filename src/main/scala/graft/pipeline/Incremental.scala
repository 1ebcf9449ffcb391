package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental (continual-ingestion) deduplication: each new crawl/ingest
  * batch is deduplicated AGAINST THE EXISTING CORPUS without recomputing
  * anything over the corpus itself. The corpus is distilled once into a
  * compact reusable index — content hashes for exact replay detection,
  * minhash signatures for near-dup detection — and every subsequent batch
  * joins against that index only.
  *
  * 100 TB posture: the index is O(docs), not O(bytes) (a 64-slot minhash
  * signature + 16 band keys per document, ~1 KB vs ~100 KB of text), the
  * exact path is a hash-partitioned anti-join, the near path is a banded
  * equi-join whose candidates carry ids only, and verification uses
  * SIGNATURE AGREEMENT (estimated Jaccard) — the corpus text is never
  * read again, which is what makes per-batch ingest cost independent of
  * corpus size.
  */
object Incremental {

  /** Exact-content index: distinct md5 of the text. Persist this as a
    * table and append each accepted batch's hashes to it. */
  def exactIndex(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(md5(col(textCol)).as("content_hash")).distinct()

  /** Incoming rows whose content is NOT already in the index (replayed
    * producers, re-crawled pages drop; genuinely new content passes).
    * Anti-join on the hash: both sides shuffle-partition on a uniform
    * 128-bit key, so the join is skew-free at any corpus size. */
  def filterNewExact(
      index: DataFrame, incoming: DataFrame, textCol: String): DataFrame =
    incoming
      .withColumn("__h", md5(col(textCol)))
      .join(index.hint("shuffle_hash"),
        col("__h") === index("content_hash"), "left_anti")
      .drop("__h")

  /** Near-dup signature index: (id, sig[numHashes], bandkeys[bands]).
    * Built once per corpus generation; appended to as batches land.
    * PERSIST the result (a table, or localCheckpoint in-session): passing
    * the lazy frame to [[filterNewNear]] re-derives corpus signatures per
    * downstream join — exactly the rescan the index exists to avoid. */
  def signatureIndex(
      corpus: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame =
    corpus.repartition(col(idCol))
      .select(col(idCol).as("id"), TextAnalysis.minhashSignature(
        SimJoin.shingleSet(col(textCol), shingleK), numHashes).as("sig"))
      .withColumn("bandkeys", SimJoin.bandKeys(col("sig"), numHashes, bands))

  /** Estimated Jaccard between two equal-length minhash signatures: the
    * fraction of agreeing slots (the standard unbiased minhash estimator),
    * as a native codegen'd kernel — a zip_with/filter HOF would evaluate
    * interpreted and recompile fresh codegen source per call (lambda
    * variables mint new expression ids). */
  private def sigAgreement(a: Column, b: Column): Column =
    graft.functions.SigAgreement(a, b)

  /** Deduplicate an incoming batch against the signature index: a row is
    * dropped when SOME indexed document shares an LSH band AND the
    * signature-agreement estimate reaches `threshold`. Returns the incoming
    * rows that survive (the batch to append), tagged with the number of
    * near-dup index hits that condemned or cleared them.
    *
    * Exact replays of indexed docs have identical signatures (agreement
    * 1.0), so this subsumes [[filterNewExact]] at near-dup granularity. */
  def filterNewNear(
      index: DataFrame, incoming: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val inSigs = signatureIndex(incoming, idCol, textCol,
      shingleK, numHashes, bands).localCheckpoint()
    // the kernel's candidate stage; no size-ratio prefilter — the verify
    // is signature agreement, not exact Jaccard
    val dupIds = SimJoin.candidates(inSigs.withColumnRenamed("id", "k"),
        Some(index.withColumnRenamed("id", "k")))
      .join(inSigs.select(col("id").as("k_a"), col("sig")), "k_a")
      .join(index.select(col("id").as("k_b"), col("sig").as("csig")), "k_b")
      .filter(sigAgreement(col("sig"), col("csig")) >= threshold)
      .select(col("k_a").as("id")).distinct()
    // dupIds is bounded by the batch size — AQE broadcasts it when small
    incoming.join(dupIds.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }
}
