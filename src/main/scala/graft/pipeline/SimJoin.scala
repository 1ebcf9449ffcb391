package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The MinHash set-similarity join — the ONE banded candidate + exact
  * verify kernel behind every near-duplicate pass of the pipeline layer
  * ([[Dedup.minhashNearDupPairs]], [[Dedup.lshTuningSweep]],
  * [[Decontaminate.nearDupContaminated]], [[Incremental.filterNewNear]]
  * and the DomainStats fuzzy template/syndication family). Three stages:
  *
  *  1. '''prep''' ([[sets]] / [[prep]] + [[pin]]): per row, the string
  *     shingle set, its SORTED xxhash64 image `v` with size `n`, the
  *     minhash signature and its LSH `bandkeys`; pinned by one
  *     localCheckpoint whose own job also observes the row count and the
  *     verify-side byte size (no separate count job);
  *  2. '''candidates''' ([[candidates]]): the banded equi-join on
  *     (buckets…, `band`, `key`), self (k_a < k_b) or two-sided, carrying
  *     keys only, deduplicated across bands;
  *  3. '''verify''' ([[verify]]): |A∩B| by the allocation-free merge
  *     kernel [[graft.functions.SortedIntersectSize]], |A∪B| = n_a + n_b −
  *     |A∩B|, kept by the caller's predicate over (inter, union).
  *
  * Invariants every caller relies on:
  *
  *  - band keys and candidate sets are byte-identical to the SQL oracles'
  *    `md5(string_agg(...))` replay: the signature is computed over the
  *    STRING shingle set, before it is dropped for `v`;
  *  - the output jaccard ([[jaccard]]) divides the same two integers as
  *    `size(array_intersect)/size(array_union)` over the string sets, so
  *    its doubles are bit-identical (64-bit token collisions shift a
  *    jaccard by <= 1/|union| with probability ~|vocab|²/2⁶⁴ — the
  *    accepted [[Dedup.ngramJaccardPairs]] trade);
  *  - the size-ratio prefilter in the candidate join is the verify
  *    predicate itself applied to (min(n), max(n)) — `min/max >= t` for
  *    the double form, `min·den >= max·num` for the integer form of
  *    [[atLeast]]. J <= min/max and
  *    the predicate is monotone, so it only drops pairs the verify would
  *    reject: lossless by the verify's own arithmetic. Passes whose
  *    verify is not exact Jaccard (the signature-agreement index probe)
  *    share the candidate stage with no prefilter;
  *  - the band column is named `band` (plan readers locate the band join
  *    by that name);
  *  - a verify side is broadcast only when [[pin]] measured it under
  *    [[VerifyBroadcastMaxBytes]], or when the caller forces it (the
  *    benchmark side of decontamination, broadcast in both joins).
  */
object SimJoin {

  /** Verify predicate over (|A∩B|, |A∪B|) integer columns. */
  type Keep = (Column, Column) => Column

  /** J >= t in the double division [[jaccard]] reports. */
  def atLeast(t: Double): Keep = (inter, union) => jaccard(inter, union) >= t

  /** J >= num/den, cross-multiplied: exact integer arithmetic. */
  def atLeast(num: Int, den: Int): Keep =
    (inter, union) => inter * den >= union * num

  def jaccard(inter: Column, union: Column): Column =
    inter.cast("double") / union

  /** Broadcast bound for a verify lookup side (key + `v` + `n`): a few
    * tens of MB framed stays inside one executor's budget, and the
    * single-threaded BroadcastExchange build stays sub-second. Beyond it
    * the verify falls back to the planner's shuffled join over the same
    * narrow keys — the 100 TB shape. */
  private val VerifyBroadcastMaxBytes = 32L << 20

  /** UnsafeRow framing per lookup row: null bitset, key, `n`, the array
    * offset word and the array's own header. */
  private val LookupRowOverheadBytes = 48L

  /** A prepped side: key `k`, `v`, `n` (and `bandkeys` for the
    * candidate stage), plus whether its verify lookup is broadcast. */
  final case class Side(df: DataFrame, broadcast: Boolean)

  def shingleSet(text: Column, k: Int): Column =
    array_distinct(TextAnalysis.shingles(text, k))

  /** The verify representation of a string set: sorted xxhash64 image. */
  def hashedSet(sh: Column): Column = sort_array(transform(sh, t => xxhash64(t)))

  def bandKeys(sig: Column, numHashes: Int, bands: Int): Column =
    TextAnalysis.minhashBands(sig, bands, numHashes / bands)

  /** Band keys straight from a string shingle set. */
  def bandKeysOf(sh: Column, numHashes: Int, bands: Int): Column =
    bandKeys(TextAnalysis.minhashSignature(sh, numHashes), numHashes, bands)

  /** `keys` + `v`, `n`, `sig` for the shingles of `text`. Unpinned. The
    * string set is projected once and referenced three times, so the
    * optimizer keeps it a separate projection instead of re-deriving it
    * per consumer. */
  def sets(df: DataFrame, keys: Seq[Column], text: Column,
      shingleK: Int, numHashes: Int): DataFrame =
    df.select(keys :+ shingleSet(text, shingleK).as("__sh"): _*)
      .withColumn("v", hashedSet(col("__sh")))
      .withColumn("n", size(col("__sh")))
      .withColumn("sig", TextAnalysis.minhashSignature(col("__sh"), numHashes))
      .drop("__sh")

  /** [[sets]] with the signature banded into `bandkeys`. Unpinned. */
  def prep(df: DataFrame, keys: Seq[Column], text: Column,
      shingleK: Int, numHashes: Int, bands: Int): DataFrame =
    sets(df, keys, text, shingleK, numHashes)
      .withColumn("bandkeys", bandKeys(col("sig"), numHashes, bands))
      .drop("sig")

  /** Pin a prepped frame (localCheckpoint, not cache(): checkpoint blocks
    * are released by the ContextCleaner once the result is dropped).
    * Row count and Σn ride the checkpoint job as a NAMED observe (read
    * back through queryExecution.observedMetrics — the
    * [[Dedup.connectedComponents]] posture; the Observation helper
    * poisons later closures), sizing the broadcast gate in bytes. */
  def pin(df: DataFrame): Side = {
    val named = df.observe("simjoin_prep", count(lit(1)).as("rows"),
      coalesce(sum(col("n").cast("long")), lit(0L)).as("elems"))
    val chk = named.localCheckpoint()
    val m = named.queryExecution.observedMetrics("simjoin_prep")
    val bytes = m.getLong(1) * 8 + m.getLong(0) * LookupRowOverheadBytes
    Side(chk, bytes <= VerifyBroadcastMaxBytes)
  }

  /** Banded candidate pairs `(k_a, k_b)`, distinct across bands. Each
    * side carries `k`, `bandkeys`, the `buckets` equality columns, and
    * `n` when a `prefilter` is given. `b = None` is the self-join (pairs
    * ordered k_a < k_b); `broadcastB` broadcasts b's band rows. */
  def candidates(a: DataFrame, b: Option[DataFrame], buckets: Seq[String] = Nil,
      prefilter: Option[Keep] = None, broadcastB: Boolean = false): DataFrame = {
    def banded(d: DataFrame) = d.select(
      (buckets :+ "k").map(col) ++ prefilter.map(_ => col("n")) :+
        posexplode(col("bandkeys")).as(Seq("band", "key")): _*)
    val right = banded(b.getOrElse(a))
    val cond = (buckets :+ "band" :+ "key").map(c => col(s"a.$c") === col(s"b.$c")) ++
      b.fold(Seq(col("a.k") < col("b.k")))(_ => Nil) ++
      prefilter.map(keep => keep(least(col("a.n"), col("b.n")),
        greatest(col("a.n"), col("b.n"))))
    banded(a).as("a")
      .join((if (broadcastB) broadcast(right) else right).as("b"), cond.reduce(_ && _))
      .select(col("a.k").as("k_a"), col("b.k").as("k_b"))
      .distinct()
  }

  /** Exact verify of `(k_a, k_b)` candidates against each side's
    * `(k, v, n)`: returns the kept `(k_a, k_b, inter, union)`. */
  def verify(cand: DataFrame, a: Side, b: Side, keep: Keep): DataFrame = {
    def lookup(s: Side, sfx: String) = {
      val d = s.df.select(col("k").as(s"k_$sfx"), col("v").as(s"v_$sfx"),
        col("n").as(s"n_$sfx"))
      if (s.broadcast) broadcast(d) else d
    }
    cand.join(lookup(a, "a"), "k_a").join(lookup(b, "b"), "k_b")
      .withColumn("inter", graft.functions.SortedIntersectSize(col("v_a"), col("v_b")))
      .withColumn("union", col("n_a") + col("n_b") - col("inter"))
      .filter(keep(col("inter"), col("union")))
      .select("k_a", "k_b", "inter", "union")
  }

  /** Self-join: verified `(k_a, k_b, inter, union)` with k_a < k_b,
    * banded within equal `buckets`. */
  def selfJoin(s: Side, keep: Keep, buckets: Seq[String] = Nil): DataFrame =
    verify(candidates(s.df, None, buckets, Some(keep)), s, s, keep)

  /** Two-sided join a × b: verified `(k_a, k_b, inter, union)`. */
  def join(a: Side, b: Side, keep: Keep, broadcastB: Boolean = false): DataFrame =
    verify(candidates(a.df, Some(b.df), Nil, Some(keep), broadcastB), a, b, keep)
}
