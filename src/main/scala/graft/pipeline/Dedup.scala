package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape: no driver-side collection, candidate generation always
  * goes through a bucket/band shuffle (never an all-pairs cross join), and
  * exact verification only runs inside candidate groups.
  */
object Dedup {
  import TextAnalysis._

  /** Exact dedup: keep the lowest id per distinct text. One hash-aggregate
    * shuffle on the text (Spark map-side combines first). */
  def exactKeepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** MinHash-LSH near-duplicate pairs (Broder minhash + banding) through
    * the [[SimJoin]] kernel: signature (per-doc, map-only) → band keys →
    * shuffle by (band, key) → pairs within buckets → exact Jaccard verify
    * over the sorted hashed shingle sets → threshold. At scale the only
    * quadratic work is within a bucket, and a bucket only collects docs
    * that already agree on a full band.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, deduped across bands.
    */
  def minhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    // repartition first: a small corpus file is one scan partition, which
    // would serialize the signature computation on a single core
    val docs = SimJoin.pin(SimJoin.prep(df.repartition(col(idCol)),
      Seq(col(idCol).as("k")), col(textCol), shingleK, numHashes, bands))
    SimJoin.selfJoin(docs, SimJoin.atLeast(threshold))
      .select(col("k_a").as("id_a"), col("k_b").as("id_b"),
        round(SimJoin.jaccard(col("inter"), col("union")), 4).as("jaccard"))
  }

  /** SimHash near-dup candidate pairs: 64-bit fingerprints, banded into
    * `bands` key slices (two docs within `maxHamming` bits must share at
    * least one band when bands > maxHamming — the classic pigeonhole
    * argument), verified by exact Hamming distance via bit_count(xor).
    */
  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    val docs = df.repartition(col(idCol)) // parallelize per-doc hashing
      .select(col(idCol),
        SimHash.simhash64(tokens(col(textCol))).as("__sim"))
    bandedHammingPairs(docs, idCol, "__sim", bands, maxHamming,
      width = SimHashUtil.Bits)
  }

  /** Generic banded Hamming self-join over ANY 64-bit signature column
    * (simhash, perceptual hash, …): explode each row to its `bands`
    * sub-keys, shuffle by (band, key), verify full Hamming ≤ `maxHamming`
    * with `bit_count(xor)` inside the buckets. Pigeonhole guarantee: a
    * pair with Hamming < `bands` agrees on at least one band, so recall in
    * that radius is exact; everything stays bucket-bounded — no all-pairs
    * product, candidate shuffle carries (id, signature) only.
    * Returns (id_a, id_b, hamming) with id_a < id_b, deduped across bands.
    * `width` = signature width in bits (64 for pHash, 60 for the portable
    * simhash). */
  def bandedHammingPairs(
      hashed: DataFrame, idCol: String, bitsCol: String,
      bands: Int, maxHamming: Int, width: Int = 64): DataFrame = {
    val bits = width / bands
    // bands is a compile-time constant → unroll (shift amounts must be static)
    val bandCols = (0 until bands).map(b =>
      shiftrightunsigned(col(bitsCol), b * bits).bitwiseAND(lit((1L << bits) - 1)))
    val banded = hashed.select(col(idCol).as("id"), col(bitsCol).as("sim"),
      posexplode(array(bandCols: _*)).as(Seq("band", "key")))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact n-gram Jaccard pairs within (lang, ±1 length-bucket) blocks.
    *
    * Built for dense corpora where the qualifying-pair set is itself large
    * (the fixture: 31-word vocab, ~35% of blocked pairs qualify), so
    * candidate pruning cannot beat output size and per-pair verification
    * cost dominates. Two scale levers:
    *
    * - each doc's n-gram set is hashed (xxhash64) and sorted ONCE (linear),
    *   so the per-pair kernel is an allocation-free merge intersection
    *   ([[graft.functions.SortedIntersectSize]]) instead of string
    *   `array_intersect` hash sets;
    * - the ±1 bucket condition becomes a pure EQUI-join by exploding each
    *   probe row to its three acceptable buckets — shuffle-partitioned on
    *   (lang, lenb), AQE/skew-join eligible, no per-group cross product
    *   beyond the block itself.
    *
    * For Zipfian real-text corpora where near-dup pairs are rare, use
    * [[prefixFilteredJaccardPairs]] instead. Hash collisions shift a
    * jaccard by ≤1/|union| with probability ~|vocab|²/2⁶⁴ — nil in practice.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= t.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, langCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // repartition BEFORE the per-doc shingle/hash/sort work (a small corpus
    // file arrives as one scan partition, which would serialize the prep on
    // a single core), then localCheckpoint: without the lineage cut, BOTH
    // join sides recompute the prep, and constraint inference pushes an
    // isnotnull over the whole shingle expression below the exchange onto
    // the single scan task (measured: 2×3.8 s single-task stages)
    val docs = df.repartition(col(idCol))
      .select(col(idCol).as("id"), col(langCol).as("lang"),
        array_distinct(shingles(col(textCol), n)).as("sh"),
        (floor(length(col(textCol)) / 100)).as("lenb"))
      .select(col("id"), col("lang"), col("lenb"),
        sort_array(transform(col("sh"), t => xxhash64(t))).as("v"),
        size(col("sh")).as("ntok"))
      .localCheckpoint()
    val a = docs.select(col("id").as("id_a"), col("lang"),
      col("lenb").as("lb"), col("v").as("va"), col("ntok").as("na"))
    val b = docs.select(col("id").as("id_b"), col("lang"), col("lenb"),
        col("v").as("vb"), col("ntok").as("nb"))
      .withColumn("lb", explode(array(col("lenb") - 1, col("lenb"), col("lenb") + 1)))
    // SHUFFLE_HASH, not broadcast: both sides carry the hashed-token arrays,
    // so a broadcast build serializes megabytes of arrays on ONE thread
    // (measured: 2×6 s single-task broadcast builds dominate the query);
    // hashing after a shuffle spreads that work across all cores — and a
    // broadcast of the corpus could not scale past one executor's memory
    // anyway
    a.hint("shuffle_hash").join(b, Seq("lang", "lb"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter",
        graft.functions.SortedIntersectSize(col("va"), col("vb")).cast("double"))
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact n-gram Jaccard pairs via prefix filtering (PPJoin-family, Xiao
    * et al. 2008) — the scale path for Zipfian corpora where qualifying
    * pairs are rare: global n-gram document frequencies define a canonical
    * rarity order; each doc indexes only its `floor((1-t)·|A|)+1` rarest
    * n-grams (two sets with J >= t MUST share a prefix n-gram, so the
    * inverted-index join over prefixes alone is lossless); candidates honor
    * the (lang, ±1 length-bucket) block and are verified exactly. All
    * stages key-partitioned: one groupBy over n-grams, one window by doc
    * id, one join on rare n-grams, one verify join. */
  /** Shared machinery of the prefix-filter family
    * ([[prefixFilteredJaccardPairs]], [[containmentPairs]]): per-doc
    * shingle prep, the token posting list, and the rare-token prefix
    * index. Returns (docs, posting, prefix).
    *
    * Prefix size: the lossless bound is floor((1-t)·|A|)+1 in EXACT
    * arithmetic — but (1.0 − t) underestimates in doubles at exact
    * multiples of |A|, silently dropping the last required prefix token
    * (measured: 28/17608 containment pairs lost at t=0.9). One extra
    * token (+2) dominates the exact bound for every representable t at
    * negligible candidate cost. */
  private def prefixIndex(
      df: DataFrame, idCol: String, textCol: String, langCol: String,
      n: Int, threshold: Double, withLenb: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val cols = Seq(col(idCol).as("id"), col(langCol).as("lang"),
      array_distinct(shingles(col(textCol), n)).as("sh")) ++
      (if (withLenb) Seq((floor(length(col(textCol)) / 100)).as("lenb")) else Nil)
    val docs = df.repartition(col(idCol)) // parallelize per-doc prep
      .select(cols: _*)
      .withColumn("ntok", size(col("sh")))
      .withColumn("v", sort_array(transform(col("sh"), t => xxhash64(t))))
      .localCheckpoint() // not cache(): see SimJoin.pin
    val postCols = Seq(col("id"), col("lang"), col("ntok")) ++
      (if (withLenb) Seq(col("lenb")) else Nil)
    val posting = docs.select(postCols :+ explode(col("sh")).as("tok"): _*)
    val dfreq = posting.groupBy("tok").agg(count(lit(1)).as("df"))
    val prefix = posting.join(dfreq, "tok")
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("tok"))))
      .filter(col("rk") <= floor((lit(1.0) - threshold) * col("ntok")) + 2)
      .drop("rk", "df")
    (docs, posting, prefix)
  }

  def prefixFilteredJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, langCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val (docs, _, prefix) =
      prefixIndex(df, idCol, textCol, langCol, n, threshold, withLenb = true)

    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.lang") === col("b.lang") &&
        abs(col("a.lenb") - col("b.lenb")) <= 1 && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    cand
      .join(docs.select(col("id").as("id_a"), col("v").as("va"),
        col("ntok").as("na")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("v").as("vb"),
        col("ntok").as("nb")), "id_b")
      .withColumn("inter",
        graft.functions.SortedIntersectSize(col("va"), col("vb")).cast("double"))
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact CONTAINMENT pairs via the same prefix-filter argument as
    * [[prefixFilteredJaccardPairs]]: C(A,B) = |A∩B| / |A| >= t for the
    * smaller-set side A — the asymmetric near-dup Jaccard misses (a
    * quote-expanded or boilerplate-wrapped document contains an older one
    * almost verbatim while J stays low). No length-band blocking — unequal
    * lengths are exactly the point; instead the contained side indexes its
    * floor((1-t)·|A|)+1 rarest n-grams (if A∩B misses ALL of them,
    * |A∩B| <= |A| − (⌊(1−t)|A|⌋+1) < t·|A| — lossless for any such
    * subset; rarity ordering just keeps posting lists short) and joins
    * them against the FULL posting list of the container side. Rare-token
    * postings bound the candidate volume; verification is the native
    * sorted-merge intersect kernel. Output: (id_contained, id_container,
    * containment), direction smaller→larger (ties broken by id). */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String, langCol: String,
      n: Int = 1, threshold: Double = 0.9): DataFrame = {
    val (docs, posting, prefix) =
      prefixIndex(df, idCol, textCol, langCol, n, threshold, withLenb = false)

    val cand = prefix.as("a").join(posting.as("b"),
        col("a.tok") === col("b.tok") && col("a.lang") === col("b.lang") &&
        (col("a.ntok") < col("b.ntok") ||
          (col("a.ntok") === col("b.ntok") && col("a.id") < col("b.id"))))
      .select(col("a.id").as("id_contained"), col("b.id").as("id_container"))
      .distinct()

    cand
      .join(docs.select(col("id").as("id_contained"), col("v").as("va"),
        col("ntok").as("na")), "id_contained")
      .join(docs.select(col("id").as("id_container"), col("v").as("vb")),
        "id_container")
      .withColumn("containment",
        graft.functions.SortedIntersectSize(col("va"), col("vb"))
          .cast("double") / col("na"))
      .filter(col("containment") >= threshold)
      .select(col("id_contained"), col("id_container"),
        round(col("containment"), 4).as("containment"))
  }

  /** Evidence for a near-dup pair list — the audit view a reviewer (or a
    * takedown process) reads before trusting a dedup decision: for each
    * (id_a, id_b) pair, the `top` RAREST shared n-grams (global document
    * frequency ascending, then lexicographic — rare shared content is the
    * convincing evidence; "the" is not), joined into one deterministic
    * string.
    *
    * Scale shape: the rarity ranking is baked into a PER-DOC sorted token
    * array once (explode + df join + sorted re-collect — linear in corpus
    * tokens); per PAIR the evidence is then a map-side
    * `slice(array_intersect(...))` — Spark's array_intersect preserves
    * left-array order, and the left array is rarity-sorted, so the first
    * `top` surviving elements ARE the rarest shared tokens. No explode,
    * shuffle, or window ever touches the pair stream (a near-dup pair list
    * shares MOST tokens per pair — exploding intersections was measured at
    * 13 s vs ~2 s for this shape at sf0.1). Evidence only for the pairs
    * given, never all-pairs. */
  def explainPairs(
      df: DataFrame, pairs: DataFrame, idCol: String, textCol: String,
      n: Int = 1, top: Int = 3): DataFrame = {
    val docs = df.repartition(col(idCol))
      .select(col(idCol).as("id"),
        array_distinct(shingles(col(textCol), n)).as("sh"))
      .localCheckpoint()
    val dfreq = docs.select(col("id"), explode(col("sh")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    // per-doc tokens re-collected in (df, tok) order: the global rarity
    // ranking, materialized once per document
    val sorted = docs.select(col("id"), explode(col("sh")).as("tok"))
      .join(dfreq, "tok")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok"))))
        .getField("tok").as("rare"))
    pairs.select(col("id_a"), col("id_b"))
      .join(sorted.select(col("id").as("id_a"), col("rare").as("ra")), "id_a")
      .join(sorted.select(col("id").as("id_b"), col("rare").as("rb")), "id_b")
      .withColumn("__ev", slice(array_intersect(col("ra"), col("rb")), 1, top))
      .filter(size(col("__ev")) > 0)
      .select(col("id_a"), col("id_b"),
        size(col("__ev")).cast("long").as("n_evidence"),
        concat_ws(" | ", col("__ev")).as("evidence"))
  }

  /** Connected components over a near-duplicate pair list: every doc in a
    * component gets the component's minimum id as `cluster_id` — the step a
    * real dedup pipeline runs after pair generation, since near-duplicate
    * relations are not transitive pairwise but clusters must be deduped
    * whole.
    *
    * Algorithm: iterative min-label propagation (the standard distributed
    * CC formulation — Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14 — in its hash-to-min shape) WITH pointer
    * doubling: each round every node takes the min of its own label, its
    * neighbors' labels, AND its current label's label (one extra
    * forest-sized self-join — the pointer-jumping step), so convergence
    * is O(log diameter) rounds instead of O(diameter). Near-dup clusters
    * are band/bucket-shaped (near-cliques, 2-3 rounds either way), but a
    * CHAIN-shaped component — a drifting variant family where consecutive
    * edits are similar though the ends are not (the global fuzzy
    * syndication graph grows these at sf1) — has linear diameter, and
    * plain propagation hit the 25-round budget there; doubling covers
    * diameter 2^25 in the same budget. Labels always name a node of the
    * same component, so the min-label fixpoint is unchanged.
    * `localCheckpoint` truncates the loop-grown lineage each round (on a
    * cluster, prefer a reliable checkpoint dir).
    *
    * Returns (id, cluster_id) for every id that appears in `pairs`;
    * singleton docs (no pairs) are absent — treat missing as own-cluster.
    */
  def connectedComponents(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 25): DataFrame = {
    val raw = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    // Partition-local union-find contraction (map-only) before the join
    // loop: within each partition, collapse every locally-connected subset
    // to its minimum member and emit one (node, localMin) edge per node.
    // Dense pair lists (near-dup cliques produce Θ(k²) pairs per cluster)
    // shrink from |E| rows to at most the partition's distinct-node count
    // — the fixture's 1.1 M-edge clique graph contracts ~7× — so every
    // join round below runs on forest-sized input. A second pass after
    // repartitioning by node merges the per-partition forests (a node seen
    // by two partitions carries both local roots into one task — the
    // small-star step of Kiveris et al. SoCC'14). Connectivity and the
    // node set are both preserved exactly, so min-labels are unchanged.
    // Gated on integral id types (all in-repo callers use Long ids);
    // other types skip straight to the generic loop.
    val integral = raw.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
      f.dataType == org.apache.spark.sql.types.IntegerType)
    val fwd =
      if (!integral) raw
      else contractLocal(contractLocal(
        raw.select(col("src").cast("long"), col("dst").cast("long")))
        .repartition(col("src")))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    val labelType = edges.schema("src").dataType
    // FRONTIER propagation (guide §2.3 — shuffle fewer bytes per round):
    // each round's labels carry (id, label, old = label at round start),
    // and only CHANGED nodes (label != old) send their label over the
    // edge join — a node whose label did not change last round offered
    // its current label already, and that offer was folded by the
    // groupBy-min, so re-sending it is pure shuffle waste. The full
    // `labels` frame still rides the union, so nothing regresses; the
    // min-label fixpoint is IDENTICAL (any stable state forces label
    // equality across every symmetrized edge, which pins every component
    // to its minimum — the brute-force CC property tests cover this).
    // Convergence = zero changed rows, counted by the SAME
    // Dataset.observe that rides the round's localCheckpoint action —
    // one Spark job per round.
    // NAMED observe (a plain CollectMetrics plan node read back through
    // queryExecution.observedMetrics), NOT the Observation helper: on
    // Spark 4.1 Observation lazily materializes the session's
    // ObservationManager, which is not java-serializable and poisons any
    // LATER query whose task closure captures the SparkSession (MLlib's
    // LogisticRegression training summary does — q123 failed with "Task
    // not serializable" two queries after the first CC run).
    val changedAgg = coalesce(
      sum(when(not(col("label") <=> col("old")), 1L)), lit(0L))
    def checkpointWithChanged(df: DataFrame): (DataFrame, Long) = {
      val named = df.observe("cc_cert", changedAgg.as("changed"))
      val chk = named.localCheckpoint()
      (chk, named.queryExecution.observedMetrics("cc_cert").getLong(0))
    }
    // old = null at init: every node counts as freshly labeled, so round
    // 1's frontier is the whole vertex set (null-safe != handles it)
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"),
        lit(null).cast(labelType).as("old"))
      .localCheckpoint()
    // NOTE a broadcast() of the frontier when the observed changed-count
    // was small was tried and MEASURED WORSE (q325 gfuzzy build 16 -> 59 s,
    // q313 dfuzzy 5 -> 40 s at sf0.1): replacing the co-planned
    // shuffle join with a per-round BroadcastExchange more than doubled
    // the loop's CPU. The frontier restriction alone keeps the win
    // (fewer prop rows into the round's groupBy) without that cost.
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val changed = labels.filter(not(col("label") <=> col("old")))
      val changedSrc = changed.select(col("id").as("src"), col("label"))
      val prop = edges.join(changedSrc, "src")
        .select(col("dst").as("id"), col("label"))
      // pointer doubling: follow each node's current label one hop (the
      // label's own label) — min-semantics preserved, rounds O(log d).
      // DEFERRED until round 3: post-contraction near-dup components are
      // near-cliques that converge in <= 2 plain rounds, so the jump
      // self-join (an extra shuffle per round) would buy nothing there;
      // chain-shaped families (the sf1 global fuzzy graphs that forced
      // doubling in) still get O(log d) rounds from round 3 on — the
      // min-label fixpoint is identical either way, only the round
      // count of pathological graphs changes (bounded by the same
      // maxIter budget: 2 plain rounds + log2(d) doubled rounds). The
      // jump reads FULL labels on both sides (forest-sized): restricting
      // it to the frontier could stall the doubling schedule on chains.
      val base = labels.select(col("id"), col("label"),
        col("label").as("old"))
      val nullOld = lit(null).cast(labelType).as("old")
      val next =
        (if (it < 2) base.union(prop.select(col("id"), col("label"), nullOld))
         else {
           val jump = labels.as("l1")
             .join(labels.as("l2"), col("l1.label") === col("l2.id"))
             .select(col("l1.id").as("id"), col("l2.label").as("label"))
           base.union(prop.select(col("id"), col("label"), nullOld))
             .union(jump.select(col("id"), col("label"), nullOld))
         })
        // min(old) ignores the prop/jump nulls and `base` contributes
        // exactly one row per id, so old = the label at round start
        .groupBy("id").agg(min("label").as("label"), min("old").as("old"))
      val (chk, nChanged) = checkpointWithChanged(next)
      converged = nChanged == 0
      labels = chk
      it += 1
    }
    // fail LOUDLY on non-convergence: an unconverged exit would silently
    // report one component as several (wrong n_variants/n_docs in every
    // cluster rollup, and a divergence from the oracles' exact recursive
    // closures). Post-contraction diameters are tiny in practice — a
    // graph that genuinely needs more rounds should raise maxIter, not
    // ship a truncated labeling.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter iterations " +
      "(component diameter exceeds the label-propagation budget); " +
      "raise maxIter")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** LSH banding tuning sweep — the MinHash twin of
    * [[graft.pipeline.Ivf.probeSweep]]: how many bands does this corpus
    * need before the near-dup pass stops missing pairs? For each
    * candidate band count the sweep runs the full banded pipeline on a
    * deterministic hash-sample and reports pairs found relative to the
    * most sensitive configuration (one minhash row per band — a pair is
    * a candidate if ANY signature slot agrees, the recall ceiling of the
    * signature), which uses the exact same shingle space, verification
    * and threshold, so the curve is apples-to-apples by construction.
    *
    * Output per config: bands, rows_per_band, found_pairs, ref_pairs,
    * recall_bp (relative recall in basis points — 10000 at bands =
    * numHashes). All draws md5/xxhash-deterministic; sample size is the
    * knob that bounds cost (the reference config's buckets are the
    * densest). Every found set is exact-verified ≥ threshold, so
    * precision is 1 throughout and recall is the whole tuning story. */
  def lshTuningSweep(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64,
      bandsChoices: Seq[Int] = Seq(4, 8, 16, 32),
      threshold: Double = 0.8, samplePct: Int = 10): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // signatures are band-independent: ONE shingle+signature pass over
    // the sample is shared by every configuration (recomputing it per
    // config dominated the sweep's cost)
    val sigs = SimJoin.pin(SimJoin.sets(
      df.filter(TextAnalysis.sampleBucket(
          concat(col(idCol).cast("string"), lit(":lshsweep")), 100) < samplePct)
        .repartition(col(idCol)),
      Seq(col(idCol).as("k")), col(textCol), shingleK, numHashes))
    def pairsAt(bands: Int): Long =
      SimJoin.selfJoin(sigs.copy(df = sigs.df.withColumn("bandkeys",
        SimJoin.bandKeys(col("sig"), numHashes, bands))),
        SimJoin.atLeast(threshold)).count()
    val refN = pairsAt(numHashes)
    val rows = bandsChoices.filter(numHashes % _ == 0).sorted.map { b =>
      val n = pairsAt(b)
      (b, numHashes / b, n, refN, if (refN == 0) 10000L else n * 10000 / refN)
    } :+ ((numHashes, 1, refN, refN, 10000L))
    rows.toDF("bands", "rows_per_band", "found_pairs", "ref_pairs", "recall_bp")
  }

  /** Incremental connected components: fold ONE new batch's near-dup
    * pairs into a persisted `(id, cluster_id)` assignment, touching only
    * the clusters the batch actually reaches. The continual-ingestion
    * companion to [[connectedComponents]] (same contract as
    * [[graft.pipeline.Incremental]]'s index probes): per-batch cost
    * scales with the affected subgraph, not the corpus.
    *
    * Correctness: an assignment produced by [[connectedComponents]] binds
    * every member to its cluster's minimum id, and that minimum is itself
    * a member — so `(member → cluster_id)` edges are an exact contraction
    * of all prior pairs. Running CC over {binding edges of affected
    * clusters} ∪ {new pairs} therefore yields the same labels a full
    * recompute over (prior ∪ new) pairs would, including cascaded cluster
    * merges when a new doc bridges two old clusters; untouched clusters
    * pass through by anti-join. q255's oracle checks exactly this
    * equivalence (incremental result == from-scratch transitive closure).
    *
    * Plan shape: two semi/anti joins on ids + CC over the (small)
    * affected subgraph — id-only shuffles throughout. */
  def updateClusters(
      assignments: DataFrame, newPairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val pairs = newPairs.select(col(idA).as("id_a"), col(idB).as("id_b"))
      .localCheckpoint() // consumed three times below
    val touchedIds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    val touchedClusters = assignments.join(touchedIds, "id")
      .select("cluster_id").distinct()
    val affected = assignments
      .join(touchedClusters.hint("shuffle_hash"), Seq("cluster_id"))
    val subEdges = affected
      .select(col("id").as("id_a"), col("cluster_id").as("id_b"))
      .union(pairs)
    val relabeled = connectedComponents(subEdges)
    assignments.join(touchedClusters, Seq("cluster_id"), "left_anti")
      .select("id", "cluster_id")
      .union(relabeled.select("id", "cluster_id"))
  }

  /** One union-find sweep per partition over (src, dst) long edges: emits
    * (node, root) with root = min member of the node's partition-local
    * component — including (root, root) itself, so no node disappears. */
  private def contractLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.as[(Long, Long)].mapPartitions { it =>
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      it.foreach { case (a, b) =>
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val out = Array.newBuilder[(Long, Long)]
      parent.keySet().forEach(k => out += ((k, find(k))))
      out.result().iterator
    }.toDF("src", "dst")
  }

  /** Leakage-safe CLUSTER-level split — the scheme the q306 leak audit
    * exists to justify: every member of a near-dup cluster lands in the
    * same train/val/test bucket (split label hashed from the cluster's
    * minimum id; singletons hash their own id, which IS their cluster id
    * under the [[connectedComponents]] labeling), so NO near-dup pair
    * can straddle an eval boundary — including the cross-host syndicated
    * pairs that leak under both the domain split and a naive doc split.
    * `n_docs_naive_other` counts the documents a doc-level hash split
    * would have sent to a DIFFERENT bucket — each one a leak this scheme
    * retires.
    *
    * Plan shape: CC contracts the pair list to forest size; one LEFT
    * join pins assignments to the docs scan by id; the rollup is a
    * single O(splits) hash agg. Shuffles carry (id, cluster, counters) —
    * never text. */
  def clusterSplit(
      docs: DataFrame, idCol: String, pairs: DataFrame,
      textCol: String): DataFrame = {
    val cc = connectedComponents(pairs).withColumnRenamed("id", idCol)
    docs.join(cc, Seq(idCol), "left")
      .withColumn("__cl", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("split", TextAnalysis.hashSplit(col("__cl")))
      .withColumn("__doc_split", TextAnalysis.hashSplit(col(idCol)))
      .withColumn("__ntok", TextAnalysis.tokenCount(col(textCol)))
      .groupBy("split")
      .agg(
        countDistinct(col("__cl")).as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("total_tokens"),
        sum(when(col("__doc_split") =!= col("split"), 1L).otherwise(0L))
          .as("n_docs_naive_other"))
  }

  /** Keep one representative doc per near-dup cluster (the minimum id —
    * the cluster id itself); docs outside every pair survive as their own
    * cluster. One broadcast-or-shuffle join against the (small) cluster
    * assignment — no pass touches doc payloads until the final join. */
  def dedupByClusters(
      docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
      .withColumnRenamed("id", idCol)
    docs.join(cc, Seq(idCol), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col(idCol))
      .drop("cluster_id")
  }

  /** Keep the highest-quality doc per near-dup cluster — production dedup
    * retains the best copy (longest / highest-scored), not the arbitrary
    * min-id one. Per component: argmax of `quality`, ascending-id
    * tiebreak; docs outside every pair survive as their own singleton
    * cluster (a singleton's id can never collide with a component's
    * cluster_id, since that min-id doc is IN the component). Plans as
    * `row_number()=1` → Spark 4 WindowGroupLimit: the top-1 is taken
    * partially before the shuffle, so full doc payloads cross the wire
    * once per cluster, not once per member. */
  def dedupByClustersKeepBest(docs: DataFrame, idCol: String,
      pairs: DataFrame, quality: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = connectedComponents(pairs).withColumnRenamed("id", idCol)
    val w = Window.partitionBy(col("__cid"))
      .orderBy(quality.desc, col(idCol).asc)
    docs.join(cc, Seq(idCol), "left")
      .withColumn("__cid", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("cluster_id", "__cid", "__rk")
  }

  /** SOFT dedup: instead of dropping near-dup copies, down-weight them —
    * every member of a k-doc cluster gets sampling weight 1/k (floored
    * ×10⁴), singletons keep weight 1. Hard dedup throws away the signal
    * that a document was independently published k times; soft dedup
    * keeps one expected copy per cluster in the training mix while
    * letting the sampler see all variants. Adds `weight_x10000` and
    * `cluster_size` to every doc row.
    *
    * Plan: CC contracts the pair list to components; cluster sizes are an
    * O(clusters) aggregate joined back; the docs frame is touched by ONE
    * left join against the (id → size) assignment — payloads never
    * shuffle into the clustering. */
  def softDedupWeights(
      docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    softDedupWeightsFromCC(docs, idCol,
      connectedComponents(pairs).withColumnRenamed("id", idCol))

  /** [[softDedupWeights]] over a PRECOMPUTED component assignment
    * (`cc`: one (idCol, cluster_id) row per clustered doc) — for
    * pipelines that need both the weights AND the cluster labels
    * (q322/q324's weighted cluster split): the iterative CC join loop
    * runs once, not once per consumer. */
  def softDedupWeightsFromCC(
      docs: DataFrame, idCol: String, cc: DataFrame): DataFrame = {
    val sized = cc.join(
      cc.groupBy("cluster_id").agg(count(lit(1)).as("__csz")), "cluster_id")
      .select(col(idCol), col("__csz"))
    docs.join(sized, Seq(idCol), "left")
      .withColumn("cluster_size", coalesce(col("__csz"), lit(1L)))
      .withColumn("weight_x10000",
        floor(lit(10000.0) / col("cluster_size")).cast("long"))
      .drop("__csz")
  }

  /** Dedup MIX-SHIFT report: what keep-best dedup does to the corpus
    * composition, per `groupCol` (source) — raw vs kept doc counts and
    * the kept share in basis points. Dedup is not mix-neutral: a source
    * whose pages are mostly templated copies of other sources loses far
    * more mass than its raw share suggests, and the post-dedup mixture a
    * sampler sees is THIS table, not the raw counts. One rollup on each
    * side of [[dedupByClustersKeepBest]] joined on the group key. */
  def dedupMixShift(
      docs: DataFrame, idCol: String, pairs: DataFrame,
      quality: org.apache.spark.sql.Column, groupCol: String): DataFrame = {
    val raw = docs.groupBy(groupCol).agg(count(lit(1)).as("n_raw"))
    val kept = dedupByClustersKeepBest(docs, idCol, pairs, quality)
      .groupBy(groupCol).agg(count(lit(1)).as("n_kept"))
    raw.join(kept, Seq(groupCol), "left")
      .na.fill(0L, Seq("n_kept"))
      .withColumn("kept_bp",
        floor(col("n_kept") * 10000.0 / col("n_raw")).cast("long"))
  }

  /** Paragraph-grain rows for [[paragraphDedup]]: one row per
    * content-defined paragraph ([[graft.functions.CdcParagraphs]]),
    * carrying only the paragraph's md5, token count, and position —
    * paragraph TEXT is hashed map-side in the same projection and never
    * reaches a shuffle. */
  def paragraphRows(
      docs: DataFrame, idCol: String, textCol: String, grain: Int,
      carry: Seq[String] = Nil): DataFrame =
    docs.select(docs("*"),
        posexplode(graft.functions.CdcParagraphs(col(textCol), grain))
          .as(Seq("para_idx", "__para")))
      .select((Seq(col(idCol), col("para_idx").cast("long").as("para_idx"),
        md5(col("__para")).as("ph"),
        size(split(col("__para"), " ")).cast("long").as("n_tok")) ++
        carry.map(col)): _*)

  /** CCNet-style PARAGRAPH-level dedup report: chunk every document into
    * content-defined paragraphs, hash each paragraph, mark every
    * occurrence after the first (ordered by (doc id, position)) as a
    * duplicate, and roll up per `groupCol` — the paragraph-grain
    * boilerplate measurement (nav/footer/license blocks syndicated
    * across pages) that document-level dedup cannot see.
    *
    * Plan: chunking + hashing are map-only; the ONE shuffle is the
    * keeper window keyed by paragraph hash (hash-cardinality, skew-free
    * by construction); the rollup joins doc metadata by id. Duplicate
    * token mass in basis points uses exact integer arithmetic. */
  def paragraphDedup(
      docs: DataFrame, idCol: String, textCol: String, groupCol: String,
      grain: Int = 8): DataFrame = {
    val ranked = paragraphRows(docs, idCol, textCol, grain, Seq(groupCol))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("ph").orderBy(col(idCol), col("para_idx"))))
    val dup = col("__rk") > 1
    ranked
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_paras"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(dup, 1L).otherwise(0L)).as("n_dup_paras"),
        sum(when(dup, col("n_tok")).otherwise(0L)).as("dup_tokens"),
        countDistinct(when(dup, col(idCol))).as("n_docs_affected"))
      .withColumn("dup_token_bp",
        floor(col("dup_tokens") * 10000.0 / col("n_tokens")).cast("long"))
  }

  /** The CCNet operation itself: rebuild every document with duplicate
    * paragraphs EXCISED (first occurrence by (doc id, position) wins,
    * same keeper rule as [[paragraphDedup]]).
    *
    * Scale shape — document text never shuffles: the keeper window runs
    * over the hash-only paragraph rows; only the DROP-index lists (the
    * duplicate minority, a bounded int array per affected doc) travel
    * through the aggregation and join back to the docs scan by id; the
    * rebuild then re-chunks each doc's text MAP-SIDE and filters out the
    * dropped positions (the HOF lambda runs on per-doc arrays only —
    * the q292 excision precedent). Untouched docs pass through with
    * `clean_text == text` re-joined canonically. */
  def paragraphDedupClean(
      docs: DataFrame, idCol: String, textCol: String,
      grain: Int = 8): DataFrame = {
    val dropped = paragraphRows(docs, idCol, textCol, grain)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("ph").orderBy(col(idCol), col("para_idx"))))
      .filter(col("__rk") > 1)
    rebuildDropping(docs, idCol, textCol, grain, dropped)
  }

  /** The shared strip tail: collapse dropped-occurrence rows (`idCol`,
    * `para_idx`, one row per paragraph position to excise) into per-doc
    * drop lists and rebuild — the one definition of the drop-index shape
    * for all three strip operators (dedup-clean, template strip,
    * incremental template strip). */
  private[pipeline] def rebuildDropping(
      docs: DataFrame, idCol: String, textCol: String, grain: Int,
      droppedRows: DataFrame): DataFrame =
    rebuildWithoutIndices(docs, idCol, textCol, grain,
      droppedRows.groupBy(idCol)
        .agg(collect_list("para_idx").as("__drop")))

  /** Shared rebuild kernel for the paragraph family ([[paragraphDedupClean]]
    * and `DomainStats.templateStrip`): re-chunk each doc's text MAP-SIDE
    * and excise the positions listed in `dropIdx` (`(idCol,
    * __drop: array<long>)`, absent ids mean nothing to drop). Docs with
    * NULL `textCol` are omitted — no text, nothing to rebuild; this also
    * mirrors the oracle CTE, whose token unnest yields no rows for NULL
    * (a NULL doc surviving the left join would otherwise emit a nonsense
    * `size(NULL)` row the oracle doesn't have). */
  private[pipeline] def rebuildWithoutIndices(
      docs: DataFrame, idCol: String, textCol: String, grain: Int,
      dropIdx: DataFrame): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .join(dropIdx, Seq(idCol), "left")
      .withColumn("__drop",
        coalesce(col("__drop"), array().cast("array<long>")))
      .withColumn("__paras", graft.functions.CdcParagraphs(col(textCol), grain))
      .select(col(idCol),
        array_join(filter(col("__paras"),
          (_, i) => !array_contains(col("__drop"), i.cast("long"))), " ")
          .as("clean_text"),
        size(col("__paras")).cast("long").as("n_paras"),
        size(col("__drop")).cast("long").as("n_dropped"))
}
