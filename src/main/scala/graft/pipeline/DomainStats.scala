package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Domain-level corpus curation — the RefinedWeb/C4 layer ABOVE per-page
  * filtering: aggregate per-page quality signals to the registered domain
  * (spam, SEO farms and boilerplate mills are domain-shaped, not
  * page-shaped), decide keep/drop at domain grain, and draw train/val/test
  * splits at domain grain so near-identical pages from one host can never
  * straddle an eval boundary (URL- or doc-level hash splits leak through
  * template pages; a domain split cannot).
  *
  * Scale posture: both operators are ONE map-only canonicalization
  * ([[UrlCanon]] native string expressions) followed by ONE hash
  * aggregation keyed on the registered domain (then a second, O(splits)-
  * sized rollup for the split report). Shuffles carry (domain, counters) —
  * never document text. Domain cardinality is web-host-sized (millions at
  * 100 TB), far inside hash-agg territory; no windows, no collects.
  */
object DomainStats {

  private def ntok(textCol: String): Column =
    TextAnalysis.tokenCount(col(textCol))

  /** Per-registered-domain quality rollup + keep decision: doc count,
    * token totals, short-doc ("low quality", token count < `minTokens`)
    * share in basis points, and `kept` = 1 when the short-doc share stays
    * under `maxLowBp`. Integer arithmetic throughout (floor-scaled
    * averages) — the cross-engine-stable presentation. */
  def qualityRollup(
      docs: DataFrame, urlCol: String, textCol: String,
      minTokens: Int, maxLowBp: Int): DataFrame =
    docs
      .withColumn("__domain", UrlCanon.registeredDomain(col(urlCol)))
      .withColumn("__ntok", ntok(textCol))
      .groupBy(col("__domain").as("domain"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("__ntok").as("total_tokens"),
        sum(when(col("__ntok") < minTokens, 1L).otherwise(0L)).as("n_low"))
      .withColumn("avg_tokens_x1000",
        floor(col("total_tokens") * 1000.0 / col("n_docs")).cast("long"))
      .withColumn("low_bp",
        floor(col("n_low") * 10000.0 / col("n_docs")).cast("long"))
      .withColumn("kept",
        when(col("low_bp") < maxLowBp, 1L).otherwise(0L))

  /** Per-domain language coherence: Gini impurity of the domain's
    * language mix — 1 − Σ_l (c_l/n)² — plus the majority-language share.
    * A legitimate site serves one (occasionally two) languages; a domain
    * spraying many is a machine-translation/SEO-spam signal the page-level
    * filters can't see. Gini instead of Shannon entropy keeps the score
    * an EXACT rational (n² − Σc²)/n² — no libm log — presented as floored
    * basis points. One (domain, lang) hash-agg then an O(domains) rollup. */
  def langCoherence(
      docs: DataFrame, urlCol: String, langCol: String): DataFrame =
    docs
      .withColumn("__domain", UrlCanon.registeredDomain(col(urlCol)))
      .groupBy(col("__domain").as("domain"), col(langCol).as("__lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy("domain")
      .agg(
        sum("c").as("n_docs"),
        count(lit(1)).as("n_langs"),
        // c² and n² in decimal: a long would wrap past ~3e9 docs per
        // (domain, lang) — the binaryAuc overflow precedent
        sum(col("c").cast("decimal(38,0)") * col("c")).as("__ssq"),
        max("c").as("__cmax"))
      .select(col("domain"), col("n_docs"), col("n_langs"),
        floor((col("n_docs").cast("decimal(38,0)") * col("n_docs")
            - col("__ssq")).cast("double") * 10000.0
          / (col("n_docs").cast("double") * col("n_docs"))).cast("long")
          .as("gini_bp"),
        floor(col("__cmax") * 10000.0 / col("n_docs")).cast("long")
          .as("majority_bp"))

  /** Split LEAK AUDIT: given the corpus's near-dup pair list, count how
    * many pairs straddle an eval boundary under (a) the domain-level
    * split and (b) a naive doc-level hash split — the measured residual
    * leakage of each scheme, in one row. The domain split retires
    * same-host template leaks by construction; CROSS-host near-dups
    * (syndicated/scraped content) still leak under both, and this audit
    * is how a release decides whether it needs the full cluster-level
    * split. Pairs join two id-keyed label frames (labels, never text);
    * the rollup is a single-row aggregate. */
  def splitLeakAudit(
      docs: DataFrame, urlCol: String, idCol: String,
      pairs: DataFrame): DataFrame = {
    val lab = docs
      .withColumn("__domain", UrlCanon.registeredDomain(col(urlCol)))
      .select(col(idCol),
        TextAnalysis.hashSplit(col("__domain")).as("__dom"),
        TextAnalysis.hashSplit(col(idCol)).as("__doc"))
    val a = lab.select(col(idCol).as("id_a"),
      col("__dom").as("__da"), col("__doc").as("__ca"))
    val b = lab.select(col(idCol).as("id_b"),
      col("__dom").as("__db"), col("__doc").as("__cb"))
    pairs.join(a, "id_a").join(b, "id_b")
      .agg(
        count(lit(1)).as("n_pairs"),
        // empty pair list: sum() over 0 rows is NULL — pin to 0 so the
        // report (and its oracle twin) reads 0/0/0, not 0/NULL/NULL
        coalesce(sum(when(col("__da") =!= col("__db"), 1L).otherwise(0L)),
          lit(0L)).as("cross_domain_pairs"),
        coalesce(sum(when(col("__ca") =!= col("__cb"), 1L).otherwise(0L)),
          lit(0L)).as("cross_doc_pairs"))
      .select(col("n_pairs"), col("cross_domain_pairs"), col("cross_doc_pairs"),
        // pair-free corpus → 0 bp, not floor(NaN) (ANSI cast throws)
        when(col("n_pairs") === 0, 0L)
          .otherwise(floor(col("cross_domain_pairs") * 10000.0
            / col("n_pairs")).cast("long")).as("cross_domain_bp"),
        when(col("n_pairs") === 0, 0L)
          .otherwise(floor(col("cross_doc_pairs") * 10000.0
            / col("n_pairs")).cast("long")).as("cross_doc_bp"))
  }

  /** Leakage-safe DOMAIN-level split: every document of one registered
    * domain lands in the same train/val/test bucket (md5(domain+salt) —
    * deterministic across runs, engines and layouts, the
    * [[TextAnalysis.hashSplit]] scheme applied at domain grain).
    *
    * Report: per split, the domain / doc / token masses plus
    * `n_docs_naive_other` — how many of the split's documents a naive
    * DOC-level hash split would have sent to a DIFFERENT split (each one a
    * potential template-page leak across the eval boundary; the number is
    * the concrete risk the domain split retires). */
  def domainSplit(
      docs: DataFrame, urlCol: String, idCol: String,
      textCol: String): DataFrame =
    docs
      .withColumn("__domain", UrlCanon.registeredDomain(col(urlCol)))
      .withColumn("split", TextAnalysis.hashSplit(col("__domain")))
      .withColumn("__doc_split", TextAnalysis.hashSplit(col(idCol)))
      .withColumn("__ntok", ntok(textCol))
      .groupBy("split")
      .agg(
        countDistinct("__domain").as("n_domains"),
        count(lit(1)).as("n_docs"),
        sum("__ntok").as("total_tokens"),
        sum(when(col("__doc_split") =!= col("split"), 1L).otherwise(0L))
          .as("n_docs_naive_other"))

  /** Per-domain BOILERPLATE report: the paragraph-grain dup layer
    * ([[Dedup.paragraphRows]], content-defined chunking) rolled up to
    * the registered domain, splitting duplicate paragraphs into
    * WITHIN-domain (the first occurrence lives on the same domain —
    * nav/footer/license template mass, the signal that separates a
    * template mill from a site that merely syndicates) and CROSS-domain
    * (syndicated/copied content). `boiler_bp` = within-domain duplicate
    * token mass in basis points of the domain's tokens — the domain-cap
    * companion signal q297's short-doc share can't see.
    *
    * Plan shape: chunk+hash map-side (text never shuffles; the domain
    * string rides the paragraph row like paragraphDedup's groupCol);
    * ONE window keyed by paragraph hash computes both the keeper rank
    * and the first occurrence's domain (same frame, same shuffle); ONE
    * domain-keyed hash agg rolls up. */
  def domainBoilerplate(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      grain: Int = 8): DataFrame = {
    val rows = Dedup.paragraphRows(
      docs.withColumn("__domain", UrlCanon.registeredDomain(col(urlCol))),
      idCol, textCol, grain, carry = Seq("__domain"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ph").orderBy(col(idCol), col("para_idx"))
    val ranked = rows
      .withColumn("__rk", row_number().over(w))
      .withColumn("__first_domain", first(col("__domain")).over(w))
    val dup = col("__rk") > 1
    val dupWithin = dup && col("__first_domain") === col("__domain")
    ranked
      .groupBy(col("__domain").as("domain"))
      .agg(
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_paras"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(dup, 1L).otherwise(0L)).as("n_dup_paras"),
        sum(when(dupWithin, 1L).otherwise(0L)).as("n_dup_within"),
        sum(when(dup && !dupWithin, 1L).otherwise(0L)).as("n_dup_cross"),
        sum(when(dupWithin, col("n_tok")).otherwise(0L)).as("within_tokens"))
      .withColumn("boiler_bp",
        floor(col("within_tokens") * 10000.0 / col("n_tokens")).cast("long"))
  }

  /** Per-domain TEMPLATE CATALOG — the audit artifact of the boilerplate
    * family: every paragraph that recurs in at least `minDocs` DISTINCT
    * documents of the SAME registered domain (nav bars, footers, cookie
    * banners, license blocks — the things a human reviews before turning
    * on [[templateStrip]]), with its document reach, occurrence count and
    * token mass. The drop-ALL rule downstream is grounded in this table,
    * exactly as q274's rare-shared-n-gram evidence grounds the near-dup
    * pair list.
    *
    * Plan shape: ONE map-side chunk+hash explode, ONE hash agg keyed
    * (domain, paragraph hash). This is the one operator in the paragraph
    * family whose OUTPUT is text, so distinct-paragraph text crosses the
    * wire once — map-side combined to one candidate string per group per
    * partition (all occurrences of a ph are byte-identical, so min() is
    * exact, not a choice); the strip/report siblings stay hash-only. */
  def templateCatalog(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      minDocs: Int = 3, grain: Int = 8): DataFrame =
    docs
      .withColumn("__domain", UrlCanon.registeredDomain(col(urlCol)))
      .select(col(idCol), col("__domain"),
        explode(graft.functions.CdcParagraphs(col(textCol), grain))
          .as("__para"))
      .groupBy(col("__domain").as("domain"), md5(col("__para")).as("ph"))
      .agg(
        min(col("__para")).as("paragraph"),
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        sum(size(split(col("__para"), " ")).cast("long"))
          .as("template_tokens"))
      .filter(col("n_docs") >= minDocs)

  /** Within-domain TEMPLATE STRIP — boilerplate removal, the operation
    * the [[templateCatalog]] authorizes: rebuild every document with its
    * domain's template paragraphs (recurring in >= `minDocs` distinct
    * docs of the SAME domain) excised. Unlike [[Dedup.paragraphDedupClean]]
    * this drops ALL occurrences including the first — a footer is noise
    * on every page, not content on the first page crawled (keep-first is
    * the dedup rule; drop-all is the boilerplate rule). Cross-domain
    * syndicated content is deliberately untouched: that is dedup's job,
    * with different economics (first copy is content).
    *
    * Scale shape: document text never shuffles. Chunk+hash map-side
    * ([[Dedup.paragraphRows]]); template keys from ONE (domain, ph) hash
    * agg; occurrences join those keys back (hash join on the same key);
    * only per-doc DROP-INDEX lists travel to the rebuild, which re-chunks
    * map-side and filters dropped positions — the q309 rebuild verbatim. */
  def templateStrip(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      minDocs: Int = 3, grain: Int = 8): DataFrame = {
    // rows feeds BOTH sides of the template-key self-join; without the
    // pin, each branch would re-run the chunk+hash explode over the full
    // corpus text (a third pass on top of the rebuild's). The frame is
    // text-free — (id, para_idx, ph, n_tok, domain) — so materializing
    // it is cheap relative to re-tokenizing (the TokenizerAudit pattern).
    val rows = Dedup.paragraphRows(
      docs.withColumn("__domain", UrlCanon.registeredDomain(col(urlCol))),
      idCol, textCol, grain, carry = Seq("__domain"))
      .localCheckpoint()
    val templateKeys = rows
      .groupBy("__domain", "ph")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("__domain", "ph")
    Dedup.rebuildDropping(docs, idCol, textCol, grain,
      rows.join(templateKeys, Seq("__domain", "ph")))
  }

  /** FUZZY template catalog — the near-dup completion of
    * [[templateCatalog]]: within-domain clusters of NEAR-identical
    * paragraphs (a footer whose year/visit-counter changes per page, a
    * nav bar with the current page bolded) that exact paragraph hashing
    * can never group, because every variant has a distinct md5. Variants
    * are clustered per registered domain via the md5-portable minhash-LSH
    * machinery (q55's, over paragraph shingle sets) + exact-Jaccard
    * verification + connected components; a cluster is reported when it
    * spans >= `minDocs` DISTINCT documents AND has >= 2 variants (a
    * single recurring paragraph is [[templateCatalog]]'s row, not ours).
    *
    * Operating point: CDC paragraphs average `grain` tokens, so document
    * shingle defaults (k = 3) are brittle here — a one-token edit in an
    * 8-token paragraph kills half its trigrams (Jaccard ~0.5). Fuzzy
    * paragraph matching wants a coarser chunk (`grain` 16+) and a small
    * `shingleK` (1-2: token/bigram sets), where a one-token variant keeps
    * Jaccard >= 0.8. Threshold is an exact integer cross-multiplication
    * (`jacDen`·|intersect| >= `jacNum`·|union|) — no float boundary.
    *
    * Scale shape: paragraph text shuffles ONCE (the distinct-(domain, ph)
    * agg, [[templateCatalog]]'s posture); signatures/bands are map-side
    * native kernels over the distinct frame; the LSH self-join is banded
    * (quadratic only in-bucket); CC runs on (domain|ph) keys contracted
    * to forest size; occurrence counts ride a text-free (id, domain, ph)
    * frame. Output: domain, cluster (min member ph), representative
    * paragraph, n_variants, n_docs, n_occurrences, template_tokens.
    *
    * @note the 64-bit hash-key collision guard in the clustering core
    *       is plan-folded: it fires at EXECUTION time, surfaced as a
    *       SparkException wrapping `assert_true`, not as an eager
    *       construction-time IllegalStateException — a frame that is
    *       built but never executed performs no check. */
  def fuzzyTemplateCatalog(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      minDocs: Int = 3, grain: Int = 16, shingleK: Int = 1,
      numHashes: Int = 64, bands: Int = 16,
      jacNum: Int = 4, jacDen: Int = 5,
      membersOpt: Option[DataFrame] = None): DataFrame = {
    val keys = occKeys(docs, urlCol, idCol, textCol, grain)
    val members = membersOpt.getOrElse(fuzzyMembers(
      paraOcc(docs, urlCol, idCol, textCol, grain), Seq("__domain"),
      shingleK, numHashes, bands, jacNum, jacDen))
    val perCluster = members
      .groupBy(col("__domain"), col("cluster_id"))
      .agg(count(lit(1)).as("n_variants"), min(col("para")).as("paragraph"),
        min(col("ph")).as("cluster"))
    perCluster.join(fuzzyReach(keys, members, idCol),
        Seq("__domain", "cluster_id"))
      .filter(col("n_docs") >= minDocs && col("n_variants") >= 2)
      .select(col("__domain").as("domain"), col("cluster"),
        col("paragraph"), col("n_variants"), col("n_docs"),
        col("n_occurrences"), col("template_tokens"))
  }

  /** TEXT-FREE occurrence keys (id, __domain, ph, n_tok, para_idx) — the
    * shared
    * [[Dedup.paragraphRows]] chunk/hash/token-count contract (one
    * definition; a tokenization tweak there reaches the fuzzy family
    * too), with the registered domain carried and the repartition-first
    * parallelization [[paraOcc]] documents. UNPINNED —
    * [[fuzzyTemplateCatalog]] reads occurrences once downstream of the
    * clustering core, so re-deriving from the scan is cheaper than a
    * checkpoint pass; [[domainFuzzyBoilerplate]] reads them three times
    * (exact-template agg, reach rollup, final domain agg) and pins its
    * copy with localCheckpoint (measured: the pin costs q313 +2.7 s but
    * saves q314 ~9 s of repeated chunk explodes). */
  private def occKeys(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      grain: Int): DataFrame =
    Dedup.paragraphRows(
        docs.repartition(col(idCol))
          .withColumn("__domain", UrlCanon.registeredDomain(col(urlCol))),
        idCol, textCol, grain, carry = Seq("__domain"))
      .select(col(idCol), col("__domain"), col("ph"), col("n_tok"),
        col("para_idx"))

  /** The q314/q316 fuzzy-qualification rule — ONE definition: clusters
    * spanning >= `minDocs` distinct docs with >= 2 variants, returned as
    * their member (domain, ph) keys. */
  private def qualifiedFuzzyKeys(
      keys: DataFrame, members: DataFrame, idCol: String,
      minDocs: Int): DataFrame = {
    val qualified = keys
      .join(members.select(col("__domain"), col("ph"), col("cluster_id")),
        Seq("__domain", "ph"))
      .groupBy(col("__domain"), col("cluster_id"))
      .agg(countDistinct(col(idCol)).as("__ndc"),
        countDistinct(col("ph")).as("__nv"))
      .filter(col("__ndc") >= minDocs && col("__nv") >= 2)
      .select("__domain", "cluster_id")
    members.join(qualified, Seq("__domain", "cluster_id"))
      .select("__domain", "ph")
  }

  /** Paragraph occurrences with registered domain: one row per CDC chunk,
    * (id, __domain, ph, __para). Chunking, domain extraction and hashing
    * are all map-side; repartition first (the minhashNearDupPairs note) —
    * a small corpus file is one scan partition, which would serialize the
    * chunk+hash explode on a single core. */
  private def paraOcc(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      grain: Int): DataFrame =
    docs.repartition(col(idCol))
      .withColumn("__domain", UrlCanon.registeredDomain(col(urlCol)))
      .select(col(idCol), col("__domain"),
        explode(graft.functions.CdcParagraphs(col(textCol), grain))
          .as("__para"))
      .select(col(idCol), col("__domain"), md5(col("__para")).as("ph"),
        col("__para"))

  /** Plan-folded 64-bit key-collision guard — the loud-fail posture for
    * hash-keyed CC, shared by both clusterings of [[fuzzyMembers]]: a 1-row assert_true aggregate over
    * `frame` (count(*) must equal the distinct count of `key`, which
    * holds iff the 64-bit hash is collision-free on this corpus),
    * broadcast-crossed into `out` and kept ALIVE by a filter so column
    * pruning cannot drop the assertion. Fails at EXECUTION time only —
    * constructing the plan runs no job — and pruning reads just the key
    * columns from the (checkpointed) frame when it does run. */
  private def hashKeyGuarded(
      frame: DataFrame, key: Column, msg: String)(out: DataFrame): DataFrame = {
    val g = frame.agg(assert_true(
      count(lit(1)) === countDistinct(key), lit(msg)).as("__kc"))
    out.crossJoin(broadcast(g)).filter(col("__kc").isNull).drop("__kc")
  }

  /** Fuzzy paragraph-cluster membership — the clustering core of both
    * fuzzy families: one row per distinct (`buckets`…, ph) paragraph that
    * belongs to some near-dup component, with its representative text
    * and internal `cluster_id`. `buckets = Seq("__domain")` is the
    * within-domain clustering of [[fuzzyTemplateCatalog]] /
    * [[domainFuzzyBoilerplate]] (band buckets and components never cross
    * domains); `Nil` is the GLOBAL clustering of
    * [[fuzzySyndicationCatalog]] / [[fuzzySyndicationStrip]].
    *
    * The distinct-paragraph frame is the [[SimJoin]] prep: text crosses
    * the wire once (min() is exact — all occurrences of a ph are
    * byte-identical), and the pinned frame carries the sorted hashed
    * token set `v` for the merge-intersection verify and the 64-bit key
    * `k` = xxhash64(buckets…, ph) that the banded self-join, the verify
    * lookups and CC all run on — candidate pairs shuffle two LONGS
    * instead of two md5 strings (measured at sf0.1, the global build's
    * candidate explosion is 9.2 M pairs from 18.5 k paragraphs with
    * 21.7 k verified survivors). CC on LONG keys takes its union-find
    * contraction path (the string-keyed generic loop cost ~6 s of
    * per-iteration overhead on a 1.2 k-edge fixture graph). The internal
    * label is hash-valued and NEVER surfaces: the cluster NAME is
    * min(ph) over the component's members, which the oracle reproduces
    * from its own string-keyed closure. A collision between two distinct
    * keys would SILENTLY merge unrelated clusters; the frame is one row
    * per key by construction, so [[hashKeyGuarded]]'s count equality is
    * exactly the collision-freedom check.
    *
    * Skew escape hatch (not wired by default): the banded self-join is
    * quadratic only IN-BUCKET — so a pathological single-domain template
    * mill with millions of distinct near-identical paragraphs would
    * concentrate its buckets on a few tasks. The named fallback is the
    * q295 salted two-phase shape ([[UrlCanon.capDeduped]]'s salt): append
    * a paragraph-hash prefix to the band key to shard each bucket, take
    * the union of the per-salt verified edges, and let CC re-merge —
    * exact verification makes the split lossy only for pairs a salt
    * separates, which a second rotated-salt pass recovers; the size-ratio
    * prefilter and per-domain banding keep real corpora far from needing
    * it. */
  private def fuzzyMembers(
      occ: DataFrame, buckets: Seq[String], shingleK: Int,
      numHashes: Int, bands: Int, jacNum: Int, jacDen: Int): DataFrame = {
    val keyCols = (buckets :+ "ph").map(col)
    val dp = SimJoin.pin(SimJoin.prep(
      occ.groupBy(keyCols: _*).agg(min(col("__para")).as("para")),
      keyCols ++ Seq(col("para"), xxhash64(keyCols: _*).as("k")), col("para"),
      shingleK, numHashes, bands))
    val edges = SimJoin.selfJoin(dp, SimJoin.atLeast(jacNum, jacDen), buckets)
      .select(col("k_a").as("id_a"), col("k_b").as("id_b"))
    val cc = Dedup.connectedComponents(edges)
    val key = (buckets.map(_.stripPrefix("__")) :+ "ph").mkString(", ")
    hashKeyGuarded(dp.df, col("k"),
      s"xxhash64($key) collision: fuzzy clustering would merge " +
        "unrelated clusters — use string-keyed CC for this corpus") {
      dp.df.join(cc.withColumnRenamed("id", "k"), Seq("k"))
        .select(keyCols ++ Seq(col("para"), col("cluster_id")): _*)
    }
  }

  /** Per-cluster occurrence rollup over the pinned text-free keys:
    * (id, domain, ph, n_tok) rows joined to cluster membership. */
  private def fuzzyReach(
      keys: DataFrame, members: DataFrame, idCol: String): DataFrame =
    keys
      .join(members.select(col("__domain"), col("ph"), col("cluster_id")),
        Seq("__domain", "ph"))
      .groupBy(col("__domain"), col("cluster_id"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        sum(col("n_tok")).as("template_tokens"))

  /** Per-domain BOILERPLATE RATE, exact vs fuzzy-extra — the rollup that
    * turns the template family into a domain-grain curation signal: for
    * every registered domain, how much of its token mass sits in EXACT
    * templates (paragraphs recurring in >= `minDocs` distinct docs —
    * [[templateCatalog]]'s rows) and how much MORE the fuzzy layer
    * surfaces (occurrences of paragraphs in qualifying near-dup clusters
    * — [[fuzzyTemplateCatalog]]'s rows — that are NOT already exact
    * templates). `boiler_bp` is the combined share in basis points; a
    * domain near 10000 is a template mill whose pages are almost all
    * chrome. The exact/fuzzy split shows what variant-blind dedup would
    * have missed.
    *
    * Plan shape: everything downstream of the clustering core is
    * hash-keyed — exact-template keys from ONE (domain, ph) agg over the
    * text-free occurrence frame, fuzzy keys from the member/reach join,
    * two LEFT joins mark occurrences, ONE domain agg rolls up.
    *
    * @note the 64-bit hash-key collision guard in the clustering core
    *       is plan-folded: it fires at EXECUTION time, surfaced as a
    *       SparkException wrapping `assert_true`, not as an eager
    *       construction-time IllegalStateException — a frame that is
    *       built but never executed performs no check. */
  def domainFuzzyBoilerplate(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      minDocs: Int = 3, grain: Int = 16, shingleK: Int = 1,
      numHashes: Int = 64, bands: Int = 16,
      jacNum: Int = 4, jacDen: Int = 5,
      membersOpt: Option[DataFrame] = None): DataFrame = {
    val keys = occKeys(docs, urlCol, idCol, textCol, grain).localCheckpoint()
    val exactTpl = keys.groupBy("__domain", "ph")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__domain"), col("ph"), lit(1L).as("__ex"))
    val members = membersOpt.getOrElse(fuzzyMembers(
      paraOcc(docs, urlCol, idCol, textCol, grain), Seq("__domain"),
      shingleK, numHashes, bands, jacNum, jacDen))
    val fuzzyKeys = qualifiedFuzzyKeys(keys, members, idCol, minDocs)
      .withColumn("__fz", lit(1L))
    keys
      .join(exactTpl, Seq("__domain", "ph"), "left")
      .join(fuzzyKeys, Seq("__domain", "ph"), "left")
      .groupBy(col("__domain").as("domain"))
      .agg(count(lit(1)).as("n_paras"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("__ex") === 1L, col("n_tok")).otherwise(0L))
          .as("exact_tpl_tokens"),
        sum(when(col("__ex").isNull && col("__fz") === 1L, col("n_tok"))
          .otherwise(0L)).as("fuzzy_extra_tokens"))
      .withColumn("boiler_bp",
        floor((col("exact_tpl_tokens") + col("fuzzy_extra_tokens")) *
          10000.0 / col("n_tokens")).cast("long"))
  }

  /** Persistable template index: per-(registered domain, paragraph hash)
    * DISTINCT-document counts over a corpus — the compact state the
    * incremental strip joins against (the [[Incremental]] family's
    * pattern at paragraph grain: O(distinct paragraphs) hashes and
    * counters, never text; append each accepted batch's counts to it). */
  def templateIndex(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      grain: Int = 8): DataFrame =
    occKeys(docs, urlCol, idCol, textCol, grain)
      .groupBy(col("__domain").as("domain"), col("ph"))
      .agg(countDistinct(col(idCol)).as("n_docs"))

  /** INCREMENTAL within-domain template strip: rebuild a new ingest
    * batch with its domains' template paragraphs excised, where a
    * template qualifies on the COMBINED corpus + batch reach — the
    * corpus contributes only its [[templateIndex]] counts (batch ids
    * must be fresh, so corpus + batch distinct-doc counts ADD; corpus
    * text is never re-read — per-batch cost is O(batch + index), the
    * [[Incremental]] contract). A paragraph two corpus pages already
    * share becomes a template the moment a third page lands in the
    * batch, and is stripped from that very batch.
    *
    * The index MUST have been built with the same `grain` and the same
    * URL canonicalization as this call: a mismatched grain makes batch
    * hashes miss every index key SILENTLY (corpus-backed templates pass
    * through unstripped; no gate can see it, because both sides are
    * self-consistent). The index may carry duplicate (domain, ph) rows —
    * the documented append-style maintenance — so counts are re-summed
    * here before the join.
    *
    * Scale shape: batch paragraph rows are the shared
    * [[Dedup.paragraphRows]] contract (unpinned — a batch is small by
    * nature, re-deriving its chunk explode for the second consumer is
    * cheaper than a checkpoint pass); the index join is hash-keyed LEFT
    * from the batch's (domain, ph) counts (corpus-only templates can
    * never strip a batch paragraph, so the index's long tail never
    * enters the plan); the rebuild is the shared
    * [[Dedup.rebuildDropping]] tail. */
  def templateStripIncremental(
      index: DataFrame, batch: DataFrame,
      urlCol: String, idCol: String, textCol: String,
      minDocs: Int = 3, grain: Int = 8): DataFrame = {
    val bRows = Dedup.paragraphRows(
      batch.repartition(col(idCol))
        .withColumn("__domain", UrlCanon.registeredDomain(col(urlCol))),
      idCol, textCol, grain, carry = Seq("__domain"))
    // re-aggregate: an append-maintained index holds one row per
    // generation for a recurring (domain, ph); a plain join would
    // evaluate the reach filter per row (missed templates) and duplicate
    // tpl keys (double-collected drop indices)
    val merged = index
      .groupBy(col("domain").as("__domain"), col("ph"))
      .agg(sum(col("n_docs")).as("n_docs"))
    val tpl = bRows.groupBy("__domain", "ph")
      .agg(countDistinct(col(idCol)).as("__bn"))
      .join(merged, Seq("__domain", "ph"), "left")
      .filter(col("__bn") + coalesce(col("n_docs"), lit(0L)) >= minDocs)
      .select("__domain", "ph")
    Dedup.rebuildDropping(batch, idCol, textCol, grain,
      bRows.join(tpl, Seq("__domain", "ph")))
  }

  /** Persistable SYNDICATION index — the [[templateIndex]] twin for the
    * cross-domain family: one row per (paragraph hash, registered
    * domain) with the occurrence count and the domain's FIRST-occurrence
    * key (min (doc id, position)) — exactly the state
    * [[syndicationStripIncremental]] needs to qualify paragraphs
    * (distinct-domain reach) and attribute origins (global argmin over
    * the per-domain first keys) without re-reading corpus text.
    * O(distinct (ph, domain)) rows; append each accepted batch's rows to
    * it — duplicates re-aggregate at use. */
  def syndicationIndex(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      grain: Int = 8): DataFrame =
    occKeys(docs, urlCol, idCol, textCol, grain)
      .groupBy(col("ph"), col("__domain").as("domain"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col(idCol).cast("long").as("d"),
          col("para_idx").cast("long").as("i"))).as("__fk"))
      .select(col("ph"), col("domain"), col("n_occ"),
        col("__fk.d").as("first_doc"), col("__fk.i").as("first_idx"))

  /** INCREMENTAL cross-domain syndication strip, keep-origin: rebuild a
    * new ingest batch with syndicated-in paragraphs excised, where
    * qualification (>= `minDomains` DISTINCT registered domains) and
    * origin attribution (globally first occurrence by (doc id,
    * position)) are computed over the COMBINED corpus + batch — the
    * corpus contributes only its [[syndicationIndex]] rows, text is
    * never re-read ([[Incremental]]'s contract: the result equals the
    * batch slice of a full [[syndicationStrip]] recompute over
    * corpus ∪ batch). A paragraph two corpus domains already share
    * becomes syndicated the moment a third domain lands in the batch —
    * and is stripped from that very batch everywhere but its origin.
    * Unlike the template family there is NO fresh-id requirement for
    * correctness of the reach count (domain sets union, they don't
    * add), but attribution compares raw (doc id, position) keys, so
    * batch ids must not COLLIDE with corpus ids.
    *
    * The index MUST have been built with the same `grain` and URL
    * canonicalization as this call (the [[templateStripIncremental]]
    * silent-miss caveat); duplicate (ph, domain) generations re-sum /
    * re-min here before use.
    *
    * Scale shape: batch paragraph rows are pinned (per-(ph, domain) agg
    * + dropped join); the index enters as (ph, domain, first-key)
    * tuples; one ph-keyed agg qualifies and attributes (min_by over the
    * unique first keys); the rebuild is the shared
    * [[Dedup.rebuildDropping]] tail. */
  def syndicationStripIncremental(
      index: DataFrame, batch: DataFrame,
      urlCol: String, idCol: String, textCol: String,
      minDomains: Int = 3, grain: Int = 8): DataFrame = {
    val bRows = Dedup.paragraphRows(
      batch.repartition(col(idCol))
        .withColumn("__domain", UrlCanon.registeredDomain(col(urlCol))),
      idCol, textCol, grain, carry = Seq("__domain"))
      .localCheckpoint()
    val corpus = index
      .select(col("ph"), col("domain"),
        struct(col("first_doc").cast("long").as("d"),
          col("first_idx").cast("long").as("i")).as("__fk"))
    val bPd = bRows
      .select(col("ph"), col("__domain").as("domain"),
        struct(col(idCol).cast("long").as("d"),
          col("para_idx").cast("long").as("i")).as("__fk"))
    val perPh = corpus.unionByName(bPd)
      .groupBy("ph", "domain").agg(min("__fk").as("__fk"))
      .groupBy("ph")
      .agg(countDistinct(col("domain")).as("__nd"),
        min_by(col("domain"), col("__fk")).as("__origin"))
      .filter(col("__nd") >= minDomains)
      .select("ph", "__origin")
    val dropped = bRows.join(perPh, Seq("ph"))
      .filter(col("__origin") =!= col("__domain"))
    Dedup.rebuildDropping(batch, idCol, textCol, grain, dropped)
  }

  /** FUZZY template strip — the actionable counterpart of
    * [[fuzzyTemplateCatalog]] (catalogs are the audit; the strip is what
    * a pipeline runs): rebuild every document with ALL occurrences of
    * BOTH exact templates (>= `minDocs` distinct docs of the domain) AND
    * fuzzy-cluster members (qualifying near-dup variant clusters, the
    * q314 rule) excised. A footer whose year drifts per page disappears
    * corpus-wide even though no two copies share a hash; drop-all is the
    * boilerplate rule ([[templateStrip]]'s semantics), cross-domain
    * syndication stays dedup's job.
    *
    * Scale shape: the clustering core is [[fuzzyMembers]]; the
    * text-free paragraph rows are pinned (THREE consumers — exact agg,
    * cluster qualification, dropped-occurrence join — the §8.16 rule);
    * the union of exact + fuzzy keys is hash-cardinality; the rebuild is
    * the shared [[Dedup.rebuildDropping]] tail, so document text never
    * shuffles — only drop-index lists travel.
    *
    * @note the 64-bit hash-key collision guard in the clustering core
    *       is plan-folded: it fires at EXECUTION time, surfaced as a
    *       SparkException wrapping `assert_true`, not as an eager
    *       construction-time IllegalStateException — a frame that is
    *       built but never executed performs no check. */
  def fuzzyTemplateStrip(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      minDocs: Int = 3, grain: Int = 16, shingleK: Int = 1,
      numHashes: Int = 64, bands: Int = 16,
      jacNum: Int = 4, jacDen: Int = 5,
      membersOpt: Option[DataFrame] = None): DataFrame = {
    val rows = occKeys(docs, urlCol, idCol, textCol, grain).localCheckpoint()
    val exactKeys = rows.groupBy("__domain", "ph")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("__domain", "ph")
    val members = membersOpt.getOrElse(fuzzyMembers(
      paraOcc(docs, urlCol, idCol, textCol, grain), Seq("__domain"),
      shingleK, numHashes, bands, jacNum, jacDen))
    val allKeys = exactKeys
      .union(qualifiedFuzzyKeys(rows, members, idCol, minDocs))
      .distinct()
    Dedup.rebuildDropping(docs, idCol, textCol, grain,
      rows.join(allKeys, Seq("__domain", "ph")))
  }

  /** Per-document CLEAN token stats after the composed cleaning chain —
    * template strip THEN paragraph dedup, the order a release pipeline
    * runs them: (1) drop ALL occurrences of within-domain templates
    * (>= `minDocs` distinct docs of the SAME domain — [[templateStrip]]'s
    * rule), then (2) keep-first paragraph dedup over the REMAINING
    * occurrences ([[Dedup.paragraphDedup]]'s rule, global across
    * domains, ranked by (doc id, position)). Chaining at paragraph-row
    * grain is EXACT: CDC boundaries depend only on each token's own
    * hash, so re-chunking a stripped rebuild reproduces precisely the
    * surviving paragraphs — no text ever needs rebuilding to compose
    * the two stages.
    *
    * Output per document (one row per doc that chunks to >= 1
    * paragraph): domain, `n_paras` (pre-clean), `clean_tokens` (tokens
    * surviving both stages — the mass a trainer would actually see),
    * `n_tpl_dropped`, `n_dup_dropped`. Docs whose every paragraph is
    * template/duplicate stay present with clean_tokens = 0 — the
    * domain-quality rollup downstream must count them as thin, not
    * lose them.
    *
    * Scale shape: ONE map-side chunk+hash pass (the pinned text-free
    * rows feed the template agg, the anti-join and the final rollup);
    * the keeper window is ph-keyed like q308's; shuffles carry (id,
    * domain, ph, n_tok) — never text. */
  def cleanTokenStats(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      minDocs: Int = 3, grain: Int = 8): DataFrame =
    cleanTokenCore(docs, urlCol, idCol, textCol, minDocs, None, grain)
      .drop("n_synd_dropped", "n_fuzzy_dropped")

  /** The shared precedence core behind [[cleanTokenStats]] (syndication
    * rule disabled: `minDomains` None — no qualification agg, no
    * attribution window in the plan), [[cleanTokenStatsV2]] and
    * [[cleanTokenStatsV3]] (`fuzzyMembers` set) — ONE implementation of
    * the excision accounting so the v1/v2/v3 stats cannot drift. `__cls`
    * per occurrence, first matching rule in precedence order wins:
    * 0 = template-dropped (outranks everything — keep-origin never
    * shields within-domain repetition), -2 = fuzzy-syndicated-in
    * (occurrence of a qualifying GLOBAL near-dup cluster on a domain
    * other than the cluster's first-occurrence domain; outranks the
    * exact rule — cluster attribution is the more global judgment),
    * -1 = exact-syndicated-in (keep-origin drop; still applies on a
    * fuzzy cluster's ORIGIN domain when the individual hash's own first
    * occurrence lives elsewhere — the rules shield only their own
    * class), 1 = strip survivor (then keep-first ranked over survivors
    * ONLY — an occurrence excised by any strip must not consume the
    * keep-first slot). */
  private def cleanTokenCore(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      minDocs: Int, minDomains: Option[Int], grain: Int,
      fuzzyMembers: Option[DataFrame] = None): DataFrame = {
    val rows = Dedup.paragraphRows(
      docs.repartition(col(idCol))
        .withColumn("__domain", UrlCanon.registeredDomain(col(urlCol))),
      idCol, textCol, grain, carry = Seq("__domain"))
      .localCheckpoint()
    val tpl = rows.groupBy("__domain", "ph")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__domain"), col("ph"), lit(1).as("__t"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ph").orderBy(col(idCol), col("para_idx"))
    // fuzzy keep-origin drop keys (idCol, para_idx): occurrences of
    // qualifying global clusters (computed over THIS population) off the
    // cluster's first-occurrence domain — the ONE shared rule,
    // [[fuzzyKeepOriginDrops]]
    val fuzzyDrop = (fuzzyMembers, minDomains) match {
      case (Some(fm), Some(md)) =>
        Some(fuzzyKeepOriginDrops(
            rows.join(fm.select("ph", "cluster_id"), Seq("ph")), idCol, md)
          .withColumn("__f", lit(1)))
      case _ => None
    }
    val marked = minDomains match {
      case Some(md) =>
        val synd = rows.groupBy("ph")
          .agg(countDistinct(col("__domain")).as("__ndom"))
          .filter(col("__ndom") >= md)
          .select(col("ph"), lit(1).as("__s"))
        val base = rows
          .withColumn("__fd", first(col("__domain")).over(w))
          .join(tpl, Seq("__domain", "ph"), "left")
          .join(synd, Seq("ph"), "left")
        val withF = fuzzyDrop match {
          case Some(fd) =>
            base.join(fd, Seq(idCol, "para_idx"), "left")
          case None => base.withColumn("__f", lit(null).cast("int"))
        }
        withF
          .withColumn("__cls",
            when(col("__t") === 1, lit(0))
              .when(col("__f") === 1, lit(-2))
              .when(col("__s") === 1 && col("__fd") =!= col("__domain"),
                lit(-1))
              .otherwise(lit(1)))
          .drop("__fd", "__t", "__s", "__f")
      case None =>
        rows
          .join(tpl, Seq("__domain", "ph"), "left")
          .withColumn("__cls",
            when(col("__t") === 1, lit(0)).otherwise(lit(1)))
          .drop("__t")
    }
    val ranked = marked.filter(col("__cls") === 1)
      .withColumn("__rk", row_number().over(w))
    val droppedRows = marked.filter(col("__cls") =!= 1)
      .withColumn("__rk", col("__cls"))
    ranked.unionByName(droppedRows)
      .groupBy(col(idCol), col("__domain").as("domain"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("__rk") === 1, col("n_tok")).otherwise(0L))
          .as("clean_tokens"),
        sum(when(col("__rk") === 0, 1L).otherwise(0L)).as("n_tpl_dropped"),
        sum(when(col("__rk") === -2, 1L).otherwise(0L)).as("n_fuzzy_dropped"),
        sum(when(col("__rk") === -1, 1L).otherwise(0L)).as("n_synd_dropped"),
        sum(when(col("__rk") > 1, 1L).otherwise(0L)).as("n_dup_dropped"))
  }

  /** [[cleanTokenStats]] with the THIRD excision rule composed in — the
    * full release-pipeline cleaning chain at paragraph-row grain:
    *
    *   1. within-domain template strip (drop-ALL: >= `minDocs` distinct
    *      docs of the same domain lose every occurrence — including on
    *      a syndication ORIGIN domain: keep-origin does not shield a
    *      wire service's own within-domain repetition, and in the drop
    *      accounting the template rule outranks the syndication rule);
    *   2. cross-domain syndication strip (KEEP-ORIGIN: a paragraph on
    *      >= `minDomains` distinct registered domains is dropped from
    *      every domain EXCEPT its first-occurrence domain —
    *      [[syndicationStrip]]'s rule). Attribution and qualification
    *      are computed over THIS call's population: run post-cap, the
    *      first surviving occurrence is the origin (a capped-away
    *      origin page cedes attribution to the earliest keeper);
    *   3. keep-first paragraph dedup over the survivors of BOTH strips
    *      ([[Dedup.paragraphDedup]]'s rule, global, ranked by (doc id,
    *      position)) — an occurrence excised by either strip must not
    *      consume the keep-first slot.
    *
    * Exactness and output shape follow [[cleanTokenStats]] (CDC
    * boundaries are per-token, so composing at paragraph-row grain
    * equals stripping then re-chunking; fully-excised docs stay present
    * with clean_tokens = 0), plus `n_synd_dropped`.
    *
    * Scale shape: the pinned text-free rows feed the template agg, the
    * syndication qualification agg, the attribution window and the
    * final rollup; both windows are ph-keyed (one partitioning, reused);
    * shuffles carry (id, domain, ph, n_tok) — never text. */
  def cleanTokenStatsV2(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      minDocs: Int = 3, minDomains: Int = 3, grain: Int = 8): DataFrame =
    cleanTokenCore(docs, urlCol, idCol, textCol, minDocs,
      Some(minDomains), grain)
      .drop("n_fuzzy_dropped")

  /** [[cleanTokenStatsV2]] with the FOURTH excision rule composed in —
    * the complete release-pipeline cleaning chain at paragraph-row
    * grain, precedence pinned in [[cleanTokenCore]]:
    *
    *   1. within-domain template strip (drop-ALL);
    *   2. FUZZY cross-domain syndication strip (KEEP-ORIGIN over
    *      qualifying GLOBAL near-dup clusters — [[fuzzySyndicationStrip]]'s
    *      rule: >= `minDomains` distinct registered domains AND >= 2
    *      variants; the locally-edited wire copy the exact rule cannot
    *      see). Clustering, qualification and attribution run over THIS
    *      call's population at THIS `grain` — composing at paragraph-row
    *      grain requires ONE chunking, so the fuzzy layer here runs at
    *      the exact family's grain rather than [[fuzzySyndicationCatalog]]'s
    *      default coarse grain 16 (same minhash operating point);
    *   3. exact cross-domain syndication strip (KEEP-ORIGIN) — NOT
    *      subsumed by rule 2: a byte-identical paragraph on many domains
    *      is a 1-variant cluster, which the >= 2-variant floor
    *      deliberately leaves to the exact rule;
    *   4. keep-first paragraph dedup over the survivors of all strips.
    *
    * Output shape follows [[cleanTokenStatsV2]] plus `n_fuzzy_dropped`.
    *
    * Scale shape: ONE extra chunk pass over the population (the
    * clustering core needs paragraph text; [[fuzzyMembers]]'
    * distinct-ph min() agg is the only place text shuffles); the member
    * attribution window is cluster-keyed over text-free rows; drop keys
    * ride (id, para_idx) pairs back into the ONE precedence core.
    *
    * @note the 64-bit hash-key collision guard in the clustering core
    *       is plan-folded: it fires at EXECUTION time, surfaced as a
    *       SparkException wrapping `assert_true`, not as an eager
    *       construction-time IllegalStateException — a frame that is
    *       built but never executed performs no check. */
  def cleanTokenStatsV3(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      minDocs: Int = 3, minDomains: Int = 3, grain: Int = 8,
      shingleK: Int = 1, numHashes: Int = 64, bands: Int = 16,
      jacNum: Int = 4, jacDen: Int = 5): DataFrame = {
    val members = fuzzyMembers(
      paraOcc(docs, urlCol, idCol, textCol, grain), Nil,
      shingleK, numHashes, bands, jacNum, jacDen)
    cleanTokenCore(docs, urlCol, idCol, textCol, minDocs,
      Some(minDomains), grain, fuzzyMembers = Some(members))
  }

  /** Broadcast ceiling (rows) for [[syndicationCatalog]]'s
    * qualifying-hash set: ~500k 32-char md5 strings ≈ tens of MB on the
    * driver — comfortably under executor/driver broadcast limits; above
    * it, cross-domain copying is corpus-defining and the shuffled
    * semi-join is the right plan anyway. */
  val SyndicationBroadcastMax: Long = 500000L

  /** Cross-domain SYNDICATION CATALOG — the dedup-side twin of
    * [[templateCatalog]] that the within/cross split of
    * [[domainBoilerplate]] implies: paragraphs recurring on at least
    * `minDomains` DISTINCT registered domains (press-wire copy, licence
    * blocks, scraped content — cross-HOST repetition, which the
    * within-domain template family deliberately leaves alone), with
    * first-occurrence attribution (the domain of the globally first
    * occurrence by (doc id, position) — the probable origin) and
    * reach/occurrence/token-mass evidence. A paragraph recurring on ONE
    * domain only — however many pages — never appears here: that is
    * [[templateCatalog]]'s row.
    *
    * Plan shape: the per-ph rollup runs over text-free paragraph rows
    * (ONE ph-keyed window for first-domain attribution — q310's frame —
    * then ONE hash agg); paragraph TEXT joins in afterwards, only for
    * qualifying hashes, via the [[templateCatalog]] text-once pattern
    * (min() over byte-identical occurrences, map-side combined). The
    * broadcast hint on the qualifying-hash semi-join is GATED on the
    * checkpointed set's actual size ([[SyndicationBroadcastMax]]): at
    * web-scale paragraph-reuse rates it always broadcasts, but a
    * mirror-heavy corpus where cross-domain copying is the norm falls
    * back to a plain shuffled left-semi hash join on ph (AQE may still
    * promote it) instead of growing the driver past comfort. */
  def syndicationCatalog(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      minDomains: Int = 3, grain: Int = 8): DataFrame = {
    val withDomain = docs.repartition(col(idCol))
      .withColumn("__domain", UrlCanon.registeredDomain(col(urlCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ph").orderBy(col(idCol), col("para_idx"))
    // pinned: feeds the text semi-join AND the final join; the frame is
    // qualifying-hash-sized (tiny), the computation behind it is a full
    // corpus window + agg
    val perPh = Dedup.paragraphRows(withDomain, idCol, textCol, grain,
        carry = Seq("__domain"))
      .withColumn("__fd", first(col("__domain")).over(w))
      .groupBy("ph")
      .agg(
        max(col("__fd")).as("first_domain"), // constant per ph
        countDistinct(col("__domain")).as("n_domains"),
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        sum(col("n_tok")).as("total_tokens"))
      .filter(col("n_domains") >= minDomains)
      .localCheckpoint()
    // text crosses the wire only for QUALIFYING hashes (a mostly-unique
    // corpus would otherwise shuffle one full-length paragraph per
    // distinct hash corpus-wide): semi-join the exploded rows against
    // the qualifying set before the min() agg. The set is usually tiny,
    // but the broadcast hint is gated on its ACTUAL size (the frame is
    // already checkpointed, so the count is a cached-partition scan):
    // past the bound, the plain semi-join shuffles 32-char hashes, not
    // text — safe either way.
    val qualPh = perPh.select("ph")
    val qualSide =
      if (perPh.count() <= SyndicationBroadcastMax) broadcast(qualPh)
      else qualPh
    val text = withDomain
      .select(explode(graft.functions.CdcParagraphs(col(textCol), grain))
        .as("__para"))
      .select(md5(col("__para")).as("ph"), col("__para"))
      .join(qualSide, Seq("ph"), "left_semi")
      .groupBy("ph")
      .agg(min(col("__para")).as("paragraph"))
    perPh.join(text, "ph")
      .select(col("ph"), col("paragraph"), col("first_domain"),
        col("n_domains"), col("n_docs"), col("n_occurrences"),
        col("total_tokens"))
  }

  /** Per-domain SYNDICATION rollup — [[syndicationCatalog]] turned into
    * a domain-grain curation signal: for every registered domain, how
    * much of its paragraph mass is syndicated IN (occurrences of
    * qualifying cross-domain paragraphs whose first occurrence lives on
    * a DIFFERENT domain — content this domain copied) and how many
    * qualifying paragraphs it ORIGINATED (`n_synd_src` — distinct
    * syndicated paragraphs first seen here; wire services and
    * much-scraped sources rank high). `synd_in_bp` is the copied-in
    * token share in basis points — with [[domainBoilerplate]]'s
    * `boiler_bp` it completes the repetition picture: within-domain
    * chrome there, cross-domain copying here.
    *
    * Plan shape: per-ph qualification (distinct-domain count) is ONE
    * hash agg joined back by ph — no DISTINCT-in-window portability
    * trap; first-domain attribution reuses the catalog's ordered
    * window; the final rollup is ONE domain-keyed hash agg over
    * text-free rows. */
  def domainSyndication(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      minDomains: Int = 3, grain: Int = 8): DataFrame = {
    val rows = Dedup.paragraphRows(
      docs.repartition(col(idCol))
        .withColumn("__domain", UrlCanon.registeredDomain(col(urlCol))),
      idCol, textCol, grain, carry = Seq("__domain"))
      .localCheckpoint() // feeds the qualification agg AND the rollup
    val qual = rows.groupBy("ph")
      .agg(countDistinct(col("__domain")).as("__ndom"))
      .filter(col("__ndom") >= minDomains)
      .select(col("ph"), lit(1L).as("__q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ph").orderBy(col(idCol), col("para_idx"))
    val syndIn = col("__q") === 1L && col("__fd") =!= col("__domain")
    val syndSrc = col("__q") === 1L && col("__fd") === col("__domain")
    rows
      .withColumn("__fd", first(col("__domain")).over(w))
      .join(qual, Seq("ph"), "left")
      .groupBy(col("__domain").as("domain"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(syndIn, 1L).otherwise(0L)).as("n_synd_in"),
        sum(when(syndIn, col("n_tok")).otherwise(0L)).as("synd_in_tokens"),
        countDistinct(when(syndSrc, col("ph"))).as("n_synd_src"))
      .withColumn("synd_in_bp",
        floor(col("synd_in_tokens") * 10000.0 / col("n_tokens"))
          .cast("long"))
  }

  /** The per-domain fuzzy clustering frame `(__domain, ph, para,
    * cluster_id)` exposed as a standalone builder, so a harness can
    * compute the clustering ONCE and inject it into
    * [[fuzzyTemplateCatalog]] / [[domainFuzzyBoilerplate]] /
    * [[fuzzyTemplateStrip]] via their `membersOpt` (each rebuilds the
    * identical clustering otherwise — the jaccardPairs cross-query
    * memoization precedent; production pipelines materialize shared
    * intermediates rather than recomputing them per consumer). The
    * caller owns making the injected frame consistent with the
    * consumer's operating point (same docs, grain, minhash params).
    *
    * @note the 64-bit hash-key collision guard in the clustering core
    *       is plan-folded: it fires at EXECUTION time, surfaced as a
    *       SparkException wrapping `assert_true`, not as an eager
    *       construction-time IllegalStateException — a frame that is
    *       built but never executed performs no check. */
  def domainFuzzyMembers(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      grain: Int = 16, shingleK: Int = 1, numHashes: Int = 64,
      bands: Int = 16, jacNum: Int = 4, jacDen: Int = 5): DataFrame =
    fuzzyMembers(paraOcc(docs, urlCol, idCol, textCol, grain),
      Seq("__domain"), shingleK, numHashes, bands, jacNum, jacDen)

  /** The GLOBAL fuzzy clustering frame `(ph, para, cluster_id)` as a
    * standalone builder — [[domainFuzzyMembers]]' cross-domain twin for
    * [[fuzzySyndicationCatalog]] / [[fuzzySyndicationStrip]] injection.
    *
    * @note the 64-bit hash-key collision guard in the clustering core
    *       is plan-folded: it fires at EXECUTION time, surfaced as a
    *       SparkException wrapping `assert_true`, not as an eager
    *       construction-time IllegalStateException — a frame that is
    *       built but never executed performs no check. */
  def globalFuzzyMembersFrame(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      grain: Int = 16, shingleK: Int = 1, numHashes: Int = 64,
      bands: Int = 16, jacNum: Int = 4, jacDen: Int = 5): DataFrame =
    fuzzyMembers(paraOcc(docs, urlCol, idCol, textCol, grain),
      Nil, shingleK, numHashes, bands, jacNum, jacDen)

  /** FUZZY syndication catalog — the near-dup completion of
    * [[syndicationCatalog]], closing the gap between it and
    * [[fuzzyTemplateCatalog]]: press-wire copy that copiers lightly EDIT
    * (a swapped dateline, a localized intro, a trimmed final sentence)
    * never shares a hash across domains, so the exact catalog cannot
    * group it — and the fuzzy TEMPLATE family deliberately clusters
    * per-domain, so it cannot see it either. Here the near-dup
    * clustering runs GLOBALLY (the phenomenon IS cross-domain), and a
    * cluster is reported when its members' occurrences span
    * >= `minDomains` DISTINCT registered domains AND it has >= 2
    * variants (a single cross-domain recurring hash is the exact
    * catalog's row, not ours). Attribution is the first occurrence by
    * (doc id, position) over ALL member occurrences — the probable
    * origin, which keeps its copies under [[syndicationStrip]]-style
    * keep-origin economics.
    *
    * Operating point follows [[fuzzyTemplateCatalog]] (coarse `grain`,
    * small `shingleK`, exact integer cross-multiplied Jaccard); the
    * single-hot-bucket escape hatch documented on
    * [[fuzzyMembers]] applies unchanged — global banding only
    * removes the domain from the bucket key, it does not change the
    * in-bucket quadratic's bound or the size-ratio prefilter.
    *
    * Scale shape: paragraph text shuffles ONCE (the global distinct-ph
    * agg); signatures/bands are map-side kernels over the pinned
    * distinct frame; the LSH self-join is banded; CC runs on
    * xxhash64(ph) longs (collision guard folded into the plan, the
    * [[fuzzyMembers]] posture); occurrence counts and the
    * attribution window ride text-free (id, domain, ph, n_tok, idx)
    * rows. Output: cluster (min member ph), representative paragraph,
    * origin_domain, n_variants, n_domains, n_docs, n_occurrences,
    * total_tokens. The clustering is [[globalFuzzyMembersFrame]]'s, or
    * an injected `membersOpt`.
    *
    * @note the 64-bit hash-key collision guard in the clustering core
    *       is plan-folded: it fires at EXECUTION time, surfaced as a
    *       SparkException wrapping `assert_true`, not as an eager
    *       construction-time IllegalStateException — a frame that is
    *       built but never executed performs no check. */
  def fuzzySyndicationCatalog(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      minDomains: Int = 3, grain: Int = 16, shingleK: Int = 1,
      numHashes: Int = 64, bands: Int = 16,
      jacNum: Int = 4, jacDen: Int = 5,
      membersOpt: Option[DataFrame] = None): DataFrame = {
    val members = membersOpt.getOrElse(fuzzyMembers(
      paraOcc(docs, urlCol, idCol, textCol, grain), Nil,
      shingleK, numHashes, bands, jacNum, jacDen))
    val keys = occKeys(docs, urlCol, idCol, textCol, grain)
    val mocc = keys.join(members.select("ph", "cluster_id"), Seq("ph"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col(idCol), col("para_idx"))
    val roll = mocc
      .withColumn("__fd", first(col("__domain")).over(w))
      .groupBy("cluster_id")
      .agg(
        max(col("__fd")).as("origin_domain"), // constant per cluster
        countDistinct(col("__domain")).as("n_domains"),
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        sum(col("n_tok")).as("total_tokens"),
        countDistinct(col("ph")).as("n_variants"))
      .filter(col("n_domains") >= minDomains && col("n_variants") >= 2)
    members.groupBy("cluster_id")
      .agg(min(col("ph")).as("cluster"), min(col("para")).as("paragraph"))
      .join(roll, "cluster_id")
      .select(col("cluster"), col("paragraph"), col("origin_domain"),
        col("n_variants"), col("n_domains"), col("n_docs"),
        col("n_occurrences"), col("total_tokens"))
  }

  /** FUZZY syndication STRIP — the actionable counterpart of
    * [[fuzzySyndicationCatalog]] with [[syndicationStrip]]'s KEEP-ORIGIN
    * semantics: rebuild every document excising occurrences of
    * qualifying GLOBAL near-dup clusters (>= `minDomains` distinct
    * registered domains, >= 2 variants) on every domain EXCEPT the
    * cluster's first-occurrence domain. The locally-edited wire copy
    * the exact strip (q321) passes over — no shared hash — disappears
    * from the copier domains while the origin keeps all its copies
    * (its own repetition is the template family's job). Completes the
    * catalog→strip symmetry: templates q311→q312, fuzzy templates
    * q313→q316, exact syndication q318→q321, fuzzy syndication here.
    *
    * Scale shape: the clustering core is [[fuzzyMembers]]; the
    * attributed occurrence frame is pinned (TWO consumers — the
    * qualification agg and the dropped-occurrence join, the §8.16
    * rule); drop decisions ride (id, para_idx) lists into the shared
    * [[Dedup.rebuildDropping]] tail — document text never shuffles.
    *
    * @note the 64-bit hash-key collision guard in the clustering core
    *       is plan-folded: it fires at EXECUTION time, surfaced as a
    *       SparkException wrapping `assert_true`, not as an eager
    *       construction-time IllegalStateException — a frame that is
    *       built but never executed performs no check. */
  def fuzzySyndicationStrip(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      minDomains: Int = 3, grain: Int = 16, shingleK: Int = 1,
      numHashes: Int = 64, bands: Int = 16,
      jacNum: Int = 4, jacDen: Int = 5,
      membersOpt: Option[DataFrame] = None): DataFrame = {
    val members = membersOpt.getOrElse(fuzzyMembers(
      paraOcc(docs, urlCol, idCol, textCol, grain), Nil,
      shingleK, numHashes, bands, jacNum, jacDen))
    val dropped = fuzzyKeepOriginDrops(
      occKeys(docs, urlCol, idCol, textCol, grain)
        .join(members.select("ph", "cluster_id"), Seq("ph")),
      idCol, minDomains)
    Dedup.rebuildDropping(docs, idCol, textCol, grain, dropped)
  }

  /** The ONE fuzzy keep-origin drop rule, shared by
    * [[fuzzySyndicationStrip]] (q326) and [[cleanTokenStatsV3]]'s core
    * (q328) — qualification (>= `minDomains` distinct registered
    * domains AND >= 2 variants), first-occurrence attribution by
    * (doc id, position) over ALL member occurrences, and the copier
    * filter, so the two consumers cannot drift on which occurrences are
    * fuzzy-syndicated (the same single-definition defense the oracle
    * side gets from its parameterized clustering CTE). `occ` carries
    * one row per member occurrence (`idCol`, `para_idx`, `__domain`,
    * `ph`, `cluster_id`); the attributed frame is pinned (the
    * qualification agg and the drop filter both read it). Returns the
    * (idCol, para_idx) occurrence keys to excise. */
  private def fuzzyKeepOriginDrops(
      occ: DataFrame, idCol: String, minDomains: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col(idCol), col("para_idx"))
    val att = occ
      .withColumn("__cfd", first(col("__domain")).over(w))
      .localCheckpoint()
    val qual = att.groupBy("cluster_id")
      .agg(countDistinct(col("__domain")).as("__ndom"),
        countDistinct(col("ph")).as("__nv"))
      .filter(col("__ndom") >= minDomains && col("__nv") >= 2)
      .select("cluster_id")
    att.join(qual, Seq("cluster_id"))
      .filter(col("__cfd") =!= col("__domain"))
      .select(col(idCol), col("para_idx"))
  }

  /** Cross-domain SYNDICATION STRIP — the actionable counterpart of
    * [[syndicationCatalog]], with KEEP-ORIGIN semantics: rebuild every
    * document excising occurrences of qualifying syndicated paragraphs
    * (>= `minDomains` distinct registered domains) whose FIRST
    * occurrence lives on a DIFFERENT domain. The origin domain keeps
    * every copy (its own repetition is [[templateStrip]]/dedup's job,
    * with different economics); copier domains lose all of theirs. This
    * is neither dedup's keep-first (which would keep exactly one page's
    * copy corpus-wide) nor the template family's drop-all (which would
    * delete the origin's content too): press-wire copy is CONTENT on
    * the wire service and noise everywhere else.
    *
    * Scale shape: the text-free paragraph rows are pinned (qualification
    * agg + attribution window read them); drop decisions ride (id,
    * para_idx) lists into the shared [[Dedup.rebuildDropping]] tail —
    * document text never shuffles. */
  def syndicationStrip(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      minDomains: Int = 3, grain: Int = 8): DataFrame = {
    val rows = Dedup.paragraphRows(
      docs.repartition(col(idCol))
        .withColumn("__domain", UrlCanon.registeredDomain(col(urlCol))),
      idCol, textCol, grain, carry = Seq("__domain"))
      .localCheckpoint()
    val qual = rows.groupBy("ph")
      .agg(countDistinct(col("__domain")).as("__nd"))
      .filter(col("__nd") >= minDomains)
      .select("ph")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ph").orderBy(col(idCol), col("para_idx"))
    val dropped = rows
      .withColumn("__fd", first(col("__domain")).over(w))
      .join(qual, Seq("ph"))
      .filter(col("__fd") =!= col("__domain"))
    Dedup.rebuildDropping(docs, idCol, textCol, grain, dropped)
  }

  /** Paragraph occurrences carrying their TEXT and position: the
    * [[occKeys]] shape plus `__para` (for signature computation) — used
    * by the fuzzy-syndication INDEX family, where the distilled state
    * must be buildable without a second chunking pass. */
  private def occWithText(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      grain: Int): DataFrame =
    docs.repartition(col(idCol))
      .withColumn("__domain", UrlCanon.registeredDomain(col(urlCol)))
      .select(col(idCol), col("__domain"),
        posexplode(graft.functions.CdcParagraphs(col(textCol), grain))
          .as(Seq("para_idx", "__para")))
      .select(col(idCol), col("__domain"),
        col("para_idx").cast("long").as("para_idx"),
        md5(col("__para")).as("ph"), col("__para"))

  /** Persistable FUZZY syndication index — [[syndicationIndex]]'s
    * near-dup twin and the paragraph-grain instance of the
    * [[Incremental.signatureIndex]] pattern: ONE row per distinct corpus
    * paragraph variant `ph`, carrying everything a later ingest batch
    * needs to strip near-dup syndication WITHOUT re-reading (or
    * re-clustering) corpus text —
    *
    *   - `sh` / `bandkeys`: the variant's shingle set and minhash LSH
    *     band keys (the [[FuzzyOp]]-style operating point; the SAME
    *     md5-portable family as the in-corpus clustering, so index and
    *     full-pass candidates agree);
    *   - `domains`: the distinct registered domains the variant occurs
    *     on (sorted for determinism), `n_occ` its occurrence count;
    *   - `first_doc`/`first_idx`/`first_domain`: the variant's globally
    *     first occurrence by (doc id, position) — origin attribution.
    *
    * O(distinct ph) rows, each a ≤`grain`-token paragraph's worth of
    * state. Append each accepted batch's rows per generation; duplicate
    * `ph` generations re-aggregate at use (domain sets union, first keys
    * re-min, signatures are identical for identical text). */
  def fuzzySyndicationIndex(
      docs: DataFrame, urlCol: String, idCol: String, textCol: String,
      grain: Int = 16, shingleK: Int = 1, numHashes: Int = 64,
      bands: Int = 16): DataFrame =
    occWithText(docs, urlCol, idCol, textCol, grain)
      .groupBy("ph")
      .agg(min(col("__para")).as("para"), // identical per ph (md5 key)
        sort_array(collect_set(col("__domain"))).as("domains"),
        count(lit(1)).as("n_occ"),
        min(struct(col(idCol).cast("long").as("d"), col("para_idx").as("i"),
          col("__domain").as("dom"))).as("__fk"))
      .withColumn("sh", SimJoin.shingleSet(col("para"), shingleK))
      .withColumn("bandkeys", SimJoin.bandKeysOf(col("sh"), numHashes, bands))
      .select(col("ph"), col("para"), col("sh"), col("bandkeys"),
        col("domains"), col("n_occ"), col("__fk.d").as("first_doc"),
        col("__fk.i").as("first_idx"), col("__fk.dom").as("first_domain"))

  /** INCREMENTAL fuzzy syndication strip, keep-origin — completes the
    * exact/fuzzy symmetry (exact templates q315, exact syndication q327;
    * fuzzy templates/syndication previously had only full-recompute
    * paths): rebuild a new ingest batch with near-dup-syndicated
    * paragraphs excised, judged against the corpus's
    * [[fuzzySyndicationIndex]] ALONE — corpus text is never re-read and
    * the corpus is never re-clustered.
    *
    * RULE (radius-1, the batch's-eye view of the fuzzy family): a batch
    * occurrence is dropped iff its matched index neighborhood — every
    * corpus variant sharing an LSH band whose shingle sets pass the
    * exact integer-Jaccard verify (`jacNum`/`jacDen`), the SAME
    * candidate+verify rule as the in-corpus clustering — (a) spans >=
    * `minDomains` distinct registered domains counting the batch
    * occurrence's own, (b) has >= 2 distinct variants counting the batch
    * paragraph itself (the family's structural floor: one variant
    * byte-identical everywhere is the EXACT rule's case, q327), and (c)
    * the batch domain differs from the neighborhood's origin (the
    * globally-first occurrence among matched variants, by (doc id,
    * position)). This is deliberately ONE hop: a chain A~B~C where the
    * batch paragraph matches only A does not pool C's domains — the
    * conservative ingest-time gate; transitive pooling (and
    * batch-internal families) remain the release-time full pass's job
    * ([[fuzzySyndicationStrip]]). Batch ids must not collide with corpus
    * ids (attribution compares raw keys), and index generations must
    * share this call's grain/shingle/minhash operating point (the
    * [[templateStripIncremental]] silent-miss caveat).
    *
    * Scale shape: per-batch cost is independent of corpus size beyond
    * the index's O(distinct ph) rows — batch signatures are map-side;
    * the candidate join is banded (quadratic only in-bucket); the
    * neighborhood stats aggregate at matched-pair grain; drops ride
    * (id, para_idx) into the shared [[Dedup.rebuildDropping]] tail. The
    * re-aggregated index and the batch occurrence frame are pinned
    * (each has >= 2 consumers — the §8.16 rule). */
  def fuzzySyndicationStripIncremental(
      index: DataFrame, batch: DataFrame,
      urlCol: String, idCol: String, textCol: String,
      minDomains: Int = 3, grain: Int = 16, shingleK: Int = 1,
      numHashes: Int = 64, bands: Int = 16,
      jacNum: Int = 4, jacDen: Int = 5): DataFrame = {
    // duplicate ph generations (appended batches) re-aggregate: domain
    // sets union, first keys re-min, signatures identical per ph; the
    // string shingle set is hashed into the kernel's verify form here
    val ix = SimJoin.pin(index.groupBy("ph")
      .agg(min(col("sh")).as("__ish"), min(col("bandkeys")).as("bandkeys"),
        array_distinct(flatten(collect_list(col("domains")))).as("domains"),
        min(struct(col("first_doc").as("d"), col("first_idx").as("i"),
          col("first_domain").as("dom"))).as("__fk"))
      .withColumnRenamed("ph", "k")
      .withColumn("v", SimJoin.hashedSet(col("__ish")))
      .withColumn("n", size(col("__ish")))
      .drop("__ish")) // band explode + verify + neighborhood stats
    val bOcc = occWithText(batch, urlCol, idCol, textCol, grain)
      .localCheckpoint() // variant distinct + drop join
    val bv = SimJoin.pin(SimJoin.prep(
      bOcc.groupBy("ph").agg(min(col("__para")).as("para")),
      Seq(col("ph").as("k")), col("para"), shingleK, numHashes, bands))
    // exact Jaccard verify — the in-corpus clustering's decider (band
    // share is only the candidate generator); bph == iph (an exact replay
    // of an indexed variant) is a valid self-match
    val matches = SimJoin.join(bv, ix, SimJoin.atLeast(jacNum, jacDen))
      .select(col("k_a").as("bph"), col("k_b").as("iph"))
    val perB = matches
      .join(ix.df.select(col("k").as("iph"), col("domains"), col("__fk")),
        "iph")
      .groupBy("bph")
      .agg(array_distinct(flatten(collect_list(col("domains")))).as("cdoms"),
        (countDistinct(when(col("iph") =!= col("bph"), col("iph"))) + lit(1))
          .as("nvar"),
        min(col("__fk")).as("__ok"))
    val dropped = bOcc
      .join(perB, bOcc("ph") === perB("bph"))
      .filter(
        size(array_distinct(array_union(col("cdoms"),
          array(col("__domain"))))) >= minDomains &&
        col("nvar") >= 2 && col("__domain") =!= col("__ok.dom"))
      .select(col(idCol), col("para_idx"))
    Dedup.rebuildDropping(batch, idCol, textCol, grain, dropped)
  }
}
