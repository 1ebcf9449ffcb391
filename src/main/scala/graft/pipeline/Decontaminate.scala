package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination for training corpora: flag documents that
  * share any word-level n-gram with an evaluation/benchmark set (the
  * GPT-3 appendix-C / Pile methodology — 13-grams for GPT-3, 8-grams as
  * the common modern floor).
  *
  * Scale shape: the benchmark side is small (eval suites are at most
  * ~10^6 documents / ~10^8 n-grams) — its DISTINCT n-gram hashes are
  * broadcast, so the 100 TB corpus side is never shuffled at all: n-gram
  * generation, hashing, and the semi-join probe are all map-side over the
  * corpus scan, and the only aggregation keys on doc id within the
  * already-partitioned corpus. Nothing in the plan scales with corpus
  * size except the map work itself.
  */
object Decontaminate {

  /** Lowercased whitespace tokens — decontamination is case-insensitive
    * (benchmark text and training text rarely agree on casing). */
  private def lowerTokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** The k-token shingles of `text` as strings (docs shorter than k tokens
    * contribute their whole text as one shingle so short benchmark prompts
    * still match verbatim copies). Native single-pass kernel
    * ([[graft.functions.ShingleJoin]]); hashing happens AFTER the explode
    * as a codegen'd column op. */
  private def grams(text: Column, n: Int): Column =
    graft.functions.ShingleJoin(lowerTokens(text), n)

  /** (id, __g) rows: one per n-gram occurrence, hashed post-explode.
    * The input is repartitioned round-robin before the CPU-dense gram
    * explode: a small corpus file arrives as one scan partition, which
    * would serialize tokenization on a single core (same fix as the dedup
    * operators). On a real cluster the scan is already wide and this moves
    * each (id, text) row exactly once. */
  private def gramRows(df: DataFrame, idCols: Seq[Column], text: Column,
      n: Int): DataFrame =
    df.select(idCols :+ text.as("__t"): _*)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(idCols :+ explode(grams(col("__t"), n)).as("__gs"): _*)
      .select(idCols :+ xxhash64(col("__gs")).as("__g"): _*)

  /** Contaminated documents: every doc from `docs` sharing at least one
    * n-gram with `bench`, with the count of distinct matching n-grams.
    * Output: (idCol, n_hits) — one row per contaminated document.
    */
  def contaminated(
      docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 8): DataFrame = {
    val benchGrams = gramRows(bench, Nil, col(benchTextCol), n).distinct()
    gramRows(docs, Seq(col(idCol)), col(textCol), n)
      // broadcast semi-join: the corpus side stays where the scan put it
      .join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .groupBy(idCol)
      // per-occurrence rows survive the explode now — count DISTINCT grams
      .agg(countDistinct(col("__g")).as("n_hits"))
  }

  /** [[contaminated]] with a Bloom-filter prefilter on the corpus side —
    * the shape that survives a benchmark set too large to broadcast as an
    * exact hash set: the bench grams fold into a fixed-size Bloom filter
    * (driver-bounded, ~1.2 bytes/item at 1% FPP), the 100 TB corpus gram
    * stream is prefiltered by a codegen'd `might_contain` BEFORE the
    * broadcast semi-join, and the semi-join then removes Bloom false
    * positives — so the result is bit-identical to [[contaminated]] (the
    * same oracle checks both) while the join probe sees only the ~FPP
    * fraction of corpus grams. Uses Spark's native BloomFilterAggregate /
    * BloomFilterMightContain (the runtime-row-level-filtering kernels).
    */
  def bloomContaminated(
      docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 8,
      expectedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val benchGrams = gramRows(bench, Nil, col(benchTextCol), n).distinct()
      .localCheckpoint() // evaluated twice: bloom build + verify join
    val bloomBytes = benchGrams
      .agg(GraftBridge.col(new BloomFilterAggregate(
        GraftBridge.expr(col("__g")),
        Literal(expectedItems), Literal(expectedItems * 8))
        .toAggregateExpression()).as("bf"))
      .head.getAs[Array[Byte]](0)
    val empty = docs.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      new org.apache.spark.sql.types.StructType()
        .add(idCol, org.apache.spark.sql.types.LongType)
        .add("n_hits", org.apache.spark.sql.types.LongType))
    if (bloomBytes == null) return empty // empty benchmark set
    gramRows(docs, Seq(col(idCol)), col(textCol), n)
      .filter(GraftBridge.col(BloomFilterMightContain(
        Literal(bloomBytes, BinaryType), GraftBridge.expr(col("__g")))))
      .join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .groupBy(idCol)
      .agg(countDistinct(col("__g")).as("n_hits"))
  }

  /** The benchmark side's distinct n-gram hashes as a standalone frame —
    * compute once (and pin) when many batches will probe the same suite,
    * e.g. the streaming gate ([[graft.streaming.StreamGate]]): re-deriving
    * it per micro-batch would re-tokenize the benchmark every trigger. */
  def benchGramSet(bench: DataFrame, benchTextCol: String, n: Int): DataFrame =
    gramRows(bench, Nil, col(benchTextCol), n).distinct()

  /** [[clean]] against an already-computed [[benchGramSet]] frame. */
  def cleanAgainstGrams(
      docs: DataFrame, idCol: String, textCol: String,
      benchGrams: DataFrame, n: Int): DataFrame = {
    val hit = gramRows(docs, Seq(col(idCol)), col(textCol), n)
      .join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .select(col(idCol)).distinct()
    // no broadcast hint on `hit`: it derives from the corpus side and is
    // only small in practice, not by construction — let AQE decide
    docs.join(hit, Seq(idCol), "left_anti")
  }

  /** The complement view a pipeline actually materializes: `docs` with
    * contaminated rows removed (same broadcast anti-join shape). */
  def clean(
      docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 8): DataFrame =
    cleanAgainstGrams(docs, idCol, textCol,
      benchGramSet(bench, benchTextCol, n), n)

  /** Cross-document repeated passages (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better": long verbatim passages recurring
    * across documents are the highest-value dedup target). Per document:
    * total n-gram positions, positions whose n-gram occurs in MORE THAN
    * ONE document, and the covered fraction — the signal a pipeline
    * thresholds to drop boilerplate-heavy docs.
    *
    * Scale shape: unlike [[contaminated]] there is no small side — the
    * multi-doc gram set derives from the corpus itself, so both the
    * distinct-docs-per-gram aggregation and the marking join shuffle on
    * the gram hash (plain keyed shuffles, combine-enabled); the final
    * per-doc rollup keys on doc id. Nothing quadratic anywhere.
    */
  def crossDocRepeats(
      docs: DataFrame, idCol: String, textCol: String, n: Int = 16): DataFrame = {
    val g = gramRows(docs, Seq(col(idCol)), col(textCol), n)
    val multiDoc = g.distinct()
      .groupBy("__g").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > 1)
      .select(col("__g"), lit(1).as("__rep"))
    g.join(multiDoc, Seq("__g"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__rep").isNotNull, 1).otherwise(0)).as("n_repeated"))
      .withColumn("repeated_frac", col("n_repeated") / col("n_grams"))
  }

  /** Multi-benchmark contamination MATRIX: [[contaminated]] generalized to
    * many eval suites and several n-gram sizes at once — the per-release
    * report a data card actually publishes ("X% of the corpus shares a
    * 13-gram with MMLU, Y% a 5-gram with GSM8K"), GPT-3 appendix-C style
    * where each benchmark gets its own overlap rate rather than one
    * merged bench set.
    *
    * Output: one row per (benchmark, ngram_n) — guaranteed present even
    * at zero hits — with the contaminated-doc count, corpus size and the
    * rate in basis points (integer division; all-integer output so the
    * report is engine-replayable bit-for-bit).
    *
    * Scale shape: same as [[contaminated]] — bench gram hashes broadcast
    * per n, the corpus side is probed map-side where the scan put it, and
    * the only aggregation keys on (benchmark, doc). The corpus is scanned
    * once per n-gram size (sizes are few and fixed); nothing scales with
    * corpus size except the map work.
    */
  def contaminationMatrix(
      docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchKeyCol: String, benchTextCol: String,
      ns: Seq[Int]): DataFrame = {
    val spark = docs.sparkSession
    // the denominator stays INSIDE the plan (1-row broadcast frame): a
    // driver-side count() would fire an eager extra corpus scan at
    // construction time even if the report is never evaluated
    val tot = docs.agg(count(lit(1)).as("__nd"))
    val benchKeys = bench.select(col(benchKeyCol).as("benchmark")).distinct()
    val perN = ns.map { n =>
      val benchGrams = gramRows(
          bench, Seq(col(benchKeyCol).as("benchmark")), col(benchTextCol), n)
        .distinct()
      gramRows(docs, Seq(col(idCol)), col(textCol), n)
        // inner broadcast join (not semi: the benchmark key must survive),
        // then distinct (benchmark, doc) — a doc hitting many grams of one
        // suite still counts once
        .join(broadcast(benchGrams), Seq("__g"))
        .select(col("benchmark"), col(idCol)).distinct()
        .groupBy("benchmark").agg(count(lit(1)).as("n_contaminated"))
        .withColumn("ngram_n", lit(n.toLong))
    }.reduce(_ unionByName _)
    benchKeys.crossJoin(
        spark.createDataFrame(ns.map(n => Tuple1(n.toLong))).toDF("ngram_n"))
      .join(perN, Seq("benchmark", "ngram_n"), "left")
      .crossJoin(broadcast(tot))
      .select(col("benchmark"), col("ngram_n"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        col("__nd").as("n_docs"),
        // decimal, not Column./ (double): an integral quotient must stay
        // exact past 2^53 for the report to be engine-replayable
        (coalesce(col("n_contaminated"), lit(0L)).cast("decimal(38,0)")
          * 10000 / col("__nd")).cast("long").as("rate_bp"))
  }

  /** SURGICAL span decontamination: instead of dropping every document
    * sharing an n-gram with the benchmark ([[clean]] — which discards a
    * whole book over one quoted test item), excise ONLY the contaminated
    * token spans and keep the rest (the span-level counterpart of Lee et
    * al.'s substring dedup, applied to benchmark overlap). A kept token is
    * one not covered by any matching n-gram window [p, p+n-1].
    *
    * Matching is case-insensitive (both sides lowercase, like the rest of
    * the family); the emitted text preserves the ORIGINAL token case and
    * normalizes inter-token whitespace to single spaces (documented — the
    * surgery is token-level, not byte-level). Documents shorter than n
    * tokens are never excised (no full n-gram can match; the whole-text
    * fallback of [[contaminated]] is a detection convenience, not a span).
    *
    * Scale shape: bench gram hashes broadcast; the corpus gram probe is
    * map-side; matched (id, position) pairs — benchmark-overlap-sized, not
    * corpus-sized — aggregate to one positions array per AFFECTED doc, and
    * only those docs pay the interpreted higher-order rebuild (HOFs on the
    * pruned candidate set, per the house rule); untouched docs flow through
    * a codegen'd array_join. Output: (id, cleaned_text, n_tokens,
    * n_removed).
    */
  def exciseSpans(
      docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 8): DataFrame = {
    val benchGrams = benchGramSet(bench, benchTextCol, n)
    val toksO = split(trim(col(textCol)), "\\s+")
    val toksL = lowerTokens(col(textCol))
    val base = docs
      .select(col(idCol), toksO.as("__t"), toksL.as("__tl"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    val matched = base
      .select(col(idCol), posexplode(graft.functions.ShingleJoin(
          col("__tl"), n, wholeTextFallback = false))
        .as(Seq("__p", "__gs")))
      .select(col(idCol), col("__p"), xxhash64(col("__gs")).as("__g"))
      .join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .groupBy(idCol).agg(collect_set(col("__p")).as("__m"))
    val hit = base.join(matched, Seq(idCol))
      .withColumn("__kept", filter(
        zip_with(col("__t"), sequence(lit(0), size(col("__t")) - 1),
          (t, i) => when(exists(col("__m"),
            m => i >= m && i <= m + (n - 1)), lit(null)).otherwise(t)),
        t => t.isNotNull))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("cleaned_text"),
        size(col("__t")).cast("long").as("n_tokens"),
        (size(col("__t")) - size(col("__kept"))).cast("long").as("n_removed"))
    val untouched = base.join(matched, Seq(idCol), "left_anti")
      .select(col(idCol),
        array_join(col("__t"), " ").as("cleaned_text"),
        size(col("__t")).cast("long").as("n_tokens"),
        lit(0L).as("n_removed"))
    hit.unionByName(untouched)
  }

  /** Near-dup contamination: corpus documents that are MinHash near-dups
    * of a benchmark item — the paraphrase-level leak the exact-n-gram
    * check ([[contaminated]]) misses and the embedding check
    * ([[semanticContamination]]) needs vectors for. The standard lexical
    * middle ground (GPT-3/Llama-style fuzzy contamination analysis):
    * shingle BOTH sides, md5-portable MinHash signatures
    * ([[graft.functions.MinHashSig]] — the q55 SQL-replayable family),
    * banded bucket join corpus×bench, exact Jaccard verify — the
    * two-sided mode of the [[SimJoin]] kernel.
    *
    * Tokenization matches [[Dedup.minhashNearDupPairs]] (raw
    * whitespace tokens, NOT lowercased) so the corpus near-dup and
    * contamination passes agree on what "near duplicate" means.
    *
    * 100 TB posture: the bench side is benchmark-sized → its banded keys
    * and hashed shingle sets BROADCAST; corpus shingles/signatures are computed
    * map-only and only band-bucket collisions reach the verify — never
    * all-pairs, and corpus text never shuffles (ids + band keys only).
    *
    * Output: one row per contaminated (corpus id, bench id) pair with
    * the exact jaccard. */
  def nearDupContaminated(
      corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    def prep(df: DataFrame, id: String, text: String) =
      SimJoin.pin(SimJoin.prep(df, Seq(col(id).as("k")), col(text),
        shingleK, numHashes, bands))
    // one pass each; reused by the candidate join AND the verify join
    val corpusSide = prep(corpus.repartition(col(idCol)), idCol, textCol)
    val benchSide = prep(bench, benchIdCol, benchTextCol).copy(broadcast = true)
    SimJoin.join(corpusSide, benchSide, SimJoin.atLeast(threshold),
        broadcastB = true)
      .select(col("k_a").as(idCol), col("k_b").as("bench_id"),
        round(SimJoin.jaccard(col("inter"), col("union")), 4).as("jaccard"))
  }

  /** SEMANTIC decontamination: training vectors whose embedding is
    * near-identical to any benchmark/test vector (paraphrased test
    * leakage that n-gram overlap misses — the embedding-space
    * complement of [[contaminated]]).
    *
    * Scale shape: the benchmark side is small by definition, so it
    * broadcasts and the train side streams map-only through a
    * broadcast nested-loop join — exact (no LSH recall loss), no
    * shuffle of train vectors; only pairs over the threshold reach the
    * per-train-id rollup (combine-enabled keyed agg). Exactness also
    * makes the operator oracle-checkable, unlike the LSH path
    * ([[Similarity.nearDupPairs]]) it complements at corpus×corpus scale.
    *
    * Output per contaminated train id: hit count and max cosine. */
  def semanticContamination(
      train: DataFrame, trainIdCol: String, trainEmbCol: String,
      bench: DataFrame, benchEmbCol: String,
      threshold: Double): DataFrame = {
    def withNorm(df: DataFrame, emb: String, id: Option[String],
                 prefix: String): DataFrame = {
      val cols = id.map(c => col(c).as(s"${prefix}id")).toSeq ++ Seq(
        col(emb).as(s"${prefix}emb"),
        sqrt(aggregate(col(emb), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")))
          .as(s"${prefix}nrm"))
      df.select(cols: _*)
    }
    val t = withNorm(train, trainEmbCol, Some(trainIdCol), "t_")
    val b = withNorm(bench, benchEmbCol, None, "b_")
    // zero-norm embeddings have no defined cosine: drop them explicitly
    // (Spark non-ANSI x/0 is NULL and would silently drop the row anyway,
    // but DuckDB's NaN sorts greatest and would pass a >= threshold — the
    // engines must agree by construction, not by fixture luck)
    t.filter(col("t_nrm") > 0.0).join(broadcast(b.filter(col("b_nrm") > 0.0)))
      .withColumn("cosine", round(
        graft.functions.DotProduct(col("t_emb"), col("b_emb")) /
          (col("t_nrm") * col("b_nrm")), 4))
      .filter(col("cosine") >= threshold)
      .groupBy(col("t_id").as(trainIdCol))
      .agg(count(lit(1)).as("n_hits"), max("cosine").as("max_cosine"))
  }
}
