package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Declared queries for the text / dedup / similarity surface (SURVEY §2 M,
  * north-star LLM-pipeline pillars) over `documents` and `embeddings`.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  /** M4: per-document stats — chars, whitespace tokens, distinct tokens,
    * regex (BPE-ish pre-tokenizer) tokens.
    */
  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir).documents.select(
      col("doc_id"),
      col("n_chars"),
      TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"),
      size(array_distinct(TextFunctions.tokens(col("text")))).cast("bigint").as("n_uniq"),
      TextFunctions.regexTokenCount(col("text")).cast("bigint").as("n_subword")
    ).orderBy(col("doc_id"))

  /** M4: corpus profile by (lang, source). */
  def docProfile(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir).documents
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 2).as("avg_chars"),
        sum(TextFunctions.tokenCount(col("text"))).cast("bigint").as("total_tokens")
      )
      .orderBy(col("lang"), col("source"))

  /** M4: global token frequency top-20 (explode + count + top-k). */
  def tokenTopK(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir).documents
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(20)

  /** M1: exact-dup profile per source: docs vs distinct text hashes. */
  def dedupExactCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir).documents
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_uniq")
      )
      .orderBy(col("source"))

  /** Near-dup ground truth: exact 3-gram Jaccard pairs >= 0.8 via the
    * inverted-index shingle join (the planted near-duplicates in testdata).
    */
  def ngramJaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      Tables.spreadScan(Tables(spark, sfDir).documents), "doc_id", "text", n = 3, threshold = 0.8)

  /** The 100 TB variant of the above: hot shingles (doc frequency > cap)
    * are dropped before the pair join, bounding the worst shingle's
    * contribution to the shuffle at cap² pairs instead of df². The cap is
    * deterministic, so this path is fully oracle-matched too — `common`
    * comes from capped shingles while union sizes stay uncapped, making
    * the capped jaccard a conservative (never inflated) estimate.
    */
  def ngramJaccardCapped(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      Tables(spark, sfDir).documents, "doc_id", "text", n = 3, threshold = 0.7,
      maxShingleDf = Some(4))

  /** Containment near-dup: pairs where the smaller doc's 3-gram shingle
    * set is ≥90% inside the other's — catches subsumption (quote-in-doc,
    * boilerplate-wrapped page) that Jaccard's union denominator dilutes.
    */
  def ngramContainmentPairs(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.ngramContainmentPairs(
      Tables.spreadScan(Tables(spark, sfDir).documents), "doc_id", "text", n = 3, threshold = 0.9)

  /** M3: exact cosine top-5 neighbors for query vectors vec_id < 10. */
  def cosineTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir).embeddings
    Similarity.bruteTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
  }

  /** M3: per-label embedding norm profile (vector math via the custom
    * codegen expressions).
    */
  def embeddingNorms(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir).embeddings
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(graft.functions.VectorFunctions.l2Norm(col("embedding"))), 6)
          .as("avg_norm")
      )
      .orderBy(col("label"))

  /** Custom UDAF surface: per-label embedding centroid via the
    * [[graft.functions.VectorMean]] TypedImperativeAggregate, exploded to
    * (label, dim, value) rows for engine-agnostic compare.
    */
  def embeddingCentroids(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir).embeddings
      .groupBy(col("label"))
      .agg(graft.functions.VectorMean(col("embedding")).as("centroid"))
      .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "value")))
      .select(col("label"), col("dim").cast("bigint").as("dim"),
        round(col("value"), 6).as("value"))
      .orderBy(col("label"), col("dim"))

  /** M3 metric breadth: Euclidean top-3 neighbors for query vectors
    * vec_id < 5 via the codegen [[graft.functions.EuclideanDistance]]
    * (DuckDB oracle: `list_distance`). ASCENDING order — nearest first.
    */
  def euclideanTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, sfDir).embeddings
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dist").asc, col("n_id").asc)
    q.join(e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")),
        col("q_id") =!= col("n_id"))
      .withColumn("dist",
        graft.functions.VectorFunctions.euclidean(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("dist"), 6).as("dist"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** M3 ground truth: EXACT all-pairs cosine >= 0.4 (a_id < b_id). Small
    * at test scale (59 pairs at sf0.01) and fully DuckDB-expressible, so
    * the ground truth the ANN paths (LSH/IVF/simhash buckets) are
    * recall-pinned against in SimilaritySpec is ITSELF an oracled row —
    * the approximate queries are rows-only by design, but their yardstick
    * no longer is. (All-pairs is the test-scale oracle only; the scale
    * paths are the bucketed ones.)
    */
  def embeddingPairsExact(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir).embeddings
    // spread the streamed side of the nested-loop pair join across the
    // cores: the all-pairs cosine is O(n²·dim) COMPUTE over a byte-small
    // input, and the BroadcastNestedLoopJoin keeps the streamed side's
    // partitioning — a single parquet split would serialize the whole
    // quadratic kernel onto one task (measured: 3.3 s single-task).
    // spreadScanWide, not the byte-derived spreadScan: bytes
    // under-estimate a quadratic kernel, and on a real cluster the
    // adaptive guard makes this a no-op instead of a down-partitioning
    val a = Tables.spreadScanWide(
      e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb")))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos",
        graft.functions.VectorFunctions.cosineSim(col("a_emb"), col("b_emb")))
      .where(col("cos") >= 0.4)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** M3 compression path: top-5 neighbors over PRODUCT-QUANTIZED codes
    * (32x smaller than raw vectors) via ADC — approximate scores, so
    * rows-only here; recall is pinned against the brute-force oracle
    * chain in PqSpec.
    */
  def pqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir).embeddings
    Pq.pqTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 5,
      buildSampleFraction = 0.5, shortlist = 50)
  }

  /** M3 composition path (FAISS IndexIVFPQ + refine shape): coarse IVF
    * cells prune, ADC over PQ codes scores only probed cells, exact
    * cosine re-ranks the shortlist. Approximate candidate generation, so
    * rows-only; the recall bound vs pure IVF and the standing-index
    * equivalence are pinned in SimilaritySpec; the latency-below-both-
    * parents figure at 100k vectors is the round-7 IVF-PQ table in
    * BASELINE.md.
    */
  def ivfPqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir).embeddings
    Ivf.ivfPqTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 5,
      nCells = 8, nProbe = 4, m = 16, pqCells = 16, shortlist = 50,
      buildSampleFraction = 0.2)
  }

  /** M2 incremental path, ORACLED: near-dups of an incoming batch (odd
    * doc_ids) against a standing MinHash index over the lake (even
    * doc_ids), with the EXACT-verify serving shape
    * ([[Dedup.incrementalNearDupVerified]]): the index generates
    * candidates (band-key collisions — no corpus re-shingling for the
    * probe), exact 3-gram Jaccard against candidate corpus docs confirms.
    * Precision 1 by construction; the 16×2 banding's per-pair miss at
    * the 0.7 threshold is ~2e-5 (planted dups near 0.9: ~1e-11) and the
    * hash family is seeded, so the output deterministically equals the
    * brute-force cross-half Jaccard set the oracle computes. The
    * signature-estimate variant ([[Dedup.incrementalNearDup]] — no text
    * touched at all) stays pinned in IncrementalDedupSpec.
    */
  def incrementalNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.spreadScan(Tables(spark, sfDir).documents)
    val corpus = d.where(col("doc_id") % 2 === 0)
    val index = Dedup.buildMinhashIndex(
      corpus, "doc_id", "text", n = 3, bands = 16, rowsPerBand = 2)
    Dedup.incrementalNearDupVerified(
      d.where(col("doc_id") % 2 === 1), index, corpus, "doc_id", "text",
      n = 3, threshold = 0.7)
  }

  /** Tokenizer learning: the first 10 BPE merge rules of the corpus —
    * iterative. Each round's pair counts stay distributed; only the ONE
    * winning rule row reaches the driver. Content-oracled by
    * [[bpeMergesOracle]] (a static per-rank CTE chain deriving every
    * rule from the raw corpus); BpeSpec additionally pins exact equality
    * with the single-machine reference algorithm.
    */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    Bpe.mergesDF(Tables(spark, sfDir).documents, "text", numMerges = 10)

  /** Model-based quality filter: distill the Gopher rule verdict into a
    * seeded decision tree over cheap map-only features, then score the
    * corpus (the fastText-classifier step of CCNet-style pipelines).
    * Rows-only (model outputs aren't SQL-expressible); distillation AUC,
    * determinism, and score/label consistency are pinned in
    * QualityClassifierSpec.
    */
  def qualityModelScores(spark: SparkSession, sfDir: String): DataFrame = {
    val trained = QualityClassifier.train(spark, sfDir)
    // NOT spread: measured slower with the exchange (3.44 vs 2.51 s) —
    // the fresh-train pass dominates and tree scoring is cheap per row
    QualityClassifier.score(Tables(spark, sfDir).documents, trained)
      .select(col("doc_id"), round(col("quality_prob"), 6).as("quality_prob"))
      .orderBy(col("doc_id"))
  }

  /** K5/K7 + M4 composition — the STANDING-model scoring shape: the
    * distilled tree is trained and PROMOTED once per corpus (RunLog
    * registry, like the reference's model-registry scoring,
    * 03-work with ML models.py), and the declared query is load + score
    * ONLY — a map-only plan with no training stage, which is what every
    * recurring 100 TB scoring job runs. Rows-only; save/load score
    * identity and the exchange-free plan are pinned in
    * QualityClassifierSpec.
    */
  /** The promoted standing quality tree for the corpus at `sfDir`
    * (training + promoting on first use) — shared by the standing query
    * and the dynamic oracle, so the SQL-compiled tree is byte-for-byte
    * the one the query scored with.
    */
  def standingQualityModel(spark: SparkSession, sfDir: String):
      org.apache.spark.ml.classification.DecisionTreeClassificationModel = {
    val sf = java.nio.file.Paths.get(sfDir).getFileName.toString
    val runDir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_models", sf)
    java.nio.file.Files.createDirectories(runDir)
    val log = new graft.ml.ModelRegistry(runDir.toString)
    if (log.currentVersion("quality_tree", "production") == 0L)
      log.promote(QualityClassifier.train(spark, sfDir).model,
        "quality_tree", "production"): Unit
    log.loadDecisionTree("quality_tree", "production")
  }

  def qualityModelScoresStanding(spark: SparkSession, sfDir: String): DataFrame = {
    val model = standingQualityModel(spark, sfDir)
    QualityClassifier.score(Tables(spark, sfDir).documents, model)
      .select(col("doc_id"), round(col("quality_prob"), 6).as("quality_prob"))
      .orderBy(col("doc_id"))
  }

  /** The corpus's standing BPE rule table (learn-once, load-everywhere
    * — [[Bpe.saveMerges]]), shared by the serving query AND its
    * run-time-generated oracle so both replay the SAME seeded fit.
    */
  def standingBpeMerges(spark: SparkSession, sfDir: String): Seq[Bpe.Merge] = {
    val sf = java.nio.file.Paths.get(sfDir).getFileName.toString
    val path = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_models", sf, "bpe_merges").toString
    if (!graft.sources.LakeTable(spark, path).exists)
      Bpe.saveMerges(spark,
        Bpe.learnMerges(Tables(spark, sfDir).documents, "text",
          numMerges = 40, sampleFraction = 0.5), path)
    Bpe.loadMerges(spark, path)
  }

  /** M4 standing-tokenizer shape (the BPE twin of
    * [[qualityModelScoresStanding]]): merge rules are learned and saved
    * ONCE per corpus as a lake artifact ([[Bpe.saveMerges]]), and the
    * declared query is load + [[Bpe.encodeScalable]] ONLY — a map-only
    * plan whose size is constant in the rule count, which is what every
    * recurring 100 TB tokenize job runs. Content-oracled by
    * [[bpeEncodeOracle]] (the learned rules inlined as a DuckDB replace
    * chain); token identity across save/load and the Exchange-free
    * serving plan are pinned in BpeSpec.
    */
  def bpeEncodeStanding(spark: SparkSession, sfDir: String): DataFrame = {
    val rules = standingBpeMerges(spark, sfDir)
    Bpe.encodeScalable(Tables(spark, sfDir).documents, "text", rules)
      .select(col("doc_id"), size(col("bpe_tokens")).cast("bigint").as("n_tokens"),
        // Joined to a flat string (the q_array_agg convention): the
        // driver's pandas canonicalizer cannot sort array cells.
        concat_ws(" ", slice(col("bpe_tokens"), 1, 8)).as("head_tokens"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[bpeEncodeStanding]], generated at Verify time —
    * the artifact-inlining pattern applied to the LEARNED MERGE TABLE:
    * the standing rules become a rank-ordered chain of literal string
    * rewrites DuckDB replays per word. Encoding a word with rules
    * learned by [[Bpe.learnMerges]] IS the rank-ordered sequence of
    * left-to-right non-overlapping folds ([[Bpe.encode]]; PropertySpec
    * pins [[Bpe.encodeScalable]]'s equality to it), and one fold is
    * exactly one `replace` over a delimiter-wrapped symbol string: each
    * symbol rides as `|sym|`, so the pattern `|l||r|` matches only
    * whole-symbol adjacency, and scan-forward replacement reproduces
    * the fold's non-overlap (a just-merged symbol never re-pairs with
    * the next occurrence inside one rule, exactly like the fold's
    * accumulator). The `|` delimiter cannot collide: symbols are corpus
    * characters and their concatenations, and the generator refuses
    * (degrading the query to rows-only, its pre-promotion state) if a
    * learned symbol ever contains one.
    */
  def bpeEncodeOracle(spark: SparkSession, sfDir: String): String = {
    val rules = standingBpeMerges(spark, sfDir).sortBy(_.rank)
    def esc(s: String) = s.replace("'", "''")
    require(rules.forall(m => !m.left.contains("|") && !m.right.contains("|")),
      "BPE oracle delimiter collision: a learned symbol contains '|'")
    // the guard must cover the ENCODED text too, not just the learned
    // symbols: a document word containing a literal '|' would be
    // wrapped/split differently by the two engines (Spark treats it as
    // an ordinary character; the oracle's delimiter machinery would
    // shred it) — refuse, and the caller degrades the query to
    // rows-only, its pre-promotion state
    require(Tables(spark, sfDir).documents
      .where(org.apache.spark.sql.functions.col("text").contains("|"))
      .isEmpty,
      "BPE oracle delimiter collision: corpus text contains '|'")
    // innermost: wrap each character as |c|; then one literal rewrite
    // per rule, rank order = nesting order (rank 0 innermost)
    val chain = rules.foldLeft("""regexp_replace(w, '(.)', '|\1|', 'g')""") {
      (acc, m) =>
        s"replace($acc, '|${esc(m.left)}||${esc(m.right)}|', '|${esc(m.left + m.right)}|')"
    }
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    flatten(list_transform(
       |      list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w <> ''),
       |      w -> string_split(trim($chain, '|'), '||'))) AS bpe
       |  FROM documents)
       |SELECT doc_id, len(bpe)::BIGINT AS n_tokens,
       |  array_to_string(bpe[1:8], ' ') AS head_tokens
       |FROM toks ORDER BY doc_id""".stripMargin
  }

  /** DuckDB oracle for [[bpeMerges]] — the merge-LEARNING loop replayed
    * as a STATIC chain of per-rank CTE stages (no learned values
    * inlined, unlike [[bpeEncodeOracle]]: the oracle derives every rule
    * from the raw corpus itself). Stage k holds the word table after k
    * merges (`w{k}`, delimiter-wrapped symbol strings weighted by word
    * count), computes pair frequencies by unnesting adjacent symbol
    * positions, and takes the engine's exact argmax (freq DESC, l ASC,
    * r ASC — binary UTF-8 string order in both engines); stage k+1
    * applies the winner with the whole-symbol `replace` rewrite whose
    * equivalence to [[Bpe.applyMerge]]'s left-to-right non-overlapping
    * fold is argued at [[bpeEncodeOracle]]. The winning (l, r) reaches
    * stage k+1 as scalar subqueries over `r{k}` — SQL's spelling of the
    * one-row-to-the-driver step in [[Bpe.learnMerges]].
    *
    * Every CTE is `AS MATERIALIZED`: DuckDB inlines CTEs by default, and
    * with ~4 references per stage an inlined chain re-evaluates `w0`
    * O(4^ranks) times (measured: exhausts file handles at 10 ranks);
    * materialized, the whole replay is one pass per stage.
    *
    * Same delimiter guard as the encode oracle: a corpus containing a
    * literal '|' would be wrapped differently by the two engines —
    * refuse, and the caller degrades the query to rows-only, its
    * pre-promotion state.
    */
  def bpeMergesOracle(spark: SparkSession, sfDir: String): String = {
    require(Tables(spark, sfDir).documents
      .where(org.apache.spark.sql.functions.col("text").contains("|"))
      .isEmpty,
      "BPE merges oracle delimiter collision: corpus text contains '|'")
    val ranks = 10
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += """w0 AS MATERIALIZED (
               |  SELECT regexp_replace(word, '(.)', '|\1|', 'g') AS s, count(*)::BIGINT AS n
               |  FROM (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> w <> '')) AS word FROM documents)
               |  GROUP BY 1)""".stripMargin
    for (i <- 0 until ranks) {
      parts += s"""r$i AS MATERIALIZED (
                  |  SELECT pr.l AS l, pr.r AS r, sum(n)::BIGINT AS freq
                  |  FROM (SELECT unnest(list_transform(range(1, len(syms)), i -> {'l': syms[i], 'r': syms[i+1]})) AS pr, n
                  |        FROM (SELECT string_split(trim(s, '|'), '||') AS syms, n FROM w$i))
                  |  GROUP BY 1, 2 ORDER BY freq DESC, l ASC, r ASC LIMIT 1)""".stripMargin
      if (i < ranks - 1)
        parts += s"""w${i + 1} AS MATERIALIZED (
                    |  SELECT replace(s, '|' || (SELECT l FROM r$i) || '||' || (SELECT r FROM r$i) || '|',
                    |                    '|' || (SELECT l FROM r$i) || (SELECT r FROM r$i) || '|') AS s, n
                    |  FROM w$i)""".stripMargin
    }
    val unions = (0 until ranks)
      .map(i => s"""SELECT $i::INT AS rank, l AS "left", r AS "right", freq FROM r$i""")
      .mkString("\nUNION ALL ")
    "WITH " + parts.mkString(",\n") + "\nSELECT * FROM (" + unions + ") ORDER BY rank"
  }

  /** Unicode hygiene (the first normalization pass of every corpus
    * pipeline, [[graft.functions.TextNormalizeExpr]]): NFC composition +
    * control-character strip as one codegen expression. The fixture
    * plants a combining-accent sequence (e + U+0301 must compose to the
    * precomposed é) and a C0 control on every doc, so the oracle's
    * utf8proc NFC and the JVM Normalizer must agree byte-for-byte
    * through the md5.
    */
  def textNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" e\u0301cole\u0007fin"), (col("doc_id") % 7).cast("string"))
    val clean = graft.functions.TextExpressions.normalizeText(planted)
    Tables(spark, sfDir).documents
      .select(col("doc_id"), length(clean).cast("bigint").as("n_clean"),
        md5(clean).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** Training-data hygiene: PII scrubbing over text with planted
    * email/phone/IP payloads (the synthetic corpus has none, so each doc
    * gets a deterministic contact tail appended before redaction — both
    * engines build and scrub the identical string).
    */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = concat(
      col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or +1 (555) 010-99 from 10.0.0."),
      (col("doc_id") % 256).cast("string"))
    Tables.spreadScan(Tables(spark, sfDir).documents)
      .select(col("doc_id"), TextFunctions.redactPii(planted).as("clean"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination (the step before any training run): flag
    * candidate docs sharing >= 1 distinct 8-token gram with the benchmark
    * set (here: doc_id % 50 == 0), reporting how many grams leaked.
    * Inverted-index shape — candidates semi-join the benchmark gram set
    * on the gram key, so the work is |matching grams|, never |docs|²;
    * at 100 TB the (small) benchmark gram side broadcasts.
    */
  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.spreadScan(Tables(spark, sfDir).documents)
    val benchGrams = d.where(col("doc_id") % 50 === 0)
      .select(explode(TextFunctions.shingles(col("text"), 8)).as("g"))
      .distinct()
    d.where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), explode(TextFunctions.shingles(col("text"), 8)).as("g"))
      .distinct()
      .join(benchGrams, Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style pretraining quality filters (Rae et al. 2021, the
    * rule set most corpus pipelines start from): per-doc word count,
    * mean word length, symbol ratio, and 3-gram repetition, each with
    * its pass bound, plus the conjunction. Repetition uses the identity
    * `1 - |distinct 3-shingles| / (n_words - 2)` so it rides the
    * single-pass [[TextFunctions.shinglesOf]] expression — no
    * non-distinct shingle materialization (the lambda pipeline that
    * motivated ShinglesExpr). All metrics round to 6dp on both engines.
    */
  def gopherQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val nWords = size(toks).cast("bigint")
    val meanWl = round(
      length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
        greatest(nWords, lit(1L)), 6)
    val symbol = TextFunctions.punctRatio(col("text"))
    val rep3 = round(
      when(nWords >= 3,
        lit(1.0) - size(TextFunctions.shinglesOf(toks, 3)).cast("double") /
          (nWords - 2)).otherwise(0.0), 6)
    Tables.spreadScan(Tables(spark, sfDir).documents)
      .select(col("doc_id"), nWords.as("n_words"), meanWl.as("mean_word_len"),
        symbol.as("symbol_ratio"), rep3.as("rep3"))
      .withColumn("pass_all",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3, 10) &&
          col("symbol_ratio") < 0.1 &&
          col("rep3") < 0.3)
      .orderBy(col("doc_id"))
  }

  /** Temperature-based corpus mixing (the multinomial-sampling step of
    * multilingual pretraining, per mBERT/XLM-R: p_g ∝ c_g^α with α=0.5
    * flattening the language distribution toward rare languages). Rates
    * come from a 5-row broadcast aggregate; selection is a deterministic
    * per-row Bernoulli via an md5-derived uniform — the SAME hash both
    * engines compute, so even the sampled row SET is oracle-exact, not
    * just the rates. At 100 TB this is one broadcast join + a stateless
    * filter: no shuffle of the corpus.
    */
  /** M3 serving depth, ORACLED via the exhaustive probe (the argument
    * q_ann_sql_topk proved for the TVF spelling): [[IvfIndex.serveTopK]]
    * with nProbe = nCells probes EVERY cell, so the candidate set is the
    * whole corpus and the serve ranking (rounded cosine desc, vec_id
    * tie-break, self excluded) is exactly brute-force top-k — the
    * k-means cell ASSIGNMENT cancels out of the answer by construction,
    * and the entire standing-index path (postings lake layout, cell
    * probe, stats-skipped read, distance arithmetic, ranking) carries a
    * content oracle. The PRUNED serve (where the assignment does
    * matter) stays pinned by IvfIndexSpec's serve==scan-and-assign
    * equality and file-skip checks.
    */
  def ivfStandingTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = java.nio.file.Paths.get(sfDir).getFileName.toString
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_models", sf, "ivf_index").toString
    val e = Tables(spark, sfDir).embeddings
    IvfIndex.build(e, "vec_id", "embedding", dir, nCells = 16)
    IvfIndex.serveTopK(spark, dir, e.where(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nProbe = 16)
  }

  /** M3 SQL serving, ORACLED: the `graft_ann_topk` TVF probed
    * EXHAUSTIVELY (nProbe = nCells) — with every cell probed the IVF
    * candidate set is the whole corpus and the serve ranking (rounded
    * cosine desc, vec_id tie-break) is exactly brute-force top-k, so
    * the entire SQL-in/rows-out path — index layout, TVF argument
    * handling, distance arithmetic, ranking — gets a content oracle.
    * The k-means cell ASSIGNMENT cancels out of the answer here by
    * construction; the PRUNED serving path (where it does matter) stays
    * pinned by IvfIndexSpec's serve==scan-and-assign equality and file-
    * skip checks, and rows-only q_ivf_standing_topk. Query vector =
    * stored vector 0, spelled as a SQL float-array literal
    * (Float.toString round-trips through parseFloat, so the literal
    * rebuilds the exact stored bits; the TVF's -1 sentinel query id
    * keeps the stored copy itself a legal rank-1, cosine-1 result).
    */
  def annSqlTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = java.nio.file.Paths.get(sfDir).getFileName.toString
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_models", sf, "ivf_index_sql").toString
    val e = Tables(spark, sfDir).embeddings
    IvfIndex.build(e, "vec_id", "embedding", dir, nCells = 8)
    val vec = e.where(col("vec_id") === 0).select(col("embedding"))
      .head.getSeq[Float](0)
    val lit0 = vec.map(f => s"CAST('$f' AS FLOAT)").mkString("array(", ", ", ")")
    spark.sql(s"SELECT * FROM graft_ann_topk('$dir', $lit0, 5, 8)")
  }

  /** Vocabulary coverage / OOV rate — the tokenizer-health signal every
    * corpus ships with its tokenizer artifacts: the standing vocabulary
    * is the corpus's own top-K tokens (count-desc, token-asc tie-break,
    * so the K boundary is deterministic in both engines), and every
    * document reports how much of it falls outside that vocabulary.
    * High OOV flags encoding damage, language drift, or boilerplate the
    * vocab never saw.
    *
    * Scale shape: the vocab is a K-row TopK (partial-aggregated, then
    * limit), broadcast into the token stream — the corpus shuffles only
    * for the per-doc rollup, exactly the [[CorpusOps.unigramLogprob]]
    * model-then-score pipeline.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables(spark, sfDir).documents
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
    val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(25)
      .select(col("tok"), lit(true).as("in_vocab"))
    tok
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"),
        round(count(when(col("in_vocab").isNull, 1)).cast("double")
          / count(lit(1)), 6).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val budget = 200.0
    val d = Tables(spark, sfDir).documents
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val z = counts.agg(sum(sqrt(col("n_docs"))).as("z"))
    // materialized once: rates feed the selection join AND the final
    // report join — left lazy, each occurrence would re-run the corpus
    // counts and z aggregations (5 full scans instead of 2).
    // EAGER, deliberately: the first consumer below is broadcast(rates),
    // and a lazy cut would run the full corpus groupBy + z aggregation
    // inside the BroadcastExchange build thread — subject to
    // spark.sql.broadcastTimeout (300 s), which a 100 TB scan can blow.
    // Eager materializes the scan as a normal job; the broadcast then
    // collects only the tiny checkpointed blocks.
    val rates = counts.crossJoin(broadcast(z))
      .select(col("lang"), col("n_docs"),
        round(least(lit(1.0),
          lit(budget) * sqrt(col("n_docs")) / col("z") / col("n_docs")), 6).as("rate"))
      .localCheckpoint(true)
    // uniform in [0,1) from the first 8 md5 hex digits of the doc id —
    // deterministic, partition-independent, and reproducible in SQL
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("bigint").cast("double") / lit(4294967296.0)
    val sel = d.join(broadcast(rates), "lang")
      .where(u < col("rate"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_selected"))
    rates.join(sel, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("rate"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"))
      .orderBy(col("lang"))
  }

  /** Sequence packing (concat-and-chunk): assign every doc its byte-exact
    * position in the packed training stream — exclusive running token
    * count per language stream, then seq_id = start / window and
    * seq_offset = start % window (window = 512 tokens). This is the
    * bookkeeping LLM loaders use when documents are concatenated and
    * split at fixed token boundaries. One window aggregate per stream:
    * the sort is per-partition-key, so streams pack independently and in
    * parallel — no global single-partition window.
    */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(spark, sfDir).documents
      .select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"))
      .withColumn("token_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor(col("token_start") / 512).cast("bigint").as("seq_id"),
        (col("token_start") % 512).as("seq_offset"))
      .orderBy(col("doc_id"))
  }

  /** The SQL face of the custom Catalyst expressions: `cosine_sim` called
    * from `spark.sql` text. On sessions built by [[graft.core.GraftSession]]
    * the function arrives via the SparkSessionExtensions injection
    * (graft.core.GraftExtensions — the spark.sql.extensions path); on a
    * foreign session it falls back to imperative registration, same
    * expression class either way.
    */
  def extensionsSql(spark: SparkSession, sfDir: String): DataFrame = {
    if (!spark.catalog.functionExists("cosine_sim"))
      graft.functions.VectorFunctions.register(spark)
    Tables(spark, sfDir).embeddings.createOrReplaceTempView("graft_embeddings")
    spark.sql(
      """SELECT a.vec_id, round(cosine_sim(a.embedding, b.embedding), 6) AS cos_next
        |FROM graft_embeddings a JOIN graft_embeddings b ON b.vec_id = a.vec_id + 1
        |WHERE a.vec_id < 50 ORDER BY a.vec_id""".stripMargin)
  }

  // ---- rows-only declared ops (not SQL-expressible in DuckDB 1.0) ----

  /** M2: banded-MinHash near-dups with exact-jaccard verification (the
    * native scale path; the MLlib MinHashLSH variant is covered in
    * DedupSpec). ORACLED against the exact all-pairs jaccard >= 0.7 set:
    * sound because the output filters candidates by EXACT jaccard
    * (precision 1 by construction) and the banding is tuned for recall —
    * 16 bands × 2 rows puts a pair at the 0.7 threshold through at
    * probability 1-(1-0.49)^16 ≈ 1-2e-5 (and the corpus's planted dups
    * sit near 0.9, where a miss is ~1e-11). Same signature length (32)
    * as the old 8×4 banding; the AND-OR trade moves candidate-pair cost
    * up slightly, which the exact filter absorbs.
    */
  def minhashNearDup(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.minhashBandedPairs(
      Tables.spreadScan(Tables(spark, sfDir).documents), "doc_id", "text", n = 3, threshold = 0.7,
      bands = 16, rowsPerBand = 2)

  /** SimHash near-dup pairs (hamming <= 3), via the engine-neutral
    * md5-60-bit signature ([[Dedup.simhashMd5Pairs]]) so the query is
    * FULLY hash-oracled: the band join is exact at this radius
    * (pigeonhole — 3 flipped bits leave >= 1 of 4 bands intact), so the
    * output IS the brute-force all-pairs hamming set the oracle computes.
    * The Murmur3 variant ([[Dedup.simhashPairs]], same vote/band/hamming
    * arithmetic, faster hash) cannot carry a SQL oracle — its signature
    * space is Spark-internal Murmur3_x86_32, which DuckDB does not
    * expose, and unlike MinHash the FINAL filter lives in signature
    * space, so there is no engine-neutral exact-verify stage to match
    * on. Its agreement with this oracled path on planted near-dups is
    * pinned in DedupSpec instead.
    */
  def simhashNearDup(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simhashMd5Pairs(Tables.spreadScan(Tables(spark, sfDir).documents), "doc_id", "text", maxHamming = 3)

  /** Embedding near-dup via single-band hyperplane LSH + exact cosine
    * refine — the PRODUCTION candidate-pruner shape (16 buckets, pair
    * cost ~n²/16, one narrow shuffle) — fully ORACLED the way
    * q_simhash_neardup is: the seeded Gaussian planes are INLINED into
    * the oracle SQL as literals, so DuckDB recomputes the identical
    * bucket bit-pattern (dot >= 0 per plane, same element order, same
    * double arithmetic) and the bucketed candidate set, the exact-cosine
    * verify, and the rounding are ALL content-checked — including the
    * pruner's recall trade, which the oracle reproduces rather than
    * papers over (the exact-completeness yardstick is the separately
    * oracled q_embedding_pairs_exact; recall vs it is pinned in
    * SimilaritySpec). The OR-banded near-exhaustive construction
    * ([[Dedup.embeddingNearDupBanded]]) stays as the recall dial, with
    * banded == exact-all-pairs pinned at test scale in SimilaritySpec —
    * it is deliberately NOT the declared bench query: at this fixture's
    * permissive 0.4 threshold (s(0.4)=0.63 vs s(0)=0.5) near-complete
    * hyperplane recall is inherently ~all-pairs work, which is the
    * exact path's job.
    */
  def embeddingNearDupLsh(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.embeddingNearDup(
      Tables(spark, sfDir).embeddings, "vec_id", "embedding",
      dim = 64, threshold = 0.4, nPlanes = Some(4))

  /** The DuckDB twin of [[embeddingNearDupLsh]]'s plane set: the SAME
    * seeded Gaussian sequence ([[Dedup.embeddingNearDup]]'s
    * `new Random(42)` + `Array.fill(4, 64)(nextGaussian)`), emitted as
    * SQL literals (Double.toString round-trips exactly through a
    * correctly-rounded parser, so both engines dot the identical
    * doubles in the identical order).
    */
  private def embeddingNearDupOracle: String = {
    val rnd = new scala.util.Random(42L)
    val planes = Array.fill(4, 64)(rnd.nextGaussian())
    val bucket = planes.zipWithIndex.map { case (w, p) =>
      val arr = w.map(_.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $arr) >= 0 " +
        s"THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n    + ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding,
       |    $bucket AS bucket
       |  FROM embeddings)
       |SELECT a.vec_id AS a_id, c.vec_id AS b_id,
       |  round(list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos
       |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |WHERE list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[]) >= 0.4
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** SemDeDup over the embeddings table: cluster-scoped semantic dedup
    * (seeded k-means fit → no SQL oracle; survivor-set recall vs the
    * exact all-pairs ground truth is pinned in DedupSpec). Returns the
    * per-cluster survivor/drop tallies — stable under the fixed seed.
    */
  def semanticDedupQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.semanticDedup(
      Tables(spark, sfDir).embeddings, "vec_id", "embedding",
      nClusters = 8, eps = 0.4)
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("cell"))

  /** DuckDB oracle for [[semanticDedupQ]], generated at Verify time (the
    * k-means centers are a learned, corpus-dependent artifact — the same
    * dynamic-oracle contract as the compiled quality tree): the fitted
    * centers are INLINED as literals (float-rounded exactly as
    * [[Ivf.assignCells]] consumes them), the nearest-center assignment is
    * re-ranked with the identical tie-break (distance asc, cell asc —
    * matching the strict-less argmin), within-cell pairs re-verify with
    * exact cosine at the same threshold, duplicate groups close over a
    * RECURSIVE CTE (min-reachable-id labeling, exactly the
    * min-label-propagation contract of ConnectedComponents), and the
    * survivor rule (id == component) aggregates per cell. Every stage of
    * the SemDeDup pipeline — quantizer assignment, blocking, pairing,
    * closure, survivor choice — is content-checked.
    */
  def semanticDedupOracle(spark: SparkSession, sfDir: String): String = {
    val centers = Ivf.fitCentroids(
      Tables(spark, sfDir).embeddings, "embedding", nCells = 8, seed = 42L)
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    val values = centers.map { case (cell, vec) =>
      vec.map(f => f.toDouble.toString).mkString(s"($cell, [", ", ", "]::DOUBLE[])")
    }.mkString(",\n    ")
    s"""WITH RECURSIVE c(cell, center) AS (VALUES
       |    $values),
       |a0 AS (
       |  SELECT e.vec_id AS id, e.embedding, c.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_distance(e.embedding::DOUBLE[], c.center) ASC,
       |               c.cell ASC) AS rk
       |  FROM embeddings e CROSS JOIN c),
       |a AS (SELECT id, embedding, cell FROM a0 WHERE rk = 1),
       |p AS (SELECT x.id AS src, y.id AS dst
       |      FROM a x JOIN a y ON x.cell = y.cell AND x.id < y.id
       |      WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= 0.4),
       |e2 AS (SELECT src, dst FROM p UNION ALL SELECT dst AS src, src AS dst FROM p),
       |r AS (
       |  SELECT src AS a, dst AS b FROM e2
       |  UNION
       |  SELECT r.a, e2.dst FROM r JOIN e2 ON r.b = e2.src),
       |comp AS (
       |  SELECT a.id, least(a.id, coalesce(min(r.b), a.id)) AS component
       |  FROM a LEFT JOIN r ON r.a = a.id GROUP BY a.id)
       |SELECT a.cell, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN a.id = comp.component THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept
       |FROM a JOIN comp ON a.id = comp.id
       |GROUP BY a.cell ORDER BY a.cell""".stripMargin
  }

  /** DuckDB oracle for [[pqTopK]], generated at Verify time — the
    * artifact-inlining pattern applied to the PQ CODEBOOKS: the fitted
    * per-subspace centroids (float-rounded exactly as [[Pq.encode]]
    * consumes them) are inlined as 256 VALUES rows, and DuckDB then
    * replays the WHOLE compressed-search pipeline: L2-normalize with the
    * same per-element float cast, per-subspace nearest-codeword encode
    * (strict-less argmin == distance asc, cell asc), per-query ADC
    * tables (subvector·codeword dots over the same float-widened
    * operands), the ADC score as an ORDERED sum over subspaces (double
    * addition is order-sensitive; `sum(dp ORDER BY j)` reproduces
    * AdcScore's j-ascending fold), the 50-candidate shortlist with the
    * same tie-break, and the exact-cosine re-rank of the shortlist. So
    * quantization, asymmetric scoring, shortlisting, and refinement are
    * ALL content-checked — including the approximation itself, which the
    * oracle reproduces rather than papers over (the exactness yardstick
    * is q_cosine_topk).
    */
  def pqTopKOracle(spark: SparkSession, sfDir: String): String = {
    val books = Pq.fitCodebooks(
      Tables(spark, sfDir).embeddings, "embedding",
      m = 16, k = 16, seed = 42L, sampleFraction = 0.5)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
      .sortBy(t => (t._1, t._2))
    val values = books.map { case (j, c, vec) =>
      vec.map(f => f.toDouble.toString)
        .mkString(s"($j, $c, [", ", ", "]::DOUBLE[])")
    }.mkString(",\n    ")
    s"""WITH cb(j, cell, center) AS (VALUES
       |    $values),
       |n AS (
       |  SELECT vec_id, embedding,
       |    CASE WHEN nrm > 0
       |      THEN list_transform(ev, x -> CAST(CAST(x / nrm AS FLOAT) AS DOUBLE))
       |      ELSE list_transform(ev, x -> 0.0) END AS nv
       |  FROM (SELECT vec_id, embedding, embedding::DOUBLE[] AS ev,
       |          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |        FROM embeddings)),
       |enc AS (
       |  SELECT vec_id, j, cell AS code FROM (
       |    SELECT n.vec_id, cb.j, cb.cell,
       |      row_number() OVER (PARTITION BY n.vec_id, cb.j
       |        ORDER BY list_distance(n.nv[cb.j*4+1 : cb.j*4+4], cb.center) ASC,
       |                 cb.cell ASC) AS rk
       |    FROM n CROSS JOIN cb)
       |  WHERE rk = 1),
       |q AS (SELECT vec_id AS q_id, nv FROM n WHERE vec_id < 10),
       |dp AS (
       |  SELECT q.q_id, cb.j, cb.cell,
       |    list_dot_product(q.nv[cb.j*4+1 : cb.j*4+4], cb.center) AS dp
       |  FROM q CROSS JOIN cb),
       |adc AS (
       |  SELECT d.q_id, c.vec_id AS n_id, sum(d.dp ORDER BY d.j) AS approx
       |  FROM enc c JOIN dp d ON d.j = c.j AND d.cell = c.code
       |  WHERE c.vec_id != d.q_id
       |  GROUP BY d.q_id, c.vec_id),
       |short AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY approx DESC, n_id ASC) AS rk
       |    FROM adc)
       |  WHERE rk <= 50)
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT s.q_id, s.n_id,
       |    round(list_cosine_similarity(qq.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos,
       |    row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY list_cosine_similarity(qq.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
       |               s.n_id ASC) AS rank
       |  FROM short s
       |  JOIN embeddings qq ON qq.vec_id = s.q_id
       |  JOIN embeddings e ON e.vec_id = s.n_id)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** DuckDB oracle for [[ivfPqTopK]] — [[pqTopKOracle]]'s pipeline with
    * the IVF PRUNING stage composed in front, both learned artifacts
    * inlined: the coarse centers pick each query's nProbe=4 cells
    * (cosine desc, cell asc — matching the negated-distance window), the
    * candidate set is the probed cells' rows only, then the same
    * encode/ADC/shortlist/exact-re-rank replay. The full FAISS
    * IndexIVFPQ+refine recipe, content-checked stage by stage.
    */
  def ivfPqTopKOracle(spark: SparkSession, sfDir: String): String = {
    val e = Tables(spark, sfDir).embeddings
      .select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
    val centers = Ivf.fitCentroids(e, "n_vec", nCells = 8, seed = 42L,
      sampleFraction = 0.2)
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1)
    val centerValues = centers.map { case (cell, vec) =>
      vec.map(f => f.toDouble.toString).mkString(s"($cell, [", ", ", "]::DOUBLE[])")
    }.mkString(",\n    ")
    val books = Pq.fitCodebooks(e, "n_vec", m = 16, k = 16, seed = 42L,
      sampleFraction = 0.2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
      .sortBy(t => (t._1, t._2))
    val bookValues = books.map { case (j, c, vec) =>
      vec.map(f => f.toDouble.toString).mkString(s"($j, $c, [", ", ", "]::DOUBLE[])")
    }.mkString(",\n    ")
    s"""WITH ivf(cell, center) AS (VALUES
       |    $centerValues),
       |cb(j, pcell, pcenter) AS (VALUES
       |    $bookValues),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, ivf.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_distance(e.embedding::DOUBLE[], ivf.center) ASC,
       |                 ivf.cell ASC) AS rk
       |    FROM embeddings e CROSS JOIN ivf)
       |  WHERE rk = 1),
       |n AS (
       |  SELECT vec_id, embedding,
       |    CASE WHEN nrm > 0
       |      THEN list_transform(ev, x -> CAST(CAST(x / nrm AS FLOAT) AS DOUBLE))
       |      ELSE list_transform(ev, x -> 0.0) END AS nv
       |  FROM (SELECT vec_id, embedding, embedding::DOUBLE[] AS ev,
       |          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |        FROM embeddings)),
       |enc AS (
       |  SELECT vec_id, j, pcell AS code FROM (
       |    SELECT n.vec_id, cb.j, cb.pcell,
       |      row_number() OVER (PARTITION BY n.vec_id, cb.j
       |        ORDER BY list_distance(n.nv[cb.j*4+1 : cb.j*4+4], cb.pcenter) ASC,
       |                 cb.pcell ASC) AS rk
       |    FROM n CROSS JOIN cb)
       |  WHERE rk = 1),
       |probes AS (
       |  SELECT q_id, cell FROM (
       |    SELECT e.vec_id AS q_id, ivf.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], ivf.center) DESC,
       |                 ivf.cell ASC) AS pr
       |    FROM embeddings e CROSS JOIN ivf
       |    WHERE e.vec_id < 10)
       |  WHERE pr <= 4),
       |q AS (SELECT vec_id AS q_id, nv FROM n WHERE vec_id < 10),
       |dp AS (
       |  SELECT q.q_id, cb.j, cb.pcell,
       |    list_dot_product(q.nv[cb.j*4+1 : cb.j*4+4], cb.pcenter) AS dp
       |  FROM q CROSS JOIN cb),
       |adc AS (
       |  SELECT d.q_id, c.vec_id AS n_id, sum(d.dp ORDER BY d.j) AS approx
       |  FROM enc c
       |  JOIN asg a ON a.vec_id = c.vec_id
       |  JOIN probes p ON p.cell = a.cell
       |  JOIN dp d ON d.q_id = p.q_id AND d.j = c.j AND d.pcell = c.code
       |  WHERE c.vec_id != p.q_id
       |  GROUP BY d.q_id, c.vec_id),
       |short AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |      ORDER BY approx DESC, n_id ASC) AS rk
       |    FROM adc)
       |  WHERE rk <= 50)
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT s.q_id, s.n_id,
       |    round(list_cosine_similarity(qq.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos,
       |    row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY list_cosine_similarity(qq.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
       |               s.n_id ASC) AS rank
       |  FROM short s
       |  JOIN embeddings qq ON qq.vec_id = s.q_id
       |  JOIN embeddings e ON e.vec_id = s.n_id)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** Language-ID + quality profile. Both heuristics are deterministic
    * closed forms (stopword-overlap argmax; length/punct/TTR blend), so
    * the query is fully oracle-matched — the DuckDB side is generated from
    * the SAME stopword lists in [[TextFunctions.stopwords]]. The 64-bit
    * fingerprint stays spec-pinned only (Spark's seeded xxhash64 chain has
    * no DuckDB equivalent).
    */
  def langQualityProfile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.spreadScan(Tables(spark, sfDir).documents)
      .select(
        col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_guess"),
        TextFunctions.qualityScore(col("text")).as("quality")
      )
      .orderBy(col("doc_id"))

  def queries: Map[String, Q] = Map(
    "q_text_stats" -> (textStats _),
    "q_doc_profile" -> (docProfile _),
    "q_token_topk" -> (tokenTopK _),
    "q_dedup_exact" -> (dedupExactCount _),
    "q_ngram_containment" -> (ngramContainmentPairs _),
    "q_ngram_jaccard" -> (ngramJaccardPairs _),
    "q_ngram_jaccard_capped" -> (ngramJaccardCapped _),
    "q_cosine_topk" -> (cosineTopK _),
    "q_ann_sql_topk" -> (annSqlTopk _),
    "q_embedding_norms" -> (embeddingNorms _),
    "q_embedding_centroids" -> (embeddingCentroids _),
    "q_minhash_neardup" -> (minhashNearDup _),
    "q_simhash_neardup" -> (simhashNearDup _),
    "q_embedding_neardup" -> (embeddingNearDupLsh _),
    "q_semantic_dedup" -> (semanticDedupQ _),
    "q_lang_quality" -> (langQualityProfile _),
    "q_extensions_sql" -> (extensionsSql _),
    "q_euclidean_topk" -> (euclideanTopK _),
    "q_embedding_pairs_exact" -> (embeddingPairsExact _),
    "q_pq_topk" -> (pqTopK _),
    "q_ivfpq_topk" -> (ivfPqTopK _),
    "q_incremental_neardup" -> (incrementalNearDup _),
    "q_bpe_merges" -> (bpeMerges _),
    "q_bpe_encode_standing" -> (bpeEncodeStanding _),
    "q_quality_model_scores" -> (qualityModelScores _),
    "q_quality_model_scores_standing" -> (qualityModelScoresStanding _),
    "q_pii_redact" -> (piiRedact _),
    "q_text_normalize" -> (textNormalize _),
    "q_contamination" -> (contamination _),
    "q_pack_sequences" -> (packSequences _),
    "q_gopher_quality" -> (gopherQuality _),
    "q_vocab_coverage" -> (vocabCoverage _),
    "q_ivf_standing_topk" -> (ivfStandingTopK _),
    "q_temperature_mix" -> (temperatureMix _)
  )

  /** DuckDB `s_<lang>` score columns derived from the SAME stopword lists
    * the Spark expression uses.
    */
  private def langScoreSql: Seq[(String, String)] =
    TextFunctions.stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val arr = words.map(w => s"'${w.replace("'", "''")}'").mkString("[", ", ", "]")
      lang -> s"len(list_intersect(ts, $arr)) AS s_$lang"
    }

  private def langQualityOracle: String = {
    val langs = TextFunctions.stopwords.keys.toSeq.sorted
    val scoreCols = langScoreSql.map(_._2).mkString(",\n  ")
    val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    // same tie-break as the Spark foldRight: first lang in sorted order
    val cases = langs.map(l => s"WHEN s_$l = $best THEN '$l'").mkString("\n    ")
    s"""WITH t AS (
       |  SELECT doc_id, text, string_split_regex(trim(lower(text)), '\\s+') AS ts
       |  FROM documents),
       |sc AS (SELECT doc_id, text, ts,
       |  $scoreCols
       |  FROM t)
       |SELECT doc_id,
       |  CASE WHEN $best <= 0 THEN 'und'
       |    $cases
       |    ELSE 'und' END AS lang_guess,
       |  round(
       |    0.4 * least(len(ts) / 20.0, 1.0)
       |  + 0.2 * (1.0 - least(round(length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
       |                             * 1.0 / greatest(length(text), 1), 6) * 5, 1.0))
       |  + 0.4 * least(len(list_distinct(ts)) * 1.0 / greatest(len(ts), 1) * 2, 1.0)
       |  , 6) AS quality
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_text_stats" ->
      """SELECT doc_id, n_chars,
        | len(string_split_regex(trim(lower(text)), '\s+'))::BIGINT AS n_tokens,
        | len(list_distinct(string_split_regex(trim(lower(text)), '\s+')))::BIGINT AS n_uniq,
        | len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]'))::BIGINT AS n_subword
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_doc_profile" ->
      """SELECT lang, source, count(*) AS n_docs,
        | round(avg(n_chars), 2) AS avg_chars,
        | CAST(sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q_token_topk" ->
      """SELECT tok, count(*) AS n
        |FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
    "q_dedup_exact" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_uniq
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_ngram_containment" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, list_distinct([array_to_string(ts[i:i+2], ' ')
        |                                    for i in range(1, len(ts)-1)]) AS sh
        |      FROM t WHERE len(ts) >= 3),
        |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |p AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) common
        |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id,
        | round(common * 1.0 / least(la.n, lb.n), 6) AS containment
        |FROM p
        |JOIN (SELECT doc_id, len(sh) n FROM s) la ON la.doc_id = a_id
        |JOIN (SELECT doc_id, len(sh) n FROM s) lb ON lb.doc_id = b_id
        |WHERE common * 1.0 / least(la.n, lb.n) >= 0.9
        |ORDER BY a_id, b_id""".stripMargin,
    // exact all-pairs ground truth — sound for the BANDED pipeline because
    // its output is exact-jaccard-filtered and the 16x2 banding's miss
    // probability at the threshold is ~2e-5 (see minhashNearDup)
    "q_minhash_neardup" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, list_distinct([array_to_string(ts[i:i+2], ' ')
        |                                    for i in range(1, len(ts)-1)]) AS sh
        |      FROM t WHERE len(ts) >= 3),
        |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |p AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) common
        |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id,
        | round(common * 1.0 / (la.n + lb.n - common), 6) AS jaccard
        |FROM p
        |JOIN (SELECT doc_id, len(sh) n FROM s) la ON la.doc_id = a_id
        |JOIN (SELECT doc_id, len(sh) n FROM s) lb ON lb.doc_id = b_id
        |WHERE common * 1.0 / (la.n + lb.n - common) >= 0.7
        |ORDER BY a_id, b_id""".stripMargin,
    // exact all-pairs ground truth — sound for the BANDED pipeline because
    // the 4x15-bit banding is LOSSLESS at hamming <= 3 (pigeonhole) and
    // the signature hash (first 60 bits of md5 per token) is bit-identical
    // across engines, so the banded output IS this brute-force set
    "q_simhash_neardup" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts FROM documents),
        |e AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        |      FROM t, unnest(ts) AS u(tok)),
        |v AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sv
        |      FROM e, range(60) r(b) GROUP BY doc_id, b),
        |s AS (SELECT doc_id, sum(CASE WHEN sv > 0 THEN 1::BIGINT << b ELSE 0 END) AS sig
        |      FROM v GROUP BY doc_id)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, list_distinct([array_to_string(ts[i:i+2], ' ')
        |                                    for i in range(1, len(ts)-1)]) AS sh
        |      FROM t WHERE len(ts) >= 3),
        |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |p AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) common
        |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id,
        | round(common * 1.0 / (la.n + lb.n - common), 6) AS jaccard
        |FROM p
        |JOIN (SELECT doc_id, len(sh) n FROM s) la ON la.doc_id = a_id
        |JOIN (SELECT doc_id, len(sh) n FROM s) lb ON lb.doc_id = b_id
        |WHERE common * 1.0 / (la.n + lb.n - common) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    // capped variant: `common` over df<=4 shingles, union sizes uncapped
    "q_ngram_jaccard_capped" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, list_distinct([array_to_string(ts[i:i+2], ' ')
        |                                    for i in range(1, len(ts)-1)]) AS sh
        |      FROM t WHERE len(ts) >= 3),
        |e0 AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |hot AS (SELECT g FROM (SELECT g, count(*) AS df FROM e0 GROUP BY g) WHERE df > 4),
        |e AS (SELECT * FROM e0 WHERE g NOT IN (SELECT g FROM hot)),
        |p AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) common
        |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id,
        | round(common * 1.0 / (la.n + lb.n - common), 6) AS jaccard
        |FROM p
        |JOIN (SELECT doc_id, len(sh) n FROM s) la ON la.doc_id = a_id
        |JOIN (SELECT doc_id, len(sh) n FROM s) lb ON lb.doc_id = b_id
        |WHERE common * 1.0 / (la.n + lb.n - common) >= 0.7
        |ORDER BY a_id, b_id""".stripMargin,
    "q_lang_quality" -> langQualityOracle,
    "q_euclidean_topk" ->
      """SELECT q_id, rank, n_id, dist FROM (
        |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
        |   round(list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS dist,
        |   row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_distance(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) ASC,
        |              e.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings e ON q.vec_id != e.vec_id
        |  WHERE q.vec_id < 5)
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    "q_extensions_sql" ->
      """SELECT a.vec_id,
        | round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_next
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |WHERE a.vec_id < 50 ORDER BY a.vec_id""".stripMargin,
    // exhaustive probe (nProbe = nCells) == brute force, self EXCLUDED:
    // the k-means cell assignment cancels out of the answer, so the
    // whole standing-index serve path hash-matches; ranks on ROUNDED
    // cosine with vec_id tie-break, like the serve
    "q_ivf_standing_topk" ->
      """SELECT q_id, rank, vec_id, cos FROM (
        |  SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
        |   round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos,
        |   row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) DESC,
        |              e.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings e ON q.vec_id != e.vec_id
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // the LSH path itself, recomputed: plane constants inlined (same
    // seeded sequence), bucket = dot-sign bit pattern, same-bucket pairs
    // exact-cosine-verified — candidate generation AND verification are
    // both content-checked (see embeddingNearDupLsh)
    "q_embedding_neardup" -> embeddingNearDupOracle,
    // exact cross-half (incoming odd vs corpus even) 3-gram jaccard —
    // sound for the index-probe + exact-verify pipeline: precision 1 by
    // construction, 16x2 banding miss ~2e-5 at the 0.7 threshold (see
    // incrementalNearDupVerified)
    "q_incremental_neardup" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, list_distinct([array_to_string(ts[i:i+2], ' ')
        |                                    for i in range(1, len(ts)-1)]) AS sh
        |      FROM t WHERE len(ts) >= 3),
        |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |p AS (SELECT a.doc_id new_id, b.doc_id corpus_id, count(*) common
        |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |      GROUP BY 1, 2)
        |SELECT new_id, corpus_id,
        | round(common * 1.0 / (la.n + lb.n - common), 6) AS jaccard
        |FROM p
        |JOIN (SELECT doc_id, len(sh) n FROM s) la ON la.doc_id = new_id
        |JOIN (SELECT doc_id, len(sh) n FROM s) lb ON lb.doc_id = corpus_id
        |WHERE common * 1.0 / (la.n + lb.n - common) >= 0.7
        |ORDER BY new_id, corpus_id""".stripMargin,
    // exhaustive probe == brute force over the whole corpus, self
    // included (the serve ranks on ROUNDED cosine with vec_id tie-break)
    "q_ann_sql_topk" ->
      """SELECT rank, vec_id, cos FROM (
        |  SELECT e.vec_id,
        |   round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos,
        |   row_number() OVER (
        |     ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) DESC,
        |              e.vec_id) AS rank
        |  FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  CROSS JOIN embeddings e)
        |WHERE rank <= 5 ORDER BY rank""".stripMargin,
    "q_cosine_topk" ->
      """SELECT q_id, rank, n_id, cos FROM (
        |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
        |   round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos,
        |   row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
        |              e.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings e ON q.vec_id != e.vec_id
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "q_embedding_centroids" ->
      """SELECT label, i - 1 AS dim, round(avg(embedding[i]::DOUBLE), 6) AS value
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    "q_embedding_norms" ->
      """SELECT label, count(*) AS n,
        | round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    "q_embedding_pairs_exact" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        | round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,
    "q_text_normalize" ->
      """WITH t AS (SELECT doc_id,
        |  regexp_replace(
        |    nfc_normalize(text || ' e' || chr(769) || 'cole' || chr(7) || 'fin'
        |                  || CAST(doc_id % 7 AS VARCHAR)),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{0080}-\x{009F}]', '', 'g') AS clean
        |  FROM documents)
        |SELECT doc_id, length(clean) AS n_clean, md5(clean) AS clean_md5
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_pii_redact" ->
      """SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(
        |     regexp_replace(
        |       text || ' contact user' || doc_id || '@mail.example.com or +1 (555) 010-99 from 10.0.0.' || (doc_id % 256),
        |       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |     '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g'),
        |   '\+?[0-9][0-9 ()-]{6,}[0-9]', '[PHONE]', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_contamination" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, list_distinct([array_to_string(ts[i:i+7], ' ')
        |                                    for i in range(1, len(ts)-6)]) AS sh
        |      FROM t WHERE len(ts) >= 8),
        |bg AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 50 = 0),
        |cg AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 50 != 0)
        |SELECT doc_id, count(*) AS n_shared
        |FROM cg WHERE g IN (SELECT g FROM bg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |z AS (SELECT sum(sqrt(n_docs)) AS z FROM c),
        |r AS (SELECT lang, n_docs,
        |        round(least(1.0, 200.0 * sqrt(n_docs) / z.z / n_docs), 6) AS rate
        |      FROM c CROSS JOIN z),
        |sel AS (
        |  SELECT d.lang, count(*) AS n_selected
        |  FROM documents d JOIN r USING (lang)
        |  WHERE (('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8))::UBIGINT
        |         / 4294967296.0) < r.rate
        |  GROUP BY d.lang)
        |SELECT lang, n_docs, rate,
        |  CAST(coalesce(n_selected, 0) AS BIGINT) AS n_selected
        |FROM r LEFT JOIN sel USING (lang) ORDER BY lang""".stripMargin,
    "q_gopher_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS ts
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_words,
        |    round(length(regexp_replace(text, '\s+', '', 'g')) * 1.0
        |          / greatest(len(ts), 1), 6) AS mean_word_len,
        |    round(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) * 1.0
        |          / greatest(length(text), 1), 6) AS symbol_ratio,
        |    round(CASE WHEN len(ts) >= 3 THEN
        |      1.0 - len(list_distinct([array_to_string(ts[i:i+2], ' ')
        |                               for i in range(1, len(ts)-1)])) * 1.0
        |            / (len(ts) - 2)
        |      ELSE 0.0 END, 6) AS rep3
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, rep3,
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10
        |   AND symbol_ratio < 0.1 AND rep3 < 0.3) AS pass_all
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |v AS (SELECT tok FROM (
        |        SELECT tok, count(*) AS n FROM tok GROUP BY tok
        |        ORDER BY n DESC, tok LIMIT 25)),
        |j AS (SELECT t.doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
        |      FROM tok t LEFT JOIN v ON t.tok = v.tok)
        |SELECT doc_id, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
        |  round(sum(oov)::DOUBLE / count(*), 6) AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(trim(lower(text)), '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_start
        |  FROM t)
        |SELECT doc_id, lang, n_tokens,
        |  token_start // 512 AS seq_id,
        |  token_start % 512 AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin
  )
}
