package graft.queries

import graft.Tables
import graft.functions.{TextFns, VectorFns}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators (the north-star set): dedup,
  * embedding similarity, text analysis, multimodal column plumbing.
  * Oracle SQL accompanies every operator whose math DuckDB can reproduce
  * exactly (md5 fingerprints, set-based Jaccard, rational-ratio stats,
  * double-precision cosine); the xxhash64-based sketches (SimHash, LSH
  * buckets) get rows-only checks plus differential unit tests against
  * their exact counterparts.
  */
object DataOps {

  /** q26: exact dedup via content fingerprint — one hash shuffle, keeps
    * min doc_id per distinct normalized text. */
  private val q26 = QuerySpec(
    "q26_dedup_exact",
    (s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("keep_id")),
    oracle = Some("""
      SELECT min(doc_id) AS keep_id, count(*) AS group_size
      FROM documents
      GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
      ORDER BY keep_id"""))

  /** q27: exact word-3-gram Jaccard near-dup pairs (threshold 0.6) —
    * the exact-math verifier the sketch methods are judged against.
    * The operator's default hot-shingle cap (maxDf = 1000) is passed
    * EXPLICITLY and mirrored in the oracle SQL's df census, so the two
    * stay in lockstep on any corpus — including one with a planted
    * df > 1000 boilerplate shingle. */
  private val q27 = QuerySpec(
    "q27_ngram_jaccard",
    (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.6,
        maxDf = 1000)
        .orderBy(col("id_a"), col("id_b")),
    oracle = Some(jaccardOracle(0.6, maxDf = Some(1000))),
    bench = true)

  /** q28: MinHash+LSH near-dup pairs, exact-Jaccard-verified. With 128
    * hashes / 32 bands the miss probability at j=0.8 is (1−0.8⁴)³² ≈
    * 5·10⁻⁸, so the verified output equals the exact pairs and shares
    * their oracle — while candidate generation is the LSH bucket join,
    * not the O(n²) shingle self-join. */
  private val q28 = QuerySpec(
    "q28_dedup_minhash",
    (s, dir) =>
      // maxBucket unguarded: the oracle is the exact uncapped pair set
      // (the q27-maxDf / q69-maxBucket call-site split)
      Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 128, bands = 32, threshold = 0.8,
          maxBucket = Int.MaxValue)
        .orderBy(col("id_a"), col("id_b")),
    oracle = Some(jaccardOracle(0.8)),
    bench = true)

  /** q29: SimHash near-dup pairs within Hamming radius 3. xxhash64-based
    * → no SQL oracle; differential-tested against q27 in DedupSpec. */
  private val q29 = QuerySpec(
    "q29_dedup_simhash",
    (s, dir) =>
      // maxBucket unguarded HERE because the check is rows-only vs the
      // exact differential: the production default (1000) may drop
      // pairs on a degenerate corpus by design, which a verifier must
      // not — same call-site split as q27's explicit maxDf
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text", radius = 3,
          maxBucket = Int.MaxValue)
        .orderBy(col("id_a"), col("id_b")))

  /** q30: embedding cosine near-dup pairs above 0.35 (the testdata embeddings are unclustered; the threshold sits in the top tail) — exact double
    * arithmetic on both engines (floats widen losslessly). */
  private val q30 = QuerySpec(
    "q30_cosine_pairs",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      // single-file input = one split; fan out so the pair loop uses
      // every core (see Similarity.bruteForceTopK note)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
        .repartition(s.sparkContext.defaultParallelism)
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("sim", VectorFns.cosine(col("va"), col("vb")))
        .filter(col("sim") >= 0.35)
        .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
        .orderBy(col("id_a"), col("id_b"))
    },
    oracle = Some("""
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(
               CAST(a.embedding AS DOUBLE[]),
               CAST(b.embedding AS DOUBLE[])), 4) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(
              CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.35
      ORDER BY id_a, id_b"""),
    bench = true)

  /** q31: exact brute-force cosine top-3 neighbors per vector — the ANN
    * recall baseline. */
  private val q31 = QuerySpec(
    "q31_knn_bruteforce",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(e, e, "vec_id", "embedding", 3)
        .select(col("q_id"), col("rank"), col("c_id"), round(col("sim"), 4).as("sim"))
        .orderBy(col("q_id"), col("rank"))
    },
    oracle = Some("""
      SELECT q_id, rank, c_id, round(sim, 4) AS sim FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) AS sim,
               CAST(row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id ASC) AS INTEGER) AS rank
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
      WHERE rank <= 3
      ORDER BY q_id, rank"""),
    bench = true)

  /** q32: SRP-LSH approximate top-3 — the sub-quadratic scale path.
    * Bucketing is xxhash64-derived → rows-only check; recall vs q31 is
    * asserted in SimilaritySpec. planes=4 because the testdata embeddings
    * are UNCLUSTERED (top-3 neighbors at cos≈0.3 ⇒ per-plane collision
    * p≈0.6): recall ≈ 1−(1−p⁴)¹⁶ ≈ 0.9. Clustered production embeddings
    * support more planes (smaller buckets) at the same recall. */
  private val q32 = QuerySpec(
    "q32_ann_lsh",
    (s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 3, tables = 16, planes = 4)
        .select(col("q_id"), col("rank"), col("c_id"), round(col("sim"), 4).as("sim"))
        .orderBy(col("q_id"), col("rank")))

  /** q33: per-document text statistics — token counts, char ratios, all
    * exact rational arithmetic. */
  private val q33 = QuerySpec(
    "q33_text_stats",
    (s, dir) =>
      Tables.documents(s, dir)
        // tokenize ONCE; the ratio columns reference the arrays (a
        // multi-referenced projection column stays materialized — the
        // text-based forms would re-split the text per ratio)
        .withColumn("__toks", TextFns.tokens(col("text")))
        .withColumn("__ltoks", TextFns.tokens(lower(col("text"))))
        .select(
          col("doc_id"),
          size(col("__toks")).as("n_tokens"),
          length(col("text")).as("n_chars"),
          TextFns.meanTokenLenExactFromTokens(col("__toks")).as("mean_tok_len"),
          TextFns.stopwordRatioExactFromTokens(col("__ltoks")).as("stopword_ratio"),
          TextFns.digitRatioExact(col("text")).as("digit_ratio"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH t AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents),
      m AS (
        SELECT doc_id, text,
               CAST(len(toks) AS BIGINT) AS n,
               CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                 AS BIGINT) AS s,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> x <> '' AND x IN ('the','a','an','and','or',
                 'of','to','in','is','it','that','for','on','with','as','was',
                 'at','by','this'))) AS BIGINT) AS sw,
               CAST(length(text) AS BIGINT) AS c,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                 AS BIGINT) AS dg
        FROM t)
      SELECT doc_id,
             CAST(n AS INTEGER) AS n_tokens,
             CAST(c AS INTEGER) AS n_chars,
             CASE WHEN n > 0 THEN CAST((s * 20000 + n) // (n * 2) AS DOUBLE) / 10000.0
                  ELSE 0.0 END AS mean_tok_len,
             CASE WHEN n > 0 THEN CAST((sw * 20000 + n) // (n * 2) AS DOUBLE) / 10000.0
                  ELSE 0.0 END AS stopword_ratio,
             CASE WHEN c > 0 THEN CAST((dg * 20000 + c) // (c * 2) AS DOUBLE) / 10000.0
                  ELSE 0.0 END AS digit_ratio
      FROM m
      ORDER BY doc_id"""))

  /** q34: corpus language census — per-doc prediction from the
    * 20-language character-trigram profile scorer
    * ([[graft.operators.LangId.predict]], upgraded in r6 from the old
    * 2-effective-language stopword vote) rolled up to (lang, n_docs).
    * The oracle wraps the generated per-doc replay
    * ([[graft.operators.LangId.docSql]]) in the same rollup. */
  private val q34 = QuerySpec(
    "q34_lang_id",
    (s, dir) =>
      // fan the single-split documents scan out before the trigram
      // explode + profile join (the bruteForceTopK rule: a one-file
      // corpus otherwise runs the whole per-doc scoring map on one
      // task); result-invariant — the rollup re-shuffles by lang.
      // BENCH entry since r18: per-doc work is ~10³ profile probes ×
      // |docs| ∝ SF — a data-proportional scaling witness (verdict
      // item 3) on the curation path.
      graft.operators.LangId.predict(
          Tables.documents(s, dir)
            .repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text")
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang_pred")),
    oracle = Some(s"""
      SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs
      FROM (${graft.operators.LangId.docSql("documents", "doc_id", "text")}
      )
      GROUP BY lang_pred
      ORDER BY lang_pred"""),
    bench = true)

  /** q35: md5 content fingerprint per document (reproducible outside
    * Spark, unlike xxhash64). */
  private val q35 = QuerySpec(
    "q35_fingerprint",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      FROM documents
      ORDER BY doc_id"""))

  /** q36: composite quality score — Gopher-flavored heuristic. The oracle
    * mirrors TextFns.qualityScore's integer formulation term for term:
    * numerator over the common denominator n·c, rounded half-up to 1e-4
    * by integer division — no float rounding anywhere. */
  private val q36 = QuerySpec(
    "q36_quality_score",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFns.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH t AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents),
      m AS (
        SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n,
          CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
            x -> x <> '' AND x IN ('the','a','an','and','or','of','to',
            'in','is','it','that','for','on','with','as','was','at','by','this')))
            AS BIGINT) AS m1,
          CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
            AS BIGINT) AS s,
          CAST(length(text) AS BIGINT) AS c,
          CAST(length(text)
            - length(regexp_replace(text, '[!-/:-@\[-`{-~0-9]', '', 'g'))
            AS BIGINT) AS pd
        FROM t)
      SELECT doc_id,
             CASE WHEN n > 0 AND c > 0 THEN
               CAST((2 * (least(m1 * c * 16000, n * c * 4000)
                          + (CASE WHEN s >= n * 2 AND s <= n * 12
                             THEN n * c * 4000 ELSE 0 END)
                          + (n * c * 2000 - least(pd * n * 4000, n * c * 2000)))
                     + n * c)
                    // (n * c * 2) AS DOUBLE) / 10000.0
             ELSE 0.0 END AS quality
      FROM m
      ORDER BY doc_id"""))

  /** q37: multimodal column plumbing — text treated as an opaque binary
    * payload with typed metadata (byte length, magic prefix). The decode
    * stage proper is the stubbed kernel in graft.multimodal. */
  private val q37 = QuerySpec(
    "q37_multimodal_meta",
    (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(
          col("doc_id"),
          octet_length(col("payload")).as("n_bytes"),
          lower(substring(hex(col("payload")), 1, 8)).as("magic_hex"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      SELECT doc_id,
             CAST(strlen(text) AS INTEGER) AS n_bytes,
             lower(substring(hex(encode(text)), 1, 8)) AS magic_hex
      FROM documents
      ORDER BY doc_id"""))

  /** Shared oracle for exact 3-gram Jaccard pairs at a threshold —
    * reproduces TextFns.wordShingles (n=3, short-doc fallback to the
    * whole text) and Dedup.ngramJaccardPairs exactly, INCLUDING the
    * hot-shingle guard when `maxDf` is given: shingles with document
    * frequency over the cap are excluded from both intersections and
    * set sizes, mirroring the operator's df census, so oracle and
    * operator share semantics on ANY corpus (not just ones whose max
    * df happens to sit under the cap). `maxDf = None` models the
    * uncapped similarity — the form [[Dedup.minhashPairs]]'s full-set
    * verification computes (q28). */
  private def jaccardOracle(threshold: Double,
                            maxDf: Option[Int] = None): String = {
    // per-doc shingles are DISTINCT at birth, so count(*) per shingle
    // IS its document frequency
    val dfFilter = maxDf.map(cap => s"""
      df_ok AS (SELECT s FROM sh_all GROUP BY s HAVING count(*) <= $cap),
      sh AS (SELECT doc_id, s FROM sh_all JOIN df_ok USING (s)),""")
      .getOrElse("""
      sh AS (SELECT doc_id, s FROM sh_all),""")
    s"""
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
        FROM documents),
      sh_all AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(w) >= 3 THEN
              list_transform(range(1, len(w) - 1),
                i -> array_to_string(w[i:i+2], ' '))
            ELSE [array_to_string(w, ' ')] END) AS s
          FROM toks)),$dfFilter
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS isect
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
             round(CAST(isect AS DOUBLE) / (sa.sz + sb.sz - isect), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(isect AS DOUBLE) / (sa.sz + sb.sz - isect) >= $threshold
      ORDER BY id_a, id_b"""
  }

  /** q44: IVF-lite ANN top-3 — the coarse-quantization scale path
    * (alternative to q32's SRP-LSH). Centroid draw is hash-derived →
    * rows-only check; ordering correctness asserted in SimilaritySpec. */
  private val q44 = QuerySpec(
    "q44_ann_ivf",
    (s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 3, nCells = 32, nProbe = 3)
        .select(col("q_id"), col("rank"), col("c_id"), round(col("sim"), 4).as("sim"))
        .orderBy(col("q_id"), col("rank")))

  /** q45: ML train+score in one query (M1-M6 end-to-end): fit the
    * lang classifier on the documents and score them. L-BFGS weights are
    * not bit-stable across ENVIRONMENTS (JVM, BLAS, core count) so the
    * per-doc predictions stay rows-only; within a session training is
    * deterministic (TextClassifier.train conditions the input layout)
    * and q92 makes the driver witness that via a full oracle check.
    * Learnability and scoring determinism are asserted in
    * TextClassifierSpec. */
  private val q45 = QuerySpec(
    "q45_ml_score",
    (s, dir) => {
      import graft.ml.TextClassifier
      val assembled = TextClassifier.assemble(Tables.documents(s, dir))
      val model = TextClassifier.train(assembled, vocabSize = 2000, maxIter = 5)
      TextClassifier.score(model, assembled)
        .select(col("doc_id"), col("predicted_label"))
        .orderBy(col("doc_id"))
    })

  /** q92: ML training determinism, oracle-witnessed. Trains the q45
    * pipeline TWICE on identically-prepared input and reports (corpus
    * size, classes the model learned, prediction disagreements between
    * the two fits). Deterministic conditioning in TextClassifier.train
    * makes the fits bit-identical, so n_disagree is exactly 0 and
    * n_classes equals the label inventory — both facts DuckDB can
    * state independently, which upgrades the ML family from rows-only
    * to a hash-checked oracle row. */
  private val q92 = QuerySpec(
    "q92_ml_determinism",
    (s, dir) => {
      import graft.ml.TextClassifier
      val assembled = TextClassifier.assemble(Tables.documents(s, dir))
      val m1 = TextClassifier.train(assembled, vocabSize = 2000, maxIter = 5)
      val m2 = TextClassifier.train(assembled, vocabSize = 2000, maxIter = 5)
      val nClasses = m1.stages.last
        .asInstanceOf[org.apache.spark.ml.feature.IndexToString]
        .getLabels.length
      val s1 = TextClassifier.score(m1, assembled)
        .select(col("doc_id"), col("predicted_label").as("p1"))
      val s2 = TextClassifier.score(m2, assembled)
        .select(col("doc_id"), col("predicted_label").as("p2"))
      s1.join(s2, "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("p1") =!= col("p2"), 1L).otherwise(0L)).as("n_disagree"))
        .withColumn("n_classes", lit(nClasses))
        .select(col("n_docs"), col("n_classes"), col("n_disagree"))
    },
    oracle = Some("""
      SELECT count(*) AS n_docs,
             CAST(count(DISTINCT lang) AS INT) AS n_classes,
             CAST(0 AS BIGINT) AS n_disagree
      FROM documents"""))

  /** q48: AS-OF join — attribute every view to the user's most recent
    * purchase at or before it (graft.operators.AsOfJoin: union +
    * windowed last_value, ONE shuffle — no inequality join). Purchases
    * deduped to unique (user, ts) first so ties are well-defined. The
    * oracle uses DuckDB's native ASOF LEFT JOIN over µs-truncated
    * epochs (events.parquet is ns-precision; Spark reads µs). */
  /** Shared by q48 and its broadcast twin q64 — the two as-of
    * implementations must compare on IDENTICAL inputs, so the prep
    * lives in exactly one place. */
  private[queries] def viewsAndPurchases(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val e = Tables.events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("last_purchase_id"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"))
    (views, purchases)
  }

  private val q48 = QuerySpec(
    "q48_asof_join",
    (s, dir) => {
      import graft.operators.AsOfJoin
      val (views, purchases) = viewsAndPurchases(s, dir)
      AsOfJoin.asof(views, purchases, Seq("user_id"), "ts",
          Seq("last_purchase_id"))
        .select(col("user_id"), col("event_id"), col("last_purchase_id"))
        .orderBy(col("event_id"))
    },
    oracle = Some("""
      WITH p AS (SELECT user_id, epoch_us(ts) AS tus,
                        max(event_id) AS last_purchase_id
                 FROM events WHERE event_type = 'purchase'
                 GROUP BY user_id, epoch_us(ts)),
           v AS (SELECT user_id, epoch_us(ts) AS tus, event_id
                 FROM events WHERE event_type = 'view')
      SELECT v.user_id, v.event_id, p.last_purchase_id
      FROM v ASOF LEFT JOIN p
        ON v.user_id = p.user_id AND v.tus >= p.tus
      ORDER BY v.event_id"""),
    bench = true)

  /** q49: range (interval) join — bucket event values into tiers via
    * the binned equi-join rewrite (graft.operators.RangeJoin), not a
    * nested-loop theta join. The top tier is CLOSED at a constant above
    * the value domain (purchase values top out ~476): an open-ended 1e9
    * interval would explode into hi/binWidth bins — RangeJoin's
    * documented contract is finite intervals near binWidth scale. */
  private val q49 = QuerySpec(
    "q49_range_join",
    (s, dir) => {
      import graft.operators.RangeJoin
      val tiers = Seq(
        (0.0, 10.0, "bronze"), (10.0, 50.0, "silver"),
        (50.0, 100.0, "gold"), (100.0, 1000.0, "platinum"))
      val spark = s
      import spark.implicits._
      val dim = tiers.toDF("lo", "hi", "tier")
      RangeJoin.binned(
          Tables.events(s, dir).filter(col("event_type") === "purchase"),
          dim, "value", "lo", "hi", binWidth = 25.0)
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("tier"))
    },
    oracle = Some("""
      WITH tiers(lo, hi, tier) AS (VALUES
        (0.0, 10.0, 'bronze'), (10.0, 50.0, 'silver'),
        (50.0, 100.0, 'gold'), (100.0, 1000.0, 'platinum'))
      SELECT tier, count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events JOIN tiers ON value >= lo AND value < hi
      WHERE event_type = 'purchase'
      GROUP BY tier
      ORDER BY tier"""))

  /** q50: token-budget sequence packing + deterministic hash split —
    * the LLM batch-prep step (graft.operators.Packing/Sampling).
    * xxhash64-derived group/split assignment → rows-only check; budget
    * and determinism invariants asserted in SamplingPackingSpec. */
  private val q50 = QuerySpec(
    "q50_pack_split",
    (s, dir) => {
      import graft.operators.{Packing, Sampling}
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextFns.tokenCount(col("text")).as("n_tokens"))
      val packed = Packing.greedyPack(docs, "doc_id", "n_tokens",
        budget = 256L, groups = 32)
      Sampling.hashSplit(packed, "doc_id",
          Seq("train" -> 0.9, "eval" -> 0.1))
        .orderBy(col("doc_id"))
    })

  /** q51: end-to-end near-dup dedup — MinHash-LSH pairs → connected
    * components → one row per cluster (min-id survivor + size),
    * singletons included. The oracle rebuilds the same clusters from
    * the EXACT jaccard pair graph with a recursive closure (LSH recall
    * at these settings ≈ 1, enforced by the q28 differential). */
  private val q51 = QuerySpec(
    "q51_dedup_clusters",
    (s, dir) =>
      // maxBucket unguarded: the recursive oracle clusters the exact
      // uncapped pair graph
      Dedup.nearDupGroups(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 128, bands = 32, threshold = 0.8,
          maxBucket = Int.MaxValue)
        .orderBy(col("keep_id")),
    oracle = Some("""
      WITH RECURSIVE
      toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(
            CASE WHEN len(w) >= 3 THEN
              list_transform(range(1, len(w) - 1),
                i -> array_to_string(w[i:i+2], ' '))
            ELSE [array_to_string(w, ' ')] END) AS s
          FROM toks)),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS isect
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      prs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(isect AS DOUBLE) / (sa.sz + sb.sz - isect) >= 0.8),
      edges AS (
        SELECT id_a AS s, id_b AS d FROM prs
        UNION ALL SELECT id_b, id_a FROM prs),
      reach(doc, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.doc, e.d FROM reach JOIN edges e ON reach.r = e.s),
      labels AS (SELECT doc, min(r) AS cluster FROM reach GROUP BY doc)
      SELECT min(doc) AS keep_id, count(*) AS group_size
      FROM labels
      GROUP BY cluster
      ORDER BY keep_id"""))

  /** q130: cross-doc repeated-span excision under the oracle
    * ([[Dedup.exciseRepeatedSpans]], the Lee-et-al ExactSubstr pass):
    * every 5-gram occurring twice anywhere in the corpus keeps its
    * globally-first occurrence and is cut from every other position;
    * the oracle replays the identical positional-shingle census
    * (portable md5 hash), first-occurrence window rank, position-set
    * union, and indexed-filter excision (DuckDB lambda indexes are
    * 1-based where Spark's are 0-based — both sides shift to the same
    * 1-based position space). */
  private val q130 = QuerySpec(
    "q130_repeated_spans",
    (s, dir) =>
      Dedup.exciseRepeatedSpans(Tables.documents(s, dir), "doc_id", "text",
          n = 5, minOccurrences = 2)
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                           x -> x <> '') AS w
        FROM documents),
      occ AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               ('0x' || substring(md5(
                  array_to_string(w[CAST(i AS INT):CAST(i + 4 AS INT)], ' ')
                ), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
              FROM toks WHERE len(w) >= 5)),
      marked AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
               count(*) OVER (PARTITION BY h) AS c
        FROM occ),
      cov AS (
        SELECT doc_id, list(DISTINCT p) AS cps FROM (
          SELECT doc_id, unnest(range(pos, pos + 5)) AS p
          FROM marked WHERE c >= 2 AND rn > 1)
        GROUP BY doc_id)
      SELECT t.doc_id,
             CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(coalesce(len(cps), 0) AS BIGINT) AS n_removed,
             coalesce(array_to_string(
               list_filter(w, (x, i) ->
                 cps IS NULL OR NOT list_contains(cps, CAST(i AS BIGINT))),
               ' '), '') AS clean
      FROM toks t LEFT JOIN cov ON t.doc_id = cov.doc_id
      ORDER BY t.doc_id"""))

  // ---- Perceptual image hashing (q194/q195) ---------------------------
  // The fixture images are REAL: a deterministic 16×16 gray pattern
  // (pixel value an integer formula of a group id) renders through
  // javax.imageio into actual PNG/BMP bytes, and the Spark side
  // decodes those bytes back with the REAL codec before hashing. The
  // DuckDB oracle replays the pixel FORMULA (pure integer arithmetic)
  // — so a hash mismatch ANYWHERE in render → encode → decode → luma
  // → block grid → bit packing fails the oracle, proving the whole
  // codec round-trip without DuckDB touching a byte of image.

  /** The shared oracle front: pixels → 8×8 block grid → aHash, for a
    * CTE `g (doc_id, gid, bump)`. Bit 63 forces HUGEINT accumulation
    * (DuckDB's BIGINT `<<` overflows at 63); `power(2, i)` is exact in
    * double through 2⁶³ and folds back to the two's-complement BIGINT
    * Spark carries. */
  private def phashOracleSql(): String = s"""
      px AS (
        SELECT doc_id, x.range AS x, y.range AS y,
               least(((gid*7) + (gid%5+1)*x.range + (gid%11+1)*y.range
                      + (gid%3)*x.range*y.range) % 256
                 + CASE WHEN x.range >= 14 AND y.range < 2
                        THEN bump ELSE 0 END, 255) AS v
        FROM g, range(16) x, range(16) y),
      blk8 AS (
        SELECT doc_id, (x*8)//16 AS gx, (y*8)//16 AS gy,
               sum(v)//count(*) AS b
        FROM px GROUP BY 1, 2, 3),
      mean8 AS (SELECT doc_id, sum(b)//64 AS m FROM blk8 GROUP BY doc_id),
      ah AS (
        SELECT doc_id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS ahash
        FROM (SELECT doc_id,
                     coalesce(sum(CASE WHEN b > m
                       THEN CAST(power(2, gy*8+gx) AS HUGEINT) END),
                       0) AS s
              FROM blk8 JOIN mean8 USING (doc_id) GROUP BY doc_id))"""

  /** q194: perceptual image hashes (aHash + dHash,
    * [[graft.multimodal.PerceptualHash]]) through the REAL ImageIO
    * codec round-trip — the same pixels encoded PNG for even ids and
    * BMP for odd ids MUST hash identically (the hash is a function of
    * the decoded luminance grid, not the bytes), which the oracle
    * enforces by computing hashes from the pixel formula with no
    * format term at all. */
  private val q194 = QuerySpec(
    "q194_image_phash",
    (s, dir) => {
      import s.implicits._
      import graft.multimodal.{Multimodal, PerceptualHash}
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), (col("doc_id") % 50).as("gid"))
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          PerceptualHash.renderGrayImage16(col("gid") * 7,
            col("gid") % 5 + 1, col("gid") % 11 + 1, col("gid") % 3,
            lit(0L),
            when(col("doc_id") % 2 === 0, "png").otherwise("bmp"))
            .as("payload"))
        .as[Multimodal.Media]
      PerceptualHash.perceptualHashes(media)
        .select(col("media_id").as("doc_id"), col("ahash"), col("dhash"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH g AS (
        SELECT doc_id, doc_id % 50 AS gid, 0 AS bump FROM documents),
      ${phashOracleSql()},
      blk9 AS (
        SELECT doc_id, (x*9)//16 AS gx, (y*8)//16 AS gy,
               sum(v)//count(*) AS b
        FROM px GROUP BY 1, 2, 3),
      dh AS (
        SELECT doc_id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS dhash
        FROM (SELECT l.doc_id,
                     coalesce(sum(CASE WHEN r.b > l.b
                       THEN CAST(power(2, l.gy*8+l.gx) AS HUGEINT) END),
                       0) AS s
              FROM blk9 l JOIN blk9 r
                ON r.doc_id = l.doc_id AND r.gy = l.gy AND r.gx = l.gx + 1
              GROUP BY l.doc_id))
      SELECT doc_id, ahash, dhash FROM ah JOIN dh USING (doc_id)
      ORDER BY doc_id"""))

  /** q195: perceptual near-dup
    * ([[graft.multimodal.PerceptualHash.nearDupsByHash]]) — the
    * image-native dedup byte-md5 cannot do: the same pattern rendered
    * PNG and BMP (zero shared bytes) collapses at Hamming 0, and a
    * small local retouch (one brightened corner block) lands within
    * the Hamming≤3 budget for most groups (one fixture group lands at
    * 5 and legitimately escapes — a big-enough edit IS a different
    * image). 4×16-bit banding → bucket join (census-capped) → exact
    * bit_count re-check, all replayed in SQL. */
  private val q195 = QuerySpec(
    "q195_image_phash_neardup",
    (s, dir) => {
      import s.implicits._
      import graft.multimodal.{Multimodal, PerceptualHash}
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), (col("doc_id") % 40).as("gid"),
          when(col("doc_id") % 5 === 0, 64L).otherwise(0L).as("bump"))
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          PerceptualHash.renderGrayImage16(col("gid") * 7,
            col("gid") % 5 + 1, col("gid") % 11 + 1, col("gid") % 3,
            col("bump"),
            when(col("doc_id") % 2 === 0, "png").otherwise("bmp"))
            .as("payload"))
        .as[Multimodal.Media]
      PerceptualHash.nearDupsByHash(
          PerceptualHash.perceptualHashes(media), "media_id", "ahash",
          maxDist = 3, maxBucket = 1024)
        .select(col("dup_id"), col("keep_id"), col("hamming"))
        .orderBy(col("dup_id"))
    },
    oracle = Some(s"""
      WITH g AS (
        SELECT doc_id, doc_id % 40 AS gid,
               CASE WHEN doc_id % 5 = 0 THEN 64 ELSE 0 END AS bump
        FROM documents),
      ${phashOracleSql()},
      bands AS (
        SELECT doc_id, ahash, b.range AS b,
               (ahash >> CAST(16*b.range AS INTEGER)) & 65535 AS v
        FROM ah, range(4) b),
      ok AS (
        SELECT b, v FROM bands GROUP BY b, v
        HAVING count(*) BETWEEN 2 AND 1024),
      cb AS (SELECT bands.* FROM bands JOIN ok USING (b, v)),
      pairs AS (
        SELECT DISTINCT a.doc_id AS dup_id, c.doc_id AS nbr,
               bit_count(xor(a.ahash, c.ahash)) AS hamming
        FROM cb a JOIN cb c ON a.b = c.b AND a.v = c.v
          AND a.doc_id > c.doc_id)
      SELECT dup_id, min(nbr) AS keep_id,
             CAST(arg_min(hamming, nbr) AS INTEGER) AS hamming
      FROM pairs WHERE hamming <= 3
      GROUP BY dup_id
      ORDER BY dup_id"""))

  /** q196: joint media↔text curation
    * ([[graft.multimodal.Multimodal.dropAllDuplicateImageDocs]]) —
    * documents gate on media-side evidence: each doc carries two
    * images (one from a shared pool; the second unique, except every
    * fifth doc whose second image is ALSO pooled), and a doc survives
    * only if at least one of its images WINS its byte-dedup group.
    * Scraped-gallery docs (all images seen elsewhere with smaller
    * ids) drop; DuckDB replays fingerprints, keeper election, and the
    * gate end to end. */
  private val q196 = QuerySpec(
    "q196_media_doc_gate",
    (s, dir) => {
      import graft.multimodal.Multimodal
      val docs = Tables.documents(s, dir)
      val media = docs.select(
          col("doc_id"),
          concat(lit("IMG:"), (col("doc_id") % 40).cast("string"))
            .as("pa"),
          when(col("doc_id") % 5 === 0,
            concat(lit("IMGB:"), (col("doc_id") % 40).cast("string")))
            .otherwise(concat(lit("IMG:uniq:"),
              col("doc_id").cast("string"))).as("pb"))
        .select(col("doc_id"), explode(array(
          struct((col("doc_id") * 2).as("media_id"),
            encode(col("pa"), "UTF-8").as("payload")),
          struct((col("doc_id") * 2 + 1).as("media_id"),
            encode(col("pb"), "UTF-8").as("payload")))).as("m"))
        .select(col("m.media_id").as("media_id"), col("doc_id"),
          col("m.payload").as("payload"))
      Multimodal.dropAllDuplicateImageDocs(docs, "doc_id", media,
          "media_id", "doc_id", "payload")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH media AS (
        SELECT doc_id, doc_id * 2 AS media_id,
               'IMG:' || CAST(doc_id % 40 AS VARCHAR) AS payload
        FROM documents
        UNION ALL
        SELECT doc_id, doc_id * 2 + 1,
               CASE WHEN doc_id % 5 = 0
                    THEN 'IMGB:' || CAST(doc_id % 40 AS VARCHAR)
                    ELSE 'IMG:uniq:' || CAST(doc_id AS VARCHAR) END
        FROM documents),
      fp AS (SELECT doc_id, media_id, md5(payload) AS f FROM media),
      keepers AS (SELECT min(media_id) AS media_id FROM fp GROUP BY f),
      owners AS (
        SELECT DISTINCT doc_id FROM fp
        JOIN keepers USING (media_id))
      SELECT doc_id FROM documents
      WHERE doc_id IN (SELECT doc_id FROM owners)
      ORDER BY doc_id"""))

  /** q197: image quality gate
    * ([[graft.multimodal.Multimodal.imageQualityGate]]) — the
    * LAION-class structural rules (decodable, short side ≥ 32, aspect
    * ≤ 3:1) judged on the REAL decoded header: the fixture renders
    * each doc's image at formula-derived dimensions through the real
    * PNG/BMP writers, Spark reads width/height back off the decoded
    * header, and the oracle replays the dimension FORMULAS and the
    * integer gate — so a dimension lie anywhere in the codec
    * round-trip fails the oracle. Sizes sweep 8..136 × 8..152:
    * thumbnails fail the side floor, slivers fail the aspect cap,
    * both formats must gate identically. */
  private val q197 = QuerySpec(
    "q197_image_quality_gate",
    (s, dir) => {
      import s.implicits._
      import graft.multimodal.{Multimodal, PerceptualHash}
      val media = Tables.documents(s, dir)
        .select(col("doc_id"),
          (lit(8) + (col("doc_id") % 9) * 16).cast("int").as("w"),
          (lit(8) + (col("doc_id") % 7) * 24).cast("int").as("h"))
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          PerceptualHash.renderGrayImageWH(col("w"), col("h"),
            col("media_id") % 251,
            when(col("media_id") % 2 === 0, "png").otherwise("bmp"))
            .as("payload"))
        .as[Multimodal.Media]
      Multimodal.imageQualityGate(media, minSide = 32, maxAspect = 3)
        .select(col("media_id").as("doc_id"), col("format"),
          col("width"), col("height"), col("keep"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
             CAST(8 + (doc_id % 9) * 16 AS INTEGER) AS width,
             CAST(8 + (doc_id % 7) * 24 AS INTEGER) AS height,
             (8 + (doc_id % 9) * 16 >= 32 AND 8 + (doc_id % 7) * 24 >= 32
              AND greatest(8 + (doc_id % 9) * 16, 8 + (doc_id % 7) * 24)
                  <= 3 * least(8 + (doc_id % 9) * 16,
                               8 + (doc_id % 7) * 24)) AS keep
      FROM documents
      ORDER BY doc_id"""))

  /** q198: DUAL-hash perceptual near-dup
    * ([[graft.multimodal.PerceptualHash.nearDupsByDualHash]]) on a
    * LETTERBOXED fixture — the degenerate region single-hash banding
    * documents away: every image shares black top rows, so aHash band
    * 0 (and dHash band 0) is ONE corpus-wide bucket the census cap
    * skips, and the retouch (a uniform bump over full pixel-row
    * pairs) flips aHash bits in all three pattern bands while
    * flipping ZERO dHash bits — the retouched pair's only intact
    * aHash band is the skipped degenerate one, invisible to q195's
    * single-hash banding, but its gid-specific dHash bands surface it
    * and the summed 128-bit confirmation (≤ 6) accepts it. The same
    * sum also REJECTS aHash-only coincidences between different
    * patterns (brightness layout agrees, gradient disagrees) — both
    * directions replayed bit-for-bit by the oracle. */
  private val q198 = QuerySpec(
    "q198_image_dual_hash_neardup",
    (s, dir) => {
      import s.implicits._
      import graft.multimodal.{Multimodal, PerceptualHash}
      val media = Tables.documents(s, dir)
        .select(col("doc_id"),
          ((col("doc_id") / 2).cast("long") % 40).as("gid"),
          when(col("doc_id") % 2 === 1, 20L).otherwise(0L).as("bump"))
        .select(col("doc_id").as("media_id"), lit("image").as("kind"),
          PerceptualHash.renderLetterboxImage16(col("gid") * 7,
            col("gid") % 5 + 1, col("gid") % 11 + 1, col("gid") % 3,
            col("bump"),
            when(col("media_id") % 3 === 0, "bmp").otherwise("png"))
            .as("payload"))
        .as[Multimodal.Media]
      PerceptualHash.nearDupsByDualHash(
          PerceptualHash.perceptualHashes(media), "media_id",
          "ahash", "dhash", maxDist = 6, maxBucket = 64)
        .select(col("dup_id"), col("keep_id"), col("hamming"))
        .orderBy(col("dup_id"))
    },
    oracle = Some("""
      WITH g AS (
        SELECT doc_id, (doc_id // 2) % 40 AS gid,
               CASE WHEN doc_id % 2 = 1 THEN 20 ELSE 0 END AS bump
        FROM documents),
      px AS (
        SELECT doc_id, x.range AS x, y.range AS y,
               CASE WHEN y.range < 4 THEN 0
                    ELSE least(((gid*7) + (gid%5+1)*x.range
                                + (gid%11+1)*y.range
                                + (gid%3)*x.range*y.range) % 200
                      + CASE WHEN y.range IN (4,5,8,9,12,13)
                             THEN bump ELSE 0 END, 255) END AS v
        FROM g, range(16) x, range(16) y),
      blk8 AS (
        SELECT doc_id, (x*8)//16 AS gx, (y*8)//16 AS gy,
               sum(v)//count(*) AS b
        FROM px GROUP BY 1, 2, 3),
      mean8 AS (SELECT doc_id, sum(b)//64 AS m FROM blk8 GROUP BY doc_id),
      ah AS (
        SELECT doc_id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS ahash
        FROM (SELECT doc_id,
                     coalesce(sum(CASE WHEN b > m
                       THEN CAST(power(2, gy*8+gx) AS HUGEINT) END),
                       0) AS s
              FROM blk8 JOIN mean8 USING (doc_id) GROUP BY doc_id)),
      blk9 AS (
        SELECT doc_id, (x*9)//16 AS gx, (y*8)//16 AS gy,
               sum(v)//count(*) AS b
        FROM px GROUP BY 1, 2, 3),
      dh AS (
        SELECT doc_id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS dhash
        FROM (SELECT l.doc_id,
                     coalesce(sum(CASE WHEN r.b > l.b
                       THEN CAST(power(2, l.gy*8+l.gx) AS HUGEINT) END),
                       0) AS s
              FROM blk9 l JOIN blk9 r
                ON r.doc_id = l.doc_id AND r.gy = l.gy AND r.gx = l.gx + 1
              GROUP BY l.doc_id)),
      hh AS (SELECT doc_id, ahash, dhash FROM ah JOIN dh USING (doc_id)),
      bands AS (
        SELECT doc_id, ahash, dhash, b.range AS b,
               CASE WHEN b.range < 4
                    THEN (ahash >> CAST(16*b.range AS INTEGER)) & 65535
                    ELSE (dhash >> CAST(16*(b.range-4) AS INTEGER)) & 65535
               END AS v
        FROM hh, range(8) b),
      ok AS (
        SELECT b, v FROM bands GROUP BY b, v
        HAVING count(*) BETWEEN 2 AND 64),
      cb AS (SELECT bands.* FROM bands JOIN ok USING (b, v)),
      pairs AS (
        SELECT DISTINCT a.doc_id AS dup_id, c.doc_id AS nbr,
               bit_count(xor(a.ahash, c.ahash))
                 + bit_count(xor(a.dhash, c.dhash)) AS hamming
        FROM cb a JOIN cb c ON a.b = c.b AND a.v = c.v
          AND a.doc_id > c.doc_id)
      SELECT dup_id, min(nbr) AS keep_id,
             CAST(arg_min(hamming, nbr) AS INTEGER) AS hamming
      FROM pairs WHERE hamming <= 6
      GROUP BY dup_id
      ORDER BY dup_id"""))

  /** q199: PERCEPTUAL media→doc gate
    * ([[graft.multimodal.Multimodal.dropAllDuplicateImageDocsPerceptual]],
    * the production pipeline's `mediaPerceptualDedup` stage) — q196's
    * byte gate upgraded to decoded-content originality: each doc owns
    * one REAL rendered image; re-encodes (PNG vs BMP of one pattern —
    * distinct byte groups, so every one wins its own byte group and
    * q196's gate keeps them ALL) and full-row retouches collapse onto
    * one perceptual keeper, and docs owning only collapsed copies
    * drop. On this fixture the byte-only gate keeps 180 docs; the
    * perceptual gate keeps 54 (34 owners of true originals + 20
    * media-less/NULL-payload docs, both keep-the-unparseable). The
    * oracle replays byte-group election as GROUP BY the render
    * parameters (the renderer is deterministic, so byte-identity ≡
    * parameter-identity), then the full dual-hash pipeline of q198
    * over the keepers. */
  private val q199 = QuerySpec(
    "q199_media_doc_gate_perceptual",
    (s, dir) => {
      import graft.multimodal.{Multimodal, PerceptualHash}
      val docs = Tables.documents(s, dir)
      val media = docs.filter(col("doc_id") < 490)
        .select(col("doc_id"),
          ((col("doc_id") / 2).cast("long") % 40).as("gid"),
          when(col("doc_id") % 2 === 1, 20L).otherwise(0L).as("bump"))
        .select(col("doc_id").as("media_id"), col("doc_id"),
          when(col("doc_id") < 480,
            PerceptualHash.renderLetterboxImage16(col("gid") * 7,
              col("gid") % 5 + 1, col("gid") % 11 + 1, col("gid") % 3,
              col("bump"),
              when(col("doc_id") % 3 === 0, "bmp").otherwise("png")))
            .otherwise(lit(null).cast("binary")).as("payload"))
      Multimodal.dropAllDuplicateImageDocsPerceptual(docs, "doc_id",
          media, "media_id", "doc_id", "payload",
          maxDist = 6, maxBucket = 64)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH m AS (
        SELECT doc_id, (doc_id // 2) % 40 AS gid,
               CASE WHEN doc_id % 2 = 1 THEN 20 ELSE 0 END AS bump,
               CASE WHEN doc_id % 3 = 0 THEN 'bmp' ELSE 'png' END AS fmt
        FROM documents WHERE doc_id < 480),
      g AS (
        SELECT min(doc_id) AS doc_id, gid, bump
        FROM m GROUP BY gid, bump, fmt),
      px AS (
        SELECT doc_id, x.range AS x, y.range AS y,
               CASE WHEN y.range < 4 THEN 0
                    ELSE least(((gid*7) + (gid%5+1)*x.range
                                + (gid%11+1)*y.range
                                + (gid%3)*x.range*y.range) % 200
                      + CASE WHEN y.range IN (4,5,8,9,12,13)
                             THEN bump ELSE 0 END, 255) END AS v
        FROM g, range(16) x, range(16) y),
      blk8 AS (
        SELECT doc_id, (x*8)//16 AS gx, (y*8)//16 AS gy,
               sum(v)//count(*) AS b
        FROM px GROUP BY 1, 2, 3),
      mean8 AS (SELECT doc_id, sum(b)//64 AS m FROM blk8 GROUP BY doc_id),
      ah AS (
        SELECT doc_id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS ahash
        FROM (SELECT doc_id,
                     coalesce(sum(CASE WHEN b > m
                       THEN CAST(power(2, gy*8+gx) AS HUGEINT) END),
                       0) AS s
              FROM blk8 JOIN mean8 USING (doc_id) GROUP BY doc_id)),
      blk9 AS (
        SELECT doc_id, (x*9)//16 AS gx, (y*8)//16 AS gy,
               sum(v)//count(*) AS b
        FROM px GROUP BY 1, 2, 3),
      dh AS (
        SELECT doc_id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS dhash
        FROM (SELECT l.doc_id,
                     coalesce(sum(CASE WHEN r.b > l.b
                       THEN CAST(power(2, l.gy*8+l.gx) AS HUGEINT) END),
                       0) AS s
              FROM blk9 l JOIN blk9 r
                ON r.doc_id = l.doc_id AND r.gy = l.gy AND r.gx = l.gx + 1
              GROUP BY l.doc_id)),
      hh AS (SELECT doc_id, ahash, dhash FROM ah JOIN dh USING (doc_id)),
      bands AS (
        SELECT doc_id, ahash, dhash, b.range AS b,
               CASE WHEN b.range < 4
                    THEN (ahash >> CAST(16*b.range AS INTEGER)) & 65535
                    ELSE (dhash >> CAST(16*(b.range-4) AS INTEGER)) & 65535
               END AS v
        FROM hh, range(8) b),
      ok AS (
        SELECT b, v FROM bands GROUP BY b, v
        HAVING count(*) BETWEEN 2 AND 64),
      cb AS (SELECT bands.* FROM bands JOIN ok USING (b, v)),
      dups AS (
        SELECT DISTINCT a.doc_id AS dup_id
        FROM cb a JOIN cb c ON a.b = c.b AND a.v = c.v
          AND a.doc_id > c.doc_id
        WHERE bit_count(xor(a.ahash, c.ahash))
                + bit_count(xor(a.dhash, c.dhash)) <= 6)
      SELECT doc_id FROM documents
      WHERE doc_id >= 480
         OR doc_id IN (SELECT doc_id FROM g WHERE doc_id NOT IN
                         (SELECT dup_id FROM dups))
      ORDER BY doc_id"""))

  /** q200: VIDEO near-dup by frame-set overlap
    * ([[graft.multimodal.Multimodal.videoNearDups]]) — the video-dedup
    * story composed from existing kernels: each doc is a length-
    * prefixed container of six REAL 16×16 rendered frames
    * ([[graft.multimodal.Multimodal.packImageFrames]]), and the four
    * variants per pattern family are exactly the copies a crawl
    * carries: the original, a re-encode (same pixels, BMP — zero
    * shared bytes in any frame), a TRIM (first frame dropped — frame
    * indices shift, which alignment-free set overlap ignores), and a
    * one-frame retouch (spot bump). All three non-originals collapse
    * onto the family's smallest id at ≥ 6000 bp overlap; unrelated
    * patterns never pair. The oracle replays per-frame aHash from the
    * pixel formulas, the frame-level banding + census, the distinct-
    * matched-frame count, and the division-free basis-point floor —
    * so the container walk and six codec round-trips per doc are all
    * under oracle. */
  private val q200 = QuerySpec(
    "q200_video_neardup",
    (s, dir) => {
      import s.implicits._
      import graft.multimodal.{Multimodal, PerceptualHash}
      val mkVideo = udf((gid: Long, variant: Int) => {
        val fmt = if (variant == 1) "bmp" else "png"
        val fs = (if (variant == 2) 1 to 5 else 0 to 5).map { f =>
          PerceptualHash.renderGrayImage(16, 16, gid * 7,
            (gid + f) % 5 + 1, (gid + 2 * f) % 11 + 1, (gid + f) % 3,
            if (variant == 3 && f == 3) 64L else 0L, fmt)
        }
        Multimodal.packImageFrames(fs)
      })
      val media = Tables.documents(s, dir)
        .select(col("doc_id").as("media_id"), lit("video").as("kind"),
          mkVideo(((col("doc_id") / 4).cast("long") % 60),
            (col("doc_id") % 4).cast("int")).as("payload"))
        .as[Multimodal.Media]
      Multimodal.videoNearDups(media, stride = 1, maxDist = 3,
          maxBucket = 256, minOverlapBp = 6000)
        .select(col("dup_id"), col("keep_id"), col("n_matched"),
          col("n_frames"))
        .orderBy(col("dup_id"))
    },
    oracle = Some("""
      WITH g AS (
        SELECT doc_id, (doc_id // 4) % 60 AS gid, doc_id % 4 AS variant
        FROM documents),
      fr AS (
        SELECT doc_id, gid, variant, f.range AS f,
               CASE WHEN variant = 3 AND f.range = 3 THEN 64 ELSE 0 END
                 AS bump
        FROM g, range(6) f
        WHERE NOT (variant = 2 AND f.range = 0)),
      px AS (
        SELECT doc_id, f, x.range AS x, y.range AS y,
               least(((gid*7) + ((gid+f)%5+1)*x.range
                      + ((gid+2*f)%11+1)*y.range
                      + ((gid+f)%3)*x.range*y.range) % 256
                 + CASE WHEN x.range >= 14 AND y.range < 2
                        THEN bump ELSE 0 END, 255) AS v
        FROM fr, range(16) x, range(16) y),
      blk8 AS (
        SELECT doc_id, f, (x*8)//16 AS gx, (y*8)//16 AS gy,
               sum(v)//count(*) AS b
        FROM px GROUP BY 1, 2, 3, 4),
      mean8 AS (
        SELECT doc_id, f, sum(b)//64 AS m FROM blk8 GROUP BY doc_id, f),
      ah AS (
        SELECT doc_id, f,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS ahash
        FROM (SELECT doc_id, f,
                     coalesce(sum(CASE WHEN b > m
                       THEN CAST(power(2, gy*8+gx) AS HUGEINT) END),
                       0) AS s
              FROM blk8 JOIN mean8 USING (doc_id, f)
              GROUP BY doc_id, f)),
      nf AS (SELECT doc_id, count(*) AS n_frames FROM ah GROUP BY doc_id),
      bands AS (
        SELECT doc_id, f, ahash, b.range AS b,
               (ahash >> CAST(16*b.range AS INTEGER)) & 65535 AS v
        FROM ah, range(4) b),
      ok AS (
        SELECT b, v FROM bands GROUP BY b, v
        HAVING count(*) BETWEEN 2 AND 256),
      cb AS (SELECT bands.* FROM bands JOIN ok USING (b, v)),
      mt AS (
        SELECT dup_id, nbr, count(*) AS n_matched FROM (
          SELECT DISTINCT a.doc_id AS dup_id, c.doc_id AS nbr, a.f
          FROM cb a JOIN cb c ON a.b = c.b AND a.v = c.v
            AND a.doc_id > c.doc_id
          WHERE bit_count(xor(a.ahash, c.ahash)) <= 3)
        GROUP BY dup_id, nbr),
      dup AS (
        SELECT mt.dup_id, mt.nbr, mt.n_matched, nf.n_frames
        FROM mt JOIN nf ON nf.doc_id = mt.dup_id
        WHERE mt.n_matched * 10000 >= 6000 * nf.n_frames)
      SELECT dup_id, min(nbr) AS keep_id,
             arg_min(n_matched, nbr) AS n_matched,
             arg_min(n_frames, nbr) AS n_frames
      FROM dup
      GROUP BY dup_id
      ORDER BY dup_id"""))

  // ---- Real audio kernel (q201/q202) -----------------------------------
  // The fixture WAVs are REAL RIFF/PCM files assembled by
  // AudioWave.writeWav and re-parsed by the REAL RIFF walker before
  // any number is computed; the DuckDB oracle replays the sample
  // FORMULAS (pure integer arithmetic) — the q194 codec-round-trip
  // pattern on the audio axis.

  /** q201: audio quality gate
    * ([[graft.multimodal.AudioWave.audioQualityGate]]) — parseability,
    * sample-rate floor, length floor, and the exact-integer clipping
    * per-mille, judged on REALLY-parsed PCM: each doc synthesizes a
    * WAV whose rate/length/clipping/parseability are formula-driven
    * (including overlaps), Spark reads everything back through the
    * RIFF walker, and the oracle replays the formulas — a lie
    * anywhere in write → parse → count fails the hash. */
  private val q201 = QuerySpec(
    "q201_audio_quality_gate",
    (s, dir) => {
      import s.implicits._
      import graft.multimodal.{AudioWave, Multimodal}
      val mkWav = udf((docId: Long) => {
        if (docId % 17 == 0) "not a wav, just prose".getBytes("UTF-8")
        else {
          val rate = if (docId % 7 == 0) 4000
            else 8000 + (docId % 5).toInt * 4000
          val n = if (docId % 11 == 0) 512
            else 1024 + (docId % 3).toInt * 512
          val a = (docId % 251).toInt
          val b = (docId % 7).toInt + 1
          val clip = docId % 13 == 0
          val samples = Array.tabulate(n) { t =>
            if (clip && t < n / 16) 32767
            else ((a + b * t) % 64 - 32) * 256
          }
          AudioWave.writeWav(samples, rate, bits = 16)
        }
      })
      val media = Tables.documents(s, dir)
        .select(col("doc_id").as("media_id"), lit("audio").as("kind"),
          mkWav(col("doc_id")).as("payload"))
        .as[Multimodal.Media]
      AudioWave.audioQualityGate(media, minRate = 8000,
          minSamples = 1024, maxClipPerMille = 10)
        .select(col("media_id").as("doc_id"), col("sample_rate"),
          col("n_samples"), col("clip_per_mille"), col("keep"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH p AS (
        SELECT doc_id,
               doc_id % 17 = 0 AS bad,
               CASE WHEN doc_id % 7 = 0 THEN 4000
                    ELSE 8000 + (doc_id % 5) * 4000 END AS rate,
               CASE WHEN doc_id % 11 = 0 THEN 512
                    ELSE 1024 + (doc_id % 3) * 512 END AS n,
               doc_id % 13 = 0 AS clip
        FROM documents)
      SELECT doc_id,
             CAST(CASE WHEN bad THEN 0 ELSE rate END AS INTEGER)
               AS sample_rate,
             CAST(CASE WHEN bad THEN 0 ELSE n END AS INTEGER) AS n_samples,
             CAST(CASE WHEN bad THEN 0
                       WHEN clip THEN (n // 16) * 1000 // n
                       ELSE 0 END AS INTEGER) AS clip_per_mille,
             (NOT bad AND rate >= 8000 AND n >= 1024 AND
              (CASE WHEN clip THEN (n // 16) * 1000 // n ELSE 0 END) <= 10)
               AS keep
      FROM p
      ORDER BY doc_id"""))

  /** q202: audio near-dup by banded energy-envelope hash
    * ([[graft.multimodal.AudioWave.audioNearDups]]) — the re-master
    * collapse byte-md5 cannot do on audio: a bit-depth re-encode
    * (8-bit WAV of the same signal, zero shared data bytes) and a
    * volume-halved re-master both hash IDENTICALLY (exact
    * normalization + gain invariance), and a 16-sample mute retouch
    * lands within Hamming 3 for most groups (one fixture family
    * legitimately escapes at 11 — a big-enough edit IS different
    * audio). Banding, census cap, and keeper election are the q195
    * machinery; everything replays from the sample formulas. */
  private val q202 = QuerySpec(
    "q202_audio_neardup",
    (s, dir) => {
      import s.implicits._
      import graft.multimodal.{AudioWave, Multimodal}
      val mkWav = udf((docId: Long) => {
        val g = (docId / 4) % 60
        val variant = (docId % 4).toInt
        val samples = Array.tabulate(1024) { t =>
          val w = t / 16
          val base = ((g * 13 + (g % 7 + 1) * t) % 64 - 32).toInt
          val hi = (g * 1103515245L + w.toLong * w * (g % 13 + 1) +
            w.toLong * (g % 31 + 3)) % 97 < 32
          val v = base * (if (hi) 4 else 1)
          if (variant == 3 && t >= 256 && t < 272) 0
          // ×85: a NON-power-of-two, non-multiple-of-256 gain — only
          // the cross-multiplied (floor-free) envelope rule collapses
          // it exactly; the old double-floored rule could flip
          // near-mean bits under it
          else if (variant == 2) v * 85
          else v * 256
        }
        AudioWave.writeWav(samples, 16000,
          bits = if (variant == 1) 8 else 16)
      })
      val media = Tables.documents(s, dir)
        .select(col("doc_id").as("media_id"), lit("audio").as("kind"),
          mkWav(col("doc_id")).as("payload"))
        .as[Multimodal.Media]
      AudioWave.audioNearDups(media, maxDist = 3, maxBucket = 1024)
        .select(col("dup_id"), col("keep_id"), col("hamming"))
        .orderBy(col("dup_id"))
    },
    oracle = Some("""
      WITH g AS (
        SELECT doc_id, (doc_id // 4) % 60 AS gid, doc_id % 4 AS variant
        FROM documents),
      smp AS (
        SELECT doc_id, t.range AS t, t.range // 16 AS w,
               CASE WHEN variant = 3 AND t.range >= 256 AND t.range < 272
                    THEN 0
                    ELSE ((gid*13 + (gid%7+1)*t.range) % 64 - 32)
                      * (CASE WHEN (gid*1103515245
                                    + (t.range//16)*(t.range//16)*(gid%13+1)
                                    + (t.range//16)*(gid%31+3)) % 97 < 32
                              THEN 4 ELSE 1 END)
                      * (CASE WHEN variant = 2 THEN 85 ELSE 256 END)
               END AS s
        FROM g, range(1024) t),
      env AS (
        SELECT doc_id, w, sum(abs(s)) AS sm, count(*) AS c
        FROM smp GROUP BY doc_id, w),
      tot AS (SELECT doc_id, sum(sm) AS ts, sum(c) AS n
              FROM env GROUP BY doc_id),
      eh AS (
        SELECT doc_id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS ehash
        FROM (SELECT doc_id,
                     coalesce(sum(CASE WHEN sm * n > ts * c
                       THEN CAST(power(2, w) AS HUGEINT) END), 0) AS s
              FROM env JOIN tot USING (doc_id) GROUP BY doc_id)),
      bands AS (
        SELECT doc_id, ehash, b.range AS b,
               (ehash >> CAST(16*b.range AS INTEGER)) & 65535 AS v
        FROM eh, range(4) b),
      ok AS (
        SELECT b, v FROM bands GROUP BY b, v
        HAVING count(*) BETWEEN 2 AND 1024),
      cb AS (SELECT bands.* FROM bands JOIN ok USING (b, v)),
      pairs AS (
        SELECT DISTINCT a.doc_id AS dup_id, c.doc_id AS nbr,
               bit_count(xor(a.ehash, c.ehash)) AS hamming
        FROM cb a JOIN cb c ON a.b = c.b AND a.v = c.v
          AND a.doc_id > c.doc_id)
      SELECT dup_id, min(nbr) AS keep_id,
             CAST(arg_min(hamming, nbr) AS INTEGER) AS hamming
      FROM pairs WHERE hamming <= 3
      GROUP BY dup_id
      ORDER BY dup_id"""))

  /** q203: UNIFIED multimodal originality gate
    * ([[graft.multimodal.Multimodal.dropAllDuplicateMediaDocs]]) —
    * one doc gate over evidence from ALL media kinds at once: each
    * doc owns one REAL media object (doc_id mod 3 picks image / audio
    * / video), every kind carries its byte-blind re-encode class
    * (PNG↔BMP letterbox renders; 16↔8-bit WAVs; full↔trimmed frame
    * containers), and byte election + the three perceptual elections
    * (dual-hash / envelope / frame-set overlap) run behind one gate.
    * DuckDB replays all three CTE families (each individually proven
    * in q198–q202) plus the kind-split byte election — container
    * magics keep kinds byte-disjoint, so GROUP BY the per-kind render
    * parameters is exact. NULL-payload docs (480–489) and media-less
    * docs (≥490) pass untouched. */
  private val q203 = QuerySpec(
    "q203_media_doc_gate_unified",
    (s, dir) => {
      import graft.multimodal.{AudioWave, Multimodal, PerceptualHash}
      val docs = Tables.documents(s, dir)
      val mkAudio = udf((j: Long) => {
        val g = (j / 2) % 30
        val samples = Array.tabulate(1024) { t =>
          val w = t / 16
          val base = ((g * 13 + (g % 7 + 1) * t) % 64 - 32).toInt
          val hi = (g * 1103515245L + w.toLong * w * (g % 13 + 1) +
            w.toLong * (g % 31 + 3)) % 97 < 32
          base * (if (hi) 4 else 1) * 256
        }
        AudioWave.writeWav(samples, 16000,
          bits = if (j % 2 == 1) 8 else 16)
      })
      val mkVideo = udf((j: Long) => {
        val g = (j / 2) % 30
        val fs = (if (j % 2 == 1) 1 to 5 else 0 to 5).map { f =>
          PerceptualHash.renderGrayImage(16, 16, g * 7,
            (g + f) % 5 + 1, (g + 2 * f) % 11 + 1, (g + f) % 3, 0L,
            "png")
        }
        Multimodal.packImageFrames(fs)
      })
      val j = (col("doc_id") / 3).cast("long")
      val g = ((j / 2).cast("long") % 30)
      val media = docs.filter(col("doc_id") < 490)
        .select(col("doc_id").as("media_id"), col("doc_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (col("doc_id") % 3 + 1).cast("int")).as("kind"),
          when(col("doc_id") >= 480, lit(null).cast("binary"))
            .when(col("doc_id") % 3 === 0,
              PerceptualHash.renderLetterboxImage16(g * 7, g % 5 + 1,
                g % 11 + 1, g % 3,
                when(j % 2 === 1, 20L).otherwise(0L),
                when(j % 3 === 0, "bmp").otherwise("png")))
            .when(col("doc_id") % 3 === 1, mkAudio(j))
            .otherwise(mkVideo(j)).as("payload"))
      // the gate re-references its media relation ~5× (fingerprint
      // pass + three kind legs + evidence tail); in production media
      // is STORAGE it re-scans, so an expensively-DERIVED relation
      // (these render UDFs) is materialized once — the SCALE.md r13
      // usage rule, and what makes this bench entry time the GATE
      // rather than five fixture renders. EAGER localCheckpoint, not
      // persist: a builder cannot unpersist (its result is consumed
      // after it returns), and un-released cache entries from every
      // invocation would accumulate for the session's life —
      // checkpoint blocks are GC-released when the plan is dropped.
      // (Eager is also the deadlock-safe mode: never lazy-checkpoint
      // a relation a consumer may broadcast.)
      val mediaPinned = media.localCheckpoint(true)
      Multimodal.dropAllDuplicateMediaDocs(docs, "doc_id", mediaPinned,
          "media_id", "doc_id", "kind", "payload",
          imageMaxDist = 6, audioMaxDist = 3, videoMaxDist = 3,
          videoMinOverlapBp = 6000, maxBucket = 64)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH base AS (
        SELECT doc_id, doc_id // 3 AS j, ((doc_id // 3) // 2) % 30 AS gid
        FROM documents WHERE doc_id < 480),
      -- ---- image family (doc_id % 3 = 0): letterbox dual-hash -------
      img_g AS (
        SELECT min(doc_id) AS doc_id, gid, bump FROM (
          SELECT doc_id, gid,
                 CASE WHEN j % 2 = 1 THEN 20 ELSE 0 END AS bump,
                 CASE WHEN j % 3 = 0 THEN 'bmp' ELSE 'png' END AS fmt
          FROM base WHERE doc_id % 3 = 0)
        GROUP BY gid, bump, fmt),
      img_px AS (
        SELECT doc_id, x.range AS x, y.range AS y,
               CASE WHEN y.range < 4 THEN 0
                    ELSE least(((gid*7) + (gid%5+1)*x.range
                                + (gid%11+1)*y.range
                                + (gid%3)*x.range*y.range) % 200
                      + CASE WHEN y.range IN (4,5,8,9,12,13)
                             THEN bump ELSE 0 END, 255) END AS v
        FROM img_g, range(16) x, range(16) y),
      img_blk8 AS (
        SELECT doc_id, (x*8)//16 AS gx, (y*8)//16 AS gy,
               sum(v)//count(*) AS b
        FROM img_px GROUP BY 1, 2, 3),
      img_mean8 AS (
        SELECT doc_id, sum(b)//64 AS m FROM img_blk8 GROUP BY doc_id),
      img_ah AS (
        SELECT doc_id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS ahash
        FROM (SELECT doc_id,
                     coalesce(sum(CASE WHEN b > m
                       THEN CAST(power(2, gy*8+gx) AS HUGEINT) END),
                       0) AS s
              FROM img_blk8 JOIN img_mean8 USING (doc_id)
              GROUP BY doc_id)),
      img_blk9 AS (
        SELECT doc_id, (x*9)//16 AS gx, (y*8)//16 AS gy,
               sum(v)//count(*) AS b
        FROM img_px GROUP BY 1, 2, 3),
      img_dh AS (
        SELECT doc_id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS dhash
        FROM (SELECT l.doc_id,
                     coalesce(sum(CASE WHEN r.b > l.b
                       THEN CAST(power(2, l.gy*8+l.gx) AS HUGEINT) END),
                       0) AS s
              FROM img_blk9 l JOIN img_blk9 r
                ON r.doc_id = l.doc_id AND r.gy = l.gy
                  AND r.gx = l.gx + 1
              GROUP BY l.doc_id)),
      img_hh AS (
        SELECT doc_id, ahash, dhash FROM img_ah JOIN img_dh
        USING (doc_id)),
      img_bands AS (
        SELECT doc_id, ahash, dhash, b.range AS b,
               CASE WHEN b.range < 4
                    THEN (ahash >> CAST(16*b.range AS INTEGER)) & 65535
                    ELSE (dhash >> CAST(16*(b.range-4) AS INTEGER))
                      & 65535 END AS v
        FROM img_hh, range(8) b),
      img_ok AS (
        SELECT b, v FROM img_bands GROUP BY b, v
        HAVING count(*) BETWEEN 2 AND 64),
      img_cb AS (
        SELECT img_bands.* FROM img_bands JOIN img_ok USING (b, v)),
      img_dups AS (
        SELECT DISTINCT a.doc_id AS dup_id
        FROM img_cb a JOIN img_cb c ON a.b = c.b AND a.v = c.v
          AND a.doc_id > c.doc_id
        WHERE bit_count(xor(a.ahash, c.ahash))
                + bit_count(xor(a.dhash, c.dhash)) <= 6),
      -- ---- audio family (doc_id % 3 = 1): envelope hash -------------
      aud_g AS (
        SELECT min(doc_id) AS doc_id, gid FROM (
          SELECT doc_id, gid, j % 2 AS bits8
          FROM base WHERE doc_id % 3 = 1)
        GROUP BY gid, bits8),
      aud_smp AS (
        SELECT doc_id, t.range // 16 AS w,
               ((gid*13 + (gid%7+1)*t.range) % 64 - 32)
                 * (CASE WHEN (gid*1103515245
                               + (t.range//16)*(t.range//16)*(gid%13+1)
                               + (t.range//16)*(gid%31+3)) % 97 < 32
                         THEN 4 ELSE 1 END) * 256 AS s
        FROM aud_g, range(1024) t),
      aud_env AS (
        SELECT doc_id, w, sum(abs(s)) AS sm, count(*) AS c
        FROM aud_smp GROUP BY doc_id, w),
      aud_tot AS (
        SELECT doc_id, sum(sm) AS ts, sum(c) AS n
        FROM aud_env GROUP BY doc_id),
      aud_eh AS (
        SELECT doc_id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS ehash
        FROM (SELECT doc_id,
                     coalesce(sum(CASE WHEN sm * n > ts * c
                       THEN CAST(power(2, w) AS HUGEINT) END), 0) AS s
              FROM aud_env JOIN aud_tot USING (doc_id)
              GROUP BY doc_id)),
      aud_bands AS (
        SELECT doc_id, ehash, b.range AS b,
               (ehash >> CAST(16*b.range AS INTEGER)) & 65535 AS v
        FROM aud_eh, range(4) b),
      aud_ok AS (
        SELECT b, v FROM aud_bands GROUP BY b, v
        HAVING count(*) BETWEEN 2 AND 64),
      aud_cb AS (
        SELECT aud_bands.* FROM aud_bands JOIN aud_ok USING (b, v)),
      aud_dups AS (
        SELECT DISTINCT a.doc_id AS dup_id
        FROM aud_cb a JOIN aud_cb c ON a.b = c.b AND a.v = c.v
          AND a.doc_id > c.doc_id
        WHERE bit_count(xor(a.ehash, c.ehash)) <= 3),
      -- ---- video family (doc_id % 3 = 2): frame-set overlap ----------
      vid_g AS (
        SELECT min(doc_id) AS doc_id, gid, trimmed FROM (
          SELECT doc_id, gid, j % 2 AS trimmed
          FROM base WHERE doc_id % 3 = 2)
        GROUP BY gid, trimmed),
      vid_fr AS (
        SELECT doc_id, gid, f.range AS f
        FROM vid_g, range(6) f
        WHERE NOT (trimmed = 1 AND f.range = 0)),
      vid_px AS (
        SELECT doc_id, f, x.range AS x, y.range AS y,
               ((gid*7) + ((gid+f)%5+1)*x.range
                + ((gid+2*f)%11+1)*y.range
                + ((gid+f)%3)*x.range*y.range) % 256 AS v
        FROM vid_fr, range(16) x, range(16) y),
      vid_blk8 AS (
        SELECT doc_id, f, (x*8)//16 AS gx, (y*8)//16 AS gy,
               sum(v)//count(*) AS b
        FROM vid_px GROUP BY 1, 2, 3, 4),
      vid_mean8 AS (
        SELECT doc_id, f, sum(b)//64 AS m FROM vid_blk8
        GROUP BY doc_id, f),
      vid_ah AS (
        SELECT doc_id, f,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS ahash
        FROM (SELECT doc_id, f,
                     coalesce(sum(CASE WHEN b > m
                       THEN CAST(power(2, gy*8+gx) AS HUGEINT) END),
                       0) AS s
              FROM vid_blk8 JOIN vid_mean8 USING (doc_id, f)
              GROUP BY doc_id, f)),
      vid_nf AS (
        SELECT doc_id, count(*) AS n_frames FROM vid_ah GROUP BY doc_id),
      vid_bands AS (
        SELECT doc_id, f, ahash, b.range AS b,
               (ahash >> CAST(16*b.range AS INTEGER)) & 65535 AS v
        FROM vid_ah, range(4) b),
      vid_ok AS (
        SELECT b, v FROM vid_bands GROUP BY b, v
        HAVING count(*) BETWEEN 2 AND 64),
      vid_cb AS (
        SELECT vid_bands.* FROM vid_bands JOIN vid_ok USING (b, v)),
      vid_mt AS (
        SELECT dup_id, nbr, count(*) AS n_matched FROM (
          SELECT DISTINCT a.doc_id AS dup_id, c.doc_id AS nbr, a.f
          FROM vid_cb a JOIN vid_cb c ON a.b = c.b AND a.v = c.v
            AND a.doc_id > c.doc_id
          WHERE bit_count(xor(a.ahash, c.ahash)) <= 3)
        GROUP BY dup_id, nbr),
      vid_dups AS (
        SELECT DISTINCT vid_mt.dup_id
        FROM vid_mt JOIN vid_nf ON vid_nf.doc_id = vid_mt.dup_id
        WHERE vid_mt.n_matched * 10000 >= 6000 * vid_nf.n_frames),
      -- ---- union + gate ----------------------------------------------
      keepers AS (
        SELECT doc_id FROM img_g UNION ALL
        SELECT doc_id FROM aud_g UNION ALL
        SELECT doc_id FROM vid_g),
      dups AS (
        SELECT dup_id FROM img_dups UNION ALL
        SELECT dup_id FROM aud_dups UNION ALL
        SELECT dup_id FROM vid_dups)
      SELECT doc_id FROM documents
      WHERE doc_id >= 480
         OR doc_id IN (SELECT doc_id FROM keepers WHERE doc_id NOT IN
                         (SELECT dup_id FROM dups))
      ORDER BY doc_id"""),
    // bench entry (r12 verdict): the flagship media-gate family was
    // untimed — a regression in the decode/hash/election path was
    // invisible to BENCH. The fixture is fixed-size (doc_id < 490),
    // so this times the KERNEL family (render+decode+hash+election),
    // not data scaling — the weak-scale ladder covers growth.
    bench = true)

  /** q204: INCREMENTAL media dedup against a persisted hash index
    * ([[graft.multimodal.MediaIndex.incrementalMediaDups]]) — the
    * continuously-crawling shape: history (ids < 100, one canonical
    * object per id, kind = id mod 3) is indexed once; the batch
    * (ids 100–199, kind = (id−100) mod 3) carries per-kind classes —
    * byte copies, perceptual re-encodes (BMP / 8-bit WAV / trimmed
    * container), and fresh objects — and each batch object is judged
    * against history only: (dup_id, keep_id, via) with byte
    * precedence. DuckDB replays all three hash families (proven in
    * q198–q203), the byte election as render-parameter equality, AND
    * the cross-relation banding itself (BOTH sides' bucket census
    * ≤ 16 — the exact candidate set, so the two-sided degenerate-
    * bucket cap is oracle-checked too). Fresh objects and the
    * history side appear in no output row. */
  private val q204 = QuerySpec(
    "q204_media_incremental_dedup",
    (s, dir) => {
      import graft.multimodal.{AudioWave, MediaIndex, Multimodal, PerceptualHash}
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val mkAudio = udf((gid: Long, bits8: Boolean) => {
        val samples = Array.tabulate(1024) { t =>
          val w = t / 16
          val base = ((gid * 13 + (gid % 7 + 1) * t) % 64 - 32).toInt
          val hi = (gid * 1103515245L + w.toLong * w * (gid % 13 + 1) +
            w.toLong * (gid % 31 + 3)) % 97 < 32
          base * (if (hi) 4 else 1) * 256
        }
        AudioWave.writeWav(samples, 16000, bits = if (bits8) 8 else 16)
      })
      val mkVideo = udf((gid: Long, trimmed: Boolean) => {
        val fs = (if (trimmed) 1 to 5 else 0 to 5).map { f =>
          PerceptualHash.renderGrayImage(16, 16, gid * 7,
            (gid + f) % 5 + 1, (gid + 2 * f) % 11 + 1, (gid + f) % 3, 0L,
            "png")
        }
        Multimodal.packImageFrames(fs)
      })
      def mediaOf(ids: org.apache.spark.sql.DataFrame,
                  kindOf: org.apache.spark.sql.Column,
                  gid: org.apache.spark.sql.Column,
                  reenc: org.apache.spark.sql.Column) =
        ids.select(col("doc_id").as("media_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (kindOf + 1).cast("int")).as("kind"),
          when(kindOf === 0,
            PerceptualHash.renderLetterboxImage16(gid * 7, gid % 5 + 1,
              gid % 11 + 1, gid % 3, lit(0L),
              when(reenc, "bmp").otherwise("png")))
            .when(kindOf === 1, mkAudio(gid, reenc))
            .otherwise(mkVideo(gid, reenc)).as("payload"))
      val hist = mediaOf(docs.filter(col("doc_id") < 100),
        pmod(col("doc_id"), lit(3)), col("doc_id"), lit(false))
      val k = col("doc_id") - 100
      val cls = pmod(expr("(doc_id - 100) div 3"), lit(3))
      val batch = mediaOf(
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 200),
        pmod(k, lit(3)), when(cls === 2, k + 300).otherwise(k), cls === 1)
      // index builds re-reference their media (fp + three kernels):
      // materialize the rendered fixtures once, eager-checkpointed so
      // blocks release by GC instead of leaking a cache entry per
      // builder invocation (the q203 rule)
      val bp = batch.localCheckpoint(true)
      val hp = hist.localCheckpoint(true)
      MediaIndex.incrementalMediaDups(
          MediaIndex.mediaHashIndex(bp.as[Multimodal.Media]),
          MediaIndex.mediaHashIndex(hp.as[Multimodal.Media]),
          maxBucket = 16)
        .orderBy(col("dup_id"))
    },
    oracle = Some("""
      WITH prm AS (
        SELECT doc_id AS id, doc_id % 3 AS kind, doc_id AS gid,
               FALSE AS reenc
        FROM documents WHERE doc_id < 100
        UNION ALL
        SELECT doc_id AS id, (doc_id - 100) % 3 AS kind,
               CASE WHEN ((doc_id - 100) // 3) % 3 = 2
                    THEN doc_id + 200 ELSE doc_id - 100 END AS gid,
               ((doc_id - 100) // 3) % 3 = 1 AS reenc
        FROM documents WHERE doc_id >= 100 AND doc_id < 200),
      -- ---- image family (kind 0): letterbox dual-hash ---------------
      img_px AS (
        SELECT id, x.range AS x, y.range AS y,
               CASE WHEN y.range < 4 THEN 0
                    ELSE least(((gid*7) + (gid%5+1)*x.range
                                + (gid%11+1)*y.range
                                + (gid%3)*x.range*y.range) % 200, 255)
               END AS v
        FROM prm, range(16) x, range(16) y WHERE kind = 0),
      img_blk8 AS (
        SELECT id, (x*8)//16 AS gx, (y*8)//16 AS gy,
               sum(v)//count(*) AS b
        FROM img_px GROUP BY 1, 2, 3),
      img_mean8 AS (
        SELECT id, sum(b)//64 AS m FROM img_blk8 GROUP BY id),
      img_ah AS (
        SELECT id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS ahash
        FROM (SELECT id,
                     coalesce(sum(CASE WHEN b > m
                       THEN CAST(power(2, gy*8+gx) AS HUGEINT) END),
                       0) AS s
              FROM img_blk8 JOIN img_mean8 USING (id)
              GROUP BY id)),
      img_blk9 AS (
        SELECT id, (x*9)//16 AS gx, (y*8)//16 AS gy,
               sum(v)//count(*) AS b
        FROM img_px GROUP BY 1, 2, 3),
      img_dh AS (
        SELECT id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS dhash
        FROM (SELECT l.id,
                     coalesce(sum(CASE WHEN r.b > l.b
                       THEN CAST(power(2, l.gy*8+l.gx) AS HUGEINT) END),
                       0) AS s
              FROM img_blk9 l JOIN img_blk9 r
                ON r.id = l.id AND r.gy = l.gy AND r.gx = l.gx + 1
              GROUP BY l.id)),
      img_hh AS (
        SELECT id, ahash, dhash FROM img_ah JOIN img_dh USING (id)),
      img_bands AS (
        SELECT id, ahash, dhash, b.range AS b,
               CASE WHEN b.range < 4
                    THEN (ahash >> CAST(16*b.range AS INTEGER)) & 65535
                    ELSE (dhash >> CAST(16*(b.range-4) AS INTEGER))
                      & 65535 END AS v
        FROM img_hh, range(8) b),
      img_bcensus AS (
        SELECT b, v FROM img_bands WHERE id >= 100
        GROUP BY b, v HAVING count(*) <= 16),
      img_hcensus AS (
        SELECT b, v FROM img_bands WHERE id < 100
        GROUP BY b, v HAVING count(*) <= 16),
      img_m AS (
        SELECT dup_id, min(hid) AS keep_id FROM (
          SELECT DISTINCT bb.id AS dup_id, hb.id AS hid
          FROM img_bands bb
          JOIN img_bcensus c ON bb.b = c.b AND bb.v = c.v
          JOIN img_bands hb ON hb.b = bb.b AND hb.v = bb.v
            AND hb.id < 100
          JOIN img_hcensus hc ON hc.b = hb.b AND hc.v = hb.v
          WHERE bb.id >= 100
            AND bit_count(xor(bb.ahash, hb.ahash))
              + bit_count(xor(bb.dhash, hb.dhash)) <= 6)
        GROUP BY dup_id),
      -- ---- audio family (kind 1): envelope hash ---------------------
      aud_smp AS (
        SELECT id, t.range // 16 AS w,
               ((gid*13 + (gid%7+1)*t.range) % 64 - 32)
                 * (CASE WHEN (gid*1103515245
                               + (t.range//16)*(t.range//16)*(gid%13+1)
                               + (t.range//16)*(gid%31+3)) % 97 < 32
                         THEN 4 ELSE 1 END) * 256 AS s
        FROM prm, range(1024) t WHERE kind = 1),
      aud_env AS (
        SELECT id, w, sum(abs(s)) AS sm, count(*) AS c
        FROM aud_smp GROUP BY id, w),
      aud_tot AS (
        SELECT id, sum(sm) AS ts, sum(c) AS n
        FROM aud_env GROUP BY id),
      aud_eh AS (
        SELECT id,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS ehash
        FROM (SELECT id,
                     coalesce(sum(CASE WHEN sm * n > ts * c
                       THEN CAST(power(2, w) AS HUGEINT) END), 0) AS s
              FROM aud_env JOIN aud_tot USING (id)
              GROUP BY id)),
      aud_bands AS (
        SELECT id, ehash, b.range AS b,
               (ehash >> CAST(16*b.range AS INTEGER)) & 65535 AS v
        FROM aud_eh, range(4) b),
      aud_bcensus AS (
        SELECT b, v FROM aud_bands WHERE id >= 100
        GROUP BY b, v HAVING count(*) <= 16),
      aud_hcensus AS (
        SELECT b, v FROM aud_bands WHERE id < 100
        GROUP BY b, v HAVING count(*) <= 16),
      aud_m AS (
        SELECT dup_id, min(hid) AS keep_id FROM (
          SELECT DISTINCT bb.id AS dup_id, hb.id AS hid
          FROM aud_bands bb
          JOIN aud_bcensus c ON bb.b = c.b AND bb.v = c.v
          JOIN aud_bands hb ON hb.b = bb.b AND hb.v = bb.v
            AND hb.id < 100
          JOIN aud_hcensus hc ON hc.b = hb.b AND hc.v = hb.v
          WHERE bb.id >= 100
            AND bit_count(xor(bb.ehash, hb.ehash)) <= 3)
        GROUP BY dup_id),
      -- ---- video family (kind 2): frame-set overlap ------------------
      vid_fr AS (
        SELECT id, gid, f.range AS f
        FROM prm, range(6) f
        WHERE kind = 2 AND NOT (reenc AND f.range = 0)),
      vid_px AS (
        SELECT id, f, x.range AS x, y.range AS y,
               ((gid*7) + ((gid+f)%5+1)*x.range
                + ((gid+2*f)%11+1)*y.range
                + ((gid+f)%3)*x.range*y.range) % 256 AS v
        FROM vid_fr, range(16) x, range(16) y),
      vid_blk8 AS (
        SELECT id, f, (x*8)//16 AS gx, (y*8)//16 AS gy,
               sum(v)//count(*) AS b
        FROM vid_px GROUP BY 1, 2, 3, 4),
      vid_mean8 AS (
        SELECT id, f, sum(b)//64 AS m FROM vid_blk8 GROUP BY id, f),
      vid_ah AS (
        SELECT id, f,
               CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                         THEN s - 18446744073709551616::HUGEINT
                         ELSE s END AS BIGINT) AS ahash
        FROM (SELECT id, f,
                     coalesce(sum(CASE WHEN b > m
                       THEN CAST(power(2, gy*8+gx) AS HUGEINT) END),
                       0) AS s
              FROM vid_blk8 JOIN vid_mean8 USING (id, f)
              GROUP BY id, f)),
      vid_bands AS (
        SELECT id, f, ahash, b.range AS b,
               (ahash >> CAST(16*b.range AS INTEGER)) & 65535 AS v
        FROM vid_ah, range(4) b),
      vid_bcensus AS (
        SELECT b, v FROM vid_bands WHERE id >= 100
        GROUP BY b, v HAVING count(*) <= 16),
      vid_hcensus AS (
        SELECT b, v FROM vid_bands WHERE id < 100
        GROUP BY b, v HAVING count(*) <= 16),
      vid_pair AS (
        SELECT DISTINCT bb.id AS dup_id, bb.f AS f, hb.id AS hid
        FROM vid_bands bb
        JOIN vid_bcensus c ON bb.b = c.b AND bb.v = c.v
        JOIN vid_bands hb ON hb.b = bb.b AND hb.v = bb.v
          AND hb.id < 100
        JOIN vid_hcensus hc ON hc.b = hb.b AND hc.v = hb.v
        WHERE bb.id >= 100
          AND bit_count(xor(bb.ahash, hb.ahash)) <= 3),
      vid_nf AS (
        SELECT id AS dup_id, count(*) AS n FROM vid_ah
        WHERE id >= 100 GROUP BY id),
      vid_m AS (
        SELECT dup_id, min(hid) AS keep_id FROM (
          SELECT dup_id, hid, count(*) AS m
          FROM vid_pair GROUP BY dup_id, hid) mt
        JOIN vid_nf USING (dup_id)
        WHERE mt.m * 10000 >= 6000 * vid_nf.n
        GROUP BY dup_id),
      -- ---- byte leg (render-parameter equality) + precedence --------
      byte_m AS (
        SELECT b.id AS dup_id, min(h.id) AS keep_id
        FROM prm b JOIN prm h
          ON b.kind = h.kind AND b.gid = h.gid AND b.reenc = h.reenc
        WHERE b.id >= 100 AND h.id < 100
        GROUP BY b.id),
      perc AS (
        SELECT dup_id, keep_id, 'image' AS via FROM img_m
        UNION ALL SELECT dup_id, keep_id, 'audio' FROM aud_m
        UNION ALL SELECT dup_id, keep_id, 'video' FROM vid_m)
      SELECT coalesce(b.dup_id, p.dup_id) AS dup_id,
             coalesce(b.keep_id, p.keep_id) AS keep_id,
             CASE WHEN b.keep_id IS NOT NULL THEN 'byte'
                  ELSE p.via END AS via
      FROM byte_m b FULL OUTER JOIN perc p ON p.dup_id = b.dup_id
      ORDER BY dup_id"""))

  /** q205: the binaryFile→Media bridge's KIND routing
    * ([[graft.multimodal.Multimodal.fromBinaryFiles]]) — kind comes
    * from the payload's own magic, never a path extension (the
    * fixture paths carry none): real PNG/BMP renders route to image,
    * a real RIFF/WAVE to audio, the GFV1 frame container AND a
    * minimal ISO-BMFF `ftyp` box to video, plain text to bin. The
    * oracle replays the class→kind map over the same ids — thin by
    * design: the CONTENTS of each kind's pipeline are q194–q204's
    * job; this pins the routing layer every one of them trusts. */
  private val q205 = QuerySpec(
    "q205_media_kind_sniff",
    (s, dir) => {
      import graft.multimodal.{AudioWave, Multimodal, PerceptualHash}
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
      val mkPayload = udf((id: Long) => {
        val g = id / 6
        (id % 6) match {
          case 0 => PerceptualHash.renderGrayImage(16, 16, g, g % 5 + 1,
            g % 11 + 1, 0, 0, "png")
          case 1 => PerceptualHash.renderGrayImage(16, 16, g, g % 5 + 1,
            g % 11 + 1, 0, 0, "bmp")
          case 2 => AudioWave.writeWav(
            Array.tabulate(256)(t => (((g + t) % 64 - 32) * 256).toInt),
            16000, 16)
          case 3 => Multimodal.packImageFrames(Seq(
            PerceptualHash.renderGrayImage(16, 16, g, 2, 3, 0, 0, "png")))
          case 4 => Array[Byte](0, 0, 0, 16) ++
            "ftypisom".getBytes("ISO-8859-1") ++ new Array[Byte](4)
          case _ => s"plain text payload $g".getBytes("UTF-8")
        }
      })
      Multimodal.fromBinaryFiles(docs.select(
          concat(lit("mem://f"),
            lpad(col("doc_id").cast("string"), 6, "0")).as("path"),
          to_timestamp(lit("2026-01-01 00:00:00")).as("modificationTime"),
          mkPayload(col("doc_id")).as("content")))
        .select(col("path"), col("kind"))
        .orderBy(col("path"))
    },
    oracle = Some("""
      SELECT 'mem://f' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS path,
             CASE doc_id % 6
               WHEN 0 THEN 'image' WHEN 1 THEN 'image'
               WHEN 2 THEN 'audio' WHEN 3 THEN 'video'
               WHEN 4 THEN 'video' ELSE 'bin' END AS kind
      FROM documents WHERE doc_id < 300
      ORDER BY path"""))

  /** q206: INCREMENTAL text near-dup against a persisted MinHash band
    * index ([[graft.operators.TextIndex.incrementalTextDups]]) — the
    * q204 shape for DOCUMENTS: history (doc_id < 300, raw text) is
    * indexed once into the (doc, band, sig) + (doc, shs) relations;
    * the batch (ids 1000–1299) carries three classes — exact
    * re-crawls (Jaccard 1.0), one-appended-token near-dups (Jaccard
    * |S|/(|S|+1), crossing 0.8 exactly when the doc has ≥ 4
    * shingles — BOTH engines compute it, so the threshold crossing
    * is oracle-checked, not assumed), and fresh docs (unique
    * whole-text shingle, no match). Output: (dup_id, keep_id =
    * smallest matching history id, jaccard). The oracle replays the
    * EXACT cross-corpus shingle Jaccard — the operator's LSH banding
    * + exact re-check equals it by the q28 recall argument
    * (miss ≈ 5·10⁻⁸ at j ≥ 0.8 with 128/32), with maxBucket
    * unguarded at this call site (the q28 call-site split: an exact
    * oracle needs the uncapped operator). */
  private val q206 = QuerySpec(
    "q206_text_incremental_dedup",
    (s, dir) => {
      import graft.operators.TextIndex
      val docs = Tables.documents(s, dir)
      val hist = docs.filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") < 300).select(
        (col("doc_id") + 1000L).as("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, col("text"))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            concat(col("text"), lit(" xtratok")))
          .otherwise(concat(lit("zfresh"), col("doc_id").cast("string")))
          .as("text"))
      val (hBands, hSets) = TextIndex.buildIndex(hist, "doc_id", "text")
      TextIndex.incrementalTextDups(batch, "doc_id", "text", hBands, hSets,
          threshold = 0.8, maxBucket = Int.MaxValue)
        .orderBy(col("dup_id"))
    },
    oracle = Some("""
      WITH hist AS (
        SELECT doc_id AS id, text FROM documents WHERE doc_id < 300),
      batch AS (
        SELECT doc_id + 1000 AS id,
               CASE doc_id % 3
                 WHEN 0 THEN text
                 WHEN 1 THEN text || ' xtratok'
                 ELSE 'zfresh' || CAST(doc_id AS VARCHAR) END AS text
        FROM documents WHERE doc_id < 300),
      shb AS (
        SELECT DISTINCT id, s FROM (
          SELECT id, unnest(
            CASE WHEN len(w) >= 3 THEN
              list_transform(range(1, len(w) - 1),
                i -> array_to_string(w[i:i+2], ' '))
            ELSE [array_to_string(w, ' ')] END) AS s
          FROM (SELECT id,
                  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
                FROM batch))),
      shh AS (
        SELECT DISTINCT id, s FROM (
          SELECT id, unnest(
            CASE WHEN len(w) >= 3 THEN
              list_transform(range(1, len(w) - 1),
                i -> array_to_string(w[i:i+2], ' '))
            ELSE [array_to_string(w, ' ')] END) AS s
          FROM (SELECT id,
                  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
                FROM hist))),
      szb AS (SELECT id, count(*) AS sz FROM shb GROUP BY id),
      szh AS (SELECT id, count(*) AS sz FROM shh GROUP BY id),
      inter AS (
        SELECT b.id AS dup_id, h.id AS hid, count(*) AS isect
        FROM shb b JOIN shh h ON b.s = h.s
        GROUP BY 1, 2),
      j AS (
        SELECT dup_id, hid,
               CAST(isect AS DOUBLE) / (szb.sz + szh.sz - isect) AS jac
        FROM inter
        JOIN szb ON szb.id = inter.dup_id
        JOIN szh ON szh.id = inter.hid
        WHERE CAST(isect AS DOUBLE) / (szb.sz + szh.sz - isect) >= 0.8)
      SELECT dup_id, hid AS keep_id, round(jac, 6) AS jaccard
      FROM (SELECT dup_id, hid, jac,
                   row_number() OVER (PARTITION BY dup_id ORDER BY hid) AS rn
            FROM j)
      WHERE rn = 1
      ORDER BY dup_id"""),
    // bench entry (the q203 precedent): the incremental-text judge is
    // the flagship continuous-ingest path — a regression in the
    // band/census/verify chain must be visible to BENCH. The fixture
    // is fixed-size (doc_id < 300 at every SF), so this times the
    // KERNEL family; the text_incr weak-scale ladder owns growth.
    bench = true)

  /** The q206/q208 shared shingle SQL: distinct word-3-gram shingles
    * of relation `rel(id, text)` (whole-text fallback for short docs —
    * the [[graft.operators.Dedup.shingleSets]] tokenization). */
  private def shingleSql(rel: String): String = s"""
        SELECT DISTINCT id, s FROM (
          SELECT id, unnest(
            CASE WHEN len(w) >= 3 THEN
              list_transform(range(1, len(w) - 1),
                i -> array_to_string(w[i:i+2], ' '))
            ELSE [array_to_string(w, ' ')] END) AS s
          FROM (SELECT id,
                  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
                FROM $rel))"""

  /** Exact WITHIN-relation Jaccard pairs at ≥ 0.8 over shingle
    * relation `a`, dup = the LARGER id of each pair, with per-dup
    * smallest-direct-match keeper election — the SQL replay of
    * [[graft.operators.TextIndex]]'s batch-internal election
    * (ingestStep's intra leg). */
  private def intraJaccardSql(a: String, out: String): String = s"""
      ${out}_i AS (
        SELECT x.id AS dup_id, y.id AS hid, count(*) AS isect
        FROM $a x JOIN $a y ON x.s = y.s AND x.id > y.id GROUP BY 1, 2),
      ${out}_sz AS (SELECT id, count(*) AS sz FROM $a GROUP BY id),
      $out AS (
        SELECT dup_id, hid,
               CAST(isect AS DOUBLE) / (sa.sz + sb.sz - isect) AS jac,
               row_number() OVER (PARTITION BY dup_id
                 ORDER BY hid) AS rn
        FROM ${out}_i
        JOIN ${out}_sz sa ON sa.id = ${out}_i.dup_id
        JOIN ${out}_sz sb ON sb.id = ${out}_i.hid
        WHERE CAST(isect AS DOUBLE) / (sa.sz + sb.sz - isect) >= 0.8)"""

  /** Exact cross-corpus Jaccard pairs at ≥ 0.8 between shingle
    * relations `a` (the batch side) and `b` (the index side), with
    * per-dup keeper election — the q206 oracle tail, shared by q208's
    * two cycles. */
  private def crossJaccardSql(a: String, b: String, out: String): String = s"""
      ${out}_i AS (
        SELECT x.id AS dup_id, y.id AS hid, count(*) AS isect
        FROM $a x JOIN $b y ON x.s = y.s GROUP BY 1, 2),
      ${out}_sa AS (SELECT id, count(*) AS sz FROM $a GROUP BY id),
      ${out}_sb AS (SELECT id, count(*) AS sz FROM $b GROUP BY id),
      $out AS (
        SELECT dup_id, hid,
               CAST(isect AS DOUBLE) / (sa.sz + sb.sz - isect) AS jac,
               row_number() OVER (PARTITION BY dup_id
                 ORDER BY hid) AS rn
        FROM ${out}_i
        JOIN ${out}_sa sa ON sa.id = ${out}_i.dup_id
        JOIN ${out}_sb sb ON sb.id = ${out}_i.hid
        WHERE CAST(isect AS DOUBLE) / (sa.sz + sb.sz - isect) >= 0.8)"""

  /** q208: TWO ingest cycles against the growing text index — the
    * continuous-crawl CONTRACT oracle-checked end to end: cycle 1
    * judges batch1 (exact re-crawls of history + fresh reversed-token
    * docs) against the built index and APPENDS the survivors' rows
    * ([[graft.operators.TextIndex.ingestStep]]'s delta); cycle 2's
    * re-crawls of CYCLE-1 SURVIVORS (reversed text + one appended
    * token) can only be caught through that appended delta — the
    * cross-cycle memory q204's media twin proved, here replayed
    * EXACTLY in SQL: DuckDB recomputes both cycles' cross Jaccard
    * including the survivor election between them. Reversed-token
    * texts are fresh BY CONSTRUCTION (a reversed 3-gram is a
    * different string) yet share the original's length statistics —
    * realistic fresh content, not sentinel strings. The oracle also
    * replays ingestStep's batch-INTERNAL election (pairwise: dup =
    * any doc with a smaller batch match at ≥ 0.8, keeper = its
    * smallest direct match; losers pruned before the history judge
    * and never appended): the documents table plants near-dup pairs
    * at some SFs, and b1 inherits them twice (original-original AND
    * reversed-reversed — reversal preserves pairwise Jaccard), so
    * the intra leg is exercised wherever the data provides pairs and
    * provably empty where it doesn't. */
  private val q208 = QuerySpec(
    "q208_text_index_two_cycles",
    (s, dir) => {
      import graft.operators.TextIndex
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 100)
      val revText = concat_ws(" ",
        reverse(filter(split(col("text"), "\\s+"), t => t =!= "")))
      val hist = docs.select(col("doc_id"), col("text"))
      val b1 = docs.select((col("doc_id") + 1000L).as("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 0, col("text"))
          .otherwise(revText).as("text"))
      val b2 = docs.select((col("doc_id") + 2000L).as("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 1,
            concat(revText, lit(" xq")))
          .when(pmod(col("doc_id"), lit(4)) === 0, col("text"))
          .otherwise(concat(lit("b2f"), col("doc_id").cast("string")))
          .as("text"))
      val (hb, hs) = TextIndex.buildIndex(hist, "doc_id", "text")
      val (dups1, (dBands, dSets)) = TextIndex.ingestStep(b1, "doc_id",
        "text", hb, hs, maxBucket = Int.MaxValue)
      val dups2 = TextIndex.incrementalTextDups(b2, "doc_id", "text",
        hb.unionByName(dBands), hs.unionByName(dSets),
        maxBucket = Int.MaxValue)
      dups1.withColumn("cycle", lit(1L))
        .unionByName(dups2.withColumn("cycle", lit(2L)))
        .select(col("cycle"), col("dup_id"), col("keep_id"), col("jaccard"))
        .orderBy(col("cycle"), col("dup_id"))
    },
    oracle = Some(s"""
      WITH hist AS (
        SELECT doc_id AS id, text FROM documents WHERE doc_id < 100),
      b1 AS (
        SELECT doc_id + 1000 AS id,
               CASE WHEN doc_id % 2 = 0 THEN text
                    ELSE array_to_string(list_reverse(list_filter(
                      string_split_regex(text, '\\s+'), x -> x <> '')), ' ')
               END AS text
        FROM documents WHERE doc_id < 100),
      b2 AS (
        SELECT doc_id + 2000 AS id,
               CASE WHEN doc_id % 2 = 1 THEN
                      array_to_string(list_reverse(list_filter(
                        string_split_regex(text, '\\s+'), x -> x <> '')), ' ')
                        || ' xq'
                    WHEN doc_id % 4 = 0 THEN text
                    ELSE 'b2f' || CAST(doc_id AS VARCHAR)
               END AS text
        FROM documents WHERE doc_id < 100),
      sh_hist AS (${shingleSql("hist")}),
      sh_b1 AS (${shingleSql("b1")}),
      ${intraJaccardSql("sh_b1", "i1")},
      sh_pb1 AS (
        SELECT * FROM sh_b1
        WHERE id NOT IN (SELECT dup_id FROM i1)),
      ${crossJaccardSql("sh_pb1", "sh_hist", "d1")},
      surv1 AS (
        SELECT id, text FROM b1
        WHERE id NOT IN (SELECT dup_id FROM i1)
          AND id NOT IN (SELECT dup_id FROM d1)),
      idx2 AS (
        SELECT id, text FROM hist
        UNION ALL SELECT id, text FROM surv1),
      sh_idx2 AS (${shingleSql("idx2")}),
      sh_b2 AS (${shingleSql("b2")}),
      ${crossJaccardSql("sh_b2", "sh_idx2", "d2")}
      SELECT CAST(1 AS BIGINT) AS cycle, dup_id, hid AS keep_id,
             round(jac, 6) AS jaccard
      FROM i1 WHERE rn = 1
      UNION ALL
      SELECT CAST(1 AS BIGINT) AS cycle, dup_id, hid AS keep_id,
             round(jac, 6) AS jaccard
      FROM d1 WHERE rn = 1
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS cycle, dup_id, hid AS keep_id,
             round(jac, 6) AS jaccard
      FROM d2 WHERE rn = 1
      ORDER BY cycle, dup_id"""))

  /** q210: index RETRACTION semantics under the oracle — the
    * tombstone composition [[graft.io.TextIndexArtifacts.load]]
    * serves (history relations anti-joined against the broadcast
    * tombstone ids BEFORE the judge): every 7th history doc is
    * retracted, the batch exact-re-crawls ALL of history, and the
    * verdicts must show BOTH retraction outcomes — a doc whose only
    * match was retracted now SURVIVES, and a doc of a planted
    * near-dup pair whose smaller end was retracted RE-ELECTS the
    * next-smallest matching keeper (the documents table plants
    * cross-doc near-dup pairs, so re-election is real data, not a
    * synthetic sentinel). DuckDB replays the judge over
    * `hist MINUS retracted` exactly; the artifact layer's
    * load/compact mechanics are TextIndexSpec/MediaIndexSpec's job —
    * this pins the SEMANTICS the filter must produce. */
  private val q210 = QuerySpec(
    "q210_text_index_retraction",
    (s, dir) => {
      import graft.operators.TextIndex
      val docs = Tables.documents(s, dir)
      val hist = docs.filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val batch = hist.select((col("doc_id") + 1000L).as("doc_id"),
        col("text"))
      val (hb, hs) = TextIndex.buildIndex(hist, "doc_id", "text")
      val tomb = hist.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id").as("doc"))
      val hbF = hb.join(broadcast(tomb), Seq("doc"), "left_anti")
      val hsF = hs.join(broadcast(tomb), Seq("doc"), "left_anti")
      TextIndex.incrementalTextDups(batch, "doc_id", "text", hbF, hsF,
          threshold = 0.8, maxBucket = Int.MaxValue)
        .orderBy(col("dup_id"))
    },
    oracle = Some(s"""
      WITH hist AS (
        SELECT doc_id AS id, text FROM documents
        WHERE doc_id < 300 AND doc_id % 7 <> 0),
      batch AS (
        SELECT doc_id + 1000 AS id, text FROM documents
        WHERE doc_id < 300),
      sh_hist AS (${shingleSql("hist")}),
      sh_b AS (${shingleSql("batch")}),
      ${crossJaccardSql("sh_b", "sh_hist", "dr")}
      SELECT dup_id, hid AS keep_id, round(jac, 6) AS jaccard
      FROM dr WHERE rn = 1
      ORDER BY dup_id"""))

  /** q211: MEDIA index retraction under the oracle — [[q210]]'s twin
    * for the media family, pinned on the BYTE leg so DuckDB replays
    * it as render-parameter equality (the q205 thin-routing rule —
    * the perceptual hash families are q198–q204's proven ground).
    * History carries TWO byte-identical copies of each content
    * (ids i and i+100 render the same image); the batch re-crawls
    * every content; every 7th smaller keeper is retracted
    * (tombstone-filtered exactly as
    * [[graft.io.MediaIndexArtifacts.load]] composes), so those batch
    * objects must RE-ELECT the i+100 copy while the rest keep i —
    * byte precedence throughout. */
  private val q211 = QuerySpec(
    "q211_media_index_retraction",
    (s, dir) => {
      import graft.multimodal.{MediaIndex, Multimodal, PerceptualHash}
      import s.implicits._
      val docs = Tables.documents(s, dir)
      def mediaOf(ids: org.apache.spark.sql.DataFrame,
                  idc: org.apache.spark.sql.Column,
                  gid: org.apache.spark.sql.Column) =
        ids.select(idc.as("media_id"), lit("image").as("kind"),
          PerceptualHash.renderLetterboxImage16(gid * 7, gid % 5 + 1,
            gid % 11 + 1, gid % 3, lit(0L), lit("png")).as("payload"))
      val hist = mediaOf(docs.filter(col("doc_id") < 200),
        col("doc_id"), pmod(col("doc_id"), lit(100)))
      val batch = mediaOf(docs.filter(col("doc_id") < 100),
        col("doc_id") + 1000L, col("doc_id"))
      val hp = hist.localCheckpoint(true)
      val bp = batch.localCheckpoint(true)
      val tomb = docs.filter(col("doc_id") < 100 &&
          pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id").as("media_id"))
      val hIdx = MediaIndex.mediaHashIndex(hp.as[Multimodal.Media])
        .join(broadcast(tomb), Seq("media_id"), "left_anti")
      MediaIndex.incrementalMediaDups(
          MediaIndex.mediaHashIndex(bp.as[Multimodal.Media]), hIdx,
          maxBucket = 16)
        .orderBy(col("dup_id"))
    },
    oracle = Some("""
      SELECT doc_id + 1000 AS dup_id,
             CASE WHEN doc_id % 7 = 0 THEN doc_id + 100
                  ELSE doc_id END AS keep_id,
             'byte' AS via
      FROM documents WHERE doc_id < 100
      ORDER BY dup_id"""))

  /** The q212 synthetic prose template — unique per-doc tokens
    * interleaved with stopword scaffolding, so every text passes the
    * quality floor by construction, pairwise batch Jaccard sits at
    * ~0.13 (5 shared template shingles of 22 — provably below any
    * election threshold), and a doc equals a history doc EXACTLY iff
    * it copies the same (tag, k): the fixture controls every text
    * relation while the oracle still RECOMPUTES them all. */
  private def synthText(tag: String, k: org.apache.spark.sql.Column) = {
    def u(suf: String) = concat(lit(tag), k.cast("string"), lit(suf))
    concat_ws(" ", lit("the"), u("a"), lit("report and the"), u("b"),
      lit("survey of the"), u("c"), lit("stations in the"), u("d"),
      lit("winter with the"), u("e"), lit("results that the"), u("f"),
      lit("team recorded"))
  }

  private def synthTextSql(tag: String, k: String): String =
    s"'the $tag' || $k || 'a report and the $tag' || $k || " +
      s"'b survey of the $tag' || $k || 'c stations in the $tag' || $k || " +
      s"'d winter with the $tag' || $k || 'e results that the $tag' || $k || " +
      s"'f team recorded'"

  /** q212: ONE FULL [[graft.pipelines.StreamingIngestPipeline
    * .archiveIngestStep]] batch body under the oracle — the flagship
    * continuous-crawl entry point replayed end to end in SQL, the way
    * q208 replays two text cycles: routed split (q209's scanner),
    * HTML extraction, quality gate (the q36 integer formula, applied
    * as the ≥ 0.3 filter), batch-internal exact dedup (the q26
    * fingerprint), the DOC-LEVEL MEDIA ORIGINALITY GATE (media
    * references extracted from each page's markup, resolved against
    * the fetch URL, joined to the media leg's records within the
    * batch, judged by the media index — a scraped-gallery page whose
    * EVERY referenced object is a losing duplicate DROPS; one
    * original, an unfetched reference, or no media → survives),
    * batch-internal near-dup election (provably EMPTY on this
    * fixture and replayed as such), the text history judge (exact
    * cross Jaccard — a verbatim re-crawl of an indexed doc drops at
    * 1.0), and BOTH survivor sets PLUS BOTH index deltas (each delta
    * must name exactly its leg's survivors — the ingestStep
    * contracts). Media dup-ness replays as render-parameter equality
    * (the q211 byte-leg rule): history holds letterbox gids 0–29, so
    * a referenced object is a duplicate iff it renders a history gid.
    * The IMAGE leg is pinned to exact dual-hash equality
    * (imageMaxDist = 0) and article originals draw from
    * [[FreshGids]] — the render family's gradient hashes are
    * LOW-ENTROPY (half-plane patterns; a one-off fixture check
    * measured 29 exact dual-hash collisions in 200 gids), so the
    * fresh set is the empirically-verified subset of 30–80 whose
    * dual-hashes collide with nothing in the fixture — the
    * perceptual legs' own distance semantics are q203/q204's proven
    * ground; THIS query pins the composition. Five doc classes
    * (i % 5): 0 = gallery (two dup refs → DROPS), 1 = article (one
    * dup + one original ref → survives, its original enters the
    * media corpus + delta), 2 = plain (no media), 3 = ghost (ref the
    * crawler never fetched — no evidence, keep-the-unparseable),
    * 4 = verbatim re-crawl of history doc j (→ text judge drops it).
    * Doc identity crosses the oracle as URLs (rec_ids are xxhash64 —
    * Spark-side joins map deltas back to URLs against the FULL
    * routed relation, so a delta row outside its survivor set would
    * surface as an extra output row, not vanish). */
  /** The q212 article-original render gids: the first 48 gids ≥ 30
    * whose letterbox dual-hash (ahash, dhash) collides with no
    * history gid (0–29) and no other member — verified once by a
    * fixture check, since retired (the render family's gradient hashes
    * are low-entropy, so "distinct params" does NOT imply "distinct
    * hashes"; this list makes the q212 election decidable by
    * byte/render-parameter equality alone at imageMaxDist = 0). */
  private val FreshGids: Seq[Long] =
    ((30L to 80L).toSet -- Set(45L, 57L, 66L)).toSeq.sorted

  private val q212 = QuerySpec(
    "q212_archive_ingest_cycle",
    (s, dir) => {
      import graft.multimodal.{MediaIndex, Multimodal, PerceptualHash}
      import graft.operators.TextIndex
      import graft.pipelines.StreamingIngestPipeline
      import s.implicits._
      val ids = Tables.documents(s, dir).filter(col("doc_id") < 240)
        .select(col("doc_id").as("i"), pmod(col("doc_id"), lit(5)).as("cls"),
          (col("doc_id") / 5).cast("long").as("j"))
      def lb(g: org.apache.spark.sql.Column) =
        PerceptualHash.renderLetterboxImage16(g * 7, pmod(g, lit(5)) + 1,
          pmod(g, lit(11)) + 1, pmod(g, lit(3)), lit(0L), lit("png"))
      val host = concat(lit("https://d"), col("i").cast("string"),
        lit(".example"))
      val text = when(col("cls") === 4, synthText("h", col("j")))
        .otherwise(synthText("t", col("i")))
      val refs = when(col("cls") === 0,
          lit("""<img src="/m/a.png"><img src="/m/b.png">"""))
        .when(col("cls") === 1,
          lit("""<img src="/m/a.png"><img src="/m/f.png">"""))
        .when(col("cls") === 3, lit("""<img src="/m/ghost.png">"""))
        .otherwise(lit(""))
      val page = encode(concat(lit("<html><body><p>"), text, lit("</p>"),
        refs, lit("</body></html>")), "UTF-8")
      val g1 = pmod(col("j"), lit(30))
      val g2 = pmod(col("j") + 1, lit(30))
      val gf = element_at(typedLit(FreshGids), (col("j") + 1).cast("int"))
      val pageRec = struct(lit(0L).as("pos"),
        concat(host, lit("/p")).as("uri"), page.as("payload"))
      val medA = struct(lit(1L).as("pos"),
        concat(host, lit("/m/a.png")).as("uri"), lb(g1).as("payload"))
      val medB = struct(lit(2L).as("pos"),
        concat(host, lit("/m/b.png")).as("uri"), lb(g2).as("payload"))
      val medF = struct(lit(3L).as("pos"),
        concat(host, lit("/m/f.png")).as("uri"), lb(gf).as("payload"))
      val recs = when(col("cls") === 0, array(pageRec, medA, medB))
        .when(col("cls") === 1, array(pageRec, medA, medF))
        .otherwise(array(pageRec))
      val mkRec = udf((uri: String, p: Array[Byte]) =>
        (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
          "WARC-Date: 2026-01-02T03:04:05Z\r\n" +
          s"Content-Length: ${p.length}\r\n\r\n").getBytes("ISO-8859-1") ++
          p ++ "\r\n\r\n".getBytes("ISO-8859-1"))
      val concatB = udf((rs: Seq[Array[Byte]]) => rs.flatten.toArray)
      val archives = ids
        .select(pmod(col("i"), lit(8)).as("aid"), col("i"),
          explode(recs).as("r"))
        .select(col("aid"), col("i"), col("r.pos").as("pos"),
          mkRec(col("r.uri"), col("r.payload")).as("rec"))
        .groupBy(col("aid"))
        .agg(concatB(transform(
          array_sort(collect_list(struct(col("i"), col("pos"), col("rec")))),
          x => x.getField("rec"))).as("content"))
      // state the step judges against: a text index over 48 history
      // docs (explicit long ids — keeper identity is oracle-visible)
      // and a media hash index over the 30 history letterbox renders
      val hist = ids.filter(col("cls") === 4)
        .select((col("j") + 5000L).as("doc_id"),
          synthText("h", col("j")).as("text"))
      val gids = Tables.documents(s, dir).filter(col("doc_id") < 30)
        .select(col("doc_id").as("g"))
      // FIXTURE CACHE: the assembly above (≈290 rendered records,
      // ~30 small driver jobs) is SF-constant orchestration, not the
      // step — BENCH must time archiveIngestStep, not fixture
      // synthesis. The routed relation and both history indexes are
      // written ONCE per (sfDir, fixture version) to a deterministic
      // temp location and read back as parquet leaf scans; Bench's
      // min-of-5 interleaved rounds then time the step alone (round
      // 1 pays the one-time write, rounds 2+ read). Content is
      // byte-identical either way — the oracle is unaffected. Bump
      // the version suffix when the fixture definition changes.
      // v4 (v3 + schema sidecars): the routed relation is written fanned out over cores/4
      // files (content-identical rows) — a v1 single-file fixture
      // scanned as ONE partition, so every payload-touching kernel in
      // the step (media decode, HTML extraction, shingle tokenization)
      // ran single-task (guide §2.5 input skew; measured: the step's
      // three largest jobs were 0.36–0.45 s single-task stages).
      // cores/4, not cores: the step overlaps up to four independent
      // legs on its pin pool, so cores/4 partitions per leg fills the
      // machine, while a full-cores fan-out made every one of the
      // step's ~110 driver-orchestrated jobs launch `cores` near-empty
      // tasks (measured A/B at 32c: v1 6.06 s, cores 5.74 s,
      // cores/4 — see OPTIMIZATION_r18.md). Production archives are
      // many-filed; this mirrors that layout.
      val fixKey = "q212fix_v4_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val fixDir = new java.io.File(
        System.getProperty("java.io.tmpdir"), fixKey)
      if (!new java.io.File(fixDir, "_READY").exists()) {
        val stage = new java.io.File(fixDir.getParent,
          fixKey + "_stage_" + java.util.UUID.randomUUID().toString.take(8))
        val (hb0, hs0) = TextIndex.buildIndex(hist, "doc_id", "text")
        val histMedia0 = MediaIndex.mediaHashIndex(
          gids.select((col("g") + 9000L).as("media_id"),
              lit("image").as("kind"), lb(col("g")).as("payload"))
            .as[Multimodal.Media].localCheckpoint(true))
        val routed0 = graft.io.WarcRecords
          .toCrawlRecordsRouted(archives, "aid", "content")
        routed0.repartition(
            math.max(1, s.sparkContext.defaultParallelism / 4))
          .write.parquet(s"$stage/routed")
        hb0.write.parquet(s"$stage/hb")
        hs0.write.parquet(s"$stage/hs")
        histMedia0.write.parquet(s"$stage/histMedia")
        // schema sidecars, captured by READING BACK the written files
        // (so the recorded schema — nullability included — is exactly
        // what inference would return): each sidecar lets the per-run
        // reads below skip the footer-inference driver job, four
        // single-task jobs per timed execution otherwise
        Seq("routed", "hb", "hs", "histMedia").foreach { n =>
          java.nio.file.Files.writeString(
            new java.io.File(stage, s"$n.ddl").toPath,
            s.read.parquet(s"$stage/$n").schema.toDDL)
        }
        new java.io.File(stage, "_READY").createNewFile()
        // atomic install; a concurrent writer winning the rename is
        // fine — the content is deterministic, use theirs
        if (!stage.renameTo(fixDir))
          org.apache.commons.io.FileUtils.deleteDirectory(stage)
      }
      def readFix(n: String): org.apache.spark.sql.DataFrame = {
        val ddl = new java.io.File(fixDir, s"$n.ddl")
        val r =
          if (ddl.exists) s.read.schema(
            org.apache.spark.sql.types.StructType.fromDDL(
              java.nio.file.Files.readString(ddl.toPath)))
          else s.read
        r.parquet(s"$fixDir/$n")
      }
      val hb = readFix("hb")
      val hs = readFix("hs")
      val histMedia = readFix("histMedia")
      val routed = readFix("routed")
      val out = StreamingIngestPipeline.archiveIngestStep(routed, hb, hs,
        histMedia, extractHtml = true, mediaGate = true,
        imageMaxDist = 0, mediaMaxBucket = 64)
      // deltas map back to URLs against the FULL routed relation (an
      // out-of-survivor-set delta row surfaces, never vanishes)
      val docUrls = routed.filter(col("kind") === "doc")
        .select(col("rec_id").as("doc"), col("url"))
      val mediaUrls = routed.filter(col("kind") =!= "doc")
        .select(col("rec_id").as("media_id"), col("url"))
      out.docs.select(lit("doc").as("leg"), col("url"))
        .unionByName(out.media.select(lit("media").as("leg"), col("url")))
        .unionByName(out.textDelta._2.select(col("doc"))
          .join(docUrls, Seq("doc")).select(lit("tdelta").as("leg"),
            col("url")))
        .unionByName(out.mediaDelta.select(col("media_id"))
          .join(mediaUrls, Seq("media_id"))
          .select(lit("mdelta").as("leg"), col("url")))
        .orderBy(col("leg"), col("url"))
    },
    oracle = Some(s"""
      WITH ids AS (
        SELECT doc_id AS i, doc_id % 5 AS cls, doc_id // 5 AS j
        FROM documents WHERE doc_id < 240),
      batch AS (
        SELECT i, cls, j,
               CASE WHEN cls = 4 THEN ${synthTextSql("h", "j")}
                    ELSE ${synthTextSql("t", "i")} END AS text,
               'https://d' || CAST(i AS VARCHAR) || '.example' AS host
        FROM ids),
      hist AS (
        SELECT 5000 + j AS id, ${synthTextSql("h", "j")} AS text
        FROM ids WHERE cls = 4),
      -- quality gate: the q36 integer formula at the 0.3 floor
      qm AS (
        SELECT i, CAST(len(toks) AS BIGINT) AS n,
          CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
            x -> x <> '' AND x IN ('the','a','an','and','or','of','to',
            'in','is','it','that','for','on','with','as','was','at','by',
            'this'))) AS BIGINT) AS m1,
          CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
            AS BIGINT) AS s,
          CAST(length(text) AS BIGINT) AS c,
          CAST(length(text)
            - length(regexp_replace(text, '[!-/:-@\\[-`{-~0-9]', '', 'g'))
            AS BIGINT) AS pd
        FROM (SELECT i, text,
                list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
                  AS toks
              FROM batch)),
      passq AS (
        SELECT b.* FROM batch b JOIN qm USING (i)
        WHERE CASE WHEN n > 0 AND c > 0 THEN
                CAST((2 * (least(m1 * c * 16000, n * c * 4000)
                      + (CASE WHEN s >= n * 2 AND s <= n * 12
                         THEN n * c * 4000 ELSE 0 END)
                      + (n * c * 2000 - least(pd * n * 4000, n * c * 2000)))
                     + n * c) // (n * c * 2) AS DOUBLE) / 10000.0
              ELSE 0.0 END >= 0.3),
      -- batch-internal exact dedup: min i per normalized fingerprint
      ex AS (
        SELECT * FROM passq
        WHERE i IN (
          SELECT min(i) FROM passq
          GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))),
      -- the media leg: records present in the batch; dup ⇔ the
      -- object renders a HISTORY gid (render-parameter equality —
      -- history holds gids 0..29; article originals draw from the
      -- verified-distinct FreshGids set, never colliding)
      media AS (
        SELECT host || '/m/a.png' AS url, 1 AS is_dup, i
        FROM batch WHERE cls IN (0, 1)
        UNION ALL
        SELECT host || '/m/b.png' AS url, 1 AS is_dup, i
        FROM batch WHERE cls = 0
        UNION ALL
        SELECT host || '/m/f.png' AS url, 0 AS is_dup, i
        FROM batch WHERE cls = 1),
      -- the doc-level media gate: refs resolve to own-host URLs;
      -- evidence = refs present in the batch; drop docs whose every
      -- evidenced object is a duplicate
      refs AS (
        SELECT i, host || '/m/a.png' AS url FROM batch WHERE cls IN (0, 1)
        UNION ALL
        SELECT i, host || '/m/b.png' AS url FROM batch WHERE cls = 0
        UNION ALL
        SELECT i, host || '/m/f.png' AS url FROM batch WHERE cls = 1
        UNION ALL
        SELECT i, host || '/m/ghost.png' AS url FROM batch WHERE cls = 3),
      evid AS (
        SELECT r.i, m.is_dup FROM refs r JOIN media m ON r.url = m.url),
      gallery_drop AS (
        SELECT i FROM evid GROUP BY i
        HAVING sum(CASE WHEN is_dup = 0 THEN 1 ELSE 0 END) = 0),
      gated AS (
        SELECT * FROM ex WHERE i NOT IN (SELECT i FROM gallery_drop)),
      -- batch-internal near-dup election: recomputed (provably empty
      -- on this fixture — 5 shared template shingles of 22)
      gtext AS (SELECT i AS id, text FROM gated),
      sh_g AS (${shingleSql("gtext")}),
      ${intraJaccardSql("sh_g", "iq")},
      pre AS (
        SELECT * FROM gated WHERE i NOT IN (SELECT dup_id FROM iq)),
      -- the text history judge: exact cross Jaccard vs the index
      ptext AS (SELECT i AS id, text FROM pre),
      sh_p AS (${shingleSql("ptext")}),
      sh_h AS (${shingleSql("hist")}),
      ${crossJaccardSql("sh_p", "sh_h", "dq")},
      doc_surv AS (
        SELECT host || '/p' AS url FROM pre
        WHERE i NOT IN (SELECT dup_id FROM dq)),
      media_surv AS (SELECT url FROM media WHERE is_dup = 0)
      SELECT 'doc' AS leg, url FROM doc_surv
      UNION ALL SELECT 'media' AS leg, url FROM media_surv
      UNION ALL SELECT 'tdelta' AS leg, url FROM doc_surv
      UNION ALL SELECT 'mdelta' AS leg, url FROM media_surv
      ORDER BY leg, url"""),
    // bench entry (the q203/q206 precedent): the flagship archive
    // step must be TIMED so a regression anywhere in its composed
    // body (scanner, extraction, gates, ownership join, either
    // judge) is visible to BENCH. Fixed-size fixture (doc_id < 240
    // at every SF) — this times the KERNEL composition; growth is
    // the SCALE.md archive_ingest ladder's job.
    bench = true)

  /** q214: incremental SEMANTIC dedup against the persisted vector
    * cell index ([[graft.operators.SemanticIndex]]) — the q208 shape
    * for EMBEDDINGS, closing the third incremental family: TWO ingest
    * cycles against the growing index, replayed EXACTLY in SQL.
    * History (vec_id < 800) builds the frozen portable-draw centroids
    * (the q86 md5 rank — DuckDB recomputes the selection) and the
    * primary-cell assignment; cycle-1's batch carries exact
    * re-embeds (cosine 1.0), uniformly SHIFTED variants (+0.01 per
    * component — cosine computed by BOTH engines, so each threshold
    * crossing is checked, not assumed), and reversed vectors (fresh
    * by construction for random-ish embeddings, but JUDGED, never
    * presumed); cycle-2's shifted re-embeds of cycle-1 survivors can
    * only be caught through the APPENDED delta — the cross-cycle
    * memory contract. The oracle replays centroid draw, nProbe=2
    * batch assignment (row_number over cosine DESC, cell ASC),
    * the PRIMARY-cell batch-internal greedy election, the history
    * judge with smallest-matching-id keeper election, survivor/delta
    * derivation, and cycle 2 against history ∪ delta. All vectors
    * CAST to double on both sides (the q30/q86 parity convention);
    * maxCell uncapped at this call site (an exact oracle needs the
    * uncapped operator — the q206 rule). */
  private val q214 = QuerySpec(
    "q214_semantic_incremental_dedup",
    (s, dir) => {
      import graft.operators.SemanticIndex
      val emb = Tables.embeddings(s, dir)
      val hist = emb.filter(col("vec_id") < 800)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val (cent, assigned) = SemanticIndex.buildIndex(hist, "id", "vec",
        nCells = 8)
      val vd = col("embedding").cast("array<double>")
      val b1 = emb.filter(col("vec_id") < 300).select(
        (col("vec_id") + 10000L).as("id"),
        when(pmod(col("vec_id"), lit(3)) === 0, vd)
          .when(pmod(col("vec_id"), lit(3)) === 1,
            transform(vd, x => x + lit(0.01)))
          .otherwise(reverse(vd)).as("vec"))
      val (dups1, delta) = SemanticIndex.ingestStep(b1, "id", "vec",
        cent, assigned, threshold = 0.9, nProbe = 2,
        maxCell = Int.MaxValue)
      val b2 = emb.filter(col("vec_id") < 300).select(
        (col("vec_id") + 20000L).as("id"),
        when(pmod(col("vec_id"), lit(2)) === 0,
            transform(vd, x => x + lit(0.01)))
          .otherwise(transform(reverse(vd), x => x + lit(0.02)))
          .as("vec"))
      val dups2 = SemanticIndex.incrementalSemanticDups(b2, "id", "vec",
        cent, assigned.unionByName(delta), threshold = 0.9, nProbe = 2,
        maxCell = Int.MaxValue)
      dups1.withColumn("cycle", lit(1L))
        .unionByName(dups2.withColumn("cycle", lit(2L)))
        .select(col("cycle"), col("dup_id"), col("keep_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cycle"), col("dup_id"))
    },
    oracle = Some("""
      WITH hist AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
        FROM embeddings WHERE vec_id < 800),
      cent AS (
        SELECT id AS cell, vec AS cvec FROM hist
        ORDER BY ('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT
                    % 1000000, id
        LIMIT 8),
      hassign AS (
        SELECT id, cell, vec FROM (
          SELECT h.id, c.cell, h.vec,
                 row_number() OVER (PARTITION BY h.id
                   ORDER BY list_cosine_similarity(h.vec, c.cvec) DESC,
                            c.cell ASC) AS rnk
          FROM hist h CROSS JOIN cent c)
        WHERE rnk = 1),
      b1 AS (
        SELECT vec_id + 10000 AS id,
               CASE vec_id % 3
                 WHEN 0 THEN CAST(embedding AS DOUBLE[])
                 WHEN 1 THEN list_transform(CAST(embedding AS DOUBLE[]),
                               x -> x + 0.01)
                 ELSE list_reverse(CAST(embedding AS DOUBLE[])) END AS vec
        FROM embeddings WHERE vec_id < 300),
      b1a AS (
        SELECT id, cell, vec, rnk FROM (
          SELECT b.id, c.cell, b.vec,
                 row_number() OVER (PARTITION BY b.id
                   ORDER BY list_cosine_similarity(b.vec, c.cvec) DESC,
                            c.cell ASC) AS rnk
          FROM b1 b CROSS JOIN cent c)
        WHERE rnk <= 2),
      i1 AS (
        SELECT dup_id, kid, cos,
               row_number() OVER (PARTITION BY dup_id ORDER BY kid) AS rn
        FROM (
          SELECT y.id AS dup_id, x.id AS kid,
                 list_cosine_similarity(y.vec, x.vec) AS cos
          FROM b1a x JOIN b1a y
            ON x.cell = y.cell AND x.rnk = 1 AND y.rnk = 1
              AND x.id < y.id)
        WHERE cos >= 0.9),
      p1 AS (
        SELECT * FROM b1a
        WHERE id NOT IN (SELECT dup_id FROM i1)),
      x1 AS (
        SELECT dup_id, hid, cos,
               row_number() OVER (PARTITION BY dup_id ORDER BY hid) AS rn
        FROM (
          SELECT p.id AS dup_id, h.id AS hid,
                 list_cosine_similarity(p.vec, h.vec) AS cos
          FROM p1 p JOIN hassign h ON p.cell = h.cell AND h.id <> p.id)
        WHERE cos >= 0.9),
      surv1 AS (
        SELECT id, cell, vec FROM p1
        WHERE rnk = 1 AND id NOT IN (SELECT dup_id FROM x1)),
      idx2 AS (
        SELECT id, cell, vec FROM hassign
        UNION ALL SELECT id, cell, vec FROM surv1),
      b2 AS (
        SELECT vec_id + 20000 AS id,
               CASE vec_id % 2
                 WHEN 0 THEN list_transform(CAST(embedding AS DOUBLE[]),
                               x -> x + 0.01)
                 ELSE list_transform(
                        list_reverse(CAST(embedding AS DOUBLE[])),
                        x -> x + 0.02) END AS vec
        FROM embeddings WHERE vec_id < 300),
      b2a AS (
        SELECT id, cell, vec FROM (
          SELECT b.id, c.cell, b.vec,
                 row_number() OVER (PARTITION BY b.id
                   ORDER BY list_cosine_similarity(b.vec, c.cvec) DESC,
                            c.cell ASC) AS rnk
          FROM b2 b CROSS JOIN cent c)
        WHERE rnk <= 2),
      x2 AS (
        SELECT dup_id, hid, cos,
               row_number() OVER (PARTITION BY dup_id ORDER BY hid) AS rn
        FROM (
          SELECT p.id AS dup_id, h.id AS hid,
                 list_cosine_similarity(p.vec, h.vec) AS cos
          FROM b2a p JOIN idx2 h ON p.cell = h.cell AND h.id <> p.id)
        WHERE cos >= 0.9)
      SELECT CAST(1 AS BIGINT) AS cycle, dup_id,
             kid AS keep_id, round(cos, 6) AS cosine
      FROM i1 WHERE rn = 1
      UNION ALL
      SELECT CAST(1 AS BIGINT) AS cycle, dup_id,
             hid AS keep_id, round(cos, 6) AS cosine
      FROM x1 WHERE rn = 1
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS cycle, dup_id,
             hid AS keep_id, round(cos, 6) AS cosine
      FROM x2 WHERE rn = 1
      ORDER BY cycle, dup_id"""))

  /** q215: SEMANTIC index retraction under the oracle — the
    * q210/q211 twin for the third family, so ALL THREE incremental
    * indexes have their takedown semantics oracle-checked: every 7th
    * history vector under 300 is tombstoned (the exact composition
    * [[graft.io.SemanticIndexArtifacts.load]] serves — the ASSIGNED
    * relation anti-joined, the frozen CENTROIDS untouched: cells are
    * model state, the retract scaladoc's documented boundary), the
    * batch exactly re-embeds history < 300, and DuckDB replays the
    * judge over `assigned MINUS retracted` — a vector whose only
    * match was retracted now SURVIVES; one with other ≥-threshold
    * neighbors RE-ELECTS the next-smallest keeper, recomputed, not
    * assumed. */
  private val q215 = QuerySpec(
    "q215_semantic_index_retraction",
    (s, dir) => {
      import graft.operators.SemanticIndex
      val emb = Tables.embeddings(s, dir)
      val hist = emb.filter(col("vec_id") < 800)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val (cent, assigned) = SemanticIndex.buildIndex(hist, "id", "vec",
        nCells = 8)
      val tomb = emb.filter(col("vec_id") < 300 &&
          pmod(col("vec_id"), lit(7)) === 0)
        .select(col("vec_id").as("id"))
      val filtered = assigned.join(broadcast(tomb), Seq("id"), "left_anti")
      val batch = emb.filter(col("vec_id") < 300).select(
        (col("vec_id") + 1000L).as("id"),
        col("embedding").cast("array<double>").as("vec"))
      SemanticIndex.incrementalSemanticDups(batch, "id", "vec", cent,
          filtered, threshold = 0.9, nProbe = 2, maxCell = Int.MaxValue)
        .select(col("dup_id"), col("keep_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("dup_id"))
    },
    oracle = Some("""
      WITH hist AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
        FROM embeddings WHERE vec_id < 800),
      cent AS (
        SELECT id AS cell, vec AS cvec FROM hist
        ORDER BY ('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT
                    % 1000000, id
        LIMIT 8),
      hassign AS (
        SELECT id, cell, vec FROM (
          SELECT h.id, c.cell, h.vec,
                 row_number() OVER (PARTITION BY h.id
                   ORDER BY list_cosine_similarity(h.vec, c.cvec) DESC,
                            c.cell ASC) AS rnk
          FROM hist h CROSS JOIN cent c)
        WHERE rnk = 1),
      kept AS (
        SELECT * FROM hassign
        WHERE NOT (id < 300 AND id % 7 = 0)),
      b AS (
        SELECT vec_id + 1000 AS id, CAST(embedding AS DOUBLE[]) AS vec
        FROM embeddings WHERE vec_id < 300),
      ba AS (
        SELECT id, cell, vec FROM (
          SELECT b.id, c.cell, b.vec,
                 row_number() OVER (PARTITION BY b.id
                   ORDER BY list_cosine_similarity(b.vec, c.cvec) DESC,
                            c.cell ASC) AS rnk
          FROM b CROSS JOIN cent c)
        WHERE rnk <= 2),
      xr AS (
        SELECT dup_id, hid, cos,
               row_number() OVER (PARTITION BY dup_id ORDER BY hid) AS rn
        FROM (
          SELECT p.id AS dup_id, h.id AS hid,
                 list_cosine_similarity(p.vec, h.vec) AS cos
          FROM ba p JOIN kept h ON p.cell = h.cell AND h.id <> p.id)
        WHERE cos >= 0.9)
      SELECT dup_id, hid AS keep_id, round(cos, 6) AS cosine
      FROM xr WHERE rn = 1
      ORDER BY dup_id"""))

  // ---- q216 shared SQL fragments: the pipeline-seated semantic gate
  // replay. Interpolated strings — backslashes are doubled. ----

  /** nProbe-cell assignment of `rel` (id, vec) against `cent` —
    * the [[graft.operators.SemanticIndex.assignCells]] replay
    * (row_number over cosine DESC, cell ASC). */
  private def q216AssignSql(rel: String, probes: Int): String = s"""
        SELECT id, cell, vec, rnk FROM (
          SELECT b.id, c.cell, b.vec,
                 row_number() OVER (PARTITION BY b.id
                   ORDER BY list_cosine_similarity(b.vec, c.cvec) DESC,
                            c.cell ASC) AS rnk
          FROM $rel b CROSS JOIN cent c)
        WHERE rnk <= $probes"""

  /** The gate's drop set: assigned batch rows whose cell holds an
    * index vector at cosine ≥ 0.9 (same-id pairs excluded — the
    * replay contract). */
  private def q216GateDropSql(assignRel: String, idxRel: String): String =
    s"""
        SELECT DISTINCT p.id AS dup_id
        FROM $assignRel p JOIN $idxRel h
          ON p.cell = h.cell AND h.id <> p.id
        WHERE list_cosine_similarity(p.vec, h.vec) >= 0.9"""

  /** Stage-1 quality floor over `rel` (id, text, …): the q36 integer
    * formula at the 0.3 floor (the q212 replay). */
  private def q216PassQualitySql(rel: String): String = s"""
        SELECT p.* FROM $rel p JOIN (
          SELECT id,
            CAST(len(toks) AS BIGINT) AS n,
            CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
              x -> x <> '' AND x IN ('the','a','an','and','or','of','to',
              'in','is','it','that','for','on','with','as','was','at','by',
              'this'))) AS BIGINT) AS m1,
            CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
              AS BIGINT) AS s,
            CAST(length(text) AS BIGINT) AS c,
            CAST(length(text)
              - length(regexp_replace(text, '[!-/:-@\\[-`{-~0-9]', '', 'g'))
              AS BIGINT) AS pd
          FROM (SELECT id, text,
                  list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '') AS toks
                FROM $rel)) q USING (id)
        WHERE CASE WHEN n > 0 AND c > 0 THEN
                CAST((2 * (least(m1 * c * 16000, n * c * 4000)
                      + (CASE WHEN s >= n * 2 AND s <= n * 12
                         THEN n * c * 4000 ELSE 0 END)
                      + (n * c * 2000 - least(pd * n * 4000, n * c * 2000)))
                     + n * c) // (n * c * 2) AS DOUBLE) / 10000.0
              ELSE 0.0 END >= 0.3"""

  /** Stage-2 exact dedup over `rel`: min id per normalized-content
    * fingerprint (the q26 replay). */
  private def q216ExactSql(rel: String): String = s"""
        SELECT * FROM $rel
        WHERE id IN (
          SELECT min(id) FROM $rel
          GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))"""

  /** q216: the SEMANTIC gate seated in [[graft.pipelines
    * .TrainingCorpusPipeline]] — the q214 judge driven through the
    * BATCH pipeline seat (stage 0.6), two cycles (the q208 shape).
    * History (vec_id < 800) builds the frozen portable-draw index;
    * each cycle's batch is documents < 300 with q214-style embedding
    * variants keyed on the original id (exact / +0.01-shifted /
    * reversed) and every 5th doc carrying its predecessor's TEXT
    * verbatim (real exact-dedup work INSIDE the pipeline, after the
    * gate). Cycle 1 runs the FULL pipeline with the gate seated; its
    * doc-level survivors are ingested ([[graft.operators
    * .SemanticIndex.ingestStep]] — the production wiring: pipeline
    * survivors become the index delta) and cycle 2 re-runs the
    * pipeline against history ∪ delta: its reversed+0.01 re-embeds
    * match ONLY cycle-1's appended reversed vectors — drops that
    * exist purely through the cross-cycle index memory. The pipeline
    * stages the oracle replays literally: gate (cosine judge, nProbe
    * 2), quality floor (q36 integer formula at 0.3), exact dedup
    * (min-id per normalized fingerprint); the text NEAR-dup stage
    * runs with threshold 1.01 (Jaccard ≤ 1 — deterministically
    * empty, so every drop is attributable to a replayed stage) and
    * decontamination with an EMPTY holdout (no leaks by
    * construction). Output = (cycle, surviving doc_id) — the doc
    * set, chunk-independent (tokenWindows emits ≥ 1 chunk per doc).
    * maxCell uncapped (the exact-oracle call-site rule); vectors
    * cast to double both sides (the q30/q86 parity convention). */
  private val q216 = QuerySpec(
    "q216_pipeline_semantic_gate",
    (s, dir) => {
      import graft.operators.SemanticIndex
      import graft.io.SemanticIndexArtifacts.PersistedSemanticIndex
      import graft.pipelines.TrainingCorpusPipeline
      val emb = Tables.embeddings(s, dir)
      val docs = Tables.documents(s, dir)
      val vd = col("embedding").cast("array<double>")
      val hist = emb.filter(col("vec_id") < 800)
        .select(col("vec_id").as("id"), vd.as("vec"))
      val (cent, assigned) = SemanticIndex.buildIndex(hist, "id", "vec",
        nCells = 8)
      // batch builder: docs < 300; every 5th id carries its
      // predecessor's text; embedding = q214 variant draw on the
      // ORIGINAL id, plus a per-cycle uniform shift
      def mkBatch(offset: Long,
          shift: Double): org.apache.spark.sql.DataFrame = {
        val base = docs.filter(col("doc_id") < 300)
          .select(col("doc_id").as("i"),
            (col("doc_id") - when(pmod(col("doc_id"), lit(5)) === 4, 1L)
              .otherwise(0L)).as("src"))
        val variant =
          when(pmod(col("i"), lit(3)) === 0, col("e0"))
            .when(pmod(col("i"), lit(3)) === 1,
              transform(col("e0"), x => x + lit(0.01)))
            .otherwise(reverse(col("e0")))
        base
          .join(docs.select(col("doc_id").as("src"), col("text")),
            Seq("src"))
          .join(emb.select(col("vec_id").as("i"), vd.as("e0")), Seq("i"))
          .select((col("i") + offset).as("doc_id"), col("text"),
            (if (shift == 0.0) variant
             else transform(variant, x => x + lit(shift))).as("emb"))
      }
      val cfg = TrainingCorpusPipeline.Config(
        nearDupThreshold = 1.01, embeddingCol = Some("emb"))
      val holdout = docs.filter(lit(false))
        .select(col("doc_id"), col("text"))
      val idx1 = PersistedSemanticIndex(cent, assigned,
        threshold = 0.9, nProbe = 2, maxCell = Int.MaxValue)
      val b1 = mkBatch(10000L, 0.0)
      val s1 = TrainingCorpusPipeline
        .run(b1, holdout, "doc_id", "text", cfg, semanticIndex = Some(idx1))
        .select(col("doc_id")).distinct()
      // production wiring: cycle-1 survivors are INGESTED — their
      // replay-idempotent delta is what cycle 2 judges against
      val (_, delta) = SemanticIndex.ingestStep(
        b1.join(s1, Seq("doc_id"), "left_semi"), "doc_id", "emb",
        cent, assigned, threshold = 0.9, nProbe = 2,
        maxCell = Int.MaxValue)
      val idx2 = PersistedSemanticIndex(cent,
        assigned.unionByName(delta), threshold = 0.9, nProbe = 2,
        maxCell = Int.MaxValue)
      val s2 = TrainingCorpusPipeline
        .run(mkBatch(20000L, 0.01), holdout, "doc_id", "text", cfg,
          semanticIndex = Some(idx2))
        .select(col("doc_id")).distinct()
      s1.withColumn("cycle", lit(1L))
        .unionByName(s2.withColumn("cycle", lit(2L)))
        .select(col("cycle"), col("doc_id"))
        .orderBy(col("cycle"), col("doc_id"))
    },
    oracle = Some(s"""
      WITH hist AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
        FROM embeddings WHERE vec_id < 800),
      cent AS (
        SELECT id AS cell, vec AS cvec FROM hist
        ORDER BY ('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT
                    % 1000000, id
        LIMIT 8),
      hassign AS (
        SELECT id, cell, vec FROM (
          SELECT h.id, c.cell, h.vec,
                 row_number() OVER (PARTITION BY h.id
                   ORDER BY list_cosine_similarity(h.vec, c.cvec) DESC,
                            c.cell ASC) AS rnk
          FROM hist h CROSS JOIN cent c)
        WHERE rnk = 1),
      bvar AS (
        SELECT b.i, t.text,
               CASE b.i % 3
                 WHEN 0 THEN e.vec
                 WHEN 1 THEN list_transform(e.vec, x -> x + 0.01)
                 ELSE list_reverse(e.vec) END AS vec
        FROM (SELECT doc_id AS i,
                doc_id - (CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END)
                  AS src
              FROM documents WHERE doc_id < 300) b
        JOIN documents t ON t.doc_id = b.src
        JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings) e ON e.vec_id = b.i),
      b1 AS (SELECT i + 10000 AS id, text, vec FROM bvar),
      b1a AS (${q216AssignSql("b1", 2)}),
      g1 AS (${q216GateDropSql("b1a", "hassign")}),
      pool1 AS (
        SELECT * FROM b1 WHERE id NOT IN (SELECT dup_id FROM g1)),
      passq1 AS (${q216PassQualitySql("pool1")}),
      s1 AS (${q216ExactSql("passq1")}),
      -- ingest of the cycle-1 survivors: intra election on primary
      -- cells, cross judge (empty by construction — s1 already
      -- passed the gate — but replayed), delta at the primary cell
      s1a AS (${q216AssignSql("s1", 2)}),
      i1 AS (
        SELECT DISTINCT y.id AS dup_id
        FROM s1a x JOIN s1a y
          ON x.cell = y.cell AND x.rnk = 1 AND y.rnk = 1 AND x.id < y.id
        WHERE list_cosine_similarity(y.vec, x.vec) >= 0.9),
      p1 AS (SELECT * FROM s1a WHERE id NOT IN (SELECT dup_id FROM i1)),
      x1 AS (${q216GateDropSql("p1", "hassign")}),
      delta AS (
        SELECT id, cell, vec FROM p1
        WHERE rnk = 1 AND id NOT IN (SELECT dup_id FROM x1)),
      idx2 AS (
        SELECT id, cell, vec FROM hassign
        UNION ALL SELECT id, cell, vec FROM delta),
      b2 AS (
        SELECT i + 20000 AS id, text,
               list_transform(vec, x -> x + 0.01) AS vec FROM bvar),
      b2a AS (${q216AssignSql("b2", 2)}),
      g2 AS (${q216GateDropSql("b2a", "idx2")}),
      pool2 AS (
        SELECT * FROM b2 WHERE id NOT IN (SELECT dup_id FROM g2)),
      passq2 AS (${q216PassQualitySql("pool2")}),
      s2 AS (${q216ExactSql("passq2")})
      SELECT CAST(1 AS BIGINT) AS cycle, id AS doc_id FROM s1
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS cycle, id AS doc_id FROM s2
      ORDER BY cycle, doc_id"""))

  /** q217: the semantic index's cell-OCCUPANCY drift alarm
    * ([[graft.operators.SemanticIndex.cellOccupancyReport]] — the
    * q181/q185 retrain-alarm pattern applied to frozen cells) under
    * the exact oracle: history (vec_id < 800) builds the 8-cell
    * portable-draw index; a maxCell of 60 leaves SOME primary cells
    * capped and some not (mean occupancy ≈ 62 at sf0.001, ≈ 100 at
    * sf0.01 — both engines recount, never assume); the batch
    * (shifted re-embeds of vec_id < 200) probes its nProbe=2 nearest
    * cells, and the report counts the probe mass landing in capped
    * cells in exact integer basis points. DuckDB replays the
    * centroid draw, the primary-cell census, the batch assignment,
    * and the integer capped_bp division. */
  private val q217 = QuerySpec(
    "q217_semantic_occupancy_alarm",
    (s, dir) => {
      import graft.operators.SemanticIndex
      val emb = Tables.embeddings(s, dir)
      val vd = col("embedding").cast("array<double>")
      val hist = emb.filter(col("vec_id") < 800)
        .select(col("vec_id").as("id"), vd.as("vec"))
      val (cent, assigned) = SemanticIndex.buildIndex(hist, "id", "vec",
        nCells = 8)
      val batch = emb.filter(col("vec_id") < 200)
        .select((col("vec_id") + 1000L).as("id"),
          transform(vd, x => x + lit(0.005)).as("vec"))
      SemanticIndex.cellOccupancyReport(batch, "id", "vec", cent,
        assigned, nProbe = 2, maxCell = 60, alarmBp = 2500)
    },
    oracle = Some("""
      WITH hist AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
        FROM embeddings WHERE vec_id < 800),
      cent AS (
        SELECT id AS cell, vec AS cvec FROM hist
        ORDER BY ('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT
                    % 1000000, id
        LIMIT 8),
      hassign AS (
        SELECT id, cell FROM (
          SELECT h.id, c.cell,
                 row_number() OVER (PARTITION BY h.id
                   ORDER BY list_cosine_similarity(h.vec, c.cvec) DESC,
                            c.cell ASC) AS rnk
          FROM hist h CROSS JOIN cent c)
        WHERE rnk = 1),
      capped AS (
        SELECT cell FROM (
          SELECT cell, count(*) AS cnt FROM hassign GROUP BY cell)
        WHERE cnt > 60),
      b AS (
        SELECT vec_id + 1000 AS id,
               list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x + 0.005) AS vec
        FROM embeddings WHERE vec_id < 200),
      ba AS (
        SELECT id, cell FROM (
          SELECT b.id, c.cell,
                 row_number() OVER (PARTITION BY b.id
                   ORDER BY list_cosine_similarity(b.vec, c.cvec) DESC,
                            c.cell ASC) AS rnk
          FROM b CROSS JOIN cent c)
        WHERE rnk <= 2),
      pa AS (
        SELECT count(*) AS n_probes,
               count(DISTINCT cell) AS n_probed_cells FROM ba),
      ca AS (
        SELECT count(*) AS capped_probes,
               count(DISTINCT p.cell) AS n_capped_cells
        FROM ba p JOIN capped c ON p.cell = c.cell)
      SELECT n_probes, n_probed_cells, n_capped_cells, capped_probes,
             CASE WHEN n_probes > 0
               THEN (capped_probes * 10000) // n_probes END AS capped_bp,
             coalesce(CASE WHEN n_probes > 0
               THEN (capped_probes * 10000) // n_probes END > 2500,
               false) AS recell
      FROM pa CROSS JOIN ca"""))

  /** q218: exact all-pairs char-3-gram Jaccard calibration histogram
    * ([[graft.operators.Dedup.jaccardCalibrationHistogram]]) — the
    * similarity-mass distribution the sketch thresholds are calibrated
    * against, and the bench's DATA-PROPORTIONAL scaling witness (r17
    * verdict item 3): |docs| grows with SF and the pair kernel grows
    * with its square, all of it CPU in a tight sorted-merge intersect
    * — so the driver's 8-vs-32-core probe finally has an entry whose
    * time is compute, not fixed-size orchestration. md5-derived gram
    * hashes (the q69/q73 portable idiom) and integer bucket
    * arithmetic replay in DuckDB bit for bit. */
  private val q218 = QuerySpec(
    "q218_jaccard_calibration",
    (s, dir) =>
      Dedup.jaccardCalibrationHistogram(Tables.documents(s, dir),
        "doc_id", "text", buckets = 20),
    oracle = Some("""
      WITH s AS (
        SELECT doc_id, text FROM documents
        ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                   1, 15)) AS BIGINT) % 1000000, doc_id
        LIMIT 65536),
      g AS (
        SELECT doc_id AS id,
               CASE WHEN length(coalesce(text, '')) >= 3 THEN
                 list_sort(list_distinct(list_transform(
                   range(1, length(text) - 1),
                   i -> CAST(('0x' || substring(md5(substring(text,
                          CAST(i AS INTEGER), 3)), 1, 15)) AS BIGINT))))
               ELSE CAST([] AS BIGINT[]) END AS gs
        FROM s),
      p AS (
        SELECT CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS inter,
               CAST(len(a.gs) + len(b.gs) AS BIGINT) AS szsum
        FROM g a JOIN g b ON a.id < b.id),
      q AS (
        SELECT inter, szsum - inter AS uni FROM p WHERE szsum - inter > 0)
      SELECT CAST((inter * 20) // uni AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM q GROUP BY bucket
      ORDER BY bucket"""),
    bench = true)

  /** q219: per-document top-3 nearest near-dups by exact char-3-gram
    * Jaccard ([[graft.operators.Dedup.jaccardTopKNeighbors]]) — the
    * calibration family's keeper-audit half and the bench's second
    * data-proportional scaling witness (same bounded all-pairs
    * contract as q218, ~2× its pair kernel: each sampled doc scans
    * the full corpus row for its exact nearest near-dups). Exact
    * fixed-point integer scores (inter·10¹² div union) replay in
    * DuckDB bit for bit; rank ties break by neighbor id. */
  private val q219 = QuerySpec(
    "q219_jaccard_topk_neighbors",
    (s, dir) =>
      Dedup.jaccardTopKNeighbors(Tables.documents(s, dir),
        "doc_id", "text", k = 3),
    oracle = Some("""
      WITH s AS (
        SELECT doc_id, text FROM documents
        ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                   1, 15)) AS BIGINT) % 1000000, doc_id
        LIMIT 65536),
      g AS (
        SELECT doc_id AS id,
               CASE WHEN length(coalesce(text, '')) >= 3 THEN
                 list_sort(list_distinct(list_transform(
                   range(1, length(text) - 1),
                   i -> CAST(('0x' || substring(md5(substring(text,
                          CAST(i AS INTEGER), 3)), 1, 15)) AS BIGINT))))
               ELSE CAST([] AS BIGINT[]) END AS gs
        FROM s),
      p AS (
        SELECT a.id AS id, b.id AS nbr_id,
               CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS inter,
               CAST(len(a.gs) + len(b.gs) AS BIGINT) AS szsum
        FROM g a JOIN g b ON a.id <> b.id),
      q AS (
        SELECT id, nbr_id,
               inter * 1000000000000 // (szsum - inter) AS score
        FROM p WHERE szsum - inter > 0)
      SELECT id AS doc_id, rank, nbr_id, score FROM (
        SELECT id, nbr_id, score,
               CAST(row_number() OVER (PARTITION BY id
                 ORDER BY score DESC, nbr_id) AS INTEGER) AS rank
        FROM q) WHERE rank <= 3
      ORDER BY doc_id, rank"""),
    bench = true)

  val specs: Seq[QuerySpec] = Seq(
    q26, q27, q28, q29, q30, q31, q32, q33, q34, q35, q36, q37, q44, q45,
    q48, q49, q50, q51, q92, q130, q194, q195, q196, q197, q198, q199,
    q200, q201, q202, q203, q204, q205, q206, q208, q210, q211, q212,
    q214, q215, q216, q217, q218, q219)
}
