package graft.operators

import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column: brute-force cosine top-k as the exact baseline, plus two
  * sub-quadratic scale paths (random-hyperplane LSH and IVF/k-means-lite
  * coarse quantization).
  *
  * Scale notes:
  *  - Brute force is a crossJoin: broadcast the (small) query side,
  *    stream the corpus — O(|corpus|·|queries|) work but no shuffle of
  *    the corpus, and the fused [[graft.functions.CosineSimilarity]]
  *    kernel keeps it memory-bandwidth-bound. Exact, fine when one side
  *    is small; it is the recall oracle for the ANN paths.
  *  - LSH/IVF bucket the corpus so candidate generation is a hash
  *    shuffle on the bucket id; at 100 TB only same-bucket vectors ever
  *    pair up. Recall is tunable (tables × hyperplanes / nProbe).
  *  - Top-k per query = row_number over a window partitioned by the
  *    query id — never a global sort.
  *
  * Cache lifecycle (the [[Decontaminate]]/[[Dedup]] contract): the
  * bucketed paths persist their bucket/cell assignment MEMORY_AND_DISK
  * inside the RETURNED lazy plan (it feeds both self-join sides; the
  * persist is lazy, so constructing a plan costs nothing). Spark can
  * only release those blocks after the plan is consumed — in a
  * long-lived session, `spark.catalog.clearCache()` (or RDD GC of the
  * unreferenced plan via the ContextCleaner) reclaims them; repeated
  * invocations do not leak beyond what the cleaner reclaims.
  */
object Similarity {

  /** Rank the k best (sim, c_id) per q_id via the native bounded-heap
    * aggregate ([[TopKPairs]]): map-side partial top-k, so the shuffle
    * moves partitions × queries × k rows — NOT every scored pair into a
    * window sort (measured ~2× on the sf0.1 knn; asymptotically the
    * difference between O(n·m) shuffle and O(q·k)). The
    * TypedImperativeAggregate form (vs the udaf [[TopKAgg]], kept as
    * its differential twin) reads child primitives without an encoder
    * round-trip — the udaf glue was ~1.5s of the 2.3s sf0.1 knn. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      // a NULL sim (corrupt embedding — the kernels deliberately return
      // NULL, never a fake score) is skipped by the aggregate; filtered
      // here too so the scored relation's row count reflects real pairs
      .filter(col("sim").isNotNull)
      .groupBy(col("q_id"))
      .agg(TopKPairs.topK(k)(col("sim"), col("c_id")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "p")))
      .select(col("q_id"), col("p.id").as("c_id"), col("p.sim").as("sim"),
        (col("pos") + 1).cast("int").as("rank"))

  /** Exact brute-force cosine top-k neighbors for every vector in
    * `queries` against `corpus` (excluding self-matches on id). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    // Fan the streamed corpus out to all cores: a small corpus arrives
    // as one file split, and a one-partition input serializes the whole
    // |corpus|x|queries| loop onto a single task (measured 3.4s -> when
    // the 4M-pair kernel ran on one of 32 cores). At real scale the
    // corpus has many splits and AQE can coalesce the extra exchange.
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .repartition(par)
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        VectorFns.cosine(col("q_vec"), col("c_vec")).as("sim"))
    rankTopK(scored, k)
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale 127/max|x|, elements floor(x·scale + 0.5) — "round half
    * toward +∞" spelled as floor so ANY IEEE-754 engine reproduces the
    * quantized values bit for bit (round() half-handling differs
    * between engines; floor does not). All-zero vectors quantize to
    * zeros. Emitted as array<double> holding exact small integers:
    * the integer dot products downstream stay exact in doubles
    * (|q|≤127 ⇒ dot ≤ 127²·dim ≪ 2⁵³) and feed the fused
    * [[graft.functions.DotProduct]] kernel directly. */
  def quantize(vec: Column): Column =
    quantizeWithMax(vec, array_max(transform(vec, x => abs(x.cast("double")))))

  /** [[quantize]] with the per-vector max passed in. Callers that can
    * hoist `mx` into its own projection column MUST (see
    * [[quantizedTopK]]): a lambda-invariant subtree inside `transform`
    * is re-evaluated per ELEMENT — inlining the max scan makes
    * quantization O(dim²) interpreted work per vector. */
  def quantizeWithMax(vec: Column, mx: Column): Column =
    when(mx === 0.0, transform(vec, _ => lit(0.0)))
      .otherwise(transform(vec,
        x => floor(x.cast("double") * (lit(127.0) / mx) + lit(0.5))))

  /** Exact-arithmetic quantized knn: top-k neighbors per vector by
    * int8-quantized dot product. The 100 TB motivation is memory
    * bandwidth — int8 vectors are 4× smaller than float32 (shuffle,
    * cache, broadcast all shrink 4×), and the scoring loop reads a
    * quarter of the bytes, at a small recall cost re-rankable with the
    * exact kernel over the top candidates. Scores are exact integers,
    * so results are engine-reproducible (unlike float cosine ranking,
    * which is only reproducible because both engines run IEEE doubles
    * in the same order). */
  def quantizedTopK(df: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // mx hoisted to its own projection so the transform lambda reads a
    // plain column instead of re-scanning the array per element
    def quantized(id: String, vecName: String) = df
      .select(col(idCol).as(id), col(vecCol).as("__v"),
        array_max(transform(col(vecCol), x => abs(x.cast("double")))).as("__mx"))
      .select(col(id), quantizeWithMax(col("__v"), col("__mx")).as(vecName))
    val c = quantized("c_id", "c_vec").repartition(par)
    val q = quantized("q_id", "q_vec")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        VectorFns.dot(col("q_vec"), col("c_vec")).as("sim"))
    rankTopK(scored, k)
      .withColumn("qdot", col("sim").cast("long"))
      .drop("sim")
  }

  /** Two-stage ANN: int8-quantized candidate generation
    * ([[quantizedTopK]], top `k·overfetch` by exact integer dot) +
    * exact float-cosine re-rank of just those candidates — the
    * standard production retrieval shape. Stage 1 reads quarter-width
    * vectors (the 100 TB scan is memory-bandwidth-bound, so the
    * candidate pass is ~4× cheaper than a float scan); stage 2 touches
    * only |queries|·k·overfetch pairs, restoring exact-cosine ranking
    * among the candidates. Recall loss is confined to true neighbors
    * the quantized metric pushes below rank k·overfetch — `overfetch`
    * is the recall knob (QuantizedTopKSpec measures the stage-1
    * recall this bounds). Both stages are deterministic (integer dots;
    * IEEE cosine), so the whole index is oracle-checkable. */
  def quantizedRerank(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, overfetch: Int = 4): DataFrame = {
    val cands = quantizedTopK(df, idCol, vecCol, k * overfetch)
      .select(col("q_id"), col("c_id"))
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val scored = cands
      .join(vecs.withColumnRenamed("id", "q_id").withColumnRenamed("vec", "q_vec"), "q_id")
      .join(vecs.withColumnRenamed("id", "c_id").withColumnRenamed("vec", "c_vec"), "c_id")
      .select(col("q_id"), col("c_id"),
        VectorFns.cosine(col("q_vec"), col("c_vec")).as("sim"))
    rankTopK(scored, k)
  }

  /** Deterministic pseudo-random hyperplane component for (table,
    * plane, dim): hash-derived value in [-1, 1). Reproducible across
    * runs/executors with no driver-side RNG state to ship. */
  private def planeComponent(table: Int, plane: Int) = {
    import org.apache.spark.sql.Column
    (dimIdx: Column) =>
      (pmod(xxhash64(lit(table), lit(plane), dimIdx), lit(2000000L))
        .cast("double") / 1000000.0) - 1.0
  }

  /** [[planeComponent]]'s md5 twin: any engine recomputes the same
    * hyperplanes from the "table_plane_dim" key string — what makes
    * q74's LSH index oracle-checkable. */
  def portablePlaneComponent(table: Int, plane: Int): org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    (dimIdx: org.apache.spark.sql.Column) =>
      (pmod(graft.operators.Dedup.portableTokenHash(
          concat_ws("_", lit(table), lit(plane), dimIdx)),
        lit(2000000L)).cast("double") / 1000000.0) - 1.0

  /** Random-hyperplane (SRP) LSH bucketing: `planes` sign bits per
    * table (0 → auto-size via [[suggestPlanes]]). Returns
    * (id, table, bucket).
    *
    * The hyperplane matrix is MATERIALIZED ONCE on the driver — by
    * evaluating the component Column expressions over dims 0..d−1, so
    * the values are identical to the in-plan form by construction —
    * and the sign bits come from one primitive-loop UDF over the
    * vector. The previous all-expression form re-derived every
    * component inside interpreted HOF lambdas PER VECTOR
    * (tables×planes×dim hash evaluations each: 4096 per vector at
    * 16×4×64 — bucketing alone cost more than the brute-force scan it
    * was supposed to beat). The matrix is tables×planes×dim doubles
    * (~32 KB at 16×4×64) shipped in the UDF closure; recomputing it
    * per query is one driver-side job over `dim` rows. Fixed-dim
    * contract: dimensionality is probed from the first non-NULL
    * vector; NULL vectors get no buckets (they can never produce a
    * scored pair anyway — the cosine kernel nulls them out). */
  def srpBuckets(df: DataFrame, idCol: String, vecCol: String,
                 tables: Int, planes: Int,
                 component: (Int, Int) => org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                   planeComponent): DataFrame = {
    val spark = df.sparkSession
    val nPlanes = resolveSize(df, idCol, planes, suggestPlanes)
    // MAX dim, not first-row dim: limit(1) over an unordered relation is
    // scheduling-dependent (nondeterministic buckets run to run) and a
    // shorter probe would silently truncate longer vectors' dots. With
    // the max, every vector uses its full length — identical semantics
    // to the HOF twin on mixed-dim input. One column-pruned agg scan.
    val probe = df.agg(max(size(col(vecCol))).as("d")).collect()
    if (probe(0).isNullAt(0))
      return df.select(col(idCol).as("id"), lit(0).as("table"),
        lit(0L).as("bucket")).limit(0)
    val dim = probe(0).getInt(0)
    import spark.implicits._
    val compCols = for (t <- 0 until tables; p <- 0 until nPlanes)
      yield component(t, p)(col("d")).as(s"c_${t}_$p")
    val matRows = (0 until dim).toDF("d")
      .select(col("d") +: compCols: _*).orderBy(col("d")).collect()
    val mat: Array[Array[Array[Double]]] =
      Array.tabulate(tables, nPlanes, dim)((t, p, d) =>
        matRows(d).getDouble(1 + t * nPlanes + p))
    val bucketUdf = udf { vec: Array[Float] =>
      if (vec == null) null
      else {
        val out = new Array[Long](tables)
        val n = math.min(vec.length, dim)
        var t = 0
        while (t < tables) {
          var bits = 0L
          var p = 0
          while (p < nPlanes) {
            val pl = mat(t)(p)
            var dot = 0.0
            var i = 0
            while (i < n) { dot += vec(i).toDouble * pl(i); i += 1 }
            if (dot >= 0) bits |= (1L << p)
            p += 1
          }
          out(t) = bits
          t += 1
        }
        out
      }
    }
    // a NULL ELEMENT would NPE Spark's Array[Float] converter before
    // the UDF body runs; a corrupt vector gets NO buckets instead (its
    // every cosine would be NULL downstream anyway — same "excluded
    // from the index" outcome, decided early and cheaply)
    val cleanVec = when(exists(col(vecCol), x => x.isNull),
      lit(null).cast(df.schema(df.schema.fieldIndex(vecCol)).dataType))
      .otherwise(col(vecCol))
    df.select(col(idCol).as("id"),
        posexplode(bucketUdf(cleanVec)).as(Seq("table", "bucket")))
      .select(col("id"), col("table").cast("int").as("table"), col("bucket"))
  }

  /** The all-expression SRP form (zip_with/aggregate HOFs) — kept as
    * the differential twin for [[srpBuckets]]: same hyperplanes, same
    * fold order, so the sign bits agree bitwise. */
  private[operators] def srpBucketsHof(df: DataFrame, idCol: String,
      vecCol: String, tables: Int, planes: Int,
      component: (Int, Int) => org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        planeComponent): DataFrame = {
    val bucketCols = (0 until tables).map { t =>
      val bits = (0 until planes).map { p =>
        val comp = component(t, p)
        val dot = aggregate(
          zip_with(col(vecCol), sequence(lit(0), size(col(vecCol)) - 1),
            (v, i) => v.cast("double") * comp(i)),
          lit(0.0), (acc, v) => acc + v)
        when(dot >= 0, shiftleft(lit(1L), p)).otherwise(0L)
      }
      struct(lit(t).as("table"),
        bits.reduce(_.bitwiseOR(_)).as("bucket")).as(s"t_$t")
    }
    df.select(col(idCol).as("id") +: bucketCols: _*)
      .select(col("id"), explode(array((0 until tables).map(t => col(s"t_$t")): _*)).as("tb"))
      .select(col("id"), col("tb.table").as("table"), col("tb.bucket").as("bucket"))
  }

  /** ANN top-k via SRP-LSH: candidates = same (table, bucket), then
    * exact cosine re-rank of candidates only. */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
              tables: Int = 8, planes: Int = 12,
              component: (Int, Int) => org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                planeComponent): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // persisted: both self-join sides read it — without this the SRP
    // dot products (tables×planes×dim per vector) run twice (the same
    // two-consumer rule as Dedup.minhashCandidates' buckets)
    val buckets = srpBuckets(df, idCol, vecCol, tables, planes, component)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rankTopK(scoreSharedBucketPairs(buckets, Seq("table", "bucket"), vecs), k)
  }

  /** md5 twin of the default xxhash64 centroid draw — any engine can
    * recompute it, which is what makes q73 oracle-checkable. */
  def portableCentroidRank(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(graft.operators.Dedup.portableTokenHash(id.cast("string")), lit(1000000L))

  // ---- Index auto-sizing (the measured SCALE.md rules as code) ---------
  // Callers pass nCells=0 / planes=0 to opt in; the explicit-arg paths
  // are untouched. The opt-in costs one count() job over the (pruned)
  // id column — cheap next to guessing wrong (the planes=4 cliff below).

  /** IVF cell count for an n-vector corpus: coarse assignment costs
    * n·nCells dot products, within-cell pair scans ≈ n²/nCells — the
    * sum is minimized at nCells = √n (the SCALE.md sizing trade,
    * measured on the weak-scaling harness). Floor 1; a corpus smaller
    * than ~4 vectors degenerates to one cell, which is exactly right. */
  def suggestCells(n: Long): Int =
    math.max(1L, math.round(math.sqrt(math.max(0L, n).toDouble))).toInt

  /** SRP plane count for an n-vector corpus: hold expected bucket
    * occupancy n / 2^planes near a fixed task-sized target (64), so
    * per-bucket candidate-pair mass stays bounded as n grows — planes
    * ∝ log₂(n). Floor 6 clears the measured planes=4 coarse-bucket
    * cliff (500-vector buckets, 35.8 s — worse than brute force,
    * SCALE.md weak-scaling table); cap 24 keeps the per-table sign
    * bits far inside a Long and recall sane. */
  def suggestPlanes(n: Long): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / 64.0)) / math.log(2.0)).toInt
    math.min(24, math.max(6, needed))
  }

  /** Resolve an auto-size sentinel: 0 → rule(count), else passthrough.
    * The count job prunes to the id column (cheapest possible scan). */
  private def resolveSize(df: DataFrame, idCol: String, requested: Int,
                          rule: Long => Int): Int =
    if (requested > 0) requested
    else rule(df.select(col(idCol)).count())

  /** IVF-lite coarse quantization: centroid ids are drawn
    * deterministically from the corpus (by `centroidRank` scramble),
    * each vector is assigned to its nearest `nProbe` centroids, and
    * querying only pairs vectors sharing a centroid cell. One
    * broadcast of the centroid table, one shuffle on cell id.
    * nCells=0 → auto-size via [[suggestCells]]. */
  def ivfCells(df: DataFrame, idCol: String, vecCol: String,
               nCells: Int, nProbe: Int,
               centroidRank: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                 id => pmod(xxhash64(id), lit(1000000L))): DataFrame = {
    val cells = resolveSize(df, idCol, nCells, suggestCells)
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val centroids = vecs
      .withColumn("__r", centroidRank(col("id")))
      .orderBy(col("__r"), col("id")).limit(cells)
      .select(col("id").as("cell"), col("vec").as("cvec"))
    val scored = vecs.crossJoin(broadcast(centroids))
      .select(col("id"), col("cell"),
        VectorFns.cosine(col("vec"), col("cvec")).as("sim"))
    val idType = df.schema(idCol).dataType
    val integral = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType ||
      idType == org.apache.spark.sql.types.ShortType
    if (integral && !sys.env.get("SPARK_GRAFT_SEM_ASSIGN").contains("window"))
      // bounded-heap top-nProbe aggregate ([[TopKAgg]] — the
      // SemanticIndex.assignCells rationale): the n·nCells cosine
      // expansion reduces to ≤ nProbe rows per id at the MAP side,
      // so the shuffle carries n·nProbe rows instead of sorting the
      // full expansion through a per-id window. Same ordering
      // (sim desc, cell asc); NaN scores (zero-norm vectors) are
      // SKIPPED rather than ranked first — no-evidence semantics.
      // Non-integral ids keep the window form (the aggregate's heap
      // is (double, long)-typed).
      scored
        .groupBy(col("id"))
        .agg(TopKAgg.topK(nProbe)(col("sim"), col("cell")).as("__tk"))
        .select(col("id"), explode(col("__tk")).as("__t"))
        .select(col("id"), col("__t._2").cast(idType).as("cell"))
    else {
      val w = Window.partitionBy(col("id"))
        .orderBy(col("sim").desc, col("cell").asc)
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= nProbe)
        .select(col("id"), col("cell"))
    }
  }

  /** Embedding-cosine near-dup removal (SemDeDup-style): assign every
    * vector to its nearest centroid cell ([[ivfCells]], nProbe=1), then
    * inside each cell drop any vector with a SMALLER-id neighbor at
    * cosine ≥ `threshold`. Returns the kept (id, cell) rows — the
    * semantic-diversity-preserving subset.
    *
    * The drop rule is deterministic and local: v is dropped iff some
    * same-cell u < v has cos(u,v) ≥ θ. Chains (a~b, b~c, a≁c) drop both
    * b and c — the documented greedy-by-id semantics (identical to
    * SemDeDup's keep-one-per-ε-ball up to the id ordering), chosen over
    * connected-components canonicalization because it needs NO
    * iteration: one self-join per cell, so the whole operator is one
    * broadcast (centroids) + one shuffle (cell) + one anti join.
    *
    * At 100 TB the within-cell pair scan is the designed cost model:
    * O(Σ|cell|²) with |cell| ≈ n/nCells — nCells is the knob that keeps
    * cells task-sized (SemDeDup runs 50k clusters at web scale).
    * SIZING TRADE (both points measured, SCALE.md weak-scaling): the
    * EXACT centroid assignment is n·nCells dot products — ∝ n² when
    * nCells ∝ n — while the within-cell pair scan is ∝ n²/nCells. At
    * low dim (the 16-dim harness) assignment is memory-cheap and
    * nCells ∝ n wins (flat within-cell cost); high-dim production
    * embeddings shift weight toward assignment, favoring √n-ish cell
    * counts or assignment through the quantized/IVF machinery
    * (q79/q73). Measure at your dim; don't assume either extreme.
    * NULL/corrupt embeddings are excluded UP FRONT (filtered before
    * assignment — [[ivfCells]] would otherwise still give them a cell,
    * with a NULL sim at every rank), consistent with the ANN
    * operators' "excluded from the index" contract. */
  def semanticDedupe(df: DataFrame, idCol: String, vecCol: String,
                     nCells: Int, threshold: Double,
                     centroidRank: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                       id => pmod(xxhash64(id), lit(1000000L))): DataFrame = {
    val clean = df.filter(col(vecCol).isNotNull
      && !exists(col(vecCol), x => x.isNull))
    val vecs = clean.select(col(idCol).as("id"), col(vecCol).as("vec"))
    dedupeWithinCells(
      ivfCells(clean, idCol, vecCol, nCells, nProbe = 1, centroidRank)
        .join(vecs, "id"),
      threshold)
  }

  /** [[semanticDedupe]] over TRAINED cells: centroids from a few Lloyd
    * rounds ([[KMeans.fit]]) instead of raw corpus draws. Same greedy
    * drop rule and output shape (cell is the int cluster id); tighter
    * cells mean the within-cell pair scans — the operator's designed
    * cost — do strictly less work for the same nCells, which is the
    * whole value of training (KMeansSpec measures the cost drop). */
  def semanticDedupeTrained(df: DataFrame, idCol: String, vecCol: String,
                            nCells: Int, iters: Int,
                            threshold: Double): DataFrame = {
    val clean = df.filter(col(vecCol).isNotNull
      && !exists(col(vecCol), x => x.isNull))
    val cells = resolveSize(clean, idCol, nCells, suggestCells)
    val model = KMeans.fit(clean, idCol, vecCol, cells, iters)
    dedupeWithinCells(
      KMeans.assign(clean, idCol, vecCol, model)
        .select(col(idCol).as("id"), col("cluster").as("cell"))
        .join(clean.select(col(idCol).as("id"), col(vecCol).as("vec")), "id"),
      threshold)
  }

  /** The shared SemDeDup tail over an (id, cell, vec) assignment:
    * within each cell drop any vector with a smaller-id neighbor at
    * cosine ≥ threshold (greedy-by-id, see [[semanticDedupe]]). */
  private def dedupeWithinCells(assignedIn: DataFrame,
                                threshold: Double): DataFrame = {
    // persisted: the assignment feeds both self-join sides AND the
    // final anti join (three consumers of one assignment plan)
    val assigned = assignedIn
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(VectorFns.cosine(col("a.vec"), col("b.vec")) >= threshold)
      .select(col("b.id").as("id"))
      .distinct()
    assigned.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cell"))
  }

  /** ANN top-k via IVF cells + exact re-rank within shared cells. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
              nCells: Int = 64, nProbe: Int = 2,
              centroidRank: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                id => pmod(xxhash64(id), lit(1000000L))): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // persisted: self-joined below (same rationale as lshTopK's buckets)
    val cells = ivfCells(df, idCol, vecCol, nCells, nProbe, centroidRank)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rankTopK(scoreSharedBucketPairs(cells, Seq("cell"), vecs), k)
  }

  /** [[ivfCells]] with TRAINED coarse centroids: a few Lloyd rounds
    * ([[KMeans.fit]]) over a deterministic md5-rank sample instead of
    * hashed-rank corpus draws. Data-dependent cells follow the actual
    * density, which raises recall at equal nCells/nProbe (measured in
    * KMeansSpec; the hashed draw remains [[ivfCells]]' default so the
    * q73/q135 oracles stay engine-exact). The sample bounds training
    * cost regardless of corpus size: `sampleN = 0` auto-sizes to
    * clamp(64·nCells, 4096, 65536) — enough points per centroid for
    * stable means, constant-bounded at 100 TB, drawn by the portable
    * rank (a TakeOrdered, no global sort materialization).
    *
    * Assignment is a pure narrow map against the LITERAL centroid
    * array (the KMeans.assign shape — no join, no shuffle): nProbe
    * nearest cells are peeled iteratively (array_min + first-match
    * array_position = smallest-cid tie-break, matching KMeans), so
    * unlike the hashed path's crossJoin the corpus never widens to
    * n·nCells rows. Output (id, cell) with cell = 1-based cluster id. */
  def ivfCellsTrained(df: DataFrame, idCol: String, vecCol: String,
                      nCells: Int = 0, nProbe: Int = 2, iters: Int = 4,
                      sampleN: Int = 0): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val clean = df.filter(col(vecCol).isNotNull
      && !exists(col(vecCol), x => x.isNull))
    val cells = resolveSize(clean, idCol, nCells, suggestCells)
    val n = math.min(65536, math.max(4096, 64 * cells))
    val sample = clean
      .withColumn("__r", portableCentroidRank(col(idCol)))
      .orderBy(col("__r"), col(idCol))
      .limit(if (sampleN > 0) sampleN else n)
      .drop("__r")
    val model = KMeans.fit(sample, idCol, vecCol, cells, iters)
    peelNearestLiteral(
        clean.select(col(idCol).as("id"),
          KMeans.microVec(col(vecCol)).as("__v")),
        model, nProbe, "cell")
      .select(col("id"), col("cell"))
  }

  /** The `probes` nearest centroids of a LITERAL model for every row —
    * a pure narrow map (no join, no shuffle), run through a COMPILED
    * peel kernel (the [[ProductQuant]] codesKernel move: the prior
    * expression form — a `transform` of k sqDistMicro calls over a
    * typedlit model, then probes× array_min/array_position/zip_with
    * masking rounds — was a CodegenFallback HOF chain, interpreted
    * per row with boxed allocations per (row, centroid, dim), and
    * this map runs CORPUS-sized under every flat-IVF and two-level
    * assignment). The model rides in the kernel's task closure,
    * never the plan. Semantics identical and oracle-pinned: exact
    * integer distances, strict `<` keeps the FIRST minimum =
    * smallest-cid tie-break per peel round, chosen cells mask to
    * Long.MaxValue; a vector whose length mismatches the model's
    * yields NULL cells (the sqDistMicro NULL the expression form
    * produced). Input must carry the micro vector as `__v`; appends
    * `outCol` (int, exploded — `probes` rows per input row). Assumes
    * model cids are 1..k (KMeans.fit's contract), so the peel index
    * IS the cid. */
  private[operators] def peelNearestLiteral(df: DataFrame, model: KMeans.Model,
                                 probes: Int, outCol: String): DataFrame = {
    require(probes >= 1, s"probes must be >= 1, got $probes")
    val ordered = model.sortBy(_._1)
    require(ordered.nonEmpty,
      "empty centroid model — the corpus has no valid vectors (the " +
        "KMeans.assign fail-loudly rule)")
    require(ordered.map(_._1) == (1 to ordered.size),
      "model cids must be contiguous 1..k")
    val p = math.min(probes, ordered.size)
    val cents: Array[Array[Long]] = ordered.map(_._2.toArray).toArray
    val kernel = udf((mvs: scala.collection.Seq[Long]) => {
      if (mvs == null || cents.exists(_.length != mvs.length))
        // the expression form's NULL-distance path: probes rows with
        // NULL cells (explode keeps null elements)
        Seq.fill[java.lang.Integer](p)(null)
      else {
        val mv = mvs.toArray // Seq args arrive as List — O(i) apply
        val d = new Array[Long](cents.length)
        var c = 0
        while (c < cents.length) {
          val cent = cents(c)
          var s = 0L
          var i = 0
          while (i < cent.length) {
            val t = mv(i) - cent(i); s += t * t; i += 1
          }
          d(c) = s; c += 1
        }
        val out = new Array[java.lang.Integer](p)
        var r = 0
        while (r < p) {
          var best = 0
          var bd = Long.MaxValue
          var j = 0
          while (j < d.length) {
            if (d(j) < bd) { bd = d(j); best = j }; j += 1
          }
          out(r) = Int.box(best + 1); d(best) = Long.MaxValue; r += 1
        }
        out.toSeq
      }
    })
    df.withColumn(outCol, explode(kernel(col("__v"))))
  }

  /** TWO-LEVEL trained quantizer — the production shape past the
    * literal-centroid-array cap (~10³-10⁴ cells, plan size ∝ k·dim):
    * nSuper = ⌈√K⌉ super-centroids train as a LITERAL model
    * ([[KMeans.fit]] on the shared deterministic sample), then
    * nSub = ⌈K/nSuper⌉ sub-centroids PER super-cell train as a
    * RELATION (never a literal — grouped Lloyd rounds run as one
    * broadcast equi-join on the super key + two aggregates per round,
    * all K sub-centroids updating in one distributed pass, lineage
    * truncated per round). Assignment cost per vector is
    * superProbe·(√K literal dots + √K-ish joined sub dots) instead of
    * the flat path's K — the n·√K total the IVF literature prescribes.
    *
    * Corpus assignment: `superProbe` nearest supers via the narrow
    * literal peel (boundary vectors see both neighborhoods), then the
    * BROADCAST sub-centroid relation joins on the super key — each
    * vector widens to superProbe·nSub candidate rows (bounded ≈ √K,
    * by design), and the nProbe best cells reduce map-side (partial
    * collect_list collapses a vector's candidates before the
    * one-row-per-vector shuffle). Deterministic throughout: integer
    * micro-space distances, (d, sub) struct minima, sorted rebuilds.
    * Output (id, cell), cell = (super−1)·nSub + sub ∈ 1..nSuper·nSub. */
  def ivfCellsTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                       nCells: Int = 0, nProbe: Int = 2,
                       superProbe: Int = 2, iters: Int = 2,
                       sampleN: Int = 0): DataFrame = {
    require(nProbe >= 1)
    assignTwoLevelCells(df, idCol, vecCol,
      trainTwoLevelCells(df, idCol, vecCol, nCells, iters, sampleN),
      nProbe, superProbe)
  }

  /** A trained two-level quantizer ARTIFACT: the ⌈√K⌉ literal super
    * model, the (super, sub, cvec) sub-centroid RELATION, and the
    * cell-id arithmetic's nSub — the persistable form
    * ([[graft.io.VectorIndexArtifacts]]) that lets a two-level index
    * be built once and serve frozen, like every other model in the
    * family. */
  case class TwoLevelModel(superModel: KMeans.Model, sub: DataFrame,
                           nSub: Int)

  /** The training half of [[ivfCellsTwoLevel]]: super k-means on the
    * bounded sample (literal model), then grouped-Lloyd sub-centroids
    * as a relation. Deterministic; the sub relation returns
    * eager-checkpointed (model-sized). */
  def trainTwoLevelCells(df: DataFrame, idCol: String, vecCol: String,
                         nCells: Int = 0, iters: Int = 2,
                         sampleN: Int = 0): TwoLevelModel = {
    require(iters >= 0)
    val clean = df.filter(col(vecCol).isNotNull
      && !exists(col(vecCol), x => x.isNull))
    val k = resolveSize(clean, idCol, nCells, suggestCells)
    val nSuper = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val nSub = math.max(1, math.ceil(k.toDouble / nSuper).toInt)
    val n = math.min(262144, math.max(4096, 64 * k))
    val sample = clean
      .withColumn("__r", portableCentroidRank(col(idCol)))
      .orderBy(col("__r"), col(idCol))
      .limit(if (sampleN > 0) sampleN else n)
      .drop("__r")
    val superModel = KMeans.fit(sample, idCol, vecCol, nSuper, iters)
    // sample points with their super assignment (nearest super only —
    // training partitions the space hard; probing is a query-time knob)
    val sampleA = peelNearestLiteral(
        sample.select(col(idCol).as("sid"),
          KMeans.microVec(col(vecCol)).as("__v")),
        superModel, probes = 1, "super")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // init: nSub portable-rank draws WITHIN each super-cell (the
    // KMeans seed rule applied per group; sample-sized window)
    var subC = sampleA
      .withColumn("__r", portableCentroidRank(col("sid")))
      .withColumn("__rn", row_number().over(Window.partitionBy(col("super"))
        .orderBy(col("__r"), col("sid"))))
      .filter(col("__rn") <= nSub)
      .select(col("super"), col("__rn").cast("int").as("sub"),
        col("__v").as("cvec"))
      .localCheckpoint(true)
    (1 to iters).foreach { _ =>
      // grouped Lloyd round: every sample point sees only ITS super's
      // sub-centroids (broadcast equi-join — the two-level trick), the
      // (d, sub) struct min is the deterministic argmin, and the
      // truncating integer mean matches KMeans.fit exactly
      val best = sampleA.join(broadcast(subC), "super")
        .withColumn("__d", KMeans.sqDistMicro(col("__v"), col("cvec")))
        .groupBy(col("sid"))
        .agg(first(col("super")).as("super"), first(col("__v")).as("__v"),
          min(struct(col("__d"), col("sub"))).as("m"))
      val updated = best
        .select(col("super"), col("m.sub").as("sub"),
          posexplode(col("__v")).as(Seq("__i", "__x")))
        .groupBy(col("super"), col("sub"), col("__i"))
        .agg(sum(col("__x")).as("__s"), count(lit(1)).as("__n"))
        .select(col("super"), col("sub"), col("__i"),
          expr("__s div __n").as("__c"))
        .groupBy(col("super"), col("sub"))
        .agg(transform(sort_array(collect_list(struct(col("__i"), col("__c")))),
          s => s.getField("__c")).as("cvec"))
      // empty-cell carry (the KMeans rule, relational form)
      subC = subC.as("o")
        .join(updated.as("u"), Seq("super", "sub"), "left")
        .select(col("super"), col("sub"),
          coalesce(col("u.cvec"), col("o.cvec")).as("cvec"))
        .localCheckpoint(true)
    }
    sampleA.unpersist()
    TwoLevelModel(superModel, subC, nSub)
  }

  /** The assignment half of [[ivfCellsTwoLevel]]: superProbe nearest
    * supers narrow-mapped against the literal super model, candidates
    * from the broadcast sub relation, nProbe best cells per vector.
    * Output (id, cell), cell = (super−1)·nSub + sub. */
  def assignTwoLevelCells(df: DataFrame, idCol: String, vecCol: String,
                          model: TwoLevelModel, nProbe: Int = 2,
                          superProbe: Int = 2): DataFrame = {
    require(nProbe >= 1 && superProbe >= 1)
    val clean = df.filter(col(vecCol).isNotNull
      && !exists(col(vecCol), x => x.isNull))
    val nSuper = model.superModel.size
    val nSub = model.nSub
    val cand = peelNearestLiteral(
        clean.select(col(idCol).as("id"),
          KMeans.microVec(col(vecCol)).as("__v")),
        model.superModel, superProbe, "super")
      .join(broadcast(model.sub), "super")
      .select(col("id"),
        struct(KMeans.sqDistMicro(col("__v"), col("cvec")).as("d"),
          ((col("super") - 1) * nSub + col("sub")).cast("int").as("cell"))
          .as("dc"))
    cand
      .groupBy(col("id"))
      .agg(slice(sort_array(collect_list(col("dc"))), 1,
        math.min(nProbe, nSuper * nSub)).as("top"))
      .select(col("id"), explode(col("top")).as("t"))
      .select(col("id"), col("t.cell").as("cell"))
  }

  /** The nProbe = 1 two-level assignment CARRYING the micro vector —
    * (id, cell, __v): [[assignTwoLevelCells]]' candidate walk with
    * the election done in ONE aggregate that also carries the row's
    * micro vector (`first` over per-id-identical copies), so residual
    * callers ([[ProductQuant]]'s two-level encode/train) attach the
    * cell WITHOUT a corpus self-join on id — one exchange (the
    * election groupBy, map-side-combined to one row per id per
    * partition) instead of the groupBy PLUS a corpus-to-corpus join
    * (guide §2.4: remove shuffles outright; at bench scale that join
    * planned as a corpus-sized broadcast build). Verdicts equal
    * assignTwoLevelCells(nProbe = 1) by construction:
    * slice(sort_array(candidates), 1, 1) IS min(struct(d, cell)). */
  private[operators] def assignNearestTwoLevelWithVec(df: DataFrame,
      idCol: String, vecCol: String, model: TwoLevelModel,
      superProbe: Int): DataFrame = {
    require(superProbe >= 1)
    val clean = df.filter(col(vecCol).isNotNull
      && !exists(col(vecCol), x => x.isNull))
    val nSub = model.nSub
    // election via bounded collect_list, not min(struct): a struct
    // MIN is declarative with a struct buffer, which HashAggregate
    // cannot hold — the plan degrades to SortAggregate and sorts the
    // whole candidate relation by id; collect_list keeps the
    // ObjectHashAggregate shape (assignTwoLevelCells' own election)
    // and the per-id sort touches ≤ superProbe·nSub structs
    peelNearestLiteral(
        clean.select(col(idCol).as("id"),
          KMeans.microVec(col(vecCol)).as("__v")),
        model.superModel, superProbe, "super")
      .join(broadcast(model.sub), "super")
      .groupBy(col("id"))
      .agg(
        element_at(slice(sort_array(collect_list(
          struct(KMeans.sqDistMicro(col("__v"), col("cvec")).as("d"),
            ((col("super") - 1) * nSub + col("sub")).cast("int")
              .as("cell")))), 1, 1), 1).as("m"),
        first(col("__v")).as("__v"))
      .select(col("id"), col("m.cell").as("cell"), col("__v"))
  }

  /** [[ivfTopK]] over TWO-LEVEL cells ([[ivfCellsTwoLevel]]) — same
    * output shape and within-cell re-rank as the flat variants. */
  def ivfTopKTwoLevel(df: DataFrame, idCol: String, vecCol: String, k: Int,
                      nCells: Int = 0, nProbe: Int = 2,
                      superProbe: Int = 2, iters: Int = 2,
                      sampleN: Int = 0): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cells = ivfCellsTwoLevel(df, idCol, vecCol, nCells, nProbe,
        superProbe, iters, sampleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rankTopK(scoreSharedBucketPairs(cells, Seq("cell"), vecs), k)
  }

  /** [[ivfTopK]] over TRAINED cells ([[ivfCellsTrained]]) — the
    * production-recall variant; same output shape and within-cell
    * re-rank, only the coarse quantizer differs. */
  def ivfTopKTrained(df: DataFrame, idCol: String, vecCol: String, k: Int,
                     nCells: Int = 0, nProbe: Int = 2, iters: Int = 4,
                     sampleN: Int = 0): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cells = ivfCellsTrained(df, idCol, vecCol, nCells, nProbe, iters,
        sampleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rankTopK(scoreSharedBucketPairs(cells, Seq("cell"), vecs), k)
  }

  /** Candidate generation + scoring shared by [[lshTopK]], [[ivfTopK]],
    * and [[labeledCellPairs]]: self-join the bucket relation on `keys`
    * plus id inequality, collapse to DISTINCT (q_id, c_id), join each
    * endpoint's row from `vecs`, and score the pair with the fused
    * cosine kernel. `vecs` is (id, vec) or (id, vec, lbl); a `lbl`
    * column is carried through as (q_lbl, c_lbl). One place on purpose:
    * the pair semantics (distinct, self-exclusion, NULL cosine for
    * corrupt vectors) must never diverge between the ANN paths. */
  private def scoreSharedBucketPairs(buckets: DataFrame, keys: Seq[String],
                                     vecs: DataFrame): DataFrame = {
    val joinCond = keys.map(n => col(s"a.$n") === col(s"b.$n"))
      .reduce(_ && _) && col("a.id") =!= col("b.id")
    val cands = buckets.as("a").join(buckets.as("b"), joinCond)
      .select(col("a.id").as("q_id"), col("b.id").as("c_id"))
      .distinct()
    val hasLbl = vecs.columns.contains("lbl")
    def side(p: String) = vecs.select(
      Seq(col("id").as(s"${p}_id"), col("vec").as(s"${p}_vec")) ++
        (if (hasLbl) Seq(col("lbl").as(s"${p}_lbl")) else Nil): _*)
    cands.join(side("q"), "q_id").join(side("c"), "c_id")
      .select(
        Seq(col("q_id"), col("c_id"),
          VectorFns.cosine(col("q_vec"), col("c_vec")).as("sim")) ++
          (if (hasLbl) Seq(col("q_lbl"), col("c_lbl")) else Nil): _*)
  }

  /** Shared base of [[hardNegatives]] and [[contrastiveTriplets]]:
    * IVF shared-cell candidate pairs scored with both endpoints'
    * labels attached — (q_id, c_id, sim, q_lbl, c_lbl). One centroid
    * broadcast + one cell shuffle; the caller filters by label algebra
    * BEFORE any further aggregation (Catalyst pushes those predicates
    * into the joins here, so rejected pairs never reach the cosine
    * kernel). Ids are required integral and emitted as BIGINT (the
    * [[TopKPairs]] heap both consumers rank with reads long ids) —
    * same fail-fast contract as [[graft.operators.Dedup.simhashPairs]]. */
  private def labeledCellPairs(df: DataFrame, idCol: String, vecCol: String,
                               labelCol: String, nCells: Int, nProbe: Int,
                               centroidRank: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val idType = df.schema(idCol).dataType
    require(idType == org.apache.spark.sql.types.LongType
        || idType == org.apache.spark.sql.types.IntegerType,
      s"label-aware mining needs an integral id, got " +
        s"${idType.catalogString}; map string keys to a surrogate id first")
    val withLongId = df.withColumn(idCol, col(idCol).cast("long"))
    val vecs = withLongId.select(col(idCol).as("id"), col(vecCol).as("vec"),
      col(labelCol).as("lbl"))
    // persisted: self-joined below (same rationale as ivfTopK)
    val cells = ivfCells(withLongId, idCol, vecCol, nCells, nProbe, centroidRank)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scoreSharedBucketPairs(cells, Seq("cell"), vecs)
  }

  /** Hard-negative mining for contrastive training: for every anchor,
    * the `k` highest-cosine candidates that carry a DIFFERENT label,
    * with a `ceiling` that excises near-duplicate "false negatives" (a
    * cross-label pair at cosine ≥ ceiling is far more often a
    * mislabeled positive or an unresolved near-dup than a genuinely
    * hard negative — training on it actively damages the encoder, so
    * the mining convention is to cap, not to take the raw top).
    *
    * Candidate generation is [[ivfCells]] shared-cell pairing — one
    * centroid broadcast + one cell shuffle, never all-pairs — so the
    * operator scales exactly like [[ivfTopK]]; recall of the true
    * hardest negatives is the same nProbe/nCells trade-off, and
    * the q119 recall harness measures it against brute-force truth. The
    * label predicate sits BELOW the scoring projection (Catalyst pushes
    * it into the candidate join), so same-label pairs — the bulk of
    * every cell on a clustered corpus — never reach the cosine kernel.
    * Anchors or candidates with a NULL label are excluded (`=!=` is
    * null-rejecting): an unknown class cannot be asserted a negative.
    * Output: (q_id, c_id, sim, rank), rank 1 = hardest usable negative.
    */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, k: Int,
                    nCells: Int = 64, nProbe: Int = 2,
                    ceiling: Double = 0.95,
                    centroidRank: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                      id => pmod(xxhash64(id), lit(1000000L))): DataFrame = {
    val scored = labeledCellPairs(df, idCol, vecCol, labelCol,
        nCells, nProbe, centroidRank)
      .filter(col("q_lbl") =!= col("c_lbl"))
      .select(col("q_id"), col("c_id"), col("sim"))
      .filter(col("sim") < lit(ceiling))
    rankTopK(scored, k)
  }

  /** Contrastive TRIPLET assembly — the training artifact itself: per
    * anchor, the nearest SAME-label neighbor as the positive and the
    * [[hardNegatives]] top-`kNeg` as the negative set, in one shared
    * candidate pass (the cell pairs are scored once; the two branches
    * are label-algebra filters over the same relation, each reduced by
    * the bounded-heap aggregate — never a window over all pairs).
    *
    * Anchors appear when at least one branch produced something:
    * pos_id is NULL when the anchor has no same-cell same-label
    * neighbor (singleton class, or nProbe missed it — at batch-build
    * time such anchors are usually dropped or re-queried at higher
    * nProbe), and neg_ids is empty when every same-cell neighbor
    * shares the anchor's label. NULL-label anchors never appear (both
    * branches' predicates reject NULL). neg_ids is ordered hardest
    * first (sim desc, id asc — the [[TopKPairs]] order).
    * Output: (anchor_id, pos_id, pos_sim, neg_ids) — all ids BIGINT
    * (integral input ids required; [[labeledCellPairs]] fail-fast).
    */
  def contrastiveTriplets(df: DataFrame, idCol: String, vecCol: String,
                          labelCol: String, kNeg: Int,
                          nCells: Int = 64, nProbe: Int = 2,
                          ceiling: Double = 0.95,
                          centroidRank: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                            id => pmod(xxhash64(id), lit(1000000L))): DataFrame = {
    // persisted: the scored pairs feed both the positive and the
    // negative branch
    val pairs = labeledCellPairs(df, idCol, vecCol, labelCol,
        nCells, nProbe, centroidRank)
      .filter(col("sim").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pos = pairs.filter(col("q_lbl") === col("c_lbl"))
      .groupBy(col("q_id"))
      .agg(TopKPairs.topK(1)(col("sim"), col("c_id")).as("nn"))
      .select(col("q_id"),
        element_at(col("nn"), 1).getField("id").as("pos_id"),
        element_at(col("nn"), 1).getField("sim").as("pos_sim"))
    val neg = pairs
      .filter(col("q_lbl") =!= col("c_lbl") && col("sim") < lit(ceiling))
      .groupBy(col("q_id"))
      .agg(TopKPairs.topK(kNeg)(col("sim"), col("c_id")).as("nn"))
      .select(col("q_id"),
        transform(col("nn"), p => p.getField("id")).as("neg_ids"))
    pos.join(neg, Seq("q_id"), "full_outer")
      .select(col("q_id").as("anchor_id"), col("pos_id"), col("pos_sim"),
        coalesce(col("neg_ids"), array().cast("array<long>")).as("neg_ids"))
  }

  /** Ratio-margin rescoring of a self-kNN relation (Artetxe & Schwenk,
    * the criterion behind web-scale bitext/pair mining): for each
    * candidate pair, margin = cos(x,y) / ((μ_x + μ_y) / 2) where μ_v
    * is the mean similarity of v's own top-k neighborhood. Hub vectors
    * — close to everything, the curse of high-dim retrieval — have a
    * large μ, so their pairs score ≈1 while a genuinely mutual pair
    * scores well above it; thresholding on margin instead of raw
    * cosine is what makes mined pairs precise at scale.
    *
    * Arithmetic is INTEGER-EXACT for engine portability: sims quantize
    * to 1e-6 units (the doubles themselves agree between engines — the
    * q31/q73 kernel precedent — so the quantization does too),
    * neighborhood sums add exactly, and the margin is emitted in 1e-4
    * units via truncating integer division (`div`, matching DuckDB
    * `//`). A zero combined neighborhood (possible only on degenerate
    * all-orthogonal inputs) yields a NULL margin rather than a
    * division error.
    *
    * `knn` must be a SELF-kNN over one corpus — (q_id, c_id, sim,
    * rank ≤ k) with every id present as an anchor (the [[bruteForceTopK]]
    * / [[ivfTopK]] output shape); candidates whose own neighborhood is
    * absent are dropped by the inner join. `k` must be the k the
    * relation was built with (it scales the mean). One persisted pass,
    * one groupBy on q_id, two narrow hash joins — the kNN build
    * dominates; rescoring adds no text/vector shuffle at all.
    * Output: (q_id, c_id, sim, margin_u) — margin_u = 10000 ≙ ratio 1.
    */
  def marginRescore(knn: DataFrame, k: Int): DataFrame = {
    // persisted: feeds the neighborhood aggregate AND the pair-side of
    // both joins
    val q = knn
      .withColumn("sim_u", round(col("sim") * 1e6).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nb = q.groupBy(col("q_id")).agg(sum(col("sim_u")).as("nbsum"))
    q.join(nb, "q_id")
      .join(nb.select(col("q_id").as("c_id"), col("nbsum").as("nbsum_c")),
        "c_id")
      .withColumn("__den", col("nbsum") + col("nbsum_c"))
      .withColumn("margin_u",
        when(col("__den") === 0, lit(null).cast("long"))
          .otherwise(expr(s"(2L * $k * sim_u * 10000L) div __den")))
      .select(col("q_id"), col("c_id"), col("sim"), col("margin_u"))
  }
}
