package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-compression
  * leg of the ANN family: split each embedding into `m` contiguous
  * subspaces, learn a small k-means codebook PER subspace, and
  * represent every vector by its `m` nearest-code ids. A 64-dim
  * float32 vector (256 bytes) becomes `m` small ints; at m=8/k=256
  * that is 8 bytes — a 32× compression that is what lets a
  * 10¹⁰-vector corpus keep its index in cluster memory at all. The
  * IVF family (q73/q139) cuts the CANDIDATE COUNT; PQ cuts the BYTES
  * PER CANDIDATE — production systems (IVF-PQ/FAISS) compose both.
  *
  * ONE index model, [[Index]], composes the stages the way FAISS's
  * index factory does ("OPQ,IVF,PQ"): an optional rotation (fixed, or
  * learned by the OPQ alternation), then an optional coarse quantizer
  * (flat literal or two-level) whose presence switches encoding to
  * per-cell RESIDUALS, then the PQ codebooks. The lifecycle is the
  * same for every form: [[train]] once, [[encode]] the corpus to the
  * stored `(c_id, [cell,] codes)` relation (an append is the encode of
  * the new batch unioned on — encode is a pure per-row function of the
  * frozen index), [[search]] over that relation, [[driftReport]] to
  * decide when to retrain, and [[graft.io.VectorIndexArtifacts]]
  * save/load between build and serve. Which stages run is fixed by the
  * trained value, not by the function called.
  *
  * Scoring is asymmetric distance computation (ADC): a query builds
  * one lookup table of exact squared distances from each of its `m`
  * sub-vectors to that subspace's `k` codes (m·k integer entries,
  * computed once per query — per probed cell in the residual form),
  * after which scoring a corpus vector is `m` array lookups and an
  * integer sum — no per-pair float kernel, and the corpus side touches
  * only the code relation, never the full vectors.
  *
  * Engine-exact by the [[KMeans]] recipe: micro-quantized integer
  * sub-vectors, exact integer squared distances, first-match argmin =
  * smallest-code-id tie-break, truncating-integer centroid means —
  * so a SQL engine replaying the same rounds reproduces codebooks,
  * codes, and ADC rankings bit for bit (the q142 oracle does; q177,
  * q178, q182, q184 replay the residual and rotated forms).
  *
  * 100 TB design: training cost is bounded by the deterministic
  * md5-rank sample regardless of corpus size (the
  * [[Similarity.ivfCellsTrained]] rule), drawn ONCE per train — every
  * fit reads a rank prefix of it. Encoding is a narrow map against
  * codebooks captured in compiled kernels (no shuffle; the two-level
  * cell election is the one id-keyed aggregate). Search streams the
  * code relation against broadcast query lookup tables and reduces
  * through the bounded-heap aggregate ([[TopKPairs]]), so the shuffle
  * is queries × k rows. Distances stay under 2⁵³ (micro elements
  * ≤ ~10⁶ ⇒ per-dim term ≤ 10¹², dim ≤ 10³ ⇒ sums ≤ 10¹⁵ only for
  * pathological norms; at unit-norm embeddings ≈ 10¹³), so the
  * negated-double heap key loses nothing.
  */
object ProductQuant {

  /** Trained PQ codebooks: per subspace its 1-based slice (start, len)
    * into the vector and a [[KMeans.Model]] codebook of micro-space
    * sub-centroids (code ids 1..k, the KMeans cid contract). */
  case class Model(slices: Seq[(Int, Int)], books: Seq[KMeans.Model]) {
    require(slices.nonEmpty && slices.size == books.size,
      s"model needs one codebook per subspace; got ${slices.size} slices, " +
        s"${books.size} books")
    require(books.forall(_.nonEmpty),
      "empty codebook — the corpus had no valid vectors (the " +
        "KMeans.assign fail-loudly rule)")
    def m: Int = slices.size
  }

  /** A coarse quantizer: a flat literal [[KMeans.Model]] (Left) — the
    * right tool to the documented ~10³-10⁴-cell literal cap — or a
    * [[Similarity.TwoLevelModel]] (Right), whose ⌈√K⌉ literal supers
    * and broadcast sub RELATION put no K-sized literal in any plan. */
  type Cells = Either[KMeans.Model, Similarity.TwoLevelModel]

  /** The index: optional micro rotation (dim×dim, row-major,
    * entries = round(R_ij·10⁶); the quantized matrix is DATA both
    * engines apply, so orthogonality after rounding costs exactness
    * nothing), optional coarse quantizer (present ⇒ the PQ codebooks
    * are trained on and encode RESIDUALS, vector − nearest cell
    * centroid: the tighter within-cell distribution is why FAISS
    * defaults to it, Jégou et al. 2011 §IV.B), and the PQ codebooks,
    * all in the rotated domain when a rotation is present. */
  case class Index(rotation: Option[Seq[Seq[Long]]], cells: Option[Cells],
                   pq: Model) {
    rotation.foreach(r =>
      require(r.nonEmpty && r.forall(_.size == r.size),
        "rotation must be square dim×dim"))
  }

  /** Rows with a complete `dim`-element vector (the ANN family's
    * contract: NULL vectors, NULL elements, and wrong-length vectors
    * are excluded, never scored against a fake value). Compiled
    * predicate — the `exists(x.isNull)` HOF form is CodegenFallback
    * (interpreted lambda per element), and this filter fronts every
    * corpus-sized ANN pass. */
  private def cleanVecs(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val ok = udf((v: scala.collection.Seq[java.lang.Double]) => {
      // iterator, not apply(i): Seq UDF arguments arrive as
      // immutable.List, where indexed access is an O(i) walk
      v != null && v.length == dim && {
        val it = v.iterator
        var clean = true
        while (clean && it.hasNext) clean = it.next() != null
        clean
      }
    })
    df.filter(ok(col(vecCol).cast("array<double>")))
  }

  /** The rank-top `n` clean rows (idCol, vecCol) by the portable md5
    * rank, ties by id — the one sample draw of the family. A draw over
    * a rank-ordered draw of at least `n` rows returns the same rows as
    * the draw over the whole corpus (the rank is a pure function of
    * the id), so [[train]] draws ONCE, caches it, and every fit below
    * reads a prefix of it bit-identically: one corpus selection pass
    * per train instead of one per fit (the r11 `opq_train_q184`
    * weak-scale finding). A sample larger than the corpus degrades to
    * the full corpus, which is what makes small-corpus oracles exact. */
  private def rankSample(df: DataFrame, idCol: String, vecCol: String,
                         dim: Int, n: Int): DataFrame =
    cleanVecs(df, vecCol, dim)
      .withColumn("__r", Similarity.portableCentroidRank(col(idCol)))
      .orderBy(col("__r"), col(idCol)).limit(n)
      .select(col(idCol), col(vecCol))

  /** Fit `m` subspace codebooks of `k` codes, `iters` integer-Lloyd
    * rounds each, over the rank-top `n` rows of `df`. The m fits are
    * INDEPENDENT Lloyd chains over disjoint slices of one cached
    * sample, each a string of tiny driver-orchestrated jobs, so they
    * overlap ([[graft.JobOverlap]]; guide §2.6); each fit is
    * deterministic, so the codebooks are bit-identical to fitting the
    * slices one at a time. Seed codes come from the same sample rows
    * ([[KMeans.fit]]'s portable-rank draw), sliced per subspace. */
  private def fitBooks(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, m: Int, k: Int, iters: Int,
                       n: Int): Model = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(dim >= m && dim % m == 0,
      s"dim must be a positive multiple of m; got dim=$dim, m=$m")
    val len = dim / m
    val slices = (0 until m).map(s => (s * len + 1, len))
    val sample = rankSample(df, idCol, vecCol, dim, n).cache()
    try {
      Model(slices, graft.JobOverlap.all("pq-book-fit")(
        slices.map { case (start, sliceLen) => () =>
          KMeans.fit(sample.select(col(idCol),
              slice(col(vecCol), start, sliceLen).as("__sub")),
            idCol, "__sub", k, iters)
        }: _*))
    } finally { sample.unpersist(); () }
  }

  /** Compiled PQ-code argmin kernel: micro vector in, the m 1-based
    * nearest-code ids out, over the codebooks captured as primitive
    * arrays. The expression form (a `transform` over a `typedlit` book
    * with an `aggregate(zip_with(...))` per code) is CodegenFallback:
    * INTERPRETED per row with boxed allocations per (row, code, dim) —
    * ~20 ms/ROW at production arity (m=8, k=256, dim=64; the r11
    * weak-scale ladder caught 41 s for 2 000 rows) where this kernel
    * runs the same exact-integer arithmetic in microseconds. Every
    * corpus-sized encode goes through here; query-side lookup tables
    * keep the expression form (query relations are model-sized).
    * Oracle-pinned semantics: id-sorted book, strict `<` keeps the
    * FIRST minimum = smallest code id, exact integer micro distances. */
  private def codesKernel(model: Model)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val books: Array[Array[Array[Long]]] =
      model.books.map(_.sortBy(_._1).map(_._2.toArray).toArray).toArray
    val starts: Array[Int] = model.slices.map(_._1 - 1).toArray
    val lens: Array[Int] = model.slices.map(_._2).toArray
    udf((mvs: scala.collection.Seq[Long]) => {
      val mv = mvs.toArray // Seq args arrive as List — O(i) apply
      val out = new Array[Int](books.length)
      var s = 0
      while (s < books.length) {
        val st = starts(s); val ln = lens(s); val bk = books(s)
        var best = 0
        var bestD = Long.MaxValue
        var c = 0
        while (c < bk.length) {
          val code = bk(c)
          var d = 0L
          var i = 0
          while (i < ln) {
            val t = mv(st + i) - code(i); d += t * t; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(s) = best + 1
        s += 1
      }
      out
    })
  }

  /** The query-side ADC lookup tables of a micro vector column:
    * `__lut0..__lut{m-1}`, each the k exact integer squared distances
    * from the sub-vector to that subspace's codes, in code-id order. */
  private def lutCols(micro: Column, pq: Model): Seq[Column] =
    pq.slices.zip(pq.books).zipWithIndex.map {
      case (((start, len), book), i) =>
        transform(typedlit(book.sortBy(_._1).map(_._2)),
          c => KMeans.sqDistMicro(slice(micro, start, len), c)).as(s"__lut$i")
    }

  /** The shared search tail: score (q_id, c_id, codes, __lut*) pairs —
    * m `element_at`s and an integer sum per pair — and keep each
    * query's k best in the bounded-heap aggregate → (q_id, rank, c_id,
    * adc_dist), ranked adc asc / c_id asc ([[TopKPairs]]' negated-double
    * key is exact over these integer magnitudes — class doc). */
  private def adcRank(pairs: DataFrame, pq: Model, k: Int): DataFrame =
    pairs
      .withColumn("__adc", (0 until pq.m).map(i =>
        element_at(col(s"__lut$i"), element_at(col("codes"), i + 1)))
        .reduce(_ + _))
      .groupBy(col("q_id"))
      .agg(TopKPairs.topK(k)(-col("__adc"), col("c_id")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "p")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("p.id").as("c_id"), (-col("p.sim")).cast("long").as("adc_dist"))

  // ---- Rotation (OPQ: Ge et al., "Optimized Product Quantization",
  // CVPR 2013 — a pre-rotation decorrelates the fixed subspace slices
  // so the same code budget quantizes better)

  /** The micro identity — the OPQ alternation's starting point. */
  private[graft] def identityRotation(dim: Int): Seq[Seq[Long]] =
    Seq.tabulate(dim, dim)((i, j) => if (i == j) 1000000L else 0L)

  // floor((Rµ·vµ)/10⁶) with a positive-offset trick: Spark `div` and
  // DuckDB `//` agree (truncation = floor) only for nonnegative
  // numerators, and double division + floor can be off by an ulp at
  // integer boundaries — so shift by 10¹⁵ (far above any |Σ Rµ·vµ|
  // at micro magnitudes), integer-divide, shift back by 10⁹.
  private val RotOffset = 1000000000000000L
  private val RotOffsetOut = 1000000000L

  /** Compiled rotation kernel: micro vector in, the rotated FLOAT
    * vector (the PQ machinery's input domain) out. The matrix rides in
    * the closure as TASK data (dim² longs serialized once per task),
    * so plan size stays O(1) in dim — the q182 no-dim²-literal pin —
    * and the dim² multiply-adds run compiled (the expression form was
    * an interpreted CodegenFallback chain, ~0.3 ms/row at dim 64).
    * Oracle-pinned semantics: exact integer dots, the offset-floor
    * division, a loud out-of-range failure, and a lossless micro →
    * float round-trip (`microVec(round(k/10⁶·10⁶)) = k` for |k| < 2⁵¹:
    * double mul/div are correctly rounded). */
  private def rotateKernel(rotation: Seq[Seq[Long]], dim: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val rot: Array[Array[Long]] = rotation.map(_.toArray).toArray
    udf((mvs: scala.collection.Seq[Long]) => {
      if (mvs == null) null
      else {
        val mv = mvs.toArray // Seq args arrive as List — O(i) apply
        val out = new Array[Double](dim)
        var i = 0
        while (i < dim) {
          val row = rot(i)
          var d = 0L
          var j = 0
          while (j < dim) { d += row(j) * mv(j); j += 1 }
          if (math.abs(d) >= RotOffset) throw new IllegalStateException(
            "rotate: |R·v| exceeds the 10^15 offset-floor bound " +
              "(input vector norm out of the documented ~10^3 range): " +
              math.abs(d))
          out(i) = ((d + RotOffset) / 1000000L - RotOffsetOut).toDouble / 1e6
          i += 1
        }
        out
      }
    })
  }

  /** (idCol, __rv): every clean vector rotated into the PQ domain —
    * one narrow compiled-kernel map ([[rotateKernel]]). */
  private[graft] def rotate(df: DataFrame, idCol: String, vecCol: String,
                            dim: Int, rotation: Seq[Seq[Long]]): DataFrame = {
    require(rotation.size == dim,
      s"rotation is ${rotation.size}×${rotation.size}, vectors dim $dim")
    cleanVecs(df, vecCol, dim)
      .select(col(idCol),
        rotateKernel(rotation, dim)(KMeans.microVec(col(vecCol))).as("__rv"))
  }

  /** `df` in the index's input domain and the vector column to read
    * there: rotated into `__rv` when there is a rotation. */
  private def inDomain(rotation: Option[Seq[Seq[Long]]], df: DataFrame,
                       idCol: String, vecCol: String,
                       dim: Int): (DataFrame, String) =
    rotation.fold((df, vecCol))(r => (rotate(df, idCol, vecCol, dim, r), "__rv"))

  /** Micro reconstruction of a `codes` row from the codebooks: the
    * per-subspace assigned centroids concatenated back to a full dim
    * vector — the Y side of the Procrustes update. */
  private def decodeExpr(model: Model): Column =
    concat(model.books.zipWithIndex.map { case (book, s) =>
      element_at(typedlit(book.sortBy(_._1).map(_._2)),
        element_at(col("codes"), s + 1))
    }: _*)

  /** Orthogonal-Procrustes update: R = argmax_{RᵀR=I} tr(R·A) with
    * A_ij = Σ_n x_i y_j = U S Vᵀ → R = V Uᵀ. Driver-side SVD of a
    * dim×dim matrix (model-sized); the result is immediately
    * micro-quantized, so cross-engine exactness never depends on the
    * LAPACK path — the quantized matrix is DATA. */
  private def procrustes(a: Array[Long], dim: Int): Seq[Seq[Long]] = {
    val A = breeze.linalg.DenseMatrix.tabulate(dim, dim)(
      (i, j) => a(i * dim + j).toDouble)
    val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(A)
    val r = vt.t * u.t
    Seq.tabulate(dim, dim)((i, j) => math.round(r(i, j) * 1e6))
  }

  /** The OPQ alternation over the rank-top `n` rows: `opqIters` rounds
    * of (fit PQ codebooks in the current rotation) / (Procrustes-update
    * the rotation toward the codebooks' reconstructions), from the
    * identity. Per round one m-fit, one encode, and ONE dim×dim
    * cross-covariance aggregate — accumulated in EXACT longs per
    * partition (order-independent ⇒ partitioning-independent ⇒
    * bit-identical refits, the q183 witness) and collected as
    * O(partitions·dim²), never corpus rows. */
  private def learnRotation(df: DataFrame, idCol: String, vecCol: String,
                            dim: Int, m: Int, k: Int, iters: Int,
                            opqIters: Int, n: Int): Seq[Seq[Long]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val sample = rankSample(df, idCol, vecCol, dim, n)
      .select(col(idCol), KMeans.microVec(col(vecCol)).as("__xm"))
      .cache()
    try {
      var rot = identityRotation(dim)
      for (_ <- 1 to opqIters) {
        val rotated = sample.withColumn("__rv",
          rotateKernel(rot, dim)(col("__xm")))
        val pq = fitBooks(rotated, idCol, "__rv", dim, m, k, iters, n)
        val partials = rotated
          .withColumn("codes", codesKernel(pq)(KMeans.microVec(col("__rv"))))
          .select(col("__xm"), decodeExpr(pq).as("__ym"))
          .as[(Seq[Long], Seq[Long])]
          .mapPartitions { it =>
            val acc = new Array[Long](dim * dim)
            it.foreach { case (x, y) =>
              var i = 0
              while (i < dim) {
                val xi = x(i); var j = 0
                while (j < dim) { acc(i * dim + j) += xi * y(j); j += 1 }
                i += 1
              }
            }
            Iterator(acc.toSeq)
          }.collect()
        val a = new Array[Long](dim * dim)
        partials.foreach { p =>
          var t = 0
          while (t < dim * dim) { a(t) += p(t); t += 1 }
        }
        rot = procrustes(a, dim)
      }
      rot
    } finally { sample.unpersist(); () }
  }

  // ---- Coarse quantizer: cell assignment and residuals ------------------

  /** (cell, cvec): the cell centroids as a relation keyed by the flat
    * cell id — a local relation for the flat model, the sub relation
    * for the two-level one (so no K-sized literal enters a plan). */
  private def cellVecs(cells: Cells,
                       spark: org.apache.spark.sql.SparkSession): DataFrame =
    cells match {
      case Left(flat) =>
        spark.createDataFrame(flat).toDF("cell", "cvec")
      case Right(tl) =>
        tl.sub.select(
          ((col("super") - 1) * tl.nSub + col("sub")).cast("int").as("cell"),
          col("cvec"))
    }

  /** (id, cell, __v): every clean row's `probes` nearest cells (exact
    * integer distances, ties to the smallest cell — the KMeans argmin
    * rule) with its micro vector. Flat: the narrow compiled peel over
    * the literal model. Two-level: the superProbe beam over the literal
    * supers, candidates from the broadcast sub relation; at one probe
    * the election carries the vector, so no corpus self-join on id. */
  private def assign(cells: Cells, df: DataFrame, idCol: String,
                     vecCol: String, dim: Int, probes: Int,
                     superProbe: Int): DataFrame = {
    val clean = cleanVecs(df, vecCol, dim)
    def micro = clean.select(col(idCol).as("id"),
      KMeans.microVec(col(vecCol)).as("__v"))
    cells match {
      case Left(flat) =>
        Similarity.peelNearestLiteral(micro, flat, probes, "cell")
      case Right(tl) if probes == 1 =>
        Similarity.assignNearestTwoLevelWithVec(clean, idCol, vecCol, tl,
          superProbe)
      case Right(tl) =>
        Similarity.assignTwoLevelCells(clean, idCol, vecCol, tl, probes,
          superProbe).join(micro, "id")
    }
  }

  /** Compiled residual kernel: (micro, centroid) in, the FLOAT residual
    * (micro − centroid)/10⁶ out — the domain the PQ machinery consumes;
    * the long → double/10⁶ round-trip is exact (the rotateKernel
    * argument), so every downstream distance is the integer an
    * all-integer replay computes. A length mismatch yields NULL. */
  private val residualFloat =
    udf((as: scala.collection.Seq[Long], bs: scala.collection.Seq[Long]) => {
      if (as == null || bs == null || as.length != bs.length) null
      else {
        val a = as.toArray // Seq args arrive as List — O(i) apply
        val b = bs.toArray
        val out = new Array[Double](a.length)
        var i = 0
        while (i < a.length) {
          out(i) = (a(i) - b(i)).toDouble / 1e6; i += 1
        }
        out
      }
    })

  /** (idCol, cell, rvec): nearest cell + the residual against it. */
  private def residuals(cells: Cells, df: DataFrame, idCol: String,
                        vecCol: String, dim: Int,
                        superProbe: Int): DataFrame =
    assign(cells, df, idCol, vecCol, dim, 1, superProbe)
      .join(broadcast(cellVecs(cells, df.sparkSession)), "cell")
      .select(col("id").as(idCol), col("cell"),
        residualFloat(col("__v"), col("cvec")).as("rvec"))

  // ---- The index lifecycle ------------------------------------------------

  /** Train an index over a bounded deterministic md5-rank sample. The
    * stages come from the arguments:
    *  - rotation: `rotation` is a fixed micro matrix (q182/q184/q185's
    *    `rot182`); `opqIters > 0` learns one by the OPQ alternation
    *    (the standard objective, flat-PQ reconstruction error); neither
    *    means no rotation.
    *  - coarse quantizer: `nCells > 0` trains `nCells` cells with
    *    `cellIters` Lloyd rounds on the (rotated) vectors — two-level
    *    with a `superProbe` beam, or flat when `superProbe = 0` — and
    *    the codebooks then train on residuals.
    *  - PQ: `m` codebooks of `k` codes, `iters` Lloyd rounds each.
    * Sample sizes: `sampleN` rows for the rotation and codebooks
    * (0 = clamp(64·k, 4096, 65536)); clamp(64·nCells, 4096, 65536)
    * for flat cells, clamp(64·nCells, 4096, 262144) for two-level
    * cells. ONE draw of the largest covers them all ([[rankSample]]),
    * so training cost is constant in corpus size; residuals are
    * computed over the codebook prefix only (the full-corpus residual
    * draw would select exactly those rows). */
  def train(df: DataFrame, idCol: String, vecCol: String, dim: Int,
            m: Int, k: Int, iters: Int, nCells: Int = 0, cellIters: Int = 2,
            superProbe: Int = 2, opqIters: Int = 0,
            rotation: Option[Seq[Seq[Long]]] = None,
            sampleN: Int = 0): Index = {
    require(rotation.isEmpty || opqIters == 0,
      "pass a fixed rotation or opqIters to learn one, not both")
    require(superProbe >= 0, s"superProbe must be >= 0, got $superProbe")
    val nPq = if (sampleN > 0) sampleN
      else math.min(65536, math.max(4096, 64 * k))
    val nCell = if (nCells <= 0) 0
      else math.min(if (superProbe > 0) 262144 else 65536,
        math.max(4096, 64 * nCells))
    val shared = rankSample(df, idCol, vecCol, dim, math.max(nPq, nCell))
      .cache()
    try {
      val rot = rotation.orElse(Option.when(opqIters > 0)(
        learnRotation(shared, idCol, vecCol, dim, m, k, iters, opqIters, nPq)))
      val (base, v) = inDomain(rot, shared, idCol, vecCol, dim)
      val cells: Option[Cells] =
        if (nCells <= 0) None
        else if (superProbe > 0) Some(Right(Similarity.trainTwoLevelCells(
          base, idCol, v, nCells, cellIters, sampleN = nCell)))
        else Some(Left(KMeans.fit(rankSample(base, idCol, v, dim, nCell),
          idCol, v, nCells, cellIters)))
      val pq = cells match {
        case None => fitBooks(base, idCol, v, dim, m, k, iters, nPq)
        case Some(c) => fitBooks(
          residuals(c, rankSample(base, idCol, v, dim, nPq), idCol, v, dim,
            superProbe), idCol, "rvec", dim, m, k, iters, nPq)
      }
      Index(rot, cells, pq)
    } finally { shared.unpersist(); () }
  }

  /** The corpus-side INDEX relation: (c_id, codes array<int>) — with
    * `cell` between them when the index has a coarse quantizer —
    * rotation, nearest cell, residual and code argmins in one pass.
    * This is the relation a frozen index STORES and [[search]]es, and
    * the APPEND path: encode a fresh batch with the frozen index (no
    * retrain) and union it on; encode is a pure per-row function of the
    * index, so that is exactly what a rebuild over old ∪ new computes
    * (spec-proven append ≡ rebuild). `superProbe` is the two-level
    * assignment beam. */
  def encode(index: Index, df: DataFrame, idCol: String, vecCol: String,
             dim: Int, superProbe: Int = 2): DataFrame = {
    val (in, v) = inDomain(index.rotation, df, idCol, vecCol, dim)
    val codes = codesKernel(index.pq)
    index.cells match {
      case None => cleanVecs(in, v, dim)
        .select(col(idCol).as("c_id"),
          codes(KMeans.microVec(col(v))).as("codes"))
      case Some(c) => residuals(c, in, idCol, v, dim, superProbe)
        .select(col(idCol).as("c_id"), col("cell"),
          codes(KMeans.microVec(col("rvec"))).as("codes"))
    }
  }

  /** ADC top-k of every `queries` vector over an [[encode]]d `codes`
    * relation (stored, or stored ∪ appended batches), self-matches on
    * id excluded; only the query side touches the index. The caller
    * owns `codes`' partitioning (repartition a freshly encoded small
    * corpus — one split would serialize the scoring loop; a loaded
    * parquet relation is already split). Candidates:
    *  - index with a coarse quantizer: corpus points in one of the
    *    query's `nProbe` nearest cells (`superProbe` beam for
    *    two-level), each (q, cell) row carrying lookup tables built from
    *    the query's residual AGAINST THAT CELL (FAISS's per-list LUT);
    *    every point lives in one cell, so each pair meets once.
    *  - otherwise, with search-time pruning `cells` — an (id, cell)
    *    coarse assignment covering corpus AND query ids (queries drawn
    *    from the corpus), e.g. [[Similarity.ivfCellsTrained]] (q143) or
    *    [[Similarity.ivfCellsTwoLevel]] (q168) — the pairs sharing a
    *    cell, from one broadcast equi-join + DISTINCT; with
    *    nProbe >= nCells that is every pair (spec-proven identity).
    *  - otherwise every pair: codes stream against the broadcast
    *    lookup tables.
    * Never a corpus×queries cross join when cells exist (PlanAuditSpec
    * pins this). Output (q_id, rank, c_id, adc_dist), adc asc / c_id
    * asc. */
  def search(index: Index, codes: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, dim: Int, k: Int,
             nProbe: Int = 2, superProbe: Int = 2,
             cells: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(index.cells.isEmpty || cells.isEmpty,
      "search-time cells prune raw codes; this index has its own cells")
    val (q, v) = inDomain(index.rotation, queries, idCol, vecCol, dim)
    index.cells match {
      case Some(c) =>
        val luts = assign(c, q, idCol, v, dim, nProbe, superProbe)
          .join(broadcast(cellVecs(c, q.sparkSession)), "cell")
          .select(col("id").as("q_id") +: col("cell") +: lutCols(
            zip_with(col("__v"), col("cvec"), (a, b) => a - b), index.pq): _*)
        adcRank(codes.join(broadcast(luts), Seq("cell"))
          .filter(col("q_id") =!= col("c_id")), index.pq, k)
      case None =>
        val luts = cleanVecs(q, v, dim).select(col(idCol).as("q_id") +:
          lutCols(KMeans.microVec(col(v)), index.pq): _*)
        val corpus = codes.select(col("c_id"), col("codes"))
        val pairs = cells match {
          case None => corpus.crossJoin(broadcast(luts))
              .filter(col("c_id") =!= col("q_id"))
          case Some(assigned) =>
            val qCells = assigned
              .join(broadcast(luts.select(col("q_id").as("id"))), "id")
              .select(col("id").as("q_id"), col("cell"))
            broadcast(qCells)
              .join(assigned.select(col("id").as("c_id"), col("cell")), "cell")
              .filter(col("q_id") =!= col("c_id"))
              .select(col("q_id"), col("c_id"))
              .distinct()
              .join(corpus, "c_id")
              .join(broadcast(luts), "q_id")
        }
        adcRank(pairs, index.pq, k)
    }
  }

  /** Two-stage search: ADC candidates (`candK` per query, from codes
    * only) re-ranked by EXACT cosine over the candidates' full vectors
    * — the [[Similarity.quantizedRerank]] shape with PQ in the cheap
    * stage; only queries × candK full vectors meet the float kernel.
    * Self-kNN form (queries = corpus). Output (q_id, rank, c_id, sim). */
  def adcRerank(index: Index, df: DataFrame, idCol: String, vecCol: String,
                dim: Int, k: Int, candK: Int): DataFrame = {
    require(candK >= k, s"candK ($candK) must be >= k ($k)")
    val par = df.sparkSession.sparkContext.defaultParallelism
    val cands = search(index,
        encode(index, df, idCol, vecCol, dim).repartition(par), df, idCol,
        vecCol, dim, candK)
      .select(col("q_id"), col("c_id"))
    val vecs = cleanVecs(df, vecCol, dim)
      .select(col(idCol), col(vecCol))
    val scored = cands
      .join(vecs.select(col(idCol).as("q_id"), col(vecCol).as("__qv")), "q_id")
      .join(vecs.select(col(idCol).cast("long").as("c_id"),
        col(vecCol).as("__cv")), "c_id")
      .select(col("q_id"), col("c_id"),
        graft.functions.VectorFns.cosine(col("__qv"), col("__cv")).as("sim"))
      .filter(col("sim").isNotNull)
    scored
      .groupBy(col("q_id"))
      .agg(TopKPairs.topK(k)(col("sim"), col("c_id")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "p")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("p.id").as("c_id"), col("p.sim").as("sim"))
  }

  /** The retrain alarm: residual-magnitude drift of an `appended`
    * vector batch vs a `baseline` (normally the corpus the index was
    * trained on) under the FROZEN coarse quantizer (rotated first when
    * the index rotates) — the signal that assign-only appends have
    * outlived the frozen centroids: residuals growing ⇒ the centroids
    * no longer sit where the data is ⇒ candidate lists degrade before
    * recall visibly does. One row: (n_base, n_new, base_msr, new_msr,
    * drift_bp, retrain). All integer: per-vector norm = exact squared
    * distance to the nearest cell, msr = Σ‖r‖² div n (floor),
    * drift_bp = new_msr·10⁴ div base_msr; `retrain` trips past
    * `alarmBp` basis points. NULL msr/drift (empty side or zero
    * baseline) = no evidence, retrain false — an empty probe must not
    * page anyone. Σ‖r‖² accumulates in DECIMAL(38,0): per-row norms
    * reach ~10¹⁵ at micro magnitudes, so a BIGINT sum wraps past ~10⁴
    * rows (spec-pinned past 2⁶³); decimal stays exact to ~10²³ rows
    * per side, and DuckDB's HUGEINT sum replays it (q181/q185). */
  def driftReport(index: Index, baseline: DataFrame, appended: DataFrame,
                  idCol: String, vecCol: String, dim: Int,
                  superProbe: Int = 2, alarmBp: Long = 12500): DataFrame = {
    require(index.cells.nonEmpty,
      "the drift report measures residuals: the index needs cells")
    val c = index.cells.get
    def side(df: DataFrame, n: String, s: String): DataFrame = {
      val (in, v) = inDomain(index.rotation, df, idCol, vecCol, dim)
      assign(c, in, idCol, v, dim, 1, superProbe)
        .join(broadcast(cellVecs(c, df.sparkSession)), "cell")
        .agg(count(lit(1)).as(n), sum(
          KMeans.sqDistMicro(col("__v"), col("cvec")).cast("decimal(38,0)"))
          .as(s))
    }
    side(baseline, "n_base", "__sb").crossJoin(side(appended, "n_new", "__sa"))
      .select(col("n_base"), col("n_new"),
        expr("__sb div n_base").as("base_msr"),
        expr("__sa div n_new").as("new_msr"),
        // the ×10⁴ widens in decimal as well: msr itself can sit at
        // ~10¹⁵ (high-norm corpora), where a BIGINT product overflows
        expr("case when n_base > 0 and n_new > 0 and __sb div n_base > 0 " +
          "then ((__sa div n_new) * cast(10000 as decimal(38,0))) " +
          "div (__sb div n_base) end")
          .as("drift_bp"))
      .withColumn("retrain",
        coalesce(col("drift_bp") > alarmBp, lit(false)))
  }
}
