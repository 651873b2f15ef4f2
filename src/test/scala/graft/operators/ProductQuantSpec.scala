package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product quantization: driver-side BigInt replay of encode + ADC
  * over the trained model (the model is a driver value, so the spec
  * recomputes every code and distance independently), the
  * exhaustive-candidate equivalence with brute force, clustering
  * behavior on separated data, and determinism under repartition.
  * q142 carries the full DuckDB oracle (codebook training included).
  */
class ProductQuantSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated clusters in dim 4; integral coordinates make
  // the micro quantization trivially exact in the reference replay
  private val fixture = Seq(
    (1L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Seq(1.0f, 0.0f, 0.0f, 1.0f)),
    (3L, Seq(0.0f, 1.0f, 1.0f, 0.0f)),
    (4L, Seq(8.0f, 8.0f, 8.0f, 8.0f)),
    (5L, Seq(9.0f, 8.0f, 8.0f, 9.0f)),
    (6L, Seq(8.0f, 9.0f, 9.0f, 8.0f)))

  private def df = fixture.toDF("id", "vec")

  private lazy val index =
    ProductQuant.train(df, "id", "vec", dim = 4, m = 2, k = 2, iters = 1)
  private def model = index.pq

  private def encode(in: org.apache.spark.sql.DataFrame) =
    ProductQuant.encode(index, in, "id", "vec", dim = 4)

  /** ADC top-k of `queries` over the encoded `corpus`, optionally
    * pruned by search-time cells. */
  private def adc(corpus: org.apache.spark.sql.DataFrame,
                  queries: org.apache.spark.sql.DataFrame, k: Int,
                  cells: Option[org.apache.spark.sql.DataFrame] = None) =
    ProductQuant.search(index, encode(corpus), queries, "id", "vec",
      dim = 4, k = k, cells = cells)

  /** Search-time flat IVF cells over the fixture (the q143 pruning). */
  private def ivfCells(nProbe: Int) = Some(Similarity.ivfCellsTrained(df,
    "id", "vec", nCells = 2, nProbe = nProbe, iters = 2))

  /** Driver-side reference: micro sub-vectors of a fixture row. */
  private def microSub(v: Seq[Float], start: Int, len: Int): Seq[Long] =
    v.slice(start - 1, start - 1 + len).map(x => math.round(x.toDouble * 1e6))

  private def sqDist(a: Seq[Long], b: Seq[Long]): BigInt =
    a.zip(b).map { case (x, y) => BigInt(x - y) * BigInt(x - y) }.sum

  /** Reference codes: per subspace the smallest-cid argmin. */
  private def refCodes(v: Seq[Float]): Seq[Int] =
    model.slices.zip(model.books).map { case ((start, len), book) =>
      book.sortBy(_._1)
        .map { case (cid, c) => (sqDist(microSub(v, start, len), c), cid) }
        .min._2
    }

  /** Reference ADC distance from query vector to corpus codes. */
  private def refAdc(q: Seq[Float], codes: Seq[Int]): BigInt =
    model.slices.zip(model.books).zip(codes).map {
      case (((start, len), book), code) =>
        sqDist(microSub(q, start, len),
          book.sortBy(_._1).apply(code - 1)._2)
    }.foldLeft(BigInt(0))(_ + _)

  test("train: m codebooks of k codes each, cids 1..k, sub-dim centroids") {
    model.m shouldBe 2
    model.slices shouldBe Seq((1, 2), (3, 2))
    model.books.foreach { book =>
      book.map(_._1) shouldBe Seq(1, 2)
      book.foreach(_._2.size shouldBe 2)
    }
  }

  test("encode matches the driver-side BigInt replay for every row") {
    val got = encode(df).orderBy("c_id").as[(Long, Seq[Int])].collect()
    got.map(_._1) shouldBe (1L to 6L)
    got.foreach { case (id, codes) =>
      codes shouldBe refCodes(fixture(id.toInt - 1)._2)
    }
  }

  test("codes separate well-separated clusters") {
    val codes = encode(df).as[(Long, Seq[Int])].collect().toMap
    val low = Seq(1L, 2L, 3L).map(codes)
    val high = Seq(4L, 5L, 6L).map(codes)
    // all low-cluster rows share one code word, all high another
    low.distinct.size shouldBe 1
    high.distinct.size shouldBe 1
    low.head should not be high.head
  }

  test("adcTopK matches the driver-side replay: dist asc, ties by c_id asc") {
    val got = adc(df, df, k = 3)
      .orderBy("q_id", "rank")
      .as[(Long, Int, Long, Long)].collect()
    val codes = fixture.map { case (id, v) => id -> refCodes(v) }.toMap
    val expect = fixture.flatMap { case (qid, qv) =>
      fixture.filter(_._1 != qid)
        .map { case (cid, _) => (refAdc(qv, codes(cid)), cid) }
        .sorted.take(3).zipWithIndex
        .map { case ((d, cid), i) => (qid, i + 1, cid, d.toLong) }
    }
    got.toSeq shouldBe expect
  }

  test("ADC neighbors of a clustered point come from its own cluster") {
    val nn = adc(df, df, k = 2)
      .as[(Long, Int, Long, Long)].collect()
    nn.filter(_._1 <= 3).map(_._3).toSet should contain only (1L, 2L, 3L)
    nn.filter(_._1 >= 4).map(_._3).toSet should contain only (4L, 5L, 6L)
  }

  test("adcRerank with exhaustive candidates IS brute force") {
    val exact = Similarity.bruteForceTopK(df, df, "id", "vec", k = 2)
      .select(col("q_id"), col("rank"), col("c_id"),
        round(col("sim"), 9).as("sim"))
      .orderBy("q_id", "rank").collect().toSeq
    val reranked = ProductQuant
      .adcRerank(index, df, "id", "vec", dim = 4, k = 2, candK = 5)
      .select(col("q_id"), col("rank"), col("c_id"),
        round(col("sim"), 9).as("sim"))
      .orderBy("q_id", "rank").collect().toSeq
    reranked shouldBe exact
  }

  test("encode and adcTopK are partitioning-independent") {
    val a = encode(df.repartition(7)).orderBy("c_id").collect().toSeq
    val b = encode(df.coalesce(1)).orderBy("c_id").collect().toSeq
    a shouldBe b
    val ta = adc(df.repartition(5), df, k = 3)
      .orderBy("q_id", "rank").collect().toSeq
    val tb = adc(df.coalesce(1), df, k = 3)
      .orderBy("q_id", "rank").collect().toSeq
    ta shouldBe tb
  }

  test("corrupt vectors (NULL, NULL element, wrong length) are excluded") {
    val bad = Seq((7L, null.asInstanceOf[Seq[Float]]))
      .toDF("id", "vec")
      .union(Seq((8L, Seq(Some(1.0f), None, Some(0.0f), Some(0.0f))))
        .toDF("id", "vec").select(col("id"), col("vec").cast("array<float>")))
      .union(Seq((9L, Seq(1.0f, 2.0f))).toDF("id", "vec"))
    val all = df.union(bad)
    val codes = encode(all).as[(Long, Seq[Int])].collect()
    codes.map(_._1).sorted shouldBe (1L to 6L)
    val nn = adc(all, all, k = 5)
    nn.filter(col("q_id") > 6 || col("c_id") > 6).count() shouldBe 0L
  }

  test("ivfAdcTopK with exhaustive probing IS adcTopK (identity)") {
    // nProbe >= nCells: every pair shares a probed cell, so the IVF
    // candidate pruning admits everything and the composition must
    // reproduce plain ADC exactly
    val full = adc(df, df, 3)
      .orderBy("q_id", "rank").collect().toSeq
    val ivf = adc(df, df, k = 3, cells = ivfCells(nProbe = 2))
      .orderBy("q_id", "rank").collect().toSeq
    ivf shouldBe full
  }

  test("ivfAdcTopK prunes across clusters at nProbe=1 but keeps own-cluster hits") {
    val nn = adc(df, df, k = 2, cells = ivfCells(nProbe = 1))
      .orderBy("q_id", "rank").as[(Long, Int, Long, Long)].collect()
    // the two fixture clusters are far apart: a trained 2-cell coarse
    // quantizer separates them, so every candidate is own-cluster
    nn.filter(_._1 <= 3).map(_._3).toSet should contain only (1L, 2L, 3L)
    nn.filter(_._1 >= 4).map(_._3).toSet should contain only (4L, 5L, 6L)
    // and within a cluster the ADC ranking matches the unpruned one
    val full = adc(df, df, 2)
      .orderBy("q_id", "rank").as[(Long, Int, Long, Long)].collect()
      .filter(r => (r._1 <= 3) == (r._3 <= 3)).toSeq
    nn.toSeq shouldBe full
  }

  test("ivfAdcTopK restricts to the query subset") {
    val nn = adc(df, df.filter(col("id") <= 2), k = 3,
        cells = ivfCells(nProbe = 2))
      .as[(Long, Int, Long, Long)].collect()
    nn.map(_._1).toSet shouldBe Set(1L, 2L)
    nn.foreach(r => r._1 should not be r._3)
  }

  test("recall on the embeddings fixture: PQ candidates + exact rerank") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val m = ProductQuant.train(emb, "vec_id", "embedding", dim = 64,
      m = 8, k = 16, iters = 2)
    val truth = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 3)
      .select(col("q_id"), col("c_id")).as[(Long, Long)].collect().toSet
    val reranked = ProductQuant
      .adcRerank(m, emb, "vec_id", "embedding", dim = 64, k = 3, candK = 50)
      .select(col("q_id"), col("c_id")).as[(Long, Long)].collect().toSet
    val recall = truth.intersect(reranked).size.toDouble / truth.size
    // measured 0.743 at (m=8, k=16, candK=50) on the sf0.001 fixture
    // (near-random vectors — PQ's hardest case); the floor leaves
    // headroom for cosine-ulp jitter across encoder versions
    recall should be >= 0.60
  }

  test("production-arity composed index (m=8, k=256): recall beats the toy arity it benchmarks against") {
    // the r11 ladder measures m8k256 THROUGHPUT; this pins the other
    // half — the finer codebooks must buy accuracy. Recall@3 of the
    // composed OPQ∘residual∘two-level serve vs exact-L2 truth, at
    // q184's toy arity and at production arity, same corpus
    val emb = graft.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") <= 50)
    val truth = exactL2Top3(emb, queries)
    def recallAt(m: Int, k: Int): Double = {
      val model = ProductQuant.train(emb, "vec_id",
        "embedding", dim = 64, m = m, k = k, iters = 2, nCells = 4,
        cellIters = 2, opqIters = 2)
      val got = searchEncoded(model, emb, queries, nProbe = 4)
        .select(col("q_id"), col("c_id")).as[(Long, Long)].collect().toSet
      truth.intersect(got).size.toDouble / truth.size
    }
    val toy = recallAt(2, 4)
    val prod = recallAt(8, 256)
    // measured 0.438 vs 0.059 on the sf0.001 fixture — pure-ADC
    // top-3 (no exact rerank) on NEAR-RANDOM vectors, PQ's hardest
    // case: the point pinned here is the ~7× accuracy the finer
    // codebooks buy, not an absolute (production adds adcRerank —
    // the existing recall test measures 0.743 with candK=50 — and
    // clustered real embeddings quantize far better)
    withClue(s"toy(m=2,k=4)=$toy prod(m=8,k=256)=$prod:") {
      prod should be >= (toy + 0.2)
      prod should be >= 0.30
    }
  }

  /** Search `queries` over the `vec_id`/`embedding` corpus encoded by
    * `index` (superProbe: the two-level beam, encode and search). */
  private def searchEncoded(index: ProductQuant.Index,
                            corpus: org.apache.spark.sql.DataFrame,
                            queries: org.apache.spark.sql.DataFrame,
                            dim: Int = 64, k: Int = 3, nProbe: Int = 2,
                            superProbe: Int = 2) =
    ProductQuant.search(index,
      ProductQuant.encode(index, corpus, "vec_id", "embedding", dim,
        superProbe),
      queries, "vec_id", "embedding", dim, k, nProbe, superProbe)

  /** Exact integer-L2 top-3 per query (self-match excluded) — the
    * truth set for the recall pins. */
  private def exactL2Top3(corpus: org.apache.spark.sql.DataFrame,
                          queries: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long)] = {
    val c = corpus.select(col("vec_id").as("c_id"),
      KMeans.microVec(col("embedding")).as("cv"))
    val q = queries.select(col("vec_id").as("q_id"),
      KMeans.microVec(col("embedding")).as("qv"))
    q.crossJoin(c).filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.functions.VectorFns.sqDistMicro(col("qv"), col("cv"))
          .as("d"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("d"), col("c_id"))))
      .filter(col("rk") <= 3)
      .select(col("q_id"), col("c_id")).as[(Long, Long)].collect().toSet
  }

  test("residual encoding: recall vs exact-L2 truth at least matches raw encoding") {
    // the by_residual promise: the same code budget spent on the
    // within-cell geometry ranks candidates no worse (usually better);
    // truth = exact integer L2 top-3, computed driver-side
    val emb = graft.Tables.embeddings(spark, sfDir)
    val micro = emb.select(col("vec_id"),
        graft.operators.KMeans.microVec(col("embedding")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def l2(a: Array[Long], b: Array[Long]): BigInt =
      a.indices.map(i => BigInt(a(i) - b(i)) * BigInt(a(i) - b(i))).sum
    val qs = micro.keys.filter(_ <= 20).toSeq.sorted
    val truth = qs.flatMap { q =>
      micro.keys.filter(_ != q).toSeq
        .map(c => (l2(micro(q), micro(c)), c)).sorted.take(3)
        .map { case (_, c) => (q, c) }
    }.toSet
    def recallOf(nn: Array[(Long, Long)]): Double =
      truth.intersect(nn.toSet).size.toDouble / truth.size
    val queries = emb.filter(col("vec_id") <= 20)
    val rm = ProductQuant.train(emb, "vec_id", "embedding",
      dim = 64, m = 8, k = 16, iters = 2, nCells = 8, superProbe = 0)
    // exhaustive probing isolates QUANTIZATION fidelity (no cell miss)
    val residual = searchEncoded(rm, emb, queries, nProbe = 8)
      .select(col("q_id"), col("c_id")).as[(Long, Long)].collect()
    val raw = ProductQuant.train(emb, "vec_id", "embedding",
      dim = 64, m = 8, k = 16, iters = 2)
    val plain = searchEncoded(raw, emb, queries)
      .select(col("q_id"), col("c_id")).as[(Long, Long)].collect()
    val (rRes, rRaw) = (recallOf(residual), recallOf(plain))
    info(s"recall@3 vs exact L2: residual $rRes, raw $rRaw")
    // near-random vectors are residual's NULL case (centroids carry no
    // structure to subtract): measured 0.206 vs 0.238 — the honest
    // requirement is non-inferiority within noise, not a win here
    rRes should be >= rRaw - 0.05
  }

  test("residual encoding WINS on clustered data (the regime it exists for)") {
    // 32 planted clusters, tiny within-cluster noise, and only k=8
    // codes per subspace: raw PQ cannot represent 32 center patterns
    // with 8 codes, while residual encoding removes the centers
    // entirely and spends all 8 codes on the (tiny) noise — recall
    // must separate decisively
    val dim = 64
    def center(c: Int, j: Int): Double = ((c * 37 + j * 11) % 19 - 9) / 10.0
    def noise(id: Long, j: Int): Double =
      (((id * 31 + j * 7) % 11) - 5) / 200.0
    val data = (1L to 320L).map { id =>
      val c = (id % 32).toInt
      (id, (0 until dim).map(j => (center(c, j) + noise(id, j)).toFloat).toArray)
    }
    val df = data.toDF("vec_id", "embedding")
    val micro = data.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 1e6))
    }.toMap
    def l2(a: Array[Long], b: Array[Long]): BigInt =
      a.indices.map(i => BigInt(a(i) - b(i)) * BigInt(a(i) - b(i))).sum
    val qs = (1L to 20L)
    val truth = qs.flatMap { q =>
      micro.keys.filter(_ != q).toSeq
        .map(c => (l2(micro(q), micro(c)), c)).sorted.take(3)
        .map { case (_, c) => (q, c) }
    }.toSet
    def recallOf(nn: Array[(Long, Long)]): Double =
      truth.intersect(nn.toSet).size.toDouble / truth.size
    val queries = df.filter(col("vec_id") <= 20)
    val rm = ProductQuant.train(df, "vec_id", "embedding",
      dim = dim, m = 8, k = 8, iters = 2, nCells = 32, superProbe = 0)
    val residual = searchEncoded(rm, df, queries, dim, nProbe = 32)
      .select(col("q_id"), col("c_id")).as[(Long, Long)].collect()
    val raw = ProductQuant.train(df, "vec_id", "embedding",
      dim = dim, m = 8, k = 8, iters = 2)
    val plain = searchEncoded(raw, df, queries, dim)
      .select(col("q_id"), col("c_id")).as[(Long, Long)].collect()
    val (rRes, rRaw) = (recallOf(residual), recallOf(plain))
    info(s"clustered recall@3: residual $rRes, raw $rRaw")
    // measured: residual 0.767 vs raw 0.117 — a 6.6x separation; the
    // floors leave headroom for k-means tie jitter
    rRes should be > rRaw + 0.4
    rRes should be >= 0.7
    // the residual ∘ two-level composition must keep the win: same
    // residual encoding, no-K-literal quantizer (exhaustive beam so
    // cell-miss noise is excluded here too)
    val rtl = ProductQuant.train(df, "vec_id", "embedding",
      dim = dim, m = 8, k = 8, iters = 2, nCells = 32, cellIters = 2,
      superProbe = 6)
    val composed = searchEncoded(rtl, df, queries, dim, nProbe = 36,
        superProbe = 6)
      .select(col("q_id"), col("c_id")).as[(Long, Long)].collect()
    val rTl = recallOf(composed)
    info(s"clustered recall@3: residual∘two-level $rTl")
    rTl should be > rRaw + 0.3
  }

  test("OPQ rotation recovers cross-subspace correlation (the regime rotation exists for)") {
    // latent product grid, scrambled across the slice boundary: in
    // the LATENT basis the centers factor as (a_i | b_j) — 8 protos
    // per half, so k=8 PQ codes them EXACTLY — but the observed
    // vectors are rotated by fixed planar rotations pairing dim t
    // with t+4, so each fixed slice sees projections of all 64
    // centers (k=8 hopeless). Only un-scrambling wins; Procrustes
    // must FIND (approximately) the inverse rotation from identity.
    val dim = 8
    def proto(p: Int, j: Int): Double = ((p * 23 + j * 31) % 17 - 8) / 8.0
    def noise(id: Long, j: Int): Double =
      (((id * 17 + j * 29) % 7) - 3) / 400.0
    // a moderate scramble: OPQ-NP is a LOCAL alternation from
    // identity (Ge et al. §4 — the parametric variant exists for
    // far-from-identity optima), so the fixture stays in its basin
    val th = 0.3
    val (c0, s0) = (math.cos(th), math.sin(th))
    val data = (1L to 320L).map { id =>
      val (pa, pb) = ((id % 8).toInt, ((id / 8) % 8).toInt)
      val latent = (0 until 4).map(j => proto(pa, j) + noise(id, j)) ++
        (0 until 4).map(j => proto(pb, j + 4) + noise(id, j + 4))
      val obs = (0 until 4).map(t => c0 * latent(t) - s0 * latent(t + 4)) ++
        (0 until 4).map(t => s0 * latent(t) + c0 * latent(t + 4))
      (id, obs.map(_.toFloat))
    }
    val df = data.toDF("vec_id", "embedding")
    val micro = data.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 1e6)).toArray
    }.toMap
    def l2(a: Array[Long], b: Array[Long]): BigInt =
      a.indices.map(i => BigInt(a(i) - b(i)) * BigInt(a(i) - b(i))).sum
    val truth = (1L to 20L).flatMap { q =>
      micro.keys.filter(_ != q).toSeq
        .map(c => (l2(micro(q), micro(c)), c)).sorted.take(3)
        .map { case (_, c) => (q, c) }
    }.toSet
    def recallOf(nn: Array[(Long, Long)]): Double =
      truth.intersect(nn.toSet).size.toDouble / truth.size
    val queries = df.filter(col("vec_id") <= 20)
    val raw = ProductQuant.train(df, "vec_id", "embedding",
      dim = dim, m = 2, k = 8, iters = 3)
    val rRaw = recallOf(searchEncoded(raw, df, queries, dim)
      .select(col("q_id"), col("c_id")).as[(Long, Long)].collect())
    val opq = ProductQuant.train(df, "vec_id", "embedding",
      dim = dim, m = 2, k = 8, iters = 3, opqIters = 6)
    val rOpq = recallOf(searchEncoded(opq, df, queries, dim)
      .select(col("q_id"), col("c_id")).as[(Long, Long)].collect())
    info(s"scrambled-grid recall@3: opq $rOpq, raw $rRaw")
    // measured: opq 0.333 vs raw 0.067 — a 5x separation; the floor
    // leaves headroom for k-means tie jitter
    rOpq should be > rRaw + 0.15
  }

  test("Procrustes update recovers a planted rotation exactly (the OPQ inner step)") {
    // mechanism check with no k-means in the way: when the
    // "reconstructions" are EXACTLY a rotated copy (y = R0 x), the
    // cross-covariance SVD must return R0 itself (up to micro
    // quantization) — the fixed-point property the alternation
    // relies on. Exercised through the public API by planting a
    // rotation-invariant fixture is impossible, so this drives the
    // private step via an OPQ train on data whose PQ reconstruction IS
    // near-exact: k=8 codes for 8 distinct patterns.
    val dim = 4
    def proto(p: Int, j: Int): Double = ((p * 13 + j * 7) % 9 - 4) / 4.0
    val data = (1L to 64L).map { id =>
      val p = (id % 8).toInt
      (id, (0 until dim).map(j => proto(p, j).toFloat))
    }
    val df = data.toDF("vec_id", "embedding")
    val opq = ProductQuant.train(df, "vec_id", "embedding",
      dim = dim, m = 2, k = 8, iters = 3, opqIters = 3)
    // 8 protos, k=8 codes per half: reconstruction is exact, so the
    // Procrustes optimum is the identity — the learned rotation must
    // stay at (micro) identity instead of drifting
    val idm = ProductQuant.identityRotation(dim)
    val maxDev = opq.rotation.get.zip(idm).flatMap { case (r, e) =>
      r.zip(e).map { case (a, b) => math.abs(a - b) }
    }.max
    info(s"max |R - I| micro deviation: $maxDev")
    maxDev should be <= 1000L // within 0.1% of exact identity
  }

  test("OPQ pre-stage composes with residual IVF-PQ: rotated recall >= residual on the clustered fixture") {
    // the production stack order (FAISS OPQ..,IVF..,PQ..): rotate
    // first, then residual IVF-PQ in the rotated domain — must not
    // lose the residual win of the clustered regime
    val dim = 64
    def center(c: Int, j: Int): Double = ((c * 37 + j * 11) % 19 - 9) / 10.0
    def noise(id: Long, j: Int): Double =
      (((id * 31 + j * 7) % 11) - 5) / 200.0
    val data = (1L to 320L).map { id =>
      val c = (id % 32).toInt
      (id, (0 until dim).map(j => (center(c, j) + noise(id, j)).toFloat).toArray)
    }
    val df = data.toDF("vec_id", "embedding")
    val micro = data.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 1e6))
    }.toMap
    def l2(a: Array[Long], b: Array[Long]): BigInt =
      a.indices.map(i => BigInt(a(i) - b(i)) * BigInt(a(i) - b(i))).sum
    val truth = (1L to 20L).flatMap { q =>
      micro.keys.filter(_ != q).toSeq
        .map(c => (l2(micro(q), micro(c)), c)).sorted.take(3)
        .map { case (_, c) => (q, c) }
    }.toSet
    def recallOf(nn: Array[(Long, Long)]): Double =
      truth.intersect(nn.toSet).size.toDouble / truth.size
    val queries = df.filter(col("vec_id") <= 20)
    val rm = ProductQuant.train(df, "vec_id", "embedding",
      dim = dim, m = 8, k = 8, iters = 2, nCells = 32, superProbe = 0)
    val rRes = recallOf(searchEncoded(rm, df, queries, dim, nProbe = 32)
      .select(col("q_id"), col("c_id")).as[(Long, Long)].collect())
    val opq = ProductQuant.train(df, "vec_id", "embedding",
      dim = dim, m = 8, k = 8, iters = 2, opqIters = 2)
    // the learned rotation in front of a flat residual index
    val rrm = ProductQuant.train(df, "vec_id", "embedding",
      dim = dim, m = 8, k = 8, iters = 2, nCells = 32, superProbe = 0,
      rotation = opq.rotation)
    val rRot = recallOf(searchEncoded(rrm, df, queries, dim, nProbe = 32)
      .select(col("q_id"), col("c_id")).as[(Long, Long)].collect())
    info(s"clustered recall@3: opq∘residual $rRot, residual $rRes")
    // measured: 0.850 vs 0.767 — the rotation WINS here too; the
    // assertion is the honest non-inferiority claim (rotation must
    // never lose the residual advantage), floored below the
    // measured gap
    rRot should be >= rRes - 0.05
  }

  // the incremental-maintenance contract, per index form: encoding an
  // appended batch with the FROZEN index and unioning onto the stored
  // code relation is byte-identical to re-encoding old ∪ new — and
  // search over the appended relation equals search over the rebuild
  Seq(
    ("assign-only append ≡ batch rebuild: frozen-model encode composes by union",
      4, 2, 0),
    ("flat residual index serves over a loaded code relation: OverCodes ≡ fused, append ≡ rebuild",
      8, 0, 0),
    ("composed OPQ∘residual∘two-level: rotated append ≡ rebuild, OverCodes ≡ fused",
      4, 2, 2)
  ).foreach { case (name, nCells, superProbe, opqIters) =>
    test(name) {
      val emb = graft.Tables.embeddings(spark, sfDir)
      val old = emb.filter(col("vec_id") > 100)
      val fresh = emb.filter(col("vec_id") <= 100)
      val index = ProductQuant.train(old, "vec_id", "embedding", dim = 64,
        m = 2, k = 4, iters = 2, nCells = nCells, superProbe = superProbe,
        opqIters = opqIters)
      def encode(df: org.apache.spark.sql.DataFrame) =
        ProductQuant.encode(index, df, "vec_id", "embedding", 64)
      val appended = encode(old).unionByName(encode(fresh))
      val rebuilt = encode(emb)
      appended.except(rebuilt).count() shouldBe 0L
      rebuilt.except(appended).count() shouldBe 0L
      val queries = emb.filter(col("vec_id") <= 20)
      def rows(codes: org.apache.spark.sql.DataFrame) =
        ProductQuant.search(index, codes, queries, "vec_id", "embedding",
            64, k = 3)
          .select("q_id", "rank", "c_id", "adc_dist")
          .as[(Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._2))
      rows(appended) shouldBe rows(rebuilt)
    }
  }

  test("production lifecycle: trainOpqResidualTwoLevel → save → load → serve ≡ in-memory serve") {
    // the deployment path end to end: the PRODUCTION training entry
    // (not a fixed rotation), the artifact round-trip, and serving
    // from the loaded model — all three joints must be loss-free
    val emb = graft.Tables.embeddings(spark, sfDir)
    val trained = ProductQuant.train(emb, "vec_id",
      "embedding", dim = 64, m = 2, k = 4, iters = 2, nCells = 4,
      opqIters = 2)
    val dir = tempDir("graft_opq_lifecycle").toString
    graft.io.VectorIndexArtifacts.save(spark, dir, trained)
    val loaded = graft.io.VectorIndexArtifacts.load(spark, dir)
    // rotation and codebooks round-trip byte-identically; cell SEQ
    // order may differ (cells are id-keyed — serving equality below
    // is the binding contract)
    loaded.rotation shouldBe trained.rotation
    loaded.pq shouldBe trained.pq
    val queries = emb.filter(col("vec_id") <= 20)
    def serve(m: ProductQuant.Index) =
      searchEncoded(m, emb, queries)
        .select("q_id", "rank", "c_id", "adc_dist")
        .as[(Long, Int, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val served = serve(loaded)
    served shouldBe serve(trained)
    served.length should be > 0
  }

  test("drift sums do not wrap: Σ‖r‖² past 2⁶³ stays exact (decimal accumulation)") {
    // 2000 rows × 6.4e15 per-row norm² = 1.28e19 > 2⁶³ ≈ 9.2e18: a
    // BIGINT sum wraps (or throws under ANSI); the report must stay
    // exact — msr is per-row-equal so the expected value is known
    val cells: KMeans.Model = Seq((1, Seq.fill(64)(0L)))
    val book: KMeans.Model = Seq((1, Seq.fill(32)(0L)))
    val model = ProductQuant.Index(None, Some(Left(cells)),
      ProductQuant.Model(Seq((1, 32), (33, 32)), Seq(book, book)))
    val big = spark.range(0, 2000)
      .select(col("id").as("vec_id"),
        array(Seq.fill(64)(lit(10.0f)): _*).as("embedding"))
    val rep = ProductQuant.driftReport(model, big, big,
      "vec_id", "embedding", 64).collect().head
    // per dim: (10·10⁶)² = 10¹⁴; × 64 dims = 6.4e15
    rep.getAs[Long]("base_msr") shouldBe 64L * 100000000000000L
    rep.getAs[Long]("new_msr") shouldBe 64L * 100000000000000L
    rep.getAs[Long]("drift_bp") shouldBe 10000L
    rep.getAs[Boolean]("retrain") shouldBe false
  }

  test("drift alarm (two-level): identical batch is 10000bp quiet; shifted data trips retrain") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val m = ProductQuant.train(emb, "vec_id", "embedding",
      dim = 64, m = 2, k = 4, iters = 2, nCells = 4)
    val same = ProductQuant.driftReport(m, emb, emb,
      "vec_id", "embedding", 64).collect().head
    same.getAs[Long]("drift_bp") shouldBe 10000L
    same.getAs[Boolean]("retrain") shouldBe false
    val shifted = emb.withColumn("embedding",
      transform(col("embedding"), x => x.cast("double") + lit(0.25)))
    val drift = ProductQuant.driftReport(m, emb, shifted,
      "vec_id", "embedding", 64).collect().head
    drift.getAs[Long]("drift_bp") should be > 12500L
    drift.getAs[Boolean]("retrain") shouldBe true
    // empty probe: no evidence, no page
    val empty = ProductQuant.driftReport(m, emb,
      emb.filter(col("vec_id") < 0), "vec_id", "embedding", 64)
      .collect().head
    empty.getAs[Boolean]("retrain") shouldBe false
  }

  test("train: overlapped per-subspace fits == the serial form, bit for bit") {
    // train() runs its m independent per-subspace Lloyd chains on one
    // thread each (graft.JobOverlap, guide-§2.6 job overlap); this pin
    // is the contract that the overlap is pure scheduling — the
    // codebooks must equal the ones produced by fitting the same
    // slices one at a time from one thread over the same
    // deterministic md5-rank sample. m = 4 fits run concurrently.
    val emb = graft.Tables.embeddings(spark, sfDir)
    val dim = 64; val m = 4; val k = 4; val iters = 2
    val parallel = ProductQuant.train(emb, "vec_id", "embedding",
      dim, m, k, iters).pq
    val n = math.min(65536, math.max(4096, 64 * k))
    val sample = emb
      .filter(col("embedding").isNotNull &&
        !exists(col("embedding"), x => x.isNull) &&
        org.apache.spark.sql.functions.size(col("embedding")).equalTo(dim))
      .withColumn("__r", Similarity.portableCentroidRank(col("vec_id")))
      .orderBy(col("__r"), col("vec_id")).limit(n)
      .select(col("vec_id"), col("embedding")).cache()
    try {
      val len = dim / m
      val serialBooks = (0 until m).map { s =>
        KMeans.fit(sample.select(col("vec_id"),
            slice(col("embedding"), s * len + 1, len).as("__sub")),
          "vec_id", "__sub", k, iters)
      }
      parallel.slices shouldBe (0 until m).map(s => (s * len + 1, len))
      parallel.books shouldBe serialBooks
    } finally { sample.unpersist(); () }
  }
}
