package graft.queries

import graft.Tables
import graft.functions.{ScalarFns, TextFns}
import graft.operators.{ProductQuant, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-2 operator extensions: the analytics shapes a training-data /
  * clickstream pipeline needs beyond the reference's own surface —
  * sessionization, time-series gap-fill, range-frame windows, TF-IDF,
  * embedding centroids, fuzzy (edit-distance) matching, deterministic
  * hash sampling, grouping sets. All DuckDB-oracle-checked.
  *
  * Scale discipline (100 TB): every query shuffles on a real key
  * (user, token, label, nation) with map-side partial aggregation
  * where possible; the only global windows run over POST-aggregation
  * relations whose size is bounded by the calendar or the schema, not
  * the data volume.
  */
object Advanced {

  /** q56: batch sessionization of the event stream — a new session
    * starts after a >30 min silence. One shuffle on user_id; the gap
    * test is a lag window inside each user partition (deterministic:
    * it reads only the ts sequence, which ties cannot reorder).
    * The streaming twin is Sessionize.flatMapGroupsWithState. */
  private val q56 = QuerySpec(
    "q56_sessionize",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev")) > 1800, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },
    oracle = Some("""
      WITH g AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events)
      SELECT user_id,
             CAST(sum(CASE WHEN prev IS NULL
                           OR date_diff('second', prev, ts) > 1800
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             count(*) AS n_events
      FROM g GROUP BY user_id ORDER BY user_id"""),
    bench = true)

  /** q57: time-series gap-fill — daily revenue with missing calendar
    * days resurrected as 0 via an exploded date `sequence` over the
    * observed bounds. The sequence comes from a 1-row aggregate, so the
    * dense calendar costs O(days), never O(rows); revenue is exact
    * integer cents. */
  private val q57 = QuerySpec(
    "q57_gapfill_daily",
    (s, dir) => {
      // persisted: the bounds probe and the join both consume it — the
      // full orders scan+aggregate must not run twice (same two-consumer
      // pattern as Dedup's bucket relation)
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(ScalarFns.cents(col("o_totalprice"))).as("revenue_cents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val days = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      days.join(daily, Seq("day"), "left")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("revenue_cents"), lit(0L)).as("revenue_cents"))
        .orderBy(col("day"))
    },
    oracle = Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM orders GROUP BY 1),
      b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
      days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM b)
      SELECT strftime(d.day, '%Y-%m-%d') AS day,
             coalesce(c.revenue_cents, 0) AS revenue_cents
      FROM days d LEFT JOIN daily c USING (day) ORDER BY day"""))

  /** q58: TF-IDF top-3 terms per document. tf shuffles on (doc, token)
    * with map-side combine, df on token; the corpus size N joins in as
    * a broadcast 1-row aggregate (no driver collect). Ranking runs on
    * the ROUNDED score so engine last-ulp `ln` differences can't
    * reorder ties. */
  private val q58 = QuerySpec(
    "q58_tfidf",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // persisted: document frequency and the score join both read tf —
      // without this the corpus is tokenized and aggregated twice
      val tf = docs
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(df, "token").crossJoin(broadcast(n))
        .withColumn("tfidf", round(col("tf") * log(col("n") / col("df")), 4))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("token"), col("tfidf"))
        .orderBy(col("doc_id"), col("token"))
    },
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      scored AS (
        SELECT doc_id, tf.token AS token, round(tf * ln(n / df), 4) AS tfidf
        FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
      SELECT doc_id, token, tfidf FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, token) AS rn
        FROM scored)
      WHERE rn <= 3 ORDER BY doc_id, token"""))

  /** q59: per-label embedding centroid — the reduce step of k-means /
    * class prototypes. posexplode → per-(label, dim) partial aggregate
    * → re-pack sorted by dim. Components are EXACT integer sums of
    * per-element 1e-4-quantized values (divide by n_vectors for the
    * mean): each float·10⁴ is an exact double (24+14 < 53 mantissa
    * bits) so the element round is deterministic, and the integer sum
    * is order-independent — unlike a float avg(), whose
    * summation-order ulp could flip round(·) at a .5 boundary between
    * engines. Comma-joined string: no float→text divergence, no list
    * column for the driver's row sort to choke on. */
  private val q59 = QuerySpec(
    "q59_embedding_centroid",
    (s, dir) => {
      val ex = Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("q", round(col("v").cast("double") * 10000, 0).cast("long"))
      ex.groupBy(col("label"), col("pos"))
        .agg(sum(col("q")).as("m"), count(lit(1)).as("n"))
        .groupBy(col("label"))
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("m")))),
            x => x.getField("m").cast("string")),
            ",").as("centroid"),
          max(col("n")).as("n_vectors"))
        .orderBy(col("label"))
    },
    oracle = Some("""
      WITH ex AS (
        SELECT label, unnest(embedding)::DOUBLE AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings),
      m AS (SELECT label, pos,
                   CAST(sum(CAST(round(v * 10000) AS BIGINT)) AS BIGINT) AS m,
                   count(*) AS n
            FROM ex GROUP BY 1, 2)
      SELECT label,
             array_to_string(list(m ORDER BY pos), ',') AS centroid,
             CAST(max(n) AS BIGINT) AS n_vectors
      FROM m GROUP BY label ORDER BY label"""))

  /** q60: fuzzy self-match — customer-name pairs within edit distance 2,
    * blocked on nation so the quadratic edit-distance filter runs inside
    * equi-join buckets, never as a cross join. The blocking key choice
    * is the scale lever: per-block cost is O(block²·len²). */
  private val q60 = QuerySpec(
    "q60_fuzzy_name_pairs",
    (s, dir) => {
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      c.as("a").join(c.as("b"),
          col("a.c_nationkey") === col("b.c_nationkey")
            && col("a.c_custkey") < col("b.c_custkey"))
        .withColumn("dist",
          levenshtein(col("a.c_name"), col("b.c_name")).cast("long"))
        .filter(col("dist") <= 2)
        .select(col("a.c_custkey").as("key_a"), col("b.c_custkey").as("key_b"),
          col("dist"))
        .orderBy(col("key_a"), col("key_b"))
    },
    oracle = Some("""
      SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
             CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 2
      ORDER BY key_a, key_b"""))

  /** q61: deterministic hash sampling with an engine-portable hash —
    * md5 of the key (identical bytes → identical hex in any engine),
    * keep rows whose first hex digit < '2' (a fixed 1/8 slice). The
    * production splitter is Sampling.hashSplit (xxhash64, cheaper);
    * this md5 variant exists so sampling correctness itself is
    * oracle-checkable. Narrow: no shuffle at all before the final
    * order-for-compare. */
  private val q61 = QuerySpec(
    "q61_hash_sample",
    (s, dir) =>
      Tables.customer(s, dir)
        .filter(substring(md5(col("c_custkey").cast("string")), 1, 1) < "2")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey")),
    oracle = Some("""
      SELECT c_custkey, c_mktsegment
      FROM customer
      WHERE substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1) < '2'
      ORDER BY c_custkey"""))

  /** q62: RANGE-frame window — 7-day sliding revenue over the daily
    * rollup, keyed on epoch-day so the frame is a true time interval
    * (skips absent days), not a row count. The global window is safe at
    * any scale: it runs over the POST-aggregation calendar relation
    * (one row per day), not the raw orders. */
  private val q62 = QuerySpec(
    "q62_sliding_revenue",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(ScalarFns.cents(col("o_totalprice"))).as("cents"))
        .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01")).cast("long"))
      val w = Window.orderBy(col("epoch_day")).rangeBetween(-6, 0)
      daily
        .withColumn("win_cents", sum(col("cents")).over(w))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("cents"), col("win_cents"))
        .orderBy(col("day"))
    },
    oracle = Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
               CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS epoch_day
        FROM orders GROUP BY 1)
      SELECT strftime(day, '%Y-%m-%d') AS day, cents,
             CAST(sum(cents) OVER (ORDER BY epoch_day
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS win_cents
      FROM daily ORDER BY day"""))

  /** q63: GROUPING SETS — the explicit-sets sibling of q40 (rollup) and
    * q52 (cube), via SQL so the engine's SQL front door is exercised
    * too. NULL group keys are disambiguated with grouping() (the keys
    * themselves are non-null in the data, but 'ALL' markers keep the
    * compare order total). */
  private val q63 = QuerySpec(
    "q63_grouping_sets",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("adv_orders_gs")
      s.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM adv_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY status, priority""")
    },
    oracle = Some("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      ORDER BY status, priority"""))

  /** q64: the broadcast as-of join (AsOfJoin.asofBroadcast) on the q48
    * shape — purchases collapse to per-user broadcast timelines and the
    * view stream probes them with NO fact-side shuffle. Same DuckDB
    * ASOF oracle as q48: the two implementations must agree with each
    * other AND with DuckDB. */
  private val q64 = QuerySpec(
    "q64_asof_broadcast",
    (s, dir) => {
      import graft.operators.AsOfJoin
      val (views, purchases) = DataOps.viewsAndPurchases(s, dir)
      AsOfJoin.asofBroadcast(views, purchases, Seq("user_id"), "ts",
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

  /** q65: last-write-wins upsert (Upsert.lastWriteWins) — per-customer
    * profiles maintained incrementally: a pre-cutoff snapshot merged
    * with a post-cutoff update batch, the update winning wherever it
    * has a row (its version — last order day — is strictly newer).
    * The oracle replicates LWW as a full outer join preferring the
    * update side. */
  private val q65 = QuerySpec(
    "q65_upsert",
    (s, dir) => {
      import graft.operators.Upsert
      def profile(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("o_custkey").as("key"))
        .agg(max(to_date(col("o_orderdate"))).as("last_day"),
          count(lit(1)).as("n_orders"),
          sum(ScalarFns.cents(col("o_totalprice"))).as("cents"))
      val orders = Tables.orders(s, dir)
      val snapshot = profile(orders.filter(col("o_orderdate") < "2000-01-01"))
      val updates = profile(orders.filter(col("o_orderdate") >= "2000-01-01"))
      Upsert.lastWriteWins(snapshot, updates, Seq("key"), "last_day")
        .select(col("key"), date_format(col("last_day"), "yyyy-MM-dd").as("last_day"),
          col("n_orders"), col("cents"))
        .orderBy(col("key"))
    },
    oracle = Some("""
      WITH s AS (
        SELECT o_custkey AS key, max(CAST(o_orderdate AS DATE)) AS last_day,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders WHERE o_orderdate < DATE '2000-01-01' GROUP BY 1),
      u AS (
        SELECT o_custkey AS key, max(CAST(o_orderdate AS DATE)) AS last_day,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders WHERE o_orderdate >= DATE '2000-01-01' GROUP BY 1)
      SELECT coalesce(u.key, s.key) AS key,
             strftime(CASE WHEN u.key IS NOT NULL THEN u.last_day ELSE s.last_day END, '%Y-%m-%d') AS last_day,
             CASE WHEN u.key IS NOT NULL THEN u.n_orders ELSE s.n_orders END AS n_orders,
             CASE WHEN u.key IS NOT NULL THEN u.cents ELSE s.cents END AS cents
      FROM s FULL OUTER JOIN u ON s.key = u.key
      ORDER BY key"""))

  /** q66: fixed-width histogram — the data-profiling primitive (floor
    * arithmetic, engine-portable, unlike width_bucket which DuckDB
    * lacks). Purchase values into 20 bins of width 25, top bin open. */
  private val q66 = QuerySpec(
    "q66_histogram",
    (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .withColumn("bucket",
          least(floor(col("value") / 25).cast("long"), lit(19L)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(ScalarFns.cents(col("value"))).as("cents"))
        .orderBy(col("bucket")),
    oracle = Some("""
      SELECT least(CAST(floor(value / 25) AS BIGINT), 19) AS bucket,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY bucket"""))

  /** q67: null-safe equi-join (<=> / IS NOT DISTINCT FROM) — NULL keys
    * match each other instead of silently dropping, the semantics
    * metadata joins need when a key is legitimately absent. NULLs are
    * manufactured via nullif on a real segment. */
  private val q67 = QuerySpec(
    "q67_nullsafe_join",
    (s, dir) => {
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
      val sizes = c.groupBy(col("seg")).agg(count(lit(1)).as("seg_n"))
        .withColumnRenamed("seg", "sseg")
      c.join(sizes, col("seg") <=> col("sseg"))
        .select(col("c_custkey"), col("seg"), col("seg_n"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      WITH c AS (SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg FROM customer),
      sizes AS (SELECT seg, count(*) AS seg_n FROM c GROUP BY seg)
      SELECT c.c_custkey, c.seg, sizes.seg_n
      FROM c JOIN sizes ON c.seg IS NOT DISTINCT FROM sizes.seg
      ORDER BY c_custkey"""))

  /** q68: ML inference as a vectorized expression — logistic scoring
    * with FIXED deterministic weights over the embedding column, fully
    * oracle-checkable (unlike q45's trained model, rows-only). The dot
    * product is a sequential left fold in both engines, so the doubles
    * agree bit-for-bit before the final rounding; the predicted label
    * thresholds on the raw margin's sign, which rounding can't move. */
  private val q68 = QuerySpec(
    "q68_lr_score_fixed",
    (s, dir) => {
      import graft.functions.VectorFns
      val w = (0 until 64).map(i => ((i * 37 % 19) - 9) / 10.0)
      val margin = VectorFns.dot(col("embedding"), array(w.map(lit): _*))
      Tables.embeddings(s, dir)
        .withColumn("margin", margin)
        .select(col("vec_id"),
          round(lit(1.0) / (lit(1.0) + exp(-col("margin"))), 4).as("score"),
          when(col("margin") > 0, 1L).otherwise(0L).as("pred"))
        .orderBy(col("vec_id"))
    },
    oracle = Some {
      val w = (0 until 64).map(i => ((i * 37 % 19) - 9) / 10.0)
      s"""
      WITH m AS (
        SELECT vec_id,
               list_dot_product(CAST(embedding AS DOUBLE[]),
                 [${w.mkString(", ")}]) AS margin
        FROM embeddings)
      SELECT vec_id,
             round(1.0 / (1.0 + exp(-margin)), 4) AS score,
             CASE WHEN margin > 0 THEN 1 ELSE 0 END::BIGINT AS pred
      FROM m ORDER BY vec_id"""
    })

  /** q69: ORACLE-CHECKED simhash — q29's twin with the engine-portable
    * md5-derived token hash (Dedup.portableTokenHash), so the full
    * pipeline (normalize → tokenize → 60-bit hash → frequency-weighted
    * bit-majority → Hamming ≤ 3 pairs) is replicated in SQL: the
    * oracle runs the exact quadratic pair filter, the Spark side the
    * pigeonhole-blocked join — equal by construction, now proven per
    * run rather than differential-tested only. maxBucket is UNGUARDED
    * at this call site: the oracle computes the exact uncapped pair
    * set, so the operator must too — the production default (1000)
    * would silently diverge on a corpus whose every shared chunk block
    * is oversized (the q27-maxDf call-site split). */
  private val q69 = QuerySpec(
    "q69_simhash_portable",
    (s, dir) =>
      graft.operators.Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
          radius = 3, tokenHash = graft.operators.Dedup.portableTokenHash,
          maxBucket = Int.MaxValue)
        .orderBy(col("id_a"), col("id_b")),
    oracle = Some {
      val bitSums = (0 until 60).map(b =>
        s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b").mkString(",\n               ")
      val packed = (0 until 60).map(b =>
        s"CASE WHEN s$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END").mkString(" + ")
      s"""
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(
                 lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
                 x -> x <> '')) AS tok
        FROM documents),
      h AS (
        SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
        FROM toks),
      votes AS (
        SELECT doc_id,
               $bitSums
        FROM h GROUP BY doc_id),
      sh AS (SELECT doc_id, $packed AS simhash FROM votes)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      ORDER BY id_a, id_b"""
    })

  /** The q70 recursive-CTE pack replay (greedy next-fit walk, budget
    * 256, 32 mod-groups), shared with q137's layout oracle. */
  private val packWalkSql = """
      WITH RECURSIVE items AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
               doc_id % 32 AS pack_group,
               row_number() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id) AS rn
        FROM documents),
      walk AS (
        SELECT pack_group, rn, doc_id, n_tokens,
               0::BIGINT AS bin,
               least(greatest(n_tokens, 0), 256)::BIGINT AS used
        FROM items WHERE rn = 1
        UNION ALL
        SELECT i.pack_group, i.rn, i.doc_id, i.n_tokens,
               CASE WHEN w.used > 0 AND w.used + greatest(i.n_tokens, 0) > 256
                    THEN w.bin + 1 ELSE w.bin END,
               CASE WHEN w.used > 0 AND w.used + greatest(i.n_tokens, 0) > 256
                    THEN least(greatest(i.n_tokens, 0), 256)
                    ELSE w.used + least(greatest(i.n_tokens, 0), 256) END
        FROM walk w JOIN items i
          ON i.pack_group = w.pack_group AND i.rn = w.rn + 1)"""

  /** q70: ORACLE-CHECKED sequence packing — q50's greedy next-fit with
    * a reproducible group assignment (doc_id mod groups instead of
    * xxhash64), so DuckDB can replay the per-group sequential walk with
    * a recursive CTE: one recursion level per item rank within its
    * group. Proves bins never exceed the budget and bin boundaries
    * fall exactly where the operator's scaladoc says. */
  private val q70 = QuerySpec(
    "q70_pack_oracle",
    (s, dir) => {
      import graft.operators.Packing
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextFns.tokenCount(col("text")).as("n_tokens"))
      Packing.greedyPack(docs, "doc_id", "n_tokens", budget = 256L,
          groups = 32, groupExpr = Some(pmod(col("doc_id"), lit(32L))))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""$packWalkSql
      SELECT doc_id, n_tokens, pack_group, bin, n_tokens > 256 AS truncated
      FROM walk ORDER BY doc_id"""))

  /** q137: pack tensor layout ([[graft.operators.Packing.packLayout]])
    * over the q70 reproducible pack — per chunk its 0-based sequence
    * index and budget-clamped [tok_start, tok_end) span inside the
    * concatenated bin: the position_ids / block-diagonal-mask recipe a
    * dataloader consumes. The oracle extends the shared recursive walk
    * with the same bin-partitioned prefix-sum windows. */
  private val q137 = QuerySpec(
    "q137_pack_layout",
    (s, dir) => {
      import graft.operators.Packing
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextFns.tokenCount(col("text")).as("n_tokens"))
      Packing.packLayout(
          Packing.greedyPack(docs, "doc_id", "n_tokens", budget = 256L,
            groups = 32, groupExpr = Some(pmod(col("doc_id"), lit(32L)))),
          budget = 256L)
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""$packWalkSql,
      layout AS (
        SELECT doc_id, n_tokens, pack_group, bin,
               n_tokens > 256 AS truncated,
               CAST(row_number() OVER (PARTITION BY pack_group, bin
                 ORDER BY doc_id) - 1 AS INTEGER) AS seq_idx,
               CAST(coalesce(sum(least(greatest(n_tokens, 0), 256))
                 OVER (PARTITION BY pack_group, bin ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS tok_start
        FROM walk)
      SELECT doc_id, n_tokens, pack_group, bin, truncated, seq_idx, tok_start,
             CAST(tok_start + least(greatest(n_tokens, 0), 256) AS BIGINT) AS tok_end
      FROM layout ORDER BY doc_id"""))

  /** q138: split-aware packing ([[graft.operators.Packing.greedyPackSplit]])
    * — docs over the budget become budget-sized pieces with a 0-based
    * continuation index before the greedy walk, so no bin carries an
    * over-budget atom (the r6 `truncated` escape hatch closed). Budget
    * 48 against the ~54-token-mean corpus so roughly half the docs
    * actually split. The oracle extends q70's recursive walk: a pieces
    * lateral-unnest derivation, then the identical per-group recursion
    * ranked by (doc_id, piece). */
  private val q138 = QuerySpec(
    "q138_pack_split_pieces",
    (s, dir) => {
      import graft.operators.Packing
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextFns.tokenCount(col("text")).as("n_tokens"))
      Packing.greedyPackSplit(docs, "doc_id", "n_tokens", budget = 48L,
          groups = 16, groupExpr = Some(pmod(col("doc_id"), lit(16L))))
        .orderBy(col("doc_id"), col("piece"))
    },
    oracle = Some("""
      WITH RECURSIVE docs0 AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_doc,
               doc_id % 16 AS pack_group
        FROM documents),
      pieces AS (
        SELECT doc_id, pack_group,
               CAST(i AS INTEGER) AS piece,
               CAST(CASE WHEN n_doc <= 0 THEN n_doc
                    ELSE least(48, n_doc - i * 48) END AS BIGINT) AS n_tokens
        FROM docs0,
             unnest(range(0, greatest((greatest(n_doc, 1) + 47) // 48, 1))) AS r(i)),
      items AS (
        SELECT doc_id, piece, n_tokens, pack_group,
               row_number() OVER (PARTITION BY pack_group
                 ORDER BY doc_id, piece) AS rn
        FROM pieces),
      walk AS (
        SELECT pack_group, rn, doc_id, piece, n_tokens,
               0::BIGINT AS bin,
               least(greatest(n_tokens, 0), 48)::BIGINT AS used
        FROM items WHERE rn = 1
        UNION ALL
        SELECT i.pack_group, i.rn, i.doc_id, i.piece, i.n_tokens,
               CASE WHEN w.used > 0 AND w.used + greatest(i.n_tokens, 0) > 48
                    THEN w.bin + 1 ELSE w.bin END,
               CASE WHEN w.used > 0 AND w.used + greatest(i.n_tokens, 0) > 48
                    THEN least(greatest(i.n_tokens, 0), 48)
                    ELSE w.used + least(greatest(i.n_tokens, 0), 48) END
        FROM walk w JOIN items i
          ON i.pack_group = w.pack_group AND i.rn = w.rn + 1)
      SELECT doc_id, piece, n_tokens, pack_group, bin
      FROM walk ORDER BY doc_id, piece"""))

  /** q141: pack-efficiency report ([[graft.operators.Packing.packEfficiency]])
    * over the q138 split pack — per-bin item counts, clamped usage,
    * and exact basis-point fill rates: the pre-training sanity metric
    * (mean fill = fraction of each step doing useful work). The oracle
    * extends q138's recursive walk with the one aggregation. */
  private val q141 = QuerySpec(
    "q141_pack_efficiency",
    (s, dir) => {
      import graft.operators.Packing
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextFns.tokenCount(col("text")).as("n_tokens"))
      Packing.packEfficiency(
          Packing.greedyPackSplit(docs, "doc_id", "n_tokens", budget = 48L,
            groups = 16, groupExpr = Some(pmod(col("doc_id"), lit(16L)))),
          budget = 48L)
        .orderBy(col("pack_group"), col("bin"))
    },
    oracle = Some("""
      WITH RECURSIVE docs0 AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_doc,
               doc_id % 16 AS pack_group
        FROM documents),
      pieces AS (
        SELECT doc_id, pack_group,
               CAST(i AS INTEGER) AS piece,
               CAST(CASE WHEN n_doc <= 0 THEN n_doc
                    ELSE least(48, n_doc - i * 48) END AS BIGINT) AS n_tokens
        FROM docs0,
             unnest(range(0, greatest((greatest(n_doc, 1) + 47) // 48, 1))) AS r(i)),
      items AS (
        SELECT doc_id, piece, n_tokens, pack_group,
               row_number() OVER (PARTITION BY pack_group
                 ORDER BY doc_id, piece) AS rn
        FROM pieces),
      walk AS (
        SELECT pack_group, rn, doc_id, piece, n_tokens,
               0::BIGINT AS bin,
               least(greatest(n_tokens, 0), 48)::BIGINT AS used
        FROM items WHERE rn = 1
        UNION ALL
        SELECT i.pack_group, i.rn, i.doc_id, i.piece, i.n_tokens,
               CASE WHEN w.used > 0 AND w.used + greatest(i.n_tokens, 0) > 48
                    THEN w.bin + 1 ELSE w.bin END,
               CASE WHEN w.used > 0 AND w.used + greatest(i.n_tokens, 0) > 48
                    THEN least(greatest(i.n_tokens, 0), 48)
                    ELSE w.used + least(greatest(i.n_tokens, 0), 48) END
        FROM walk w JOIN items i
          ON i.pack_group = w.pack_group AND i.rn = w.rn + 1)
      SELECT pack_group, bin,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(least(greatest(n_tokens, 0), 48)) AS BIGINT) AS used,
             CAST(sum(least(greatest(n_tokens, 0), 48)) * 10000 // 48 AS BIGINT) AS fill_bp
      FROM walk
      GROUP BY pack_group, bin
      ORDER BY pack_group, bin"""))

  /** q71: VariantType — Spark 4's semi-structured type. parse_json
    * keeps the whole document as a typed variant (no up-front schema,
    * unlike q18's from_json) and variant_get extracts paths lazily;
    * the oracle reads the same field with DuckDB string extraction.
    * At 100 TB the variant's binary encoding shreds into parquet and
    * supports predicate pushdown on extracted paths — the modern
    * answer to schema-on-read JSON columns. */
  private val q71 = QuerySpec(
    "q71_variant_extract",
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", variant_get(parse_json(col("props")), "$.k", "bigint"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          round(max(col("value")), 2).as("max_value"),
          round(min(col("value")), 2).as("min_value"))
        .orderBy(col("k")),
    oracle = Some("""
      SELECT CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) AS k,
             count(*) AS n,
             round(max(value), 2) AS max_value,
             round(min(value), 2) AS min_value
      FROM events
      GROUP BY 1
      ORDER BY k"""))

  /** q72: train/eval decontamination (Decontaminate.nearDupLeaks) —
    * the corpus splits deterministically on an md5 slice of the id
    * (both engines recompute the split bit-for-bit), and eval docs
    * near-duplicated (3-gram Jaccard ≥ 0.5) in the train side are
    * flagged with their evidence pair. The shingle join crosses the
    * corpus boundary ONLY, so cost is cross-pairs, never within-corpus
    * quadratic. */
  private val q72 = QuerySpec(
    "q72_decontaminate",
    (s, dir) => {
      import graft.operators.Decontaminate
      val docs = Tables.documents(s, dir)
      val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) < "2"
      Decontaminate.nearDupLeaks(
          docs.filter(!isEval), docs.filter(isEval),
          "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy(col("eval_id"), col("train_id"))
    },
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2' AS is_eval,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, is_eval, s FROM (
          SELECT doc_id, is_eval, unnest(
            CASE WHEN len(w) >= 3 THEN
              list_transform(range(1, len(w) - 1),
                i -> array_to_string(w[i:i+2], ' '))
            ELSE [array_to_string(w, ' ')] END) AS s
          FROM toks)),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      inter AS (
        SELECT e.doc_id AS eval_id, t.doc_id AS train_id, count(*) AS isect
        FROM sh e JOIN sh t ON e.s = t.s AND e.is_eval AND NOT t.is_eval
        GROUP BY 1, 2)
      SELECT eval_id, train_id,
             round(CAST(isect AS DOUBLE) / (se.sz + st.sz - isect), 6) AS jaccard
      FROM inter
      JOIN sizes se ON se.doc_id = eval_id
      JOIN sizes st ON st.doc_id = train_id
      WHERE CAST(isect AS DOUBLE) / (se.sz + st.sz - isect) >= 0.5
      ORDER BY eval_id, train_id"""))

  /** q73: ORACLE-CHECKED IVF ANN — q44's twin with the md5-derived
    * centroid draw (Similarity.portableCentroidRank), so DuckDB
    * replays the entire index: centroid selection, nearest-nProbe cell
    * assignment, shared-cell candidate generation, and the exact
    * cosine re-rank. Rank ties break on candidate id in both engines;
    * the cosine doubles agree because both engines run the same
    * sequential fused kernel (the q31 precedent). */
  private val q73 = QuerySpec(
    "q73_ann_ivf_portable",
    (s, dir) =>
      graft.operators.Similarity.ivfTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", k = 3, nCells = 8, nProbe = 2,
          centroidRank = graft.operators.Similarity.portableCentroidRank)
        .select(col("q_id"), col("rank"), col("c_id"), round(col("sim"), 4).as("sim"))
        .orderBy(col("q_id"), col("rank")),
    oracle = Some("""
      WITH cent AS (
        SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cvec
        FROM embeddings
        ORDER BY ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 1000000,
                 vec_id
        LIMIT 8),
      assign AS (
        SELECT id, cell FROM (
          SELECT e.vec_id AS id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
                            c.cell ASC) AS rnk
          FROM embeddings e CROSS JOIN cent c)
        WHERE rnk <= 2),
      cands AS (
        SELECT DISTINCT a.id AS q_id, b.id AS c_id
        FROM assign a JOIN assign b ON a.cell = b.cell AND a.id <> b.id),
      scored AS (
        SELECT q_id, c_id,
               list_cosine_similarity(CAST(qa.embedding AS DOUBLE[]),
                                      CAST(ca.embedding AS DOUBLE[])) AS sim
        FROM cands
        JOIN embeddings qa ON qa.vec_id = q_id
        JOIN embeddings ca ON ca.vec_id = c_id)
      SELECT q_id, rank, c_id, round(sim, 4) AS sim FROM (
        SELECT q_id, c_id, sim,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY sim DESC, c_id ASC) AS INTEGER) AS rank
        FROM scored)
      WHERE rank <= 3
      ORDER BY q_id, rank"""))

  /** q139: ORACLE-CHECKED trained-IVF ANN — [[graft.operators.Similarity.ivfTopKTrained]]
    * at (nCells=8, iters=2) on this corpus IS q107's integer k-means
    * (the 4096-point sample floor swallows the 500-vector corpus and
    * KMeans.fit re-derives the same portable seed draw), so the oracle
    * chains q107's two unrolled Lloyd rounds into an nProbe=2
    * (dist, cid)-ranked cell assignment, shared-cell candidates, and
    * the exact cosine re-rank — a TRAINED-quantizer ANN oracle, not
    * just a scoring one. Completes the portable-twin set for the
    * trained path (hashed IVF q73, SRP-LSH q74). */
  private val q139 = QuerySpec(
    "q139_ann_ivf_trained",
    (s, dir) =>
      graft.operators.Similarity.ivfTopKTrained(Tables.embeddings(s, dir),
          "vec_id", "embedding", k = 3, nCells = 8, nProbe = 2, iters = 2)
        .select(col("q_id"), col("rank"), col("c_id"),
          round(col("sim"), 4).as("sim"))
        .orderBy(col("q_id"), col("rank")),
    oracle = Some("""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v
        FROM embeddings),
      seeded AS (
        SELECT vec_id, v,
               CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 1000000 AS r
        FROM q),
      init AS (
        SELECT CAST(row_number() OVER (ORDER BY r, vec_id) AS INTEGER) AS cid, v
        FROM seeded ORDER BY r, vec_id LIMIT 8),
      d1 AS (
        SELECT q.vec_id, c.cid,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS BIGINT) AS dist
        FROM q CROSS JOIN init c),
      a1 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
          FROM d1) WHERE rk = 1),
      m1 AS (
        SELECT a1.cid, t.i, CAST(sum(q.v[t.i]) AS BIGINT) // count(*) AS ci
        FROM a1 JOIN q USING (vec_id)
        CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS i) t
        GROUP BY 1, 2),
      c1 AS (
        SELECT init.cid, coalesce(m.nv, init.v) AS v
        FROM init LEFT JOIN (
          SELECT cid, list(ci ORDER BY i) AS nv FROM m1 GROUP BY 1) m
          USING (cid)),
      d2 AS (
        SELECT q.vec_id, c.cid,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS BIGINT) AS dist
        FROM q CROSS JOIN c1 c),
      a2 AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
          FROM d2) WHERE rk = 1),
      m2 AS (
        SELECT a2.cid, t.i, CAST(sum(q.v[t.i]) AS BIGINT) // count(*) AS ci
        FROM a2 JOIN q USING (vec_id)
        CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS i) t
        GROUP BY 1, 2),
      c2 AS (
        SELECT c1.cid, coalesce(m.nv, c1.v) AS v
        FROM c1 LEFT JOIN (
          SELECT cid, list(ci ORDER BY i) AS nv FROM m2 GROUP BY 1) m
          USING (cid)),
      dF AS (
        SELECT q.vec_id, c.cid,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS BIGINT) AS dist
        FROM q CROSS JOIN c2 c),
      assign AS (
        SELECT vec_id AS id, cid AS cell FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist, cid) AS rnk
          FROM dF) WHERE rnk <= 2),
      cands AS (
        SELECT DISTINCT a.id AS q_id, b.id AS c_id
        FROM assign a JOIN assign b ON a.cell = b.cell AND a.id <> b.id),
      scored AS (
        SELECT q_id, c_id,
               list_cosine_similarity(CAST(qa.embedding AS DOUBLE[]),
                                      CAST(ca.embedding AS DOUBLE[])) AS sim
        FROM cands
        JOIN embeddings qa ON qa.vec_id = q_id
        JOIN embeddings ca ON ca.vec_id = c_id)
      SELECT q_id, rank, c_id, round(sim, 4) AS sim FROM (
        SELECT q_id, c_id, sim,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY sim DESC, c_id ASC) AS INTEGER) AS rank
        FROM scored)
      WHERE rank <= 3
      ORDER BY q_id, rank"""))

  /** q74: ORACLE-CHECKED SRP-LSH ANN — q32's twin with md5-derived
    * hyperplanes (Similarity.portablePlaneComponent), completing the
    * portable-twin set: DuckDB regenerates the 16×4 planes from the
    * "table_plane_dim" key, reproduces every bucket sign bit, and
    * re-ranks shared-bucket candidates exactly. (The oracle's per-dot
    * summation order differs from Spark's sequential fold; a sign flip
    * would need |dot| ≲ 1e-15, vanishingly unlikely over these
    * magnitudes and checked by the hash compare anyway.) */
  private val q74 = QuerySpec(
    "q74_ann_lsh_portable",
    (s, dir) =>
      graft.operators.Similarity.lshTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", k = 3, tables = 16, planes = 4,
          component = graft.operators.Similarity.portablePlaneComponent)
        .select(col("q_id"), col("rank"), col("c_id"), round(col("sim"), 4).as("sim"))
        .orderBy(col("q_id"), col("rank")),
    oracle = Some("""
      WITH dims AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding)::DOUBLE AS v
        FROM embeddings),
      comps AS (
        SELECT t AS tbl, p AS pl, d AS dim,
               (('0x' || substring(md5(CAST(t AS VARCHAR) || '_' || CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15))::BIGINT
                 % 2000000) / 1000000.0 - 1.0 AS w
        FROM range(16) rt(t), range(4) rp(p), range(64) rd(d)),
      dots AS (
        SELECT dims.vec_id, comps.tbl, comps.pl, sum(dims.v * comps.w) AS dot
        FROM dims JOIN comps ON comps.dim = dims.dim
        GROUP BY 1, 2, 3),
      buckets AS (
        SELECT vec_id, tbl,
               CAST(sum(CASE WHEN dot >= 0 THEN (1::BIGINT << pl) ELSE 0::BIGINT END) AS BIGINT) AS bucket
        FROM dots GROUP BY 1, 2),
      cands AS (
        SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS c_id
        FROM buckets a JOIN buckets b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
      scored AS (
        SELECT q_id, c_id,
               list_cosine_similarity(CAST(qa.embedding AS DOUBLE[]),
                                      CAST(ca.embedding AS DOUBLE[])) AS sim
        FROM cands
        JOIN embeddings qa ON qa.vec_id = q_id
        JOIN embeddings ca ON ca.vec_id = c_id)
      SELECT q_id, rank, c_id, round(sim, 4) AS sim FROM (
        SELECT q_id, c_id, sim,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY sim DESC, c_id ASC) AS INTEGER) AS rank
        FROM scored)
      WHERE rank <= 3
      ORDER BY q_id, rank"""))

  /** q75: two-phase COUNT DISTINCT (SkewOps) under the oracle — the
    * hot-key-safe formulation must equal plain COUNT(DISTINCT) exactly,
    * NULL values ignored, all-NULL keys kept with 0. */
  private val q75 = QuerySpec(
    "q75_skew_count_distinct",
    (s, dir) =>
      graft.operators.SkewOps.twoPhaseCountDistinct(
          Tables.events(s, dir), "user_id", "event_type")
        .orderBy(col("user_id")),
    oracle = Some("""
      SELECT user_id,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_distinct_event_type
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""))

  /** q76: salted skew join (SkewOps.saltedJoin) under the oracle — the
    * salt-replicated equi-join must equal the PLAIN inner join
    * row-for-row; the oracle runs the plain join, so any lost or
    * duplicated row from the salt mechanics hash-mismatches. */
  private val q76 = QuerySpec(
    "q76_skew_salted_join",
    (s, dir) => {
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
      val customers = Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_name"))
      graft.operators.SkewOps.saltedJoin(orders, customers, "o_custkey", salts = 8)
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"))
        .orderBy(col("o_orderkey"))
    },
    oracle = Some("""
      SELECT o.o_orderkey, o.o_custkey, c.c_name
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      ORDER BY o_orderkey"""))

  /** One unrolled integer-Lloyd chain (the q107 CTE shape) over the
    * sub-vector slice [lo..hi] of subspace `t`, k codes, 2 rounds —
    * emitted per PQ subspace by [[q142]]'s generated oracle. Relies on
    * the CTEs `q` (micro vectors) and `seeded` (portable md5 rank)
    * being defined by the caller. Produces `qs_T` (sub-vectors),
    * `cT_2` (trained codebook), `eT` (per-vector code). */
  private def pqChainSql(t: Int, lo: Int, hi: Int, k: Int,
                         base: String = "q",
                         seedRel: String = "seeded"): String = {
    val len = hi - lo + 1
    val rng = s"range(1, ${len + 1})"
    def distCte(out: String, crel: String, qrel: String = s"qs_$t") = s"""
      $out AS (
        SELECT q.vec_id, c.cid,
               CAST(list_sum(list_transform($rng,
                 i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS BIGINT) AS dist
        FROM $qrel q CROSS JOIN $crel c)"""
    def roundCtes(r: Int, prev: String): String = s"""${distCte(s"d${t}_$r", prev)},
      a${t}_$r AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
          FROM d${t}_$r) WHERE rk = 1),
      m${t}_$r AS (
        SELECT a.cid, s.i, CAST(sum(q.v[s.i]) AS BIGINT) // count(*) AS ci
        FROM a${t}_$r a JOIN qs_$t q USING (vec_id)
        CROSS JOIN (SELECT CAST(unnest($rng) AS INTEGER) AS i) s
        GROUP BY 1, 2),
      c${t}_$r AS (
        SELECT p.cid, coalesce(m.nv, p.v) AS v
        FROM $prev p LEFT JOIN (
          SELECT cid, list(ci ORDER BY i) AS nv FROM m${t}_$r GROUP BY 1) m
          USING (cid))"""
    s"""qs_$t AS (SELECT vec_id, v[$lo:$hi] AS v FROM $base),
      init_$t AS (
        SELECT CAST(row_number() OVER (ORDER BY r, vec_id) AS INTEGER) AS cid,
               v[$lo:$hi] AS v
        FROM $seedRel ORDER BY r, vec_id LIMIT $k),
      ${roundCtes(1, s"init_$t")},
      ${roundCtes(2, s"c${t}_1")},${distCte(s"dE_$t", s"c${t}_2")},
      e_$t AS (
        SELECT vec_id, cid AS code FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
          FROM dE_$t) WHERE rk = 1)"""
  }

  /** The embeddings corpus encoded by a freshly trained catalog index,
    * spread over the session's parallelism (a small corpus arriving
    * as one split would serialize the scoring loop onto one task). */
  private def corpusCodes(s: org.apache.spark.sql.SparkSession,
                          index: ProductQuant.Index,
                          emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ProductQuant.encode(index, emb, "vec_id", "embedding", 64)
      .repartition(s.sparkContext.defaultParallelism)

  /** q142: ORACLE-CHECKED product-quantization ANN
    * ([[graft.operators.ProductQuant]], Jégou et al. 2011) — m=2
    * subspace codebooks (k=4, 2 integer-Lloyd rounds each; the
    * 4096-point sample floor swallows this corpus so training sees
    * every vector), every corpus vector PQ-encoded, and the 20-query
    * set ranked by exact-integer asymmetric distance from CODES ONLY.
    * The oracle replays the whole thing — both codebook trainings
    * (generated q107 chains over the vector halves), both code
    * assignments, and the ADC join — bit for bit: a trained
    * COMPRESSION oracle completing the ANN set (hashed IVF q73,
    * SRP-LSH q74, trained IVF q139). */
  private val q142 = QuerySpec(
    "q142_ann_pq_adc",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = ProductQuant.train(emb, "vec_id", "embedding", dim = 64,
        m = 2, k = 4, iters = 2)
      ProductQuant.search(index, corpusCodes(s, index, emb),
          emb.filter(col("vec_id") <= 20), "vec_id", "embedding",
          dim = 64, k = 3)
        .orderBy(col("q_id"), col("rank"))
    },
    oracle = Some(s"""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v
        FROM embeddings),
      seeded AS (
        SELECT vec_id, v,
               CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 1000000 AS r
        FROM q),
      ${pqChainSql(0, 1, 32, 4)},
      ${pqChainSql(1, 33, 64, 4)},
      lu_0 AS (
        SELECT qq.vec_id AS q_id, c.cid AS code,
               CAST(list_sum(list_transform(range(1, 33),
                 i -> (qq.v[i] - c.v[i]) * (qq.v[i] - c.v[i]))) AS BIGINT) AS d
        FROM (SELECT * FROM qs_0 WHERE vec_id <= 20) qq CROSS JOIN c0_2 c),
      lu_1 AS (
        SELECT qq.vec_id AS q_id, c.cid AS code,
               CAST(list_sum(list_transform(range(1, 33),
                 i -> (qq.v[i] - c.v[i]) * (qq.v[i] - c.v[i]))) AS BIGINT) AS d
        FROM (SELECT * FROM qs_1 WHERE vec_id <= 20) qq CROSS JOIN c1_2 c),
      adc AS (
        SELECT l0.q_id, e0.vec_id AS c_id, l0.d + l1.d AS adc_dist
        FROM e_0 e0 JOIN e_1 e1 USING (vec_id)
        JOIN lu_0 l0 ON l0.code = e0.code
        JOIN lu_1 l1 ON l1.code = e1.code AND l1.q_id = l0.q_id
        WHERE l0.q_id <> e0.vec_id)
      SELECT q_id, rank, c_id, adc_dist FROM (
        SELECT q_id, c_id, adc_dist,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY adc_dist, c_id) AS INTEGER) AS rank
        FROM adc) WHERE rank <= 3
      ORDER BY q_id, rank"""))

  /** q143: ORACLE-CHECKED IVF-PQ ANN
    * ([[graft.operators.ProductQuant.search]] with search-time
    * [[graft.operators.Similarity.ivfCellsTrained]] cells) — the composition
    * of the ANN family's two trained legs on one index: q139's coarse
    * quantizer (nCells=8, 2 Lloyd rounds, nProbe=2) prunes candidates
    * to shared-cell pairs, q142's PQ codebooks (m=2, k=4) score the
    * survivors by exact-integer ADC from codes only. The oracle
    * replays ALL THREE k-means trainings from the same generator
    * ([[pqChainSql]] — the coarse chain is just the full-width slice
    * at k=8), the nProbe=2 cell assignment, the shared-cell candidate
    * join, and the ADC ranking bit for bit. */
  private val q143 = QuerySpec(
    "q143_ann_ivf_pq",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = ProductQuant.train(emb, "vec_id", "embedding", dim = 64,
        m = 2, k = 4, iters = 2)
      ProductQuant.search(index, corpusCodes(s, index, emb),
          emb.filter(col("vec_id") <= 20), "vec_id", "embedding",
          dim = 64, k = 3, cells = Some(Similarity.ivfCellsTrained(emb,
            "vec_id", "embedding", nCells = 8, nProbe = 2, iters = 2)))
        .orderBy(col("q_id"), col("rank"))
    },
    oracle = Some(s"""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v
        FROM embeddings),
      seeded AS (
        SELECT vec_id, v,
               CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 1000000 AS r
        FROM q),
      ${pqChainSql(0, 1, 32, 4)},
      ${pqChainSql(1, 33, 64, 4)},
      ${pqChainSql(2, 1, 64, 8)},
      assign AS (
        SELECT vec_id AS id, cid AS cell FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist, cid) AS rnk
          FROM dE_2) WHERE rnk <= 2),
      cands AS (
        SELECT DISTINCT a.id AS q_id, b.id AS c_id
        FROM assign a JOIN assign b ON a.cell = b.cell AND a.id <> b.id
        WHERE a.id <= 20),
      lu_0 AS (
        SELECT qq.vec_id AS q_id, c.cid AS code,
               CAST(list_sum(list_transform(range(1, 33),
                 i -> (qq.v[i] - c.v[i]) * (qq.v[i] - c.v[i]))) AS BIGINT) AS d
        FROM (SELECT * FROM qs_0 WHERE vec_id <= 20) qq CROSS JOIN c0_2 c),
      lu_1 AS (
        SELECT qq.vec_id AS q_id, c.cid AS code,
               CAST(list_sum(list_transform(range(1, 33),
                 i -> (qq.v[i] - c.v[i]) * (qq.v[i] - c.v[i]))) AS BIGINT) AS d
        FROM (SELECT * FROM qs_1 WHERE vec_id <= 20) qq CROSS JOIN c1_2 c),
      adc AS (
        SELECT c.q_id, c.c_id, l0.d + l1.d AS adc_dist
        FROM cands c
        JOIN e_0 e0 ON e0.vec_id = c.c_id
        JOIN e_1 e1 ON e1.vec_id = c.c_id
        JOIN lu_0 l0 ON l0.code = e0.code AND l0.q_id = c.q_id
        JOIN lu_1 l1 ON l1.code = e1.code AND l1.q_id = c.q_id)
      SELECT q_id, rank, c_id, adc_dist FROM (
        SELECT q_id, c_id, adc_dist,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY adc_dist, c_id) AS INTEGER) AS rank
        FROM adc) WHERE rank <= 3
      ORDER BY q_id, rank"""))

  /** q168: ORACLE-CHECKED two-level IVF-PQ
    * (search-time [[graft.operators.Similarity.ivfCellsTwoLevel]] cells) — q143's
    * IVFADC with the coarse quantizer that survives past the
    * literal-centroid cap: nCells=4 splits into nSuper=2 LITERAL
    * super-centroids (the only literal model in the plan) and nSub=2
    * RELATION-trained sub-centroids per super (grouped Lloyd rounds,
    * broadcast equi-join on the super key — no K-sized literal
    * anywhere, PlanAuditSpec pins it). The oracle replays everything:
    * the two PQ codebook trainings, the super k-means, the per-super
    * sub-centroid init (portable-rank draw within each super cell),
    * both grouped Lloyd rounds, the superProbe=2 corpus assignment
    * through the sub relation, the nProbe=2 best-cell cut, and the
    * ADC ranking — bit for bit. */
  /** One grouped-Lloyd sub-round of the two-level replay: assign each
    * sample point to its super's nearest sub-centroid (tie: smaller
    * sub), recompute each (super, sub) centroid as the truncating
    * integer mean, carry emptied cells. */
  private def tlSubRound(r: Int): String = {
    val prev = if (r == 1) "sub_0" else s"sub_${r - 1}"
    s"""sd_$r AS (
        SELECT p.vec_id, p.super, c.sub,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (p.v[i] - c.v[i]) * (p.v[i] - c.v[i]))) AS BIGINT) AS dist
        FROM pts p JOIN $prev c USING (super)),
      sb_$r AS (
        SELECT vec_id, super, sub FROM (
          SELECT vec_id, super, sub,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist, sub) AS rk
          FROM sd_$r) WHERE rk = 1),
      sm_$r AS (
        SELECT b.super, b.sub, s.i,
               CAST(sum(p.v[s.i]) AS BIGINT) // count(*) AS ci
        FROM sb_$r b JOIN q p USING (vec_id)
        CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS i) s
        GROUP BY 1, 2, 3),
      sub_$r AS (
        SELECT p.super, p.sub, coalesce(m.nv, p.v) AS v
        FROM $prev p LEFT JOIN (
          SELECT super, sub, list(ci ORDER BY i) AS nv
          FROM sm_$r GROUP BY 1, 2) m USING (super, sub))"""
  }

  /** The raw micro-vector `q` CTE — the default front of
    * [[twoLevelFrontSqlOver]]; q184 swaps in the ROTATED front. */
  private def rawQFrontSql: String = s"""q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v
        FROM embeddings)"""

  /** The shared two-level replay front (q168/q178/q184): `qFront`
    * must define CTE `q` (vec_id, v micro list) — raw micro vectors
    * by default, the rot182-rotated domain for q184 — then the super
    * k-means chain (t=2, k=2), the per-super sub-centroid init + 2
    * grouped Lloyd rounds, the superProbe=2 beam, and `cc` = every
    * (vec_id, cell, dist) candidate — from which q168 cuts nProbe
    * cells and q178/q184 cut the one cell of record plus the query
    * beam. */
  private def twoLevelFrontSqlOver(qFront: String): String = s"""
      WITH $qFront,
      seeded AS (
        SELECT vec_id, v,
               CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 1000000 AS r
        FROM q),
      ${pqChainSql(2, 1, 64, 2)},
      sa0 AS (
        SELECT vec_id, cid AS super FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist, cid) AS rk
          FROM dE_2) WHERE rk = 1),
      pts AS (
        SELECT a.vec_id, a.super, s.v, s.r
        FROM sa0 a JOIN seeded s USING (vec_id)),
      sub_0 AS (
        SELECT super, CAST(rn AS INTEGER) AS sub, v FROM (
          SELECT super, v,
                 row_number() OVER (PARTITION BY super
                   ORDER BY r, vec_id) AS rn
          FROM pts) WHERE rn <= 2),
      ${tlSubRound(1)},
      ${tlSubRound(2)},
      sp AS (
        SELECT vec_id, cid AS super FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist, cid) AS rk
          FROM dE_2) WHERE rk <= 2),
      cc AS (
        SELECT p.vec_id, (p.super - 1) * 2 + c.sub AS cell,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (qq.v[i] - c.v[i]) * (qq.v[i] - c.v[i]))) AS BIGINT) AS dist
        FROM sp p JOIN q qq USING (vec_id) JOIN sub_2 c USING (super))"""

  private def twoLevelFrontSql: String = twoLevelFrontSqlOver(rawQFrontSql)

  private val q168 = QuerySpec(
    "q168_ann_ivf_pq_two_level",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = ProductQuant.train(emb, "vec_id", "embedding", dim = 64,
        m = 2, k = 4, iters = 2)
      // eager localCheckpoint: the cell relation feeds both the query
      // and the corpus side of the candidate join, and its lineage
      // holds the grouped-Lloyd training rounds
      val cells = Similarity.ivfCellsTwoLevel(emb, "vec_id", "embedding",
        nCells = 4, nProbe = 2, superProbe = 2, iters = 2).localCheckpoint()
      ProductQuant.search(index, corpusCodes(s, index, emb),
          emb.filter(col("vec_id") <= 20), "vec_id", "embedding",
          dim = 64, k = 3, cells = Some(cells))
        .orderBy(col("q_id"), col("rank"))
    },
    oracle = Some {
      twoLevelFrontSql + s""",
      ${pqChainSql(0, 1, 32, 4)},
      ${pqChainSql(1, 33, 64, 4)},
      assign AS (
        SELECT vec_id AS id, cell FROM (
          SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist, cell) AS rk
          FROM cc) WHERE rk <= 2),
      cands AS (
        SELECT DISTINCT a.id AS q_id, b.id AS c_id
        FROM assign a JOIN assign b ON a.cell = b.cell AND a.id <> b.id
        WHERE a.id <= 20),
      lu_0 AS (
        SELECT qq.vec_id AS q_id, c.cid AS code,
               CAST(list_sum(list_transform(range(1, 33),
                 i -> (qq.v[i] - c.v[i]) * (qq.v[i] - c.v[i]))) AS BIGINT) AS d
        FROM (SELECT * FROM qs_0 WHERE vec_id <= 20) qq CROSS JOIN c0_2 c),
      lu_1 AS (
        SELECT qq.vec_id AS q_id, c.cid AS code,
               CAST(list_sum(list_transform(range(1, 33),
                 i -> (qq.v[i] - c.v[i]) * (qq.v[i] - c.v[i]))) AS BIGINT) AS d
        FROM (SELECT * FROM qs_1 WHERE vec_id <= 20) qq CROSS JOIN c1_2 c),
      adc AS (
        SELECT c.q_id, c.c_id, l0.d + l1.d AS adc_dist
        FROM cands c
        JOIN e_0 e0 ON e0.vec_id = c.c_id
        JOIN e_1 e1 ON e1.vec_id = c.c_id
        JOIN lu_0 l0 ON l0.code = e0.code AND l0.q_id = c.q_id
        JOIN lu_1 l1 ON l1.code = e1.code AND l1.q_id = c.q_id)
      SELECT q_id, rank, c_id, adc_dist FROM (
        SELECT q_id, c_id, adc_dist,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY adc_dist, c_id) AS INTEGER) AS rank
        FROM adc) WHERE rank <= 3
      ORDER BY q_id, rank"""
    })

  /** q177: ORACLE-CHECKED residual IVF-PQ
    * (a flat-celled [[graft.operators.ProductQuant.Index]], Jégou et
    * al. 2011 §IV.B — `by_residual = true`, the FAISS `IndexIVFPQ`
    * default): codebooks learn on (vector − nearest-cell centroid)
    * RESIDUALS, and each query's ADC lookup tables are rebuilt per
    * probed cell from the query's residual against THAT cell (the
    * per-list LUT recomputation). Every distance stays an exact
    * integer — the residual is a micro-space subtraction and the
    * float round-trip is lossless below 2⁵¹ — so DuckDB replays the
    * coarse k-means, the residual relation, both residual-trained
    * codebooks, the one-cell-per-point candidate walk, and the
    * per-(q, cell) LUT scoring bit for bit. */
  private val q177 = QuerySpec(
    "q177_ann_ivf_pq_residual",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = ProductQuant.train(emb, "vec_id", "embedding", dim = 64,
        m = 2, k = 4, iters = 2, nCells = 8, cellIters = 2, superProbe = 0)
      ProductQuant.search(index, corpusCodes(s, index, emb),
          emb.filter(col("vec_id") <= 20), "vec_id", "embedding",
          dim = 64, k = 3, nProbe = 2)
        .orderBy(col("q_id"), col("rank"))
    },
    oracle = Some(s"""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v
        FROM embeddings),
      seeded AS (
        SELECT vec_id, v,
               CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 1000000 AS r
        FROM q),
      ${pqChainSql(2, 1, 64, 8)},
      ca AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist, cid) AS rk
          FROM dE_2) WHERE rk = 1),
      rq AS MATERIALIZED (
        SELECT v.vec_id,
               list_transform(range(1, 65), i -> v.v[i] - c.v[i]) AS v
        FROM q v JOIN ca ON ca.vec_id = v.vec_id
        JOIN c2_2 c ON c.cid = ca.cell),
      rseeded AS (
        SELECT r.vec_id, r.v, s.r FROM rq r JOIN seeded s USING (vec_id)),
      ${pqChainSql(0, 1, 32, 4, base = "rq", seedRel = "rseeded")},
      ${pqChainSql(1, 33, 64, 4, base = "rq", seedRel = "rseeded")},
      qp AS (
        SELECT vec_id AS q_id, cid AS cell FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist, cid) AS rk
          FROM dE_2 WHERE vec_id <= 20) WHERE rk <= 2),
      qr AS (
        SELECT p.q_id, p.cell,
               list_transform(range(1, 65), i -> v.v[i] - c.v[i]) AS v
        FROM qp p JOIN q v ON v.vec_id = p.q_id
        JOIN c2_2 c ON c.cid = p.cell),
      lu0 AS (
        SELECT qr.q_id, qr.cell, c.cid AS code,
               CAST(list_sum(list_transform(range(1, 33),
                 i -> (qr.v[i] - c.v[i]) * (qr.v[i] - c.v[i]))) AS BIGINT) AS d
        FROM qr CROSS JOIN c0_2 c),
      lu1 AS (
        SELECT qr.q_id, qr.cell, c.cid AS code,
               CAST(list_sum(list_transform(range(1, 33),
                 i -> (qr.v[32 + i] - c.v[i]) * (qr.v[32 + i] - c.v[i])))
                 AS BIGINT) AS d
        FROM qr CROSS JOIN c1_2 c),
      adc AS (
        SELECT p.q_id, ca.vec_id AS c_id, l0.d + l1.d AS adc_dist
        FROM qp p
        JOIN ca ON ca.cell = p.cell AND ca.vec_id <> p.q_id
        JOIN e_0 e0 ON e0.vec_id = ca.vec_id
        JOIN e_1 e1 ON e1.vec_id = ca.vec_id
        JOIN lu0 l0 ON l0.q_id = p.q_id AND l0.cell = p.cell
                   AND l0.code = e0.code
        JOIN lu1 l1 ON l1.q_id = p.q_id AND l1.cell = p.cell
                   AND l1.code = e1.code)
      SELECT q_id, rank, c_id, adc_dist FROM (
        SELECT q_id, c_id, adc_dist,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY adc_dist, c_id) AS INTEGER) AS rank
        FROM adc) WHERE rank <= 3
      ORDER BY q_id, rank"""),
    bench = true)

  /** q178: ORACLE-CHECKED residual ∘ two-level IVF-PQ
    * (a two-level-celled [[graft.operators.ProductQuant.Index]]) —
    * the two round-8 index advances COMPOSED: q177's residual
    * encoding (the FAISS-default recall form) behind q168's two-level
    * quantizer (no K-sized literal), residuals subtracted via a
    * broadcast JOIN on the cell id against the sub-centroid RELATION.
    * The oracle chains the shared two-level replay front with the
    * one-cell-of-record assignment, the join-shaped residual
    * relation, both residual-trained codebooks, the query beam, and
    * the per-(q, cell) LUT ADC — bit for bit. */
  /** The shared residual ∘ two-level replay TAIL (q178/q184): the
    * one-cell-of-record assignment over `cc`, the join-shaped
    * residual relation, both residual-trained codebooks, the query
    * beam, and the per-(q, cell) LUT ADC — everything downstream of
    * the `q` domain the front defines. */
  private def residualTwoLevelTailSql: String = s""",
      a1 AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist, cell) AS rk
          FROM cc) WHERE rk = 1),
      cellvec AS (
        SELECT (super - 1) * 2 + sub AS cell, v FROM sub_2),
      rq AS MATERIALIZED (
        SELECT v.vec_id,
               list_transform(range(1, 65), i -> v.v[i] - cv.v[i]) AS v
        FROM q v JOIN a1 ON a1.vec_id = v.vec_id
        JOIN cellvec cv ON cv.cell = a1.cell),
      rseeded AS (
        SELECT r.vec_id, r.v, s.r FROM rq r JOIN seeded s USING (vec_id)),
      ${pqChainSql(0, 1, 32, 4, base = "rq", seedRel = "rseeded")},
      ${pqChainSql(1, 33, 64, 4, base = "rq", seedRel = "rseeded")},
      qp AS (
        SELECT vec_id AS q_id, cell FROM (
          SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist, cell) AS rk
          FROM cc WHERE vec_id <= 20) WHERE rk <= 2),
      qr AS (
        SELECT p.q_id, p.cell,
               list_transform(range(1, 65), i -> v.v[i] - cv.v[i]) AS v
        FROM qp p JOIN q v ON v.vec_id = p.q_id
        JOIN cellvec cv ON cv.cell = p.cell),
      lu0 AS (
        SELECT qr.q_id, qr.cell, c.cid AS code,
               CAST(list_sum(list_transform(range(1, 33),
                 i -> (qr.v[i] - c.v[i]) * (qr.v[i] - c.v[i]))) AS BIGINT) AS d
        FROM qr CROSS JOIN c0_2 c),
      lu1 AS (
        SELECT qr.q_id, qr.cell, c.cid AS code,
               CAST(list_sum(list_transform(range(1, 33),
                 i -> (qr.v[32 + i] - c.v[i]) * (qr.v[32 + i] - c.v[i])))
                 AS BIGINT) AS d
        FROM qr CROSS JOIN c1_2 c),
      adc AS (
        SELECT p.q_id, a1.vec_id AS c_id, l0.d + l1.d AS adc_dist
        FROM qp p
        JOIN a1 ON a1.cell = p.cell AND a1.vec_id <> p.q_id
        JOIN e_0 e0 ON e0.vec_id = a1.vec_id
        JOIN e_1 e1 ON e1.vec_id = a1.vec_id
        JOIN lu0 l0 ON l0.q_id = p.q_id AND l0.cell = p.cell
                   AND l0.code = e0.code
        JOIN lu1 l1 ON l1.q_id = p.q_id AND l1.cell = p.cell
                   AND l1.code = e1.code)
      SELECT q_id, rank, c_id, adc_dist FROM (
        SELECT q_id, c_id, adc_dist,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY adc_dist, c_id) AS INTEGER) AS rank
        FROM adc) WHERE rank <= 3
      ORDER BY q_id, rank"""

  private val q178 = QuerySpec(
    "q178_ann_ivf_pq_residual_two_level",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = ProductQuant.train(emb, "vec_id", "embedding", dim = 64,
        m = 2, k = 4, iters = 2, nCells = 4, cellIters = 2, superProbe = 2)
      ProductQuant.search(index, corpusCodes(s, index, emb),
          emb.filter(col("vec_id") <= 20), "vec_id", "embedding",
          dim = 64, k = 3, nProbe = 2, superProbe = 2)
        .orderBy(col("q_id"), col("rank"))
    },
    oracle = Some(twoLevelFrontSql + residualTwoLevelTailSql))

  /** q181: ORACLE-CHECKED residual-drift retrain alarm
    * ([[graft.operators.ProductQuant.driftReport]]) — the
    * maintenance half of the frozen-index lifecycle: assign-only
    * appends ([[graft.operators.ProductQuant.encode]])
    * keep a frozen index current, and THIS report decides when the
    * frozen centroids have outlived the data. Two scenarios share one
    * trained model (q177's cells): appending the training corpus
    * itself (drift 10000 bp exactly — the calibration witness) and a
    * +0.25-shifted copy (centroids no longer sit on the data → msr
    * jumps → retrain trips). Exact integers end to end: residual
    * norm² IS the argmin'd squared cell distance, msr the floor mean,
    * drift the basis-point floor ratio; DuckDB replays the cell
    * training (the q177 chain), both norm passes (shifted micro
    * vectors re-quantized with identical IEEE double arithmetic),
    * and the report arithmetic bit for bit. */
  private val q181 = QuerySpec(
    "q181_index_drift_alarm",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = ProductQuant.train(emb, "vec_id", "embedding", dim = 64,
        m = 2, k = 4, iters = 2, nCells = 8, cellIters = 2, superProbe = 0)
      val shifted = emb.withColumn("embedding",
        transform(col("embedding"), x => x.cast("double") + lit(0.25)))
      def rep(appended: org.apache.spark.sql.DataFrame, name: String) =
        ProductQuant.driftReport(index, emb, appended, "vec_id",
            "embedding", dim = 64)
          .withColumn("scenario", lit(name))
      rep(emb, "same").unionByName(rep(shifted, "shifted"))
        .select(col("scenario"), col("n_base"), col("n_new"),
          col("base_msr"), col("new_msr"), col("drift_bp"), col("retrain"))
        .orderBy(col("scenario"))
    },
    oracle = Some(s"""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v
        FROM embeddings),
      seeded AS (
        SELECT vec_id, v,
               CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 1000000 AS r
        FROM q),
      ${pqChainSql(2, 1, 64, 8)},
      bmin AS (
        SELECT vec_id, min(dist) AS n2 FROM dE_2 GROUP BY vec_id),
      shifted AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round((CAST(x AS DOUBLE) + 0.25) * 1000000, 0)
                   AS BIGINT)) AS v
        FROM embeddings),
      dS AS (
        SELECT s.vec_id, c.cid,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (s.v[i] - c.v[i]) * (s.v[i] - c.v[i]))) AS BIGINT) AS dist
        FROM shifted s CROSS JOIN c2_2 c),
      smin AS (
        SELECT vec_id, min(dist) AS n2 FROM dS GROUP BY vec_id),
      b AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(n2) AS BIGINT) AS s
        FROM bmin),
      sh AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(n2) AS BIGINT) AS s
        FROM smin),
      rep AS (
        SELECT 'same' AS scenario, b.n AS n_base, b.n AS n_new,
               b.s // b.n AS base_msr, b.s // b.n AS new_msr
        FROM b
        UNION ALL
        SELECT 'shifted', b.n, sh.n, b.s // b.n, sh.s // sh.n
        FROM b, sh)
      SELECT scenario, n_base, n_new, base_msr, new_msr,
             CASE WHEN n_base > 0 AND n_new > 0 AND base_msr > 0
                  THEN (new_msr * 10000) // base_msr END AS drift_bp,
             coalesce((new_msr * 10000) // base_msr > 12500, false)
               AS retrain
      FROM rep
      ORDER BY scenario"""))

  /** The q182 rotation: 32 planar rotations pairing dim t with
    * t+32 — every pair STRADDLES the m=2 subspace boundary, so the
    * rotated domain genuinely mixes information across the slices
    * the PQ codebooks quantize. Micro-quantized at build time; the
    * quantized matrix is the single source both engines apply (the
    * OPQ exactness argument: the rotation is DATA, orthogonality
    * after rounding is approximate and irrelevant to parity). */
  private lazy val rot182: Seq[Seq[Long]] = {
    val dim = 64
    val m = Array.tabulate(dim, dim)((i, j) => if (i == j) 1000000L else 0L)
    for (t <- 0 until 32) {
      val th = 0.1 * (t + 1)
      val c = math.round(math.cos(th) * 1e6)
      val s = math.round(math.sin(th) * 1e6)
      m(t)(t) = c; m(t)(t + 32) = -s; m(t + 32)(t) = s; m(t + 32)(t + 32) = c
    }
    m.map(_.toSeq).toSeq
  }

  private def rot182Sql: String =
    rot182.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** The rot182 rows as a DuckDB relation (i, rv) — bound ONCE as a
    * CTE and joined, never re-evaluated inside a lambda (a big
    * literal inside a DuckDB lambda re-evaluates per element). */
  private def rotrCteSql: String = s"""rotr AS (
        SELECT CAST(generate_subscripts(r, 1) AS INTEGER) AS i,
               unnest(r) AS rv
        FROM (SELECT $rot182Sql AS r))"""

  /** `out` = `src` (vec_id, v micro list) rotated by rot182 with the
    * exact (Σ + 10¹⁵) // 10⁶ − 10⁹ offset-floor arithmetic
    * the index rotation ([[graft.operators.ProductQuant.Index]]) computes. */
  private def rotatedCteSql(src: String, out: String): String = s"""$out AS (
        SELECT vec_id, list(val ORDER BY i) AS v FROM (
          SELECT s.vec_id, rotr.i,
                 (list_sum(list_transform(range(1, 65),
                    j -> rotr.rv[j] * s.v[j]))
                  + 1000000000000000) // 1000000 - 1000000000 AS val
          FROM $src s CROSS JOIN rotr)
        GROUP BY vec_id)"""

  /** The ROTATED-domain `q` front for [[twoLevelFrontSqlOver]]:
    * micro vectors, the rot182 relation, and `q` = the rotated micro
    * domain every downstream CTE consumes unchanged. */
  private def rotatedQFrontSql: String = s"""vm AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v
        FROM embeddings),
      $rotrCteSql,
      ${rotatedCteSql("vm", "q")}"""

  /** q184/q193's index: rot182 in front of a residual ∘ two-level
    * index (4 cells, m=2 codebooks of k=4) — the composition a fixed
    * rotation lets static oracle SQL replay. */
  private def trainRot182ResidualTwoLevel(
      emb: org.apache.spark.sql.DataFrame): ProductQuant.Index =
    ProductQuant.train(emb, "vec_id", "embedding", dim = 64, m = 2, k = 4,
      iters = 2, nCells = 4, cellIters = 2, superProbe = 2,
      rotation = Some(rot182))

  /** q182: ORACLE-CHECKED PQ in a ROTATED domain — the
    * micro-exactness argument OPQ rests on, proven end to end with a
    * FIXED rotation (the q166 fixed-weights precedent: a trained
    * rotation cannot be embedded in static oracle SQL, so the
    * replayable query pins the rotated-domain MACHINERY —
    * the index rotation's offset-floor integer
    * matmul, codebook training on rotated vectors, rotated ADC —
    * and q183 witnesses the trained path). DuckDB applies the
    * identical micro matrix with the identical
    * (Σ+10¹⁵)//10⁶−10⁹ floor arithmetic, then replays the full q142
    * chain over the rotated vectors bit for bit. */
  private val q182 = QuerySpec(
    "q182_ann_opq_rotated",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = ProductQuant.train(emb, "vec_id", "embedding", dim = 64,
        m = 2, k = 4, iters = 2, rotation = Some(rot182))
      ProductQuant.search(index, corpusCodes(s, index, emb),
          emb.filter(col("vec_id") <= 20), "vec_id", "embedding",
          dim = 64, k = 3)
        .orderBy(col("q_id"), col("rank"))
    },
    oracle = Some(s"""
      WITH $rotatedQFrontSql,
      seeded AS (
        SELECT vec_id, v,
               CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 1000000 AS r
        FROM q),
      ${pqChainSql(0, 1, 32, 4)},
      ${pqChainSql(1, 33, 64, 4)},
      lu_0 AS (
        SELECT qq.vec_id AS q_id, c.cid AS code,
               CAST(list_sum(list_transform(range(1, 33),
                 i -> (qq.v[i] - c.v[i]) * (qq.v[i] - c.v[i]))) AS BIGINT) AS d
        FROM (SELECT * FROM qs_0 WHERE vec_id <= 20) qq CROSS JOIN c0_2 c),
      lu_1 AS (
        SELECT qq.vec_id AS q_id, c.cid AS code,
               CAST(list_sum(list_transform(range(1, 33),
                 i -> (qq.v[i] - c.v[i]) * (qq.v[i] - c.v[i]))) AS BIGINT) AS d
        FROM (SELECT * FROM qs_1 WHERE vec_id <= 20) qq CROSS JOIN c1_2 c),
      adc AS (
        SELECT l0.q_id, e0.vec_id AS c_id, l0.d + l1.d AS adc_dist
        FROM e_0 e0 JOIN e_1 e1 USING (vec_id)
        JOIN lu_0 l0 ON l0.code = e0.code
        JOIN lu_1 l1 ON l1.code = e1.code AND l1.q_id = l0.q_id
        WHERE l0.q_id <> e0.vec_id)
      SELECT q_id, rank, c_id, adc_dist FROM (
        SELECT q_id, c_id, adc_dist,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY adc_dist, c_id) AS INTEGER) AS rank
        FROM adc) WHERE rank <= 3
      ORDER BY q_id, rank"""))

  /** q183: OPQ training determinism, oracle-witnessed (the q92/q167
    * pattern for the trained-rotation path q182 cannot replay): two
    * full [[graft.operators.ProductQuant.train]] runs with opqIters — each
    * alternating sample-bounded codebook fits with exact-long
    * cross-covariance Procrustes updates — must produce the
    * bit-identical micro rotation AND bit-identical corpus codes;
    * DuckDB states the zero-disagreement counts independently. */
  private val q183 = QuerySpec(
    "q183_opq_determinism",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val m1 = ProductQuant.train(emb, "vec_id", "embedding", dim = 64,
        m = 2, k = 4, iters = 2, opqIters = 2)
      val m2 = ProductQuant.train(emb.repartition(7), "vec_id",
        "embedding", dim = 64, m = 2, k = 4, iters = 2, opqIters = 2)
      val rotDiff = m1.rotation.get.zip(m2.rotation.get)
        .map { case (a, b) => a.zip(b).count { case (x, y) => x != y } }
        .sum
      def codes(index: ProductQuant.Index, name: String) =
        ProductQuant.encode(index, emb, "vec_id", "embedding", 64)
          .select(col("c_id").as("vec_id"), col("codes").as(name))
      val c1 = codes(m1, "c1")
      val c2 = codes(m2, "c2")
      c1.join(c2, "vec_id")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("c1") =!= col("c2"), 1L).otherwise(0L))
            .as("n_code_disagree"))
        .withColumn("n_rot_disagree", lit(rotDiff.toLong))
        .select(col("n_vecs"), col("n_rot_disagree"), col("n_code_disagree"))
    },
    oracle = Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(0 AS BIGINT) AS n_rot_disagree,
             CAST(0 AS BIGINT) AS n_code_disagree
      FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(embedding) = 64
        AND NOT list_has_any(list_transform(embedding, x -> x IS NULL),
                             [true])"""))

  /** q184: ORACLE-CHECKED composed OPQ ∘ residual ∘ two-level SERVING
    * path ([[graft.operators.ProductQuant.encode]] →
    * [[graft.operators.ProductQuant.search]] over the codes)
    * — the full production index lifecycle's search leg, run exactly
    * as a frozen deployment runs it: the corpus encodes to a stored
    * (c_id, cell, codes) relation and the query side rotates +
    * searches OVER that relation, never re-encoding the corpus. The
    * rotation is the FIXED rot182 (the q182/q166 precedent — a
    * trained matrix cannot live in static oracle SQL; q183 witnesses
    * the trained path), so DuckDB replays the entire composition —
    * offset-floor rotation, two-level cell training in the rotated
    * domain, join-shaped residuals, residual codebooks, beam
    * candidates, per-(q, cell) LUT ADC — bit for bit: the q178 tail
    * over the rotated front. NOT a bench entry: this query times the
    * in-query TRAINING lifecycle; the frozen-serve twin [[q193]] is
    * what the bench reports (the q153 precedent). */
  private val q184 = QuerySpec(
    "q184_ann_opq_residual_two_level",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = trainRot182ResidualTwoLevel(emb)
      ProductQuant.search(index, corpusCodes(s, index, emb),
          emb.filter(col("vec_id") <= 20), "vec_id", "embedding",
          dim = 64, k = 3, nProbe = 2, superProbe = 2)
        .orderBy(col("q_id"), col("rank"))
    },
    oracle = Some(
      twoLevelFrontSqlOver(rotatedQFrontSql) + residualTwoLevelTailSql))

  /** Per-corpus frozen index cache backing [[q193]]: production trains
    * ONCE, persists the artifact ([[graft.io.VectorIndexArtifacts]])
    * together with the encoded corpus, and every serving run loads
    * both — so the first call per corpus dir trains, encodes and
    * round-trips through save/load (exercising the artifact path), and
    * every later call is pure serving over the stored codes. Keyed by
    * dir: sf0.001 warm-up and sf0.1 timed runs never share an index. */
  private val frozenIndexes = new java.util.concurrent.ConcurrentHashMap[
    String, (ProductQuant.Index, org.apache.spark.sql.DataFrame)]()

  /** q193: FROZEN-SERVE twin of q184 — the BENCH entry for the
    * composed index (the q153 frozen-bench precedent). q184 times the
    * full in-query training lifecycle (sample-bounded Lloyd rounds =
    * dozens of tiny driver-orchestrated jobs), which is NOT what a
    * deployed index pays per serving run; this twin serves the cached
    * frozen index over its stored code relation ([[frozenIndexes]]),
    * never re-encoding the corpus, so the benched work is exactly the
    * production path: the query-side rotate + per-(q, cell) lookup
    * tables and the cell-join ADC search over the loaded codes.
    * Results are bit-identical to q184 (same training on the same
    * corpus), so the same oracle replays it. */
  private val q193 = QuerySpec(
    "q193_ann_opq_frozen_serve",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (index, codes) = frozenIndexes.computeIfAbsent(dir, _ => {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-opq-frozen-")
        // model-sized artifact plus one code row per vector, but a
        // long-lived JVM (bench rounds, test suites) must not
        // accumulate them: sweep at exit
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          try {
            java.nio.file.Files.walk(tmp).sorted(
                java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
          } catch { case scala.util.control.NonFatal(_) => }))
        val trained = trainRot182ResidualTwoLevel(emb)
        graft.io.VectorIndexArtifacts.save(s, tmp.toString, trained)
        graft.io.ParquetSink(s"$tmp/codes").write(corpusCodes(s, trained, emb))
        (graft.io.VectorIndexArtifacts.load(s, tmp.toString),
          s.read.parquet(s"$tmp/codes"))
      })
      ProductQuant.search(index, codes, emb.filter(col("vec_id") <= 20),
          "vec_id", "embedding", dim = 64, k = 3, nProbe = 2,
          superProbe = 2)
        .orderBy(col("q_id"), col("rank"))
    },
    oracle = Some(
      twoLevelFrontSqlOver(rotatedQFrontSql) + residualTwoLevelTailSql),
    bench = true)

  /** q185: ORACLE-CHECKED rotated-domain drift alarm — q181's retrain
    * alarm composed with the OPQ rotation (the alarm a deployed
    * rotated index actually runs): baseline and appended batches both
    * ROTATE (fixed rot182; exact offset-floor integers), the +0.25
    * shift is applied in the RAW domain before rotation (as arriving
    * data would be), and the flat-cell residual norms, floor means,
    * and basis-point ratio replay in DuckDB bit for bit — including
    * the 10000-bp same-data calibration witness. */
  private val q185 = QuerySpec(
    "q185_opq_drift_alarm",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val index = ProductQuant.train(emb, "vec_id", "embedding", dim = 64,
        m = 2, k = 4, iters = 2, nCells = 8, cellIters = 2, superProbe = 0,
        rotation = Some(rot182))
      val shifted = emb.withColumn("embedding",
        transform(col("embedding"), x => x.cast("double") + lit(0.25)))
      def rep(appended: org.apache.spark.sql.DataFrame, name: String) =
        ProductQuant.driftReport(index, emb, appended, "vec_id",
            "embedding", dim = 64)
          .withColumn("scenario", lit(name))
      rep(emb, "same").unionByName(rep(shifted, "shifted"))
        .select(col("scenario"), col("n_base"), col("n_new"),
          col("base_msr"), col("new_msr"), col("drift_bp"), col("retrain"))
        .orderBy(col("scenario"))
    },
    oracle = Some(s"""
      WITH $rotatedQFrontSql,
      seeded AS (
        SELECT vec_id, v,
               CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 1000000 AS r
        FROM q),
      ${pqChainSql(2, 1, 64, 8)},
      bmin AS (
        SELECT vec_id, min(dist) AS n2 FROM dE_2 GROUP BY vec_id),
      svm AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round((CAST(x AS DOUBLE) + 0.25) * 1000000, 0)
                   AS BIGINT)) AS v
        FROM embeddings),
      ${rotatedCteSql("svm", "shifted")},
      dS AS (
        SELECT s.vec_id, c.cid,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (s.v[i] - c.v[i]) * (s.v[i] - c.v[i]))) AS BIGINT) AS dist
        FROM shifted s CROSS JOIN c2_2 c),
      smin AS (
        SELECT vec_id, min(dist) AS n2 FROM dS GROUP BY vec_id),
      b AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(n2) AS BIGINT) AS s
        FROM bmin),
      sh AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(n2) AS BIGINT) AS s
        FROM smin),
      rep AS (
        SELECT 'same' AS scenario, b.n AS n_base, b.n AS n_new,
               b.s // b.n AS base_msr, b.s // b.n AS new_msr
        FROM b
        UNION ALL
        SELECT 'shifted', b.n, sh.n, b.s // b.n, sh.s // sh.n
        FROM b, sh)
      SELECT scenario, n_base, n_new, base_msr, new_msr,
             CASE WHEN n_base > 0 AND n_new > 0 AND base_msr > 0
                  THEN (new_msr * 10000) // base_msr END AS drift_bp,
             coalesce((new_msr * 10000) // base_msr > 12500, false)
               AS retrain
      FROM rep
      ORDER BY scenario"""))

  val specs: Seq[QuerySpec] =
    Seq(q56, q57, q58, q59, q60, q61, q62, q63, q64, q65, q66, q67, q68,
      q69, q70, q71, q72, q73, q74, q75, q76, q137, q138, q139, q141, q142,
      q143, q168, q177, q178, q181, q182, q183, q184, q185, q193)
}
