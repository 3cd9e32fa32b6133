package graft.functions

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over the `embeddings` table (`embedding: array<float>`,
  * dim 64). Two paths, as a production corpus needs both:
  *
  *  - Brute-force cosine top-k: exact, O(Q·N) — correct baseline, fine when the
  *    query set is small and broadcastable (the query side here is 10 vectors).
  *  - Sign-LSH (random-hyperplane) bucketing: each vector gets a B-bit signature
  *    from B deterministic pseudo-hyperplanes; candidates = same bucket, then
  *    exact cosine re-rank. Sub-quadratic: at 100 TB the bucket join replaces
  *    the cross join, the same inverted-index shape as MinHash LSH.
  *
  * Determinism: all dot products fold float elements into double sequentially
  * (Spark `aggregate` over `zip_with` == DuckDB `list_sum` over `list_transform`,
  * both left-to-right), so scores are bit-identical to the oracle.
  */
object SimilarityQueries {

  private[functions] val TOPK = 3
  private[functions] val NQUERY = 10  // vec_id < 10 are the query vectors
  private val SIM_MIN = 0.45
  private val LSH_BITS = 8
  private val LSH_BANDS = 4      // banded sign-LSH for the pair join
  private val LSH_BAND_BITS = 4  // planes per band (16 planes total)

  private[functions] def emb(s: SparkSession, dir: String): DataFrame = Tables.dfSpread(s, dir, "embeddings")

  /** dot(a,b): the native codegen kernel [[graft.plans.FloatVectorDot]]
    * (registered by GraftExtensions). Same semantics as the previous
    * `aggregate(zip_with(...))` formulation — double casts, sequential
    * left-to-right fold, NULL on null element / length mismatch — but compiles
    * to a tight primitive loop inside whole-stage codegen instead of per-row
    * lambda dispatch. */
  private def dot(a: Column, b: Column): Column =
    call_function("graft_vec_dot", a, b)
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private def norm(a: Column): Column = sqrt(dot(a, a))
  private def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** Exact cosine top-k for a small query set against the whole corpus.
    * The query side broadcasts; the corpus is scanned once. */
  val annBruteForce: Q = Q(
    "ann_brute_force_topk",
    s"""WITH normed AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS sim
       |  FROM normed q JOIN normed c ON q.vec_id < $NQUERY AND c.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT q_id, n_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
       |  FROM scored
       |)
       |SELECT q_id, n_id, sim, rk FROM ranked WHERE rk <= $TOPK
       |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < NQUERY)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), norm(col("embedding")).as("qn"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("ce"), norm(col("embedding")).as("cn"))
    val sim = (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("sim")
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    broadcast(q).join(c, col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), sim)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TOPK)
      .orderBy("q_id", "rk")
  }

  /** All-pairs similarity join above a threshold. EXACT, deliberately O(n²):
    * this is the small-N verification oracle the approximate path
    * ([[annLshPairs]]) is recall-tested against (SimilaritySpec), never the
    * scale path — at 100 TB candidates come from the LSH bucket equi-join. */
  val annThresholdPairs: Q = Q(
    "ann_threshold_pairs",
    s"""WITH normed AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
       |)
       |SELECT id_a, id_b, sim FROM (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
       |  FROM normed a JOIN normed b ON a.vec_id < b.vec_id)
       |WHERE sim >= $SIM_MIN
       |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val e = emb(s, dir)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"), norm(col("embedding")).as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"), norm(col("embedding")).as("nb"))
    val sim = dot(col("ea"), col("eb")) / (col("na") * col("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), sim.as("sim"))
      .filter(col("sim") >= SIM_MIN)
      .orderBy("id_a", "id_b")
  }

  /** Deterministic ±1 hyperplanes: component j of plane p comes from bit
    * (j mod 60) of the portable md5-based hash of "p<p>:plane<j/60>". Computed
    * once here and injected as LITERALS into both the Spark plan and the oracle
    * SQL — the engines share the exact planes without per-row hashing. */
  private[functions] def plane(p: Int): IndexedSeq[Double] = {
    def h(seed: String, content: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$seed:$content".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    (0 until 64).map { j =>
      val word = h(s"p$p", s"plane${j / 60}")
      if (((word >> (j % 60)) & 1L) == 1L) 1.0 else -1.0
    }
  }

  /** LSH bucket id of `embedding`, as SQL text (oracle) and Column (Spark) —
    * shared by the histogram probe and the bucketed pair join so the two
    * engines always hash the same planes. */
  private def bucketSql: String = (0 until LSH_BITS).map { p =>
    val lst = plane(p).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    s"(CASE WHEN list_sum(list_transform(range(1, 65), j -> CAST(embedding[j] AS DOUBLE) * ($lst)[j])) > 0 THEN (1 << $p) ELSE 0 END)"
  }.mkString("\n         |  + ")

  private def bucketCol: Column = (0 until LSH_BITS).map { p =>
    val planeLit = array(plane(p).map(lit): _*)
    when(dot(col("embedding"), planeLit) > 0, lit(1 << p)).otherwise(lit(0))
  }.reduce(_ + _)

  /** Sign-LSH bucket signature: bit p = 1 iff dot(x, hyperplane_p) > 0.
    * Output: bucket histogram (the data layout an ANN index shuffles by —
    * candidates at query time are same-bucket rows only). */
  val annLshBuckets: Q = Q(
    "ann_lsh_buckets",
    s"""SELECT bucket, COUNT(*) AS n, MIN(vec_id) AS min_id
       |FROM (SELECT vec_id, $bucketSql AS bucket FROM embeddings)
       |GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
    emb(s, dir)
      .select(col("vec_id"), bucketCol.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_id"))
      .orderBy("bucket")
  }

  /** The scale path for threshold similarity: banded sign-LSH candidates, then
    * exact-cosine re-rank. Each vector gets LSH_BANDS band keys (LSH_BAND_BITS
    * planes each, planes indexed band*bits+j); candidates are pairs sharing at
    * least one (band_idx, band_key) — an equi self-join per band bucket, the
    * same sub-quadratic OR-of-ANDs shape as MinHash LSH banding. Approximate by
    * design (a pair agreeing on no band is unseen — recall is tested against
    * the exact [[annThresholdPairs]] in SimilaritySpec); the oracle applies the
    * identical band equi-join with the identical literal planes, so results
    * hash-match exactly. */
  /** Band key `band` of the banded sign-LSH scheme, as oracle SQL / Column —
    * shared with the embedding near-dup dedup path (DedupQueries). */
  private[functions] def bandSql(band: Int): String = (0 until LSH_BAND_BITS).map { j =>
    val lst = plane(band * LSH_BAND_BITS + j).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    s"(CASE WHEN list_sum(list_transform(range(1, 65), k -> CAST(embedding[k] AS DOUBLE) * ($lst)[k])) > 0 THEN (1 << $j) ELSE 0 END)"
  }.mkString(" + ")

  private[functions] def bandCol(band: Int): Column = (0 until LSH_BAND_BITS).map { j =>
    val planeLit = array(plane(band * LSH_BAND_BITS + j).map(lit): _*)
    when(dot(col("embedding"), planeLit) > 0, lit(1 << j)).otherwise(lit(0))
  }.reduce(_ + _)

  private[functions] def nBands: Int = LSH_BANDS
  private[functions] def dotCol(a: Column, b: Column): Column = dot(a, b)
  private[functions] def dotSqlText(a: String, b: String): String = dotSql(a, b)
  private[functions] def normSqlText(a: String): String = normSql(a)
  private[functions] def normCol(a: Column): Column = norm(a)

  val annLshPairs: Q = {
    val bandListSql = (0 until LSH_BANDS).map(bandSql).mkString("[", ",\n       |    ", "]")
    val idxListSql = (0 until LSH_BANDS).mkString("[", ",", "]")
    Q(
      "ann_lsh_pairs",
      s"""WITH normed AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
         |), bands AS (
         |  SELECT vec_id, embedding, nrm,
         |    unnest($idxListSql) AS band_idx,
         |    unnest($bandListSql) AS band_key
         |  FROM normed
         |)
         |SELECT id_a, id_b, sim FROM (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.vec_id < b.vec_id)
         |WHERE sim >= $SIM_MIN
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val bands = emb(s, dir)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"),
          posexplode(array((0 until LSH_BANDS).map(bandCol): _*)).as(Seq("band_idx", "band_key")))
      val a = bands.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
        col("nrm").as("na"), col("band_idx").as("ia"), col("band_key").as("ka"))
      val b = bands.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
        col("nrm").as("nb"), col("band_idx").as("ib"), col("band_key").as("kb"))
      val sim = dot(col("ea"), col("eb")) / (col("na") * col("nb"))
      a.join(b, col("ia") === col("ib") && col("ka") === col("kb") && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), sim.as("sim"))
        .distinct()
        .filter(col("sim") >= SIM_MIN)
        .orderBy("id_a", "id_b")
    }
  }

  /** Two-sided k-NN JOIN: every fifth vector is a query (a LARGE query side —
    * 20% of the store, NOT broadcastable by design), and each query retrieves
    * its top-k neighbours from LSH candidates only. This is the
    * retrieve-for-every-row shape a training pipeline runs (nearest corpus
    * docs per training doc, hard-negative mining, RAG pre-compute) where both
    * sides scale together, so neither the brute-force cross product nor a
    * broadcast query side survives — candidates MUST come from an equi-join.
    *
    * Shape: both sides explode to (band_idx, band_key) keys (banded sign-LSH,
    * same literal planes as [[annLshPairs]]); candidates are pairs agreeing on
    * ≥1 band (DISTINCT collapses multi-band agreement); exact cosine re-ranks
    * candidates per query via a window keyed by q_id — the candidate set is
    * already LSH-pruned, so the per-query partition is bucket-sized, not
    * corpus-sized. At 100 TB every stage is an equi-shuffle on bounded keys:
    * no cross join, no broadcast of anything data-sized. Recall vs the exact
    * top-k is measured in SimilaritySpec (approximate by design; the oracle
    * applies the identical candidate rule, so results hash-match exactly). */
  val annKnnJoin: Q = {
    val bandListSql = (0 until LSH_BANDS).map(bandSql).mkString("[", ",\n       |    ", "]")
    val idxListSql = (0 until LSH_BANDS).mkString("[", ",", "]")
    Q(
      "ann_knn_join",
      s"""WITH normed AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
         |), bands AS (
         |  SELECT vec_id, embedding, nrm,
         |    unnest($idxListSql) AS band_idx,
         |    unnest($bandListSql) AS band_key
         |  FROM normed
         |), cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS sim
         |  FROM bands q JOIN bands c
         |    ON q.band_idx = c.band_idx AND q.band_key = c.band_key
         |    AND q.vec_id % 5 = 0 AND c.vec_id <> q.vec_id
         |), ranked AS (
         |  SELECT q_id, n_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
         |  FROM cand
         |)
         |SELECT q_id, n_id, sim, rk FROM ranked WHERE rk <= $TOPK
         |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val bands = emb(s, dir)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"),
          posexplode(array((0 until LSH_BANDS).map(bandCol): _*)).as(Seq("band_idx", "band_key")))
      val q = bands.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("band_idx").as("iq"), col("band_key").as("kq"))
      val c = bands.select(col("vec_id").as("n_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("band_idx").as("ic"), col("band_key").as("kc"))
      val sim = dot(col("qe"), col("ce")) / (col("qn") * col("cn"))
      val wTop = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
      q.join(c, col("iq") === col("ic") && col("kq") === col("kc")
          && col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), sim.as("sim"))
        .distinct()
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= TOPK)
        .orderBy("q_id", "rk")
    }
  }

  private[functions] val IVF_NLIST = 8

  /** IVF (inverted-file) ANN: a coarse quantizer assigns every vector to its
    * nearest of NLIST centroids; a query only scans its own cell, then exact
    * cosine re-ranks — the classic `nlist/nprobe=1` trade. Centroids here are
    * the first NLIST corpus vectors (deterministic, training-free — at 100 TB
    * they come from k-means||; the PLUMBING, which is what this verifies —
    * broadcast centroids, map-side argmax assign, cell equi-join, in-cell
    * top-k — is identical regardless of how centroids were trained).
    * The centroid table is DATA, so both engines derive cells from the same
    * rows rather than injected literals. */
  val annIvfTopk: Q = Q(
    "ann_ivf_topk",
    s"""WITH cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, ${normSql("embedding")} AS cnrm
       |  FROM embeddings WHERE vec_id < $IVF_NLIST
       |), scored_cells AS (
       |  SELECT e.vec_id, e.embedding, ${normSql("e.embedding")} AS nrm, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dotSql("e.embedding", "c.cemb")} / (${normSql("e.embedding")} * c.cnrm) DESC, c.cent_id) AS rk
       |  FROM embeddings e CROSS JOIN cents c
       |), assigned AS (
       |  SELECT vec_id, embedding, nrm, cent_id FROM scored_cells WHERE rk = 1
       |), scored AS (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |    ${dotSql("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${dotSql("q.embedding", "n.embedding")} / (q.nrm * n.nrm) DESC, n.vec_id) AS rk
       |  FROM assigned q JOIN assigned n
       |    ON q.cent_id = n.cent_id AND n.vec_id <> q.vec_id AND q.vec_id < $NQUERY
       |)
       |SELECT q_id, n_id, sim, rk FROM scored WHERE rk <= $TOPK
       |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, dir)
    val cents = broadcast(e.filter(col("vec_id") < IVF_NLIST)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"),
        norm(col("embedding")).as("cnrm")))
    // argmax as a keyed max_by aggregation, NOT a window rank: partial
    // aggregation collapses the NLIST candidates per vector map-side, so the
    // assign shuffle carries N keyed rows instead of N×NLIST embedding-wide
    // rows (the window formulation shuffles the whole joined set — measured
    // as the dominant cost of every argmin at the 2M-vector store).
    // Tie-break matches the oracle's `ORDER BY sim DESC, cent_id`:
    // max of (sim, −cent_id) prefers the smallest cent_id on equal sim.
    val assigned = e.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .join(cents)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"),
        (dot(col("embedding"), col("cemb")) / (col("nrm") * col("cnrm"))).as("csim"))
      .groupBy("vec_id")
      .agg(max_by(col("cent_id"), struct(col("csim"), (-col("cent_id")).as("nc"))).as("cent_id"),
        first(col("embedding")).as("embedding"), first(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"))
    val q = assigned.filter(col("vec_id") < NQUERY)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"), col("cent_id").as("qc"))
    val n = assigned.select(col("vec_id").as("n_id"), col("embedding").as("ne"),
      col("nrm").as("nn"), col("cent_id").as("nc"))
    val sim = (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")
    val wTop = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    q.join(n, col("qc") === col("nc") && col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), sim)
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= TOPK)
      .orderBy("q_id", "rk")
  }

  // ---------------------------------------------------- IVF k-means training
  // Closes annIvfTopk's documented "centroids come from k-means|| at scale"
  // slot with actual distributed Lloyd training. Exactness trick: spherical
  // k-means on integer-quantized vectors. Cosine is scale-invariant, so the
  // centroid update needs NO division — the mean direction IS the element-wise
  // SUM of member vectors. Quantizing floats to 1e-6 integers (floor(x·1e6 +
  // 0.5), exact in both engines) makes every update an integer sum — exact in
  // ANY aggregation order — so Spark's parallel partial aggregation and
  // DuckDB's sequential scan produce bit-identical centroids, and identical
  // cosine scores (same operands, same fold order). Each Lloyd round is one
  // broadcast-assign (map-side, NLIST×N tiny cross) + one keyed agg shuffle;
  // rounds are O(1) scans — the standard distributed k-means plan.

  private[functions] val KM_ITERS = 2
  private[functions] val DIM = 64

  /** One Lloyd assign step over integer-quantized vectors: keyed max_by argmax
    * (not a window — partial aggregation collapses the NLIST candidates
    * map-side, so N keyed rows shuffle, not N×NLIST vector-wide rows).
    * Tie-break (sim DESC, cent_id ASC) via max of (sim, −cent_id). Shared by
    * the gated [[annIvfKmeans]] and the persisted-index build/probe paths
    * ([[AnnIndex]]) so training and probing are the same code. */
  private[functions] def kmeansAssign(quant: DataFrame, cents: DataFrame): DataFrame = {
    // norms HOISTED out of the pair loop: |q| once per vector, |c| once per
    // centroid, instead of inside every (vector, centroid) cosine. The
    // arithmetic is bit-identical to cosL's (same dotL, same sqrt, same
    // multiply), so assignments — and the gated k-means oracle hashes — are
    // unchanged; only the per-pair work drops from 3 dot products to 1.
    //
    // SINGLE-PASS packed argmax, not max_by and not a two-pass rejoin: a
    // struct-ordered max_by has an immutable aggregation buffer, which drops
    // the whole agg to SortAggregateExec — at the scaled index's √N
    // centroids that SORTED the N×nlist joined stream (~2.8B rows, ~60 GB
    // spill at the 2M store; the measured ENOSPC). The earlier two-pass
    // MAX-then-rejoin fix kept the hash agg but broadcast an O(N)-row
    // per-vector max table (a driver-memory cliff past ~100M vectors) and
    // re-evaluated the N×nlist scored stream a second time. This form does
    // neither: [[graft.plans.DoubleOrderBits]] maps csim to order-preserving
    // long bits (BIT-EXACT — every comparison outcome identical to comparing
    // the doubles, so assignments and the gated k-means oracle hashes are
    // unchanged), and (bits, −cent_id) packs into one DECIMAL(31,0) whose
    // plain MAX is a codegen'd hash aggregate with map-side partials —
    // max bits ≡ max csim, ties → max (2³²−1−cent_id) ≡ min cent_id, the
    // exact (csim DESC, cent_id ASC) order max_by enforced. The scored
    // stream is evaluated ONCE; N skinny keyed rows shuffle; nothing sorts
    // and nothing data-sized broadcasts.
    val q = quant.withColumn("qn", sqrt(dotL(col("qe"), col("qe")).cast("double")))
    val c = cents.withColumn("cn", sqrt(dotL(col("cemb"), col("cemb")).cast("double")))
    val csim = dotL(col("qe"), col("cemb")).cast("double") / (col("qn") * col("cn"))
    val bits = call_function("graft_dbits", csim).cast(DecimalType(19, 0))
    val shift = lit(new java.math.BigDecimal(4294967296L)).cast(DecimalType(10, 0))
    val idMax = lit(new java.math.BigDecimal(4294967295L)).cast(DecimalType(10, 0))
    val win = q.join(broadcast(c))
      .select(col("vec_id"),
        (bits * shift + (idMax - col("cent_id").cast(DecimalType(10, 0)))).as("packed"))
      .groupBy("vec_id")
      .agg(max(col("packed")).as("p"))
      .select(col("vec_id"),
        (lit(4294967295L) - pmod(col("p"), lit(4294967296L))).cast("long").as("cent_id"))
    quant.join(win, "vec_id").select(col("vec_id"), col("qe"), col("cent_id"))
  }

  /** Lloyd update: exact integer mean per cell (`SUM div COUNT`, identical
    * floor in Spark and DuckDB) — keeps centroid components at quantization
    * magnitude so the i64 dot product never overflows at any cluster size. */
  private[functions] def kmeansUpdate(assigned: DataFrame): DataFrame = {
    val sums = assigned.groupBy("cent_id").agg(
      count(lit(1)).as("n_m"),
      (1 to DIM).map(i => sum(element_at(col("qe"), i)).as(s"s$i")): _*)
    sums.select(col("cent_id"),
      array((1 to DIM).map(i => expr(s"s$i div n_m")): _*).as("cemb"))
  }

  /** KM_ITERS rounds of spherical Lloyd from the deterministic seed (first
    * NLIST corpus vectors). Returns the trained centroid table (cent_id,
    * cemb) — tiny, broadcastable, persistable. */
  private[functions] def kmeansTrain(quant: DataFrame): DataFrame = {
    var cents = quant.filter(col("vec_id") < IVF_NLIST)
      .select(col("vec_id").as("cent_id"), col("qe").as("cemb"))
    (1 to KM_ITERS).foreach(_ => cents = kmeansUpdate(kmeansAssign(quant, cents)))
    cents
  }

  // the float widens to double BEFORE scaling in both engines — float×int
  // multiplication would round in float precision and drift the quantization
  private[functions] def quantize(e: Column): Column =
    transform(e, x => floor(x.cast("double") * 1000000 + lit(0.5)).cast("long"))
  private[functions] def quantizeSql(e: String): String =
    s"[CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) for x in $e]"

  /** integer dot over quantized longs: the codegen'd [[graft.plans.
    * LongVectorDot]] kernel (registered by GraftExtensions). Same observable
    * semantics as the previous `aggregate(zip_with(...))` formulation —
    * integer sums are order-independent, 64-bit wrap and NULL/length rules
    * identical — but a tight primitive loop inside whole-stage codegen; the
    * lambda version was the measured wall of the 2M×√N k-means assignment
    * (~2.8B dot products per scaled-index build pass). */
  private[functions] def dotL(a: Column, b: Column): Column =
    call_function("graft_vec_dotl", a, b)
  private[functions] def dotLSql(a: String, b: String): String =
    s"CAST(list_sum([$a[i] * $b[i] for i in range(1, ${DIM + 1})]) AS BIGINT)"

  private[functions] def cosL(a: Column, b: Column): Column =
    dotL(a, b).cast("double") /
      (sqrt(dotL(a, a).cast("double")) * sqrt(dotL(b, b).cast("double")))
  private[functions] def cosLSql(a: String, b: String): String =
    s"(CAST(${dotLSql(a, b)} AS DOUBLE) / (sqrt(CAST(${dotLSql(a, a)} AS DOUBLE)) * sqrt(CAST(${dotLSql(b, b)} AS DOUBLE))))"

  val annIvfKmeans: Q = {
    // oracle: unrolled Lloyd rounds as CTE pairs a{t} (assign) / c{t} (update).
    // The update is the exact integer MEAN (sum div count, identical floor in
    // both engines — same discipline as emb_class_centroids): cosine is
    // scale-invariant so the mean direction equals the sum direction, but the
    // mean keeps components at quantization magnitude (~1e6) — raw sums grow
    // with cluster size and overflow the i64 dot product once clusters reach
    // ~1M members (hit at the 1000× corpus; means are scale-proof).
    val sumList = (1 to DIM).map(i => s"CAST(SUM(qe[$i]) AS BIGINT) // COUNT(*)")
      .mkString("[", ", ", "]")
    def assignCte(t: Int, cents: String) =
      s"""a$t AS (
         |  SELECT vec_id, qe, cent_id FROM (
         |    SELECT q.vec_id, q.qe, c.cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosLSql("q.qe", "c.cemb")} DESC, c.cent_id) AS rk
         |    FROM quant q CROSS JOIN $cents c) WHERE rk = 1)""".stripMargin
    val rounds = (1 to KM_ITERS).map { t =>
      s"""${assignCte(t, s"c${t - 1}")},
         |c$t AS (SELECT cent_id, $sumList AS cemb FROM a$t GROUP BY cent_id)""".stripMargin
    }.mkString(",\n")
    Q(
      "ann_ivf_kmeans_topk",
      s"""WITH quant AS (
         |  SELECT vec_id, ${quantizeSql("embedding")} AS qe FROM embeddings
         |), c0 AS (
         |  SELECT vec_id AS cent_id, qe AS cemb FROM quant WHERE vec_id < $IVF_NLIST
         |),
         |$rounds,
         |${assignCte(KM_ITERS + 1, s"c$KM_ITERS")}
         |SELECT q_id, n_id, sim, rk FROM (
         |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |    ${cosLSql("q.qe", "n.qe")} AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosLSql("q.qe", "n.qe")} DESC, n.vec_id) AS rk
         |  FROM a${KM_ITERS + 1} q JOIN a${KM_ITERS + 1} n
         |    ON q.cent_id = n.cent_id AND n.vec_id <> q.vec_id AND q.vec_id < $NQUERY)
         |WHERE rk <= $TOPK
         |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
      val quant = emb(s, dir).select(col("vec_id"), quantize(col("embedding")).as("qe"))
      val fin = kmeansAssign(quant, kmeansTrain(quant))

      val q = fin.filter(col("vec_id") < NQUERY)
        .select(col("vec_id").as("q_id"), col("qe").as("qq"), col("cent_id").as("qc"))
      val n = fin.select(col("vec_id").as("n_id"), col("qe").as("nq"), col("cent_id").as("nc"))
      val wTop = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
      q.join(n, col("qc") === col("nc") && col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), cosL(col("qq"), col("nq")).as("sim"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= TOPK)
        .orderBy("q_id", "rk")
    }
  }

  /** Class prototypes over the labeled embeddings: per-label centroid (exact
    * integer mean — SUM of quantized vectors `div` member count, so both
    * engines floor identically and the later dot products stay inside i64)
    * plus class compactness as MIN/MAX member-to-centroid cosine (min/max
    * are aggregation-order-independent, unlike a float mean). One keyed agg
    * + a broadcast of the label-count-sized centroid table — linear scale. */
  val embClassCentroids: Q = {
    val meanList = (1 to DIM)
      .map(i => s"CAST(SUM(qe[$i]) AS BIGINT) // COUNT(*)").mkString("[", ", ", "]")
    Q(
      "emb_class_centroids",
      s"""WITH quant AS (
         |  SELECT vec_id, label, ${quantizeSql("embedding")} AS qe FROM embeddings
         |), cent AS (
         |  SELECT label, COUNT(*) AS n_members, $meanList AS cemb
         |  FROM quant GROUP BY label
         |)
         |SELECT q.label, c.n_members,
         |  MIN(${cosLSql("q.qe", "c.cemb")}) AS min_cos,
         |  MAX(${cosLSql("q.qe", "c.cemb")}) AS max_cos
         |FROM quant q JOIN cent c ON q.label = c.label
         |GROUP BY q.label, c.n_members
         |ORDER BY q.label""".stripMargin) { (s, dir) =>
      val quant = emb(s, dir)
        .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qe"))
      val cent = quant.groupBy("label")
        .agg(count(lit(1)).as("n_members"),
          (1 to DIM).map(i => sum(element_at(col("qe"), i)).as(s"c$i")): _*)
        .select(col("label"), col("n_members"),
          array((1 to DIM).map(i => expr(s"c$i div n_members")): _*).as("cemb"))
      quant.join(broadcast(cent), "label")
        .groupBy(col("label"), col("n_members"))
        .agg(min(cosL(col("qe"), col("cemb"))).as("min_cos"),
          max(cosL(col("qe"), col("cemb"))).as("max_cos"))
        .orderBy("label")
    }
  }

  /** Embedding QC: per-label min/max/zero-count of the exact integer squared
    * norm (quantized dot with itself) — catches the broken rows every
    * embedding ingest eventually produces (all-zero vectors from failed
    * encodes, magnitude outliers from bad normalization). Map-only + one
    * keyed agg with order-independent MIN/MAX/COUNT — exact and linear. */
  val embNormQc: Q = Q(
    "emb_norm_qc",
    s"""SELECT label, COUNT(*) AS n,
       |  MIN(n2) AS min_norm2, MAX(n2) AS max_norm2,
       |  COUNT(*) FILTER (WHERE n2 = 0) AS n_zero
       |FROM (SELECT label, ${dotLSql("qe", "qe")} AS n2
       |      FROM (SELECT label, ${quantizeSql("embedding")} AS qe FROM embeddings))
       |GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
    emb(s, dir)
      .select(col("label"), quantize(col("embedding")).as("qe"))
      .select(col("label"), dotL(col("qe"), col("qe")).as("n2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), min("n2").as("min_norm2"), max("n2").as("max_norm2"),
        count(when(col("n2") === 0, 1)).as("n_zero"))
      .orderBy("label")
  }

  // ---------------------------------------------------------------- PQ / ADC
  // Product quantization (Jégou et al. 2011, "Product Quantization for
  // Nearest Neighbor Search") — THE standard 100 TB embedding-search
  // compression: split each vector into M subspaces, quantize each sub-vector
  // to a tiny per-subspace codebook (M and K below), then answer queries with
  // ASYMMETRIC distance (full-precision query sub-vector vs the code's
  // reconstruction) summed across subspaces. Exactness: the same 1e-6
  // integer quantization as the k-means path makes every sub-distance an i64
  // sum ((~2e6)²×16 ≈ 6·10¹³ per subspace — inside i64), so encode and ADC
  // are bit-identical in both engines. Codebooks are training-free
  // deterministic (sub-vectors of the first K corpus vectors — the
  // ann_ivf_kmeans Lloyd machinery is the documented upgrade path).
  // Scale plan: codebooks BROADCAST (M×K tiny rows), encoding is one
  // broadcast join + per-(vector, subspace) argmin — map-side; ADC joins
  // codes back to the broadcast codebook and sums M rows per (query,
  // candidate) pair — one keyed agg. No all-pairs float work anywhere.
  // M=16 × 4-dim subspaces (d/m = 4, the standard FAISS split for D=64).
  // The earlier M=4 × 16-dim split compressed harder (4 bytes/vector) but
  // its per-subspace quantization error swamped the ~0.03-0.1 d² gaps
  // between a query's genuine near-duplicates at the 2M store: pure-ADC
  // recall@3 measured 0.33 on a tie-free corpus. At M=16 each subspace is
  // 4-dimensional with 256 codes — fine enough to rank true neighbors —
  // and codes still compress 64 floats to 16 bytes (16×).
  private[functions] val PQ_M = 16        // subspaces
  private[functions] val PQ_SUB = DIM / PQ_M
  // 256 codes per subspace = the standard 1-BYTE subquantizer (Jégou 2011
  // §II uses k* = 256 exactly so codes pack into bytes). The earlier toy
  // k* = 8 (3 bits) left a total code space of 8^4 = 4096 — at the 2M-vector
  // corpus ~500 vectors share every code, ADC ranking drowns in ties and
  // recall@3 measured 0.000 even with a 100-wide exact re-rank shortlist.
  // 256^4 ≈ 4.3B code points keeps codes near-unique at any realistic cell
  // population; the codebook stays broadcast-sized (PQ_M × 256 subvectors).
  private[functions] val PQ_K = 256       // codes per subspace (1 byte)

  /** integer L2² via the codegen'd dot kernel: Σ(x−y)² = a·a − 2a·b + b·b
    * holds EXACTLY in 64-bit integer arithmetic (no rounding, wrap-free at
    * the quantization magnitudes), so results are bit-identical to the
    * direct fold while the 4-dim sub-distance of the N×M×K PQ encode runs
    * inside whole-stage codegen instead of an interpreted per-pair lambda. */
  private[functions] def l2L(a: Column, b: Column): Column =
    dotL(a, a) - lit(2L) * dotL(a, b) + dotL(b, b)
  private[functions] def l2LSql(a: String, b: String): String =
    s"CAST(list_sum([($a[i] - $b[i]) * ($a[i] - $b[i]) for i in range(1, ${PQ_SUB + 1})]) AS BIGINT)"

  val embPqAdc: Q = Q(
    "emb_pq_adc_topk",
    s"""WITH quant AS (
       |  SELECT vec_id, ${quantizeSql("embedding")} AS qe FROM embeddings
       |), subs AS (
       |  SELECT vec_id, m.m AS m, qe[(m.m * $PQ_SUB + 1):((m.m + 1) * $PQ_SUB)] AS sq
       |  FROM quant, (SELECT unnest(range(0, $PQ_M)) AS m) m
       |), cb AS (
       |  SELECT m, vec_id AS cent_id, sq AS cq FROM subs WHERE vec_id < $PQ_K
       |), enc AS (
       |  SELECT vec_id, m, cent_id AS code FROM (
       |    SELECT s.vec_id, s.m, c.cent_id,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${l2LSql("s.sq", "c.cq")}, c.cent_id) AS rk
       |    FROM subs s JOIN cb c ON c.m = s.m) WHERE rk = 1
       |), adc AS (
       |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
       |    SUM(${l2LSql("q.sq", "c.cq")}) AS dist
       |  FROM subs q
       |  JOIN enc e ON e.vec_id <> q.vec_id AND e.m = q.m
       |  JOIN cb c ON c.m = e.m AND c.cent_id = e.code
       |  WHERE q.vec_id < $NQUERY
       |  GROUP BY q.vec_id, e.vec_id)
       |SELECT q_id, n_id, dist, rk FROM (
       |  SELECT q_id, n_id, dist,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, n_id) AS rk
       |  FROM adc) WHERE rk <= $TOPK
       |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
    val quant = emb(s, dir).select(col("vec_id"), quantize(col("embedding")).as("qe"))
    val subs = quant
      .select(col("vec_id"), explode(sequence(lit(0), lit(PQ_M - 1))).as("m"), col("qe"))
      .select(col("vec_id"), col("m"),
        slice(col("qe"), col("m") * PQ_SUB + 1, lit(PQ_SUB)).as("sq"))
    val cb = broadcast(subs.filter(col("vec_id") < PQ_K)
      .select(col("m").as("cm"), col("vec_id").as("cent_id"), col("sq").as("cq")))
    // keyed PACKED-LONG argmin (not a window, not a struct min_by): the
    // joined set is N×M×K rows — a window would shuffle all of them, and a
    // struct-ordered min_by has an immutable buffer that drops the agg to
    // SortAggregateExec, which SORTS the full joined stream (measured: the
    // M=16 encode spilled >60 GB and hit ENOSPC at the 2M store). Packing
    // (d, cent_id) into one long — d·256 + cent_id, exact because cent_id
    // < 256 and d ≤ M·(2·2.4e6)² ≪ 2⁶³/256 — makes the argmin a plain
    // MIN(long): primitive buffer, codegen'd hash agg, map-side partials.
    // Lexicographic (d, cent_id) order ≡ packed numeric order, so codes are
    // bit-identical to the struct formulation (and the DuckDB twin).
    // ADC scoring via the codegen'd LUT kernel ([[graft.plans.AdcLookupSum]]):
    // corpus codes pack into ONE array row per vector (M primitive
    // min-aggregates over the same packed-long argmin — still a codegen hash
    // agg, and the shuffle carries N rows instead of N×M), the query's M×K
    // distance table is built once per query from query-side rows only, and
    // each candidate costs one expression eval — no per-subspace join
    // against the codebook and NO scoring aggregate over candidates×M rows
    // (that aggregate was the measured wall of the 2M pure-ADC probe:
    // 83.5 s vs the 4.2 s exact scan it exists to undercut). Integer sums
    // are order-independent, so `dist` is bit-identical to the per-subspace
    // SUM the DuckDB oracle still computes.
    val enc = subs.join(cb, col("cm") === col("m"))
      .select(col("vec_id"), col("m"),
        (l2L(col("sq"), col("cq")) * lit(256L) + col("cent_id")).as("packed"))
      .groupBy("vec_id")
      .agg(array((0 until PQ_M).map(m =>
        min(when(col("m") === m, col("packed"))) % 256): _*).as("codes"))
      .withColumnRenamed("vec_id", "n_id")
    val qlut = subs.filter(col("vec_id") < NQUERY)
      .join(cb, col("cm") === col("m"))
      .select(col("vec_id").as("q_id"),
        (col("m") * PQ_K + col("cent_id")).as("idx"),
        l2L(col("sq"), col("cq")).as("d"))
      .groupBy("q_id")
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("d")))),
        x => x.getField("d")).as("lut"))
    val wTop = Window.partitionBy("q_id").orderBy(col("dist"), col("n_id"))
    broadcast(qlut).join(enc, col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        call_function("graft_adc_sum", col("codes"), col("lut")).as("dist"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= TOPK)
      .select("q_id", "n_id", "dist", "rk")
      .orderBy("q_id", "rk")
  }

  // ------------------------------------------------------------------ IVF+PQ
  // The full FAISS-style IVFPQ index (Jégou 2011 §IV): a coarse quantizer
  // routes each vector to one of NLIST cells, PQ encodes the RESIDUAL
  // (vector − cell centroid), and a query probes its NPROBE nearest cells,
  // scoring candidates by ADC on the query's per-cell residual. This is the
  // memory-budget design for 100 TB embedding search: the corpus lives as
  // (cell id + M code bytes) per vector; only centroids and codebooks (tiny,
  // broadcast) are float-scale state. All arithmetic inherits the 1e-6
  // integer quantization: residuals are i64 element-wise differences, every
  // distance an i64 sum — bit-identical across engines and aggregation
  // orders. Shape: two broadcast argmins (assign, encode) + one keyed ADC
  // aggregate — no all-pairs work, no float accumulation.
  private[functions] val IVFPQ_NPROBE = 2

  private[functions] def l2FullSql(a: String, b: String): String =
    s"CAST(list_sum([($a[i] - $b[i]) * ($a[i] - $b[i]) for i in range(1, ${DIM + 1})]) AS BIGINT)"
  private[functions] def l2Full(a: Column, b: Column): Column =
    dotL(a, a) - lit(2L) * dotL(a, b) + dotL(b, b) // same exact-integer identity as l2L

  val annIvfPq: Q = Q(
    "ann_ivfpq_topk",
    s"""WITH quant AS (
       |  SELECT vec_id, ${quantizeSql("embedding")} AS qe FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cell_id, qe AS cemb FROM quant WHERE vec_id < $IVF_NLIST
       |), asg AS (
       |  SELECT q.vec_id, c.cell_id, c.cemb,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${l2FullSql("q.qe", "c.cemb")}, c.cell_id) AS crk
       |  FROM quant q CROSS JOIN cents c
       |), assigned AS (
       |  SELECT a.vec_id, a.cell_id,
       |    [q.qe[i] - a.cemb[i] for i in range(1, ${DIM + 1})] AS r
       |  FROM asg a JOIN quant q ON q.vec_id = a.vec_id WHERE a.crk = 1
       |), rsubs AS (
       |  SELECT vec_id, cell_id, m.m AS m,
       |    r[(m.m * $PQ_SUB + 1):((m.m + 1) * $PQ_SUB)] AS sq
       |  FROM assigned, (SELECT unnest(range(0, $PQ_M)) AS m) m
       |), cb AS (
       |  SELECT m, vec_id AS cent_id, sq AS cq FROM rsubs WHERE vec_id < $PQ_K
       |), enc AS (
       |  SELECT vec_id, cell_id, m, cent_id AS code FROM (
       |    SELECT s.vec_id, s.cell_id, s.m, c.cent_id,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${l2LSql("s.sq", "c.cq")}, c.cent_id) AS rk
       |    FROM rsubs s JOIN cb c ON c.m = s.m) WHERE rk = 1
       |), qprobe AS (
       |  SELECT a.vec_id AS q_id, a.cell_id,
       |    [q.qe[i] - a.cemb[i] for i in range(1, ${DIM + 1})] AS qr
       |  FROM asg a JOIN quant q ON q.vec_id = a.vec_id
       |  WHERE a.crk <= $IVFPQ_NPROBE AND a.vec_id < $NQUERY
       |), qsubs AS (
       |  SELECT q_id, cell_id, m.m AS m,
       |    qr[(m.m * $PQ_SUB + 1):((m.m + 1) * $PQ_SUB)] AS sq
       |  FROM qprobe, (SELECT unnest(range(0, $PQ_M)) AS m) m
       |), adc AS (
       |  SELECT q.q_id, e.vec_id AS n_id, SUM(${l2LSql("q.sq", "c.cq")}) AS dist
       |  FROM qsubs q
       |  JOIN enc e ON e.cell_id = q.cell_id AND e.m = q.m AND e.vec_id <> q.q_id
       |  JOIN cb c ON c.m = e.m AND c.cent_id = e.code
       |  GROUP BY q.q_id, e.vec_id)
       |SELECT q_id, n_id, dist, rk FROM (
       |  SELECT q_id, n_id, dist,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, n_id) AS rk
       |  FROM adc) WHERE rk <= $TOPK
       |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
    ivfPqAdcRanked(s, dir)
  }

  /** IVFPQ corpus-side state from the quantized store: trained-free coarse
    * centroids, the residual PQ codebook, and the encoded corpus
    * (n_id, ncell, codes[M]). Shared by the inline [[ivfPqAdcRanked]] and the
    * persisted-index build ([[AnnIndex.buildIvfPq]]) so the stored codes are
    * the exact rows the inline query derives. */
  private[functions] def ivfPqCorpusState(quant: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val cents = broadcast(quant.filter(col("vec_id") < IVF_NLIST)
      .select(col("vec_id").as("cell_id"), col("qe").as("cemb")))
    // corpus cell assignment: PACKED-LONG argmin (d·256 + cell_id — exact
    // for NLIST < 256 and integer d ≤ 64·(2·2.4e6)² ≪ 2⁶³/256), then the
    // winning centroid re-joined from the broadcast table for the residual.
    // A struct-payload min_by here (carrying cemb through the buffer) drops
    // the agg to SortAggregateExec and sorts the N×NLIST joined stream with
    // 1 KB rows; the packed form is a primitive-buffer hash agg with
    // map-side partials — N skinny keyed rows shuffle, nothing sorts.
    val bestCell = quant.join(cents)
      .select(col("vec_id"),
        (l2Full(col("qe"), col("cemb")) * lit(256L) + col("cell_id")).as("packed"))
      .groupBy("vec_id")
      .agg(min(col("packed")).as("p"))
      .select(col("vec_id"), (col("p") % 256).as("cell_id"))
    val assigned = quant.join(bestCell, "vec_id").join(cents, "cell_id")
      .select(col("vec_id"), col("cell_id"),
        zip_with(col("qe"), col("cemb"), (x, y) => x - y).as("r"))
    val rsubs = assigned
      .select(col("vec_id"), col("cell_id"),
        explode(sequence(lit(0), lit(PQ_M - 1))).as("m"), col("r"))
      .select(col("vec_id"), col("cell_id"), col("m"),
        slice(col("r"), col("m") * PQ_SUB + 1, lit(PQ_SUB)).as("sq"))
    val cb = broadcast(rsubs.filter(col("vec_id") < PQ_K)
      .select(col("m").as("cm"), col("vec_id").as("cent_id"), col("sq").as("cq")))
    // residual PQ encode: same PACKED-LONG argmin as emb_pq_adc (struct
    // min_by = immutable buffer = SortAggregateExec, which sorts the full
    // N×M×K joined stream — the measured >60 GB ENOSPC at M=16 on the 2M
    // store). Residual sub-distances fit the same d·256 + cent_id packing.
    // Codes land as ONE array row per vector (M primitive min-aggregates in
    // a single codegen hash agg): the stored index is N rows of M codes —
    // the FAISS code-table layout — and the ADC probe consumes it directly
    // with the [[graft.plans.AdcLookupSum]] kernel, no per-subspace rows.
    val enc = rsubs.join(cb, col("cm") === col("m"))
      .select(col("vec_id"), col("cell_id"), col("m"),
        (l2L(col("sq"), col("cq")) * lit(256L) + col("cent_id")).as("packed"))
      .groupBy("vec_id", "cell_id")
      .agg(array((0 until PQ_M).map(m =>
        min(when(col("m") === m, col("packed"))) % 256): _*).as("codes"))
      .select(col("vec_id").as("n_id"), col("cell_id").as("ncell"), col("codes"))
    (cents, cb, enc)
  }

  /** The ADC probe side against an already-encoded corpus — query cell
    * ranking, residual sub-vectors, in-cell ADC scoring, top-k. Shared by the
    * inline path and the persisted-index probe ([[AnnIndex.probeIvfPq]]). */
  private[functions] def ivfPqProbe(quant: DataFrame, cents: DataFrame,
      cb: DataFrame, enc: DataFrame, topK: Int): DataFrame = {
    val resid = zip_with(col("qe"), col("cemb"), (x, y) => x - y)
    // query probes: only the NQUERY query vectors rank ALL cells (they need
    // the top-NPROBE, not the argmin) — the window is fine at 10×NLIST rows
    val wCell = Window.partitionBy("vec_id")
      .orderBy(l2Full(col("qe"), col("cemb")), col("cell_id"))
    val qsubs = quant.filter(col("vec_id") < NQUERY).crossJoin(cents)
      .withColumn("crk", row_number().over(wCell))
      .filter(col("crk") <= IVFPQ_NPROBE)
      .select(col("vec_id").as("q_id"), col("cell_id").as("qcell"), resid.as("qr"))
      .select(col("q_id"), col("qcell"),
        explode(sequence(lit(0), lit(PQ_M - 1))).as("qm"), col("qr"))
      .select(col("q_id"), col("qcell"), col("qm"),
        slice(col("qr"), col("qm") * PQ_SUB + 1, lit(PQ_SUB)).as("qsq"))
    // per-(query, probed-cell) ADC table — M×K rows per probe, query-side
    // only — then one codegen'd AdcLookupSum eval per candidate code row.
    // Each corpus vector lives in exactly one cell, so the equi-join on the
    // probed cell never duplicates a candidate; integer sums make `dist`
    // bit-identical to the per-subspace SUM the DuckDB oracle computes.
    val qlut = qsubs.join(cb, col("cm") === col("qm"))
      .select(col("q_id"), col("qcell"),
        (col("qm") * PQ_K + col("cent_id")).as("idx"),
        l2L(col("qsq"), col("cq")).as("d"))
      .groupBy("q_id", "qcell")
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("d")))),
        x => x.getField("d")).as("lut"))
    val wTop = Window.partitionBy("q_id").orderBy(col("dist"), col("n_id"))
    broadcast(qlut)
      .join(enc, col("ncell") === col("qcell") && col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        call_function("graft_adc_sum", col("codes"), col("lut")).as("dist"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= topK)
      .select("q_id", "n_id", "dist", "rk")
      .orderBy("q_id", "rk")
  }

  /** The inline IVFPQ ADC ranking cut at [[TOPK]]. A wider shortlist
    * re-ranked exactly on the raw vectors recovers recall once pure-ADC
    * precision (M code bytes) saturates at large N; that two-stage variant
    * was measured as `ann_ivfpq_rerank_topk` in
    * bench_evidence/BENCH_r12_ann_2m.json. */
  private[graft] def ivfPqAdcRanked(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val quant = emb(s, dir).select(col("vec_id"), quantize(col("embedding")).as("qe"))
    val (cents, cb, enc) = ivfPqCorpusState(quant)
    ivfPqProbe(quant, cents, cb, enc, TOPK)
  }

  // ---------------------------------------------------------- scalar int8
  // Scalar quantization (the FAISS SQ8 / "int8 embedding" path): each of the
  // 64 dims gets a per-dimension clipped range over the corpus; values are
  // encoded to an 8-bit level index code = (v − lo)·255 ∕ span (clamped to
  // [0, 255]) and reconstructed as lo + code·span ∕ 255. A 64-float vector
  // becomes 64 bytes (4× smaller than float32) with ONE code table of 2×64
  // longs — the lightest-weight compression tier below PQ/IVFPQ. Queries
  // score asymmetrically: exact query values against reconstructed corpus
  // values (Jégou 2011 §III's ADC argument applies unchanged).
  // The range is the exact per-dim [0.5%, 99.5%] quantile band, NOT min/max:
  // at 2M vectors the raw min/max ranges widen with every tail draw and the
  // 255 levels coarsen where the mass sits — measured recall fell to 0.27
  // (BENCH_r9_ann_2m_prefix). Quantile clipping keeps the grid matched to
  // the bulk of the distribution at any corpus size; values outside the band
  // saturate at code 0/255 (the standard "trained" SQ range). Quantiles are
  // EXACT and engine-portable: per-(dim, value) counts, a cumulative sum in
  // value order, then the smallest value whose cumulative count reaches rank
  // 1 + ⌊(n−1)·q⌋ — pure integer arithmetic, no engine-specific
  // interpolation, identical in Spark and DuckDB.
  // Scale plan: the quantile pass is a posexplode + (dim, value) keyed agg —
  // map-side combinable, output bounded by 64 × distinct grid values — then
  // a 64-partition cumulative window over those compact counts; the 1-row
  // range table broadcasts; encode/reconstruct are map-only zip_with
  // projections; scoring is a broadcast(query)×corpus scan + one top-k
  // window per query. No all-pairs float work, no wide shuffle.
  // Everything runs on the shared 1e-6 integer quantization grid, and both
  // the encode and reconstruct divisions keep non-negative operands (the
  // clamp precedes the division), so integer `div` / `//` floor identically
  // across engines.
  private[functions] val SQ_LEVELS = 255
  private[functions] val SQ_CLIP_PM = 5 // per-mille clipped off each tail (q0.005/q0.995)

  val embSq8: Q = Q(
    "emb_sq8_topk",
    s"""WITH quant AS (
       |  SELECT vec_id, ${quantizeSql("embedding")} AS qe FROM embeddings
       |), vcnt AS (
       |  SELECT m.d AS d, qe[m.d] AS v, COUNT(*) AS c
       |  FROM quant, (SELECT unnest(range(1, ${DIM + 1})) AS d) m GROUP BY m.d, qe[m.d]
       |), cum AS (
       |  SELECT d, v, SUM(c) OVER (PARTITION BY d ORDER BY v) AS cm,
       |    SUM(c) OVER (PARTITION BY d) AS n
       |  FROM vcnt
       |), clip AS (
       |  SELECT d,
       |    MIN(CASE WHEN cm >= ((n - 1) * $SQ_CLIP_PM) // 1000 + 1 THEN v END) AS mn,
       |    MIN(CASE WHEN cm >= ((n - 1) * ${1000 - SQ_CLIP_PM}) // 1000 + 1 THEN v END) AS mx
       |  FROM cum GROUP BY d
       |), rng AS (
       |  SELECT list(mn ORDER BY d) AS mn, list(mx - mn ORDER BY d) AS sp FROM clip
       |), enc AS (
       |  SELECT vec_id,
       |    [mn[i] + (least((greatest(qe[i] - mn[i], 0) * $SQ_LEVELS) // greatest(sp[i], 1),
       |                    $SQ_LEVELS) * sp[i]) // $SQ_LEVELS
       |     for i in range(1, ${DIM + 1})] AS recon
       |  FROM quant CROSS JOIN rng
       |), scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, ${l2FullSql("q.qe", "c.recon")} AS dist
       |  FROM quant q JOIN enc c ON q.vec_id < $NQUERY AND c.vec_id <> q.vec_id
       |)
       |SELECT q_id, n_id, dist, rk FROM (
       |  SELECT q_id, n_id, dist,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, n_id) AS rk
       |  FROM scored) WHERE rk <= $TOPK
       |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
    val quant = emb(s, dir).select(col("vec_id"), quantize(col("embedding")).as("qe"))
    val enc = sq8Encode(quant)
    val q = quant.filter(col("vec_id") < NQUERY).select(col("vec_id").as("q_id"), col("qe"))
    val wTop = Window.partitionBy("q_id").orderBy(col("dist"), col("n_id"))
    broadcast(q).join(enc, col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), l2Full(col("qe"), col("recon")).as("dist"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= TOPK)
      .orderBy("q_id", "rk")
  }

  /** SQ8 train + encode: the exact per-dim quantile band and the map-only
    * encode/reconstruct projections, returning (n_id, recon). Shared by the
    * gated [[embSq8]] and the persisted-index build ([[AnnIndex.buildSq8]])
    * so the stored reconstruction is the exact table the inline query
    * derives. */
  private[functions] def sq8Encode(quant: DataFrame): DataFrame = {
    // exact per-dim quantile band: (dim, value) counts (map-side combinable),
    // cumulative sum in value order (64 compact window partitions), then the
    // smallest value reaching rank 1 + ⌊(n−1)·q⌋
    val wCum = Window.partitionBy("p").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("p")
    val rng = quant
      .select(posexplode(col("qe")).as(Seq("p", "v")))
      .groupBy("p", "v").agg(count(lit(1)).as("c"))
      .withColumn("cm", sum("c").over(wCum))
      .withColumn("n", sum("c").over(wAll))
      .groupBy("p").agg(
        min(when(col("cm") >= expr(s"((n - 1) * $SQ_CLIP_PM) div 1000 + 1"), col("v"))).as("mn"),
        min(when(col("cm") >= expr(s"((n - 1) * ${1000 - SQ_CLIP_PM}) div 1000 + 1"), col("v"))).as("mx"))
      .agg(sort_array(collect_list(struct(col("p"), col("mn")))).as("mns"),
        sort_array(collect_list(struct(col("p"), col("mx")))).as("mxs"))
      .select(expr("transform(mns, x -> x.mn)").as("mn"),
        expr("transform(arrays_zip(mns, mxs), x -> x.mxs.mx - x.mns.mn)").as("sp"))
    // each zip_with lives in its own projection level: nested higher-order
    // lambdas re-evaluate their input expression per element
    val enc = quant.crossJoin(broadcast(rng))
      .select(col("vec_id"),
        expr(s"zip_with(qe, mn, (v, m) -> greatest(v - m, 0L) * $SQ_LEVELS)").as("num"),
        col("mn"), col("sp"))
      .select(col("vec_id"),
        expr(s"zip_with(num, sp, (n, s) -> least(n div greatest(s, 1L), ${SQ_LEVELS}L))").as("code"),
        col("mn"), col("sp"))
      .select(col("vec_id"),
        expr(s"zip_with(code, sp, (c, s) -> (c * s) div ${SQ_LEVELS}L)").as("off"),
        col("mn"))
      .select(col("vec_id").as("n_id"),
        expr("zip_with(off, mn, (o, m) -> m + o)").as("recon"))
    enc
  }

  val all: Seq[Q] = Seq(annBruteForce, annThresholdPairs, annLshBuckets, annLshPairs,
    annKnnJoin, annIvfTopk, annIvfKmeans, embClassCentroids, embNormQc, embPqAdc,
    annIvfPq, embSq8)
}
