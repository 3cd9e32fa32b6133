package graft.functions

import graft.Q

/** Oracle-gated probe-path queries over the persisted ANN indexes
  * ([[AnnIndex]]): each builds the index on first touch (`ensure`) and then
  * answers probe-only. Training is deterministic and the build stages are the
  * same code the inline queries run, so every probe result is row-identical
  * to its inline twin — each entry REUSES that twin's DuckDB oracle (which
  * recomputes the training in SQL), making "the stored index answers exactly
  * what retraining would" itself the gated property. */
object AnnIndexQueries {

  private def ensured[A](f: (org.apache.spark.sql.SparkSession, String) => A)
      : (org.apache.spark.sql.SparkSession, String) => A = { (s, dir) =>
    AnnIndex.ensure(s, dir, AnnIndex.defaultDir(dir))
    f(s, dir)
  }

  /** Probe-only IVF k-means (stored centroids + cell-partitioned store;
    * reads NPROBE/NLIST of the corpus files). */
  val annIvfProbe: Q = Q(
    "ann_ivf_probe_topk",
    SimilarityQueries.annIvfKmeans.oracle.get)(
    ensured((s, dir) => AnnIndex.probeIvf(s, dir, AnnIndex.defaultDir(dir))))

  /** Probe-only IVFPQ ADC (stored codebook + cell-partitioned code table). */
  val annIvfPqProbe: Q = Q(
    "ann_ivfpq_probe_topk",
    SimilarityQueries.annIvfPq.oracle.get)(
    ensured((s, dir) => AnnIndex.probeIvfPq(s, dir, AnnIndex.defaultDir(dir))))

  /** Probe-only SQ8 (stored reconstructions; skips the quantile train and
    * corpus encode). */
  val embSq8Probe: Q = Q(
    "emb_sq8_probe_topk",
    SimilarityQueries.embSq8.oracle.get)(
    ensured((s, dir) => AnnIndex.probeSq8(s, dir, AnnIndex.defaultDir(dir))))

  /** Probe-only SCALED IVF (nlist≈√N, sample-trained Lloyd, hive-partitioned
    * cells, scale-aware nprobe) — the production retrieval tier. Unlike its
    * fixed-NLIST siblings it has no inline twin to borrow an oracle from, so
    * the twin below recomputes the ENTIRE scaled derivation in SQL: the
    * [8, 2048]-bounded √N cell count and the 64·nlist sample stride from
    * COUNT(*), the seeded sample-trained Lloyd rounds, the full-corpus
    * assignment, per-query cell
    * ranking at the same max(4, nlist/16) nprobe, and the exact in-cell
    * cosine top-k. Training is deterministic, so the stored index must answer
    * row-identically — which makes "the scaled index answers exactly what the
    * scaled derivation defines" the gated property (recall quality vs exact
    * ground truth is measured separately, at 2M rows in
    * bench_evidence/BENCH_r12_ann_2m.json). */
  val annIvfScaledProbe: Q = {
    import SimilarityQueries.{DIM, KM_ITERS, NQUERY, TOPK, cosLSql, quantizeSql}
    val meanList = (1 to DIM)
      .map(i => s"CAST(SUM(qe[$i]) AS BIGINT) // COUNT(*)").mkString("[", ", ", "]")
    def assignCte(t: Int, src: String, cents: String) =
      s"""a$t AS (
         |  SELECT vec_id, qe, cent_id FROM (
         |    SELECT q.vec_id, q.qe, c.cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosLSql("q.qe", "c.cemb")} DESC, c.cent_id) AS rk
         |    FROM $src q CROSS JOIN $cents c) WHERE rk = 1)""".stripMargin
    val rounds = (1 to KM_ITERS).map { t =>
      s"""${assignCte(t, "smp", s"c${t - 1}")},
         |c$t AS (SELECT cent_id, $meanList AS cemb FROM a$t GROUP BY cent_id)""".stripMargin
    }.mkString(",\n")
    Q(
      "ann_ivf_scaled_topk",
      s"""WITH quant AS (
         |  SELECT vec_id, ${quantizeSql("embedding")} AS qe FROM embeddings
         |), prm AS (
         |  SELECT nlist, GREATEST(1, n // (nlist * 64)) AS ev,
         |         GREATEST(4, nlist // 16) AS np
         |  FROM (SELECT COUNT(*) AS n,
         |          GREATEST(8, LEAST(2048, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))) AS nlist
         |        FROM quant)
         |), smp AS (
         |  SELECT vec_id, qe FROM quant WHERE vec_id % (SELECT ev FROM prm) = 0
         |), c0 AS (
         |  SELECT vec_id AS cent_id, qe AS cemb FROM quant
         |  WHERE vec_id < (SELECT nlist FROM prm)
         |),
         |$rounds,
         |${assignCte(KM_ITERS + 1, "quant", s"c$KM_ITERS")}
         |SELECT q_id, n_id, sim, rk FROM (
         |  SELECT qp.q_id, n.vec_id AS n_id,
         |    ${cosLSql("qp.qe", "n.qe")} AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY qp.q_id
         |      ORDER BY ${cosLSql("qp.qe", "n.qe")} DESC, n.vec_id) AS rk
         |  FROM (
         |    SELECT vec_id AS q_id, qe, cent_id FROM (
         |      SELECT q.vec_id, q.qe, c.cent_id,
         |        ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |          ORDER BY ${cosLSql("q.qe", "c.cemb")} DESC, c.cent_id) AS crk
         |      FROM quant q CROSS JOIN c$KM_ITERS c WHERE q.vec_id < $NQUERY)
         |    WHERE crk <= (SELECT np FROM prm)) qp
         |  JOIN a${KM_ITERS + 1} n
         |    ON n.cent_id = qp.cent_id AND n.vec_id <> qp.q_id)
         |WHERE rk <= $TOPK
         |ORDER BY q_id, rk""".stripMargin)(
      ensured((s, dir) => AnnIndex.probeIvfScaled(s, dir, AnnIndex.defaultDir(dir))))
  }

  /** Adaptive-nprobe probe ([[AnnIndex.probeIvfScaledAdaptive]]): probes
    * cells best-first and stops when no unprobed cell's admissible bound
    * cos(max(0, θ_qc − r_c)) can beat the k-th candidate — so its result is
    * by construction the EXACT quantized-cosine top-k over the whole store,
    * and the oracle needs NO index derivation: the plain brute-force ranking
    * is the twin. "The branch-and-bound probe answers exactly the whole-store
    * ranking, whatever subset of cells it decided to read" IS the gated
    * property (early-termination behavior is spec-pinned in AnnIndexSpec). */
  val annIvfAdaptiveProbe: Q = {
    import SimilarityQueries.{NQUERY, TOPK, cosLSql, quantizeSql}
    Q(
      "ann_ivf_adaptive_topk",
      s"""WITH quant AS (
         |  SELECT vec_id, ${quantizeSql("embedding")} AS qe FROM embeddings
         |), scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, ${cosLSql("q.qe", "c.qe")} AS sim
         |  FROM quant q JOIN quant c ON q.vec_id < $NQUERY AND c.vec_id <> q.vec_id
         |), ranked AS (
         |  SELECT q_id, n_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
         |  FROM scored)
         |SELECT q_id, n_id, sim, rk FROM ranked WHERE rk <= $TOPK
         |ORDER BY q_id, rk""".stripMargin)(
      ensured((s, dir) => AnnIndex.probeIvfScaledAdaptive(s, dir, AnnIndex.defaultDir(dir))))
  }

  val all: Seq[Q] = Seq(annIvfProbe, annIvfPqProbe, embSq8Probe, annIvfScaledProbe,
    annIvfAdaptiveProbe)
}
