package graft.functions

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** Persisted-index contracts: every probe-only query must be ROW-IDENTICAL to
  * its inline (retrain-per-query) twin — the property that lets the probe
  * queries reuse the inline oracles — and the cell-routed stores must come
  * back cell-partitioned so probes prune at the file listing. */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf
  private lazy val idx = {
    val d = java.nio.file.Files.createTempDirectory("graft-annindex").toString
    AnnIndex.buildAll(spark, sf, d)
    d
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq

  test("probe_ivf ≡ ann_ivf_kmeans_topk (stored index answers = retrained answers)") {
    assert(canon(AnnIndex.probeIvf(spark, sf, idx)) ===
      canon(SimilarityQueries.annIvfKmeans.run(spark, sf)))
  }

  test("probe_ivfpq ≡ ann_ivfpq_topk") {
    assert(canon(AnnIndex.probeIvfPq(spark, sf, idx)) ===
      canon(SimilarityQueries.annIvfPq.run(spark, sf)))
  }

  test("probe_sq8 ≡ emb_sq8_topk") {
    assert(canon(AnnIndex.probeSq8(spark, sf, idx)) ===
      canon(SimilarityQueries.embSq8.run(spark, sf)))
  }

  test("scaled IVF tier: deterministic full top-k from cell-pruned probes") {
    // no inline twin (nlist≈√N is index-only; its recall at 2M rows is in
    // bench_evidence/BENCH_r12_ann_2m.json) — the spec pins the structural contracts:
    // TOPK rows per query, valid neighbor ids, repeat-probe determinism
    val a = canon(AnnIndex.probeIvfScaled(spark, sf, idx))
    val b = canon(AnnIndex.probeIvfScaled(spark, sf, idx))
    assert(a === b, "re-probing the stored index must be deterministic")
    val rows = AnnIndex.probeIvfScaled(spark, sf, idx).collect()
    val perQuery = rows.groupBy(_.getLong(0)).map(_._2.length).toSet
    assert(perQuery == Set(3), s"every query must fill top-3, got $perQuery")
    assert(rows.forall(r => r.getLong(1) != r.getLong(0)), "self-matches excluded")
  }

  test("cell-routed stores are hive-partitioned by cell (probe prunes at listing)") {
    for ((sub, partCol) <- Seq("ivf_cells" -> "cent_id", "ivfpq_codes" -> "ncell",
        "ivf_scaled_cells" -> "cent_id")) {
      val dirs = new java.io.File(s"$idx/$sub").listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(dirs.nonEmpty && dirs.forall(_.startsWith(s"$partCol=")),
        s"$sub must be written partitioned by $partCol, got: ${dirs.mkString(",")}")
    }
  }

  test("ensure() is idempotent: second call does not rebuild (manifest mtime unchanged)") {
    val d = java.nio.file.Files.createTempDirectory("graft-annensure").toString
    AnnIndex.ensure(spark, sf, d)
    val m = java.nio.file.Paths.get(s"$d/manifest.json")
    val t1 = java.nio.file.Files.getLastModifiedTime(m)
    AnnIndex.ensure(spark, sf, d)
    assert(java.nio.file.Files.getLastModifiedTime(m) === t1,
      "ensure on a built index must be a no-op")
  }

  test("adaptive-nprobe probe returns the EXACT cosine top-k (recall 1.0 by construction)") {
    val (adaptiveDf, probed) = AnnIndex.probeIvfScaledAdaptiveWithStats(spark, sf, idx)
    val adaptive = adaptiveDf
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = SimilarityQueries.annBruteForce.run(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // on the structureless fixture (no near-duplicates, kth sim low) the
    // sound bound CANNOT rule cells out — probing everything and matching
    // brute force exactly is the correct behavior here
    assert(adaptive.toSeq === exact.toSeq,
      s"adaptive probe must equal brute-force exact top-k; probed $probed")
  }

  test("adaptive-nprobe terminates early on a clustered store (tight cells)") {
    import org.apache.spark.sql.functions._
    // The bound cos(max(0, θ_qc − r_c)) only rules a cell out when the
    // intra-cell radius is small against the query-centroid angle — i.e. on
    // CLUSTERED corpora (on structureless stores probing everything is the
    // correct, exact behavior; the previous test pins that). Plant 32 tight
    // clusters (32 exact copies of each of 32 distinct centers): Lloyd
    // converges each cell onto one cluster with radius 0, every query's
    // top-3 sims are 1.0, and every non-home cell's bound is its centroid
    // cosine < 1 — the probe MUST stop after the first batch.
    val base = graft.Tables.df(spark, sf, "embeddings")
    val centers = base.filter(col("vec_id") < 32)
      .select(col("vec_id").as("cid"), col("embedding"))
    val members = centers.crossJoin(spark.range(32).toDF("k"))
      .select((col("k") * 32 + col("cid")).cast("long").as("vec_id"), col("embedding"))
    val d = java.nio.file.Files.createTempDirectory("graft-annclustered").toString
    members.write.parquet(s"$d/embeddings.parquet")
    val idx2 = java.nio.file.Files.createTempDirectory("graft-annclustered-idx").toString
    AnnIndex.buildAll(spark, d, idx2)
    val (adaptiveDf, probed) = AnnIndex.probeIvfScaledAdaptiveWithStats(spark, d, idx2)
    val adaptive = adaptiveDf
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = SimilarityQueries.annBruteForce.run(spark, d)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(adaptive.toSeq === exact.toSeq)
    val nlist = spark.read.parquet(s"$idx2/ivf_scaled_centroids").count()
    assert(probed.values.forall(_ < nlist),
      s"tight clusters: every query must stop early (nlist=$nlist): $probed")
  }

  test("adaptive-nprobe: wide far cell behind a tight near cell (suffix-max bound)") {
    import org.apache.spark.sql.functions._
    // The r13-verdict adversarial geometry: probe order is csim-descending
    // (centroids at 10°, 15°, 20° from the query) but the admissible bounds
    // cos(max(0, θ_qc − r_c)) are NOT monotone along it — the far cell's wide
    // radius (14°) gives bound cos(6°), ABOVE both the tight middle cell's
    // cos(15°) and the kth candidate after the home cell (cos 11°). A stop
    // test that inspects only the NEXT cell's bound terminates after the home
    // cell and silently drops vec 14 (the true #1 at 6°); pruning against the
    // suffix-max of the remaining bounds must keep probing. Lloyd routinely
    // produces wide catch-all cells next to tight ones on mixed-density
    // corpora, so the index files are hand-laid to pin exactly that regime.
    def vec(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val corpus = Seq(
      0L -> vec(0),                                      // the query
      10L -> vec(8), 11L -> vec(9), 12L -> vec(11),      // cell 0 (home, tight)
      13L -> vec(15),                                    // cell 1 (radius 0)
      14L -> vec(6), 15L -> vec(34))                     // cell 2 (wide, far)
    val d = java.nio.file.Files.createTempDirectory("graft-annadv").toString
    spark.createDataFrame(corpus).toDF("vec_id", "embedding")
      .write.parquet(s"$d/embeddings.parquet")
    val idx3 = java.nio.file.Files.createTempDirectory("graft-annadv-idx").toString
    spark.createDataFrame(Seq(0L -> vec(10), 1L -> vec(15), 2L -> vec(20)))
      .toDF("cent_id", "embedding")
      .select(col("cent_id"), SimilarityQueries.quantize(col("embedding")).as("cemb"))
      .write.parquet(s"$idx3/ivf_scaled_centroids")
    val cellOf = Map(10L -> 0L, 11L -> 0L, 12L -> 0L, 13L -> 1L, 14L -> 2L, 15L -> 2L)
    spark.createDataFrame(corpus.filter(_._1 >= 10L).map { case (id, e) => (id, e, cellOf(id)) })
      .toDF("vec_id", "embedding", "cent_id")
      .select(col("vec_id"), SimilarityQueries.quantize(col("embedding")).as("qe"),
        col("cent_id"))
      .write.partitionBy("cent_id").parquet(s"$idx3/ivf_scaled_cells")
    AnnIndex.writeScaledRadii(spark, idx3)
    // batch=1 probes ONE cell per round, so the stop decision after the home
    // cell is load-bearing: the buggy next-cell test would return {10,11,12}
    val (gotDf, probed) = AnnIndex.probeIvfScaledAdaptiveWithStats(spark, d, idx3, batch = 1)
    val got = gotDf
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((0L, 14L), (0L, 10L), (0L, 11L)),
      s"true top-3 is 14(6°),10(8°),11(9°); probed $probed")
  }
}
