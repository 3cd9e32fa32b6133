package graft.functions

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the training-data-pipeline operators beyond "matches the
  * oracle": LSH candidates vs true Jaccard, SimHash locality, ANN sanity. */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  test("minhash LSH candidates cover all high-jaccard pairs (recall=1 here)") {
    val trueDups = DedupQueries.dedupNgramJaccard.run(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupQueries.dedupMinhashLsh.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(trueDups.subsetOf(lsh),
      s"LSH missed ${trueDups.diff(lsh)} — banding should catch every j>=0.2 pair at this scale")
  }

  test("hot-shingle cap: ubiquitous boilerplate cannot create pairs or a hot join key") {
    import spark.implicits._
    // 40 docs sharing ONE boilerplate sentence (shingle df = 40 > cap), plus
    // one genuine near-dup pair with distinctive text
    val boiler = "this document is provided as is without warranty of any kind"
    val docsDf = ((1L to 40L).map(i => (i, s"$boiler unique$i word$i token$i extra$i")) ++ Seq(
      (100L, "zebra quokka narwhal axolotl capuchin gibbon tamarin lemur loris galago"),
      (101L, "zebra quokka narwhal axolotl capuchin gibbon tamarin lemur loris galago")))
      .toDF("doc_id", "text")
    val pairs = DedupQueries.ngramJaccardPairs(docsDf, maxPostings = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the planted pair survives at jaccard 1.0; no boilerplate-only pair appears
    assert(pairs.exists { case (a, b, j) => a == 100L && b == 101L && j == 1.0 })
    assert(pairs.forall { case (a, b, _) => (a, b) == ((100L, 101L)) },
      s"boilerplate-driven pairs leaked: ${pairs.filterNot(p => (p._1, p._2) == ((100L, 101L))).take(5).toSeq}")
  }

  test("fuzzy rerank: subset of LSH candidates, sim floor holds, exact dups score 10000") {
    val lsh = DedupQueries.dedupMinhashLsh.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rr = DedupQueries.dedupFuzzyRerank.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rr.nonEmpty, "fixture plants near-dup pairs; rerank should confirm some")
    assert(rr.forall { case (a, b, _, _) => lsh.contains((a, b)) },
      "rerank is a verify stage — it can only confirm LSH candidates, never invent pairs")
    assert(rr.forall { case (_, _, _, bp) => bp >= 9000L && bp <= 10000L })
    assert(rr.forall { case (_, _, lev, bp) => (lev == 0L) == (bp == 10000L) },
      "levenshtein 0 iff similarity 10000 bp")
  }

  test("bpe pair counts: all pairs are 2 chars, counts non-increasing") {
    val rows = TextQueries.textBpePairs.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.forall(_._1.length == 2))
    assert(rows.map(_._2).sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("integer shingle keys are collision-free on the corpus (key count == string count)") {
    val d = graft.Tables.df(spark, sf, "documents")
    val ws = TextFunctions.tokens(col("text"))
    val strings = d.select(explode(TextFunctions.shingles(ws, 3)).as("s"))
      .agg(countDistinct("s")).collect().head.getLong(0)
    val keys = d
      .select(ws.as("ws")).select(col("ws"), TextFunctions.tokenHashes(col("ws")).as("th"))
      .select(explode(TextFunctions.shingleKeys(col("ws"), col("th"), 3)).as("k"))
      .agg(countDistinct("k")).collect().head.getLong(0)
    assert(keys == strings,
      s"every distinct string shingle must map to a distinct 62-bit key ($keys vs $strings)")
  }

  test("identical texts get identical minhash signatures") {
    import spark.implicits._
    val two = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val ws = TextFunctions.tokens(col("text"))
    val sigs = two.select(TextFunctions.minhashSig(
      TextFunctions.shingleKeys(ws, TextFunctions.tokenHashes(ws), 3), 12): _*).collect()
    assert(sigs(0) == sigs(1))
  }

  test("simhash of near-identical docs differs in few bits") {
    val sims = DedupQueries.dedupSimhash.run(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nearDups = DedupQueries.dedupNgramJaccard.run(spark, sf)
      .filter(col("jaccard") > 0.8).collect().map(r => (r.getLong(0), r.getLong(1)))
    // SimHash hashes the distinct-token SET — coarser than shingle jaccard —
    // so allow a wider (but still local) band than random pairs' ~16/32.
    nearDups.foreach { case (a, b) =>
      val ham = java.lang.Long.bitCount(sims(a) ^ sims(b))
      assert(ham <= 8, s"docs $a/$b jaccard>0.8 but simhash hamming=$ham")
    }
  }

  test("language id is total and deterministic over the corpus") {
    val preds = TextQueries.textLangId.run(spark, sf).collect()
    val langs = TextFunctions.langMarkers.map(_._1).toSet
    assert(preds.forall(r => langs.contains(r.getString(0))))
  }

  test("ann brute-force topk: self excluded, scores in [-1,1], ranks dense") {
    val top = SimilarityQueries.annBruteForce.run(spark, sf).collect()
    assert(top.nonEmpty)
    top.foreach { r =>
      assert(r.getLong(0) != r.getLong(1), "self must be excluded")
      val sim = r.getDouble(2)
      assert(sim >= -1.0001 && sim <= 1.0001)
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 3)
    }
  }

  test("lsh buckets partition the corpus (sizes sum to row count)") {
    val total = Tables.df(spark, sf, "embeddings").count()
    val bucketed = SimilarityQueries.annLshBuckets.run(spark, sf)
      .agg(sum("n")).collect().head.getLong(0)
    assert(bucketed == total)
  }

  test("substring spans: planted shared span found; short docs produce none") {
    import spark.implicits._
    val shared = "one two three four five six seven eight"
    val docsDf = Seq(
      (1L, s"prefix tokens here $shared suffix words"),
      (2L, s"$shared completely different tail content"),
      (3L, "a short doc"), // < 8 tokens: contributes no spans
      (4L, "unrelated content with no overlap at all whatsoever in any span"))
      .toDF("doc_id", "text")
    val spansOf = docsDf.select(col("doc_id"),
      explode(TextFunctions.spans(TextFunctions.tokens(col("text")), 8)).as("span"))
    assert(spansOf.filter(col("doc_id") === 3L).count() == 0,
      "a doc shorter than the span width must produce no spans")
    val dup = spansOf.groupBy("span")
      .agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= 2).collect()
    assert(dup.map(_.getString(0)).contains(shared),
      s"the planted 8-token shared span must be reported, got: ${dup.toSeq}")
    dup.foreach(r => assert(r.getString(0) == shared,
      s"only the planted span is shared across docs, got ${r.getString(0)}"))
  }

  test("substring spans count every occurrence (positional, not distinct)") {
    import spark.implicits._
    val rep = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val one = Seq((1L, s"$rep $rep")).toDF("doc_id", "text")
    val n = one.select(explode(TextFunctions.spans(
      TextFunctions.tokens(col("text")), 8)).as("s"))
      .filter(col("s") === rep).count()
    assert(n == 2L, s"the repeated span occurs at 2 positions, counted $n")
  }

  test("semantic dedup pairs are a subset of the exact threshold pairs") {
    // SemDeDup restricts candidates to within-cluster; every (drop) decision
    // must therefore trace to a genuine sim>=0.45 pair that the exact O(n^2)
    // oracle also sees — recall can be <1 (cross-cluster misses), but
    // precision must be 1.
    val exactIds = SimilarityQueries.annThresholdPairs.run(spark, sf)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val dropped = DedupQueries.dedupSemantic.run(spark, sf)
      .collect().map(_.getLong(1))
    assert(dropped.nonEmpty, "fixture plants near-dup embeddings; some must be dropped")
    assert(dropped.distinct.length == dropped.length,
      "one drop decision per (cluster, vec)")
    dropped.foreach(id => assert(exactIds.contains(id),
      s"dropped vec $id is not part of any exact sim>=0.45 pair"))
  }

  test("ntile quartiles balance within each segment (sizes differ by <=1)") {
    val rows = graft.operators.WindowQueries.windowNtileValue.run(spark, sf)
      .groupBy("c_mktsegment", "quartile").count().collect()
    rows.groupBy(_.getString(0)).foreach { case (_, byTile) =>
      val sizes = byTile.map(_.getLong(2))
      assert(sizes.max - sizes.min <= 1,
        s"NTILE must balance buckets, got ${byTile.toSeq}")
    }
  }
}
