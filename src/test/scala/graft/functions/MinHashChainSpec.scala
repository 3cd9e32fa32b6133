package graft.functions

import graft.{SparkTestBase, Tables}
import graft.functions.TextFunctions.{minhashSig, shingleKeys, tokenHashes, tokens}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native MinHash chain (`tokenHashes` → `shingleKeys` → `minhashSig`)
  * against the higher-order-function formulation it replaced, which stays
  * here as the reference: equal token hashes, shingle keys (same order) and
  * signatures on the sf0.1 corpus and on edge texts, generated and
  * interpreted; and one signature evaluation per row. */
class MinHashChainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // ---- the lambda formulation, as TextFunctions had it
  private val P = 2147483647L
  private def refTokenHashes(ws: Column): Column = transform(ws, w => TextFunctions.hash64(w, "mh"))
  private def refShingleKeys(ws: Column, th: Column, n: Int): Column = {
    def lane(i: Column, a: Long): Column =
      (0 until n).foldLeft(lit(0L)) { (acc, o) => (acc * a + element_at(th, i + o) % P) % P }
    val grams = transform(sequence(lit(1), size(th) - (n - 1)),
      i => lane(i, 1103515245L) * 2147483648L + lane(i, 48271L))
    when(size(th) >= n, array_distinct(grams))
      .otherwise(array(TextFunctions.hash64(concat_ws(" ", ws), "mh")))
  }
  private def refMinhashSig(hsg: Column, k: Int): Seq[Column] =
    (0 until k).map { i =>
      val (a, b) = TextFunctions.mhFam(i)
      array_min(transform(hsg, h => ((h % P) * a + b) % P))
    }

  private val K = 12

  /** Rows where any stage of the chain differs between the two forms. */
  private def mismatches(docs: DataFrame): Array[String] = {
    val th = docs.select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        tokenHashes(col("ws")).as("th_n"), refTokenHashes(col("ws")).as("th_r"))
    val hsg = th.select(col("doc_id"), col("th_n"), col("th_r"),
      shingleKeys(col("ws"), col("th_n"), DedupQueries.NGRAM).as("hsg_n"),
      refShingleKeys(col("ws"), col("th_r"), DedupQueries.NGRAM).as("hsg_r"))
    val all = hsg.select(col("*"),
      array(minhashSig(col("hsg_n"), K): _*).as("sig_n"),
      array(refMinhashSig(col("hsg_r"), K): _*).as("sig_r"))
    // compared after collect: a filter would be pushed below the projections
    // and inline every lambda stage into itself many times over
    all.select("doc_id", "th_n", "th_r", "hsg_n", "hsg_r", "sig_n", "sig_r").collect()
      .filterNot(r => r.get(1) == r.get(2) && r.get(3) == r.get(4) && r.get(5) == r.get(6))
      .map(_.toString)
  }

  test("native chain equals the lambda chain on the sf0.1 corpus") {
    val dir = new java.io.File(new java.io.File(SparkTestBase.sf).getParent, "sf0.1").getPath
    assume(new java.io.File(s"$dir/documents.parquet").exists, s"$dir/documents.parquet is absent")
    val docs = Tables.df(spark, dir, "documents")
    assert(docs.count() > 1000)
    val bad = mismatches(docs)
    assert(bad.isEmpty, s"${bad.length} documents differ, e.g. ${bad.take(2).mkString("\n")}")
  }

  test("native chain equals the lambda chain on edge texts, generated and interpreted") {
    val texts = Seq("", " ", "\t\n", "one", "one two", "one two three", "  leading space here",
      "trailing space here  ", "tab\tseparated\twords\tare\twords", "line\none\nline\ntwo\n",
      "same same same same same", "a b a b a b a b", "naïve café über straße",
      "日本語 の テキスト です よ", "emoji 😀 in 😀 text 😀 here", null)
    // an RDD-backed frame: a local relation would be folded while optimizing
    val docs = spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, 2)
      .toDF("doc_id", "text")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val bad = mismatches(docs)
        assert(bad.isEmpty, s"$mode: ${bad.mkString("\n")}")
      } finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("NULL token arrays and NULL tokens follow the lambda chain") {
    val arrays = Seq[Seq[String]](null, Seq(), Seq("a", null), Seq("a", null, "b", "c", "d"),
      Seq(null, null, null, null))
    val df = spark.sparkContext.parallelize(arrays.zipWithIndex.map { case (a, i) => (i, a) }, 1)
      .toDF("id", "ws")
    val out = df.select(col("id"),
      (tokenHashes(col("ws")) <=> refTokenHashes(col("ws"))).as("th"),
      (shingleKeys(col("ws"), refTokenHashes(col("ws")), 3) <=>
        refShingleKeys(col("ws"), refTokenHashes(col("ws")), 3)).as("hsg"),
      (array(minhashSig(shingleKeys(col("ws"), refTokenHashes(col("ws")), 3), 4): _*) <=>
        array(refMinhashSig(refShingleKeys(col("ws"), refTokenHashes(col("ws")), 3), 4): _*))
        .as("sig"))
      .collect()
    assert(out.forall(r => r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3)),
      out.mkString("\n"))
  }

  test("minhashSig evaluates the signature kernel once per row") {
    val docs = Tables.df(spark, SparkTestBase.sf, "documents")
    def kernelCalls(): Int = {
      val df = DedupQueries.hsgOf(docs).select(col("doc_id") +: minhashSig(col("hsg"), K): _*)
      val code = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
      "\\(graft\\.plans\\.MinHashSignature\\) references\\[".r.findAllIn(code).length
    }
    assert(kernelCalls() == 1)
    // the check can fail: without subexpression elimination every h_i calls it
    spark.conf.set("spark.sql.subexpressionElimination.enabled", "false")
    try assert(kernelCalls() == K)
    finally spark.conf.unset("spark.sql.subexpressionElimination.enabled")
  }
}
