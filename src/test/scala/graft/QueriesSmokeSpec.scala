package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must run end-to-end at sf0.001 (the driver's t1 gate
  * shape): non-crashing, with a non-empty schema, and each declared oracle must
  * reference only relation names the driver registers. */
class QueriesSmokeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  SparkEntry.allQ.foreach { q =>
    test(s"query ${q.name} runs at sf0.001") {
      val df = q.run(spark, SparkTestBase.sf)
      assert(df.schema.nonEmpty, "schema must not be empty")
      assert(df.count() >= 0)
    }
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query name is unique and every oracle key exists") {
    val names = SparkEntry.allQ.map(_.name)
    assert(names.distinct.sizeIs == names.size, "duplicate query names")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // a second name over the same oracle text runs and checks one body twice.
    // Corpus units are excluded: they are the reference's own test statements.
    // Distinct bodies that must give one answer share it on purpose:
    val probeOfInline = "the probe reads the stored index and must equal the inline build's rows"
    val sameAnswerByDesign: Map[Set[String], String] = Map(
      Set("io_tbl_roundtrip", "io_csv_roundtrip", "io_bin_roundtrip") ->
        "each format writes nation and reads it back unchanged",
      Set("ann_ivf_kmeans_topk", "ann_ivf_probe_topk") -> probeOfInline,
      Set("ann_ivfpq_topk", "ann_ivfpq_probe_topk") -> probeOfInline,
      Set("emb_sq8_topk", "emb_sq8_probe_topk") -> probeOfInline)
    val sameOracle = SparkEntry.allQ.filterNot(_.name.startsWith("corpus_"))
      .filter(_.oracle.isDefined).groupBy(_.oracle.get)
      .values.map(_.map(_.name).toSet).filter(_.size > 1)
      .filterNot(sameAnswerByDesign.contains)
    assert(sameOracle.isEmpty, s"entries share an oracle text: ${sameOracle.mkString("; ")}")
  }

  test("bench names are registered queries") {
    assert(SparkEntry.benchNames.toSet.subsetOf(SparkEntry.queries.keySet))
  }
}
