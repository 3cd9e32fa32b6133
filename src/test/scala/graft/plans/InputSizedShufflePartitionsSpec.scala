package graft.plans

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_COL,
  ShuffleExchangeExec, ValidateRequirements}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** [[InputSizedShufflePartitions]]: the test session plans P = 4 and caps at
  * C = 32 × 4 = 128. Small inputs plan every sized exchange at P, inputs of
  * C × 4 MiB or more and inputs of unknown size keep C, and a rewritten join
  * still meets its co-partitioning requirement. */
class InputSizedShufflePartitionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val P = 4
  private val C = 128

  private def initialPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case p => p
  }

  /** The exchanges the rule may resize: planned by EnsureRequirements or
    * `repartition(cols)`, hash- or range-partitioned. */
  private def sizedExchanges(df: DataFrame): Seq[Int] = initialPlan(df).collect {
    case ShuffleExchangeExec(h: HashPartitioning, _, ENSURE_REQUIREMENTS | REPARTITION_BY_COL, _) =>
      h.numPartitions
    case ShuffleExchangeExec(r: RangePartitioning, _, ENSURE_REQUIREMENTS | REPARTITION_BY_COL, _) =>
      r.numPartitions
  }

  private def keyCounts(df: Dataset[_]): DataFrame =
    df.groupBy((col("id") % 7).as("k")).count()

  test("conf: the test session caps at 32 × its shuffle partitions") {
    val conf = spark.sessionState.conf
    assert((conf.defaultNumShufflePartitions, conf.numShufflePartitions) === (P, C))
  }

  test("every headline query at sf0.01 plans its sized exchanges at P") {
    val counts = SparkEntry.benchNames.map { name =>
      name -> sizedExchanges(SparkEntry.queries(name)(spark, "/root/testdata/sf0.01"))
    }
    assert(counts.exists(_._2.nonEmpty), "the headline set plans no sized exchange at all")
    val off = counts.filter(_._2.exists(_ != P))
    assert(off.isEmpty, s"exchanges not at $P partitions: ${off.mkString(", ")}")
  }

  test("a few-KB range plans at P; an 8 GiB range keeps the cap C") {
    assert(sizedExchanges(keyCounts(spark.range(0, 1000))) === Seq(P))
    val big = spark.range(0, 1L << 30)
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes >= BigInt(C) * InputSizedShufflePartitions.BytesPerPartition)
    assert(sizedExchanges(keyCounts(big)) === Seq(C))
  }

  test("a frame built from an RDD has no size and keeps the cap C") {
    val rdd = spark.sparkContext.parallelize(0L until 1000L, 2).map(Row(_))
    val df = spark.createDataFrame(rdd, StructType(Seq(StructField("id", LongType))))
    assert(sizedExchanges(keyCounts(df)) === Seq(C))
  }

  test("a shuffled join with both sides sized meets its co-partitioning requirement") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.range(0, 5000).select(col("id").as("a"), (col("id") % 100).as("ka"))
      val b = spark.range(0, 300).select(col("id").as("b"), (col("id") % 50).as("kb"))
      val df = a.join(b, col("ka") === col("kb"))
      assert(sizedExchanges(df) === Seq(P, P))
      assert(ValidateRequirements.validate(initialPlan(df)))
      // 50 matching keys, 50 a-rows and 6 b-rows per key
      assert(df.count() === 50L * 50 * 6)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("an exchange planned after a stage sizes from the bytes that stage wrote") {
    // the range estimate is 8 B a row; the grouped rows carry a 100-char
    // string, so the first stage writes ≈ 25 MB and the sort planned after
    // it must not stay at P
    val wide = spark.range(0, 200000)
      .select((col("id") % 100000).as("k"), concat(lit("x" * 100), col("id").cast("string")).as("s"))
      .groupBy("k", "s").count()
      .orderBy("s")
    assert(sizedExchanges(wide) === Seq(P, P))
    wide.collect()
    def stageCounts(p: SparkPlan): Seq[Int] = p.collect {
      case a: AdaptiveSparkPlanExec => stageCounts(a.finalPhysicalPlan)
      case s: ShuffleQueryStageExec => s.shuffle.numPartitions +: stageCounts(s.plan)
    }.flatten
    val counts = stageCounts(wide.queryExecution.executedPlan)
    assert(counts.size === 2 && counts.min === P && counts.max > P, counts)
  }

  test("a join planned after one side's stage grew still co-partitions its sides") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the left aggregate's stage writes ≈ 25 MB and finishes before the
      // join's left exchange is planned; the right side's stage is planned
      // at P from the first S
      val left = spark.range(0, 200000)
        .select((col("id") % 100000).as("k"), concat(lit("x" * 100), col("id").cast("string")).as("s"))
        .groupBy("k", "s").count()
      val right = spark.range(0, 1000).select((col("id") * 7).as("k"))
      val df = left.join(right, "k")
      // 1000 right keys, each matching two (k, s) groups
      assert(df.collect().length === 2000)
      val joins = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan.collect { case j: SortMergeJoinExec => j }
        case p => fail(s"not an adaptive plan: $p")
      }
      assert(joins.size === 1)
      val sides = joins.head.children.map(_.outputPartitioning.numPartitions)
      assert(sides.distinct.size === 1, sides)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("count: ⌈S / 4 MiB⌉ clamped to [P, C]") {
    val mib = BigInt(1024 * 1024)
    assert(InputSizedShufflePartitions.partitionsFor(0, P, C) === P)
    assert(InputSizedShufflePartitions.partitionsFor(14 * mib, P, C) === P)
    assert(InputSizedShufflePartitions.partitionsFor(100 * mib + 1, P, C) === 26)
    assert(InputSizedShufflePartitions.partitionsFor(1100 * mib, P, C) === C)
  }
}
