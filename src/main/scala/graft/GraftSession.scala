package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * The reference engine (hyrise) schedules work on NUMA-aware task queues with one
  * worker per core (reference: src/lib/scheduler/node_queue_scheduler.hpp:76-93); our
  * counterpart is Spark's DAG scheduler, so "tuning" here means Catalyst/AQE knobs,
  * not a scheduler. All settings are chosen for the 1000-executor / 100 TB design
  * point and merely *also* work on local[32]:
  *
  *  - AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  *    replaces the reference's static per-chunk job sizing.
  *  - CBO + join reorder replaces the reference's DPccp/greedy join ordering
  *    (reference: src/lib/optimizer/strategy/join_ordering_rule.cpp:59-71).
  *  - Runtime bloom-filter joins replace the reference's semi-join reduction rule
  *    (reference: src/lib/optimizer/strategy/semi_join_reduction_rule.cpp) and the
  *    bloom filter inside its hash join (reference: src/lib/operators/join_hash_steps.hpp).
  *  - Dynamic partition pruning replaces GetTable's dynamic chunk pruning
  *    (reference: src/lib/operators/get_table.hpp:30-36).
  */
object GraftSession {

  /** Capacity of Spark's JVM-wide cache of Janino-compiled classes (static
    * conf `spark.sql.codegen.cache.maxEntries`; Spark's default is 100). One
    * pass over the 19 headline queries at sf0.1 compiles 292–315 distinct
    * classes. Under that cyclic access a 100-entry LRU never hits, so every
    * warm pass re-compiled 294–314 classes and ran them through a cold JIT;
    * at 512 a warm pass compiles 0–4 (AQE plan variants). The cost is the
    * retained classes: live heap after a full GC rises 81 → 86 MB on the
    * headline set and 95 → 107 MB on the TPC-C mix, whose literal-inlining
    * statements mostly compile classes used once. 512 is the smallest cap
    * measured with ~0 compiles per warm pass; 1000 compiled no fewer and kept
    * ~3 MB more on the TPC-C mix. */
  val CodegenCacheEntries = 512

  /** AQE's initial partition count per shuffle partition
    * (`spark.sql.adaptive.coalescePartitions.initialPartitionNum` =
    * `shufflePartitions` × this): the CAP that
    * [[graft.plans.InputSizedShufflePartitions]] sizes each query's
    * exchanges under; see the comment in [[tuned]]. */
  private val InitialPartitionsMultiplier = 32

  /** Conf shared by every entry point (Verify, Bench, tests, user sessions). */
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Let the PARTITION COUNT scale with the data, not the knob. The cap is
      // 32× the core count: with the bare core-count default a fixed 32 is
      // the cap, and at SF100 each of 32 partitions carries ~19M lineitem
      // rows — build sides overflow the per-task memory budget and the
      // q3/q4/q5-class fact joins go superlinear from spill+GC (measured
      // 22–36× per decade; 2.4× with the 32× cap). Under that cap
      // InputSizedShufflePartitions plans each query at ⌈input bytes / 4 MiB⌉
      // clamped to [shufflePartitions, cap]: SF10 and SF100 fact queries keep
      // the cap, every sf0.1 headline query plans `shufflePartitions`. AQE
      // then coalesces toward its ~64 MiB advisory target at runtime. The
      // cap is not free at small scale even though AQE coalesces it back:
      // on 4 cores the sf0.1 headline ran 1.11 queries/s planned at 128 and
      // 1.24 planned at 4 (perfbench olap_headline, medians of 10 runs).
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (shufflePartitions * InitialPartitionsMultiplier).toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      // equi-height histograms (the analog of the reference's
      // EqualDistinctCountHistogram, reference: src/lib/statistics/
      // statistics_objects/equal_distinct_count_histogram.hpp:9-22): without
      // them ANALYZE collects ndv/min/max only and every skewed-column
      // predicate estimates from a uniform value spread — the JOB family's
      // whole failure mode. ANALYZE ... FOR COLUMNS pays one extra
      // percentile scan per table at ingest time.
      .config("spark.sql.statistics.histogram.enabled", "true")
      .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  def create(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = tuned(SparkSession.builder().master(master).appName("graft"), shufflePartitions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
