package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_COL,
  ReusedExchangeExec, ShuffleExchangeExec, ValidateRequirements}

/** One shuffle partition count per query, sized from the bytes it reads —
  * the Spark counterpart of the reference sizing a hash join's radix
  * fan-out from its input (reference: src/lib/operators/join_hash.hpp:32,
  * `calculate_radix_bits`) instead of from the machine.
  *
  * [[graft.GraftSession]] plans every exchange at AQE's
  * `initialPartitionNum` C = 32 × `spark.sql.shuffle.partitions` P, the
  * count that keeps SF100 fact joins inside the per-task memory budget.
  * A query that reads a few MB pays for those C map outputs per exchange in
  * task launches and shuffle-file overhead even though AQE coalesces them
  * back afterwards. This AQE query-stage preparation rule (it runs after
  * `EnsureRequirements`, on the initial plan and on every re-plan) rewrites
  * each exchange that `EnsureRequirements` or `repartition(cols)` planned at
  * exactly C to n = clamp(⌈S / [[BytesPerPartition]]⌉, P, C), where S is
  * the summed size of the plan's leaf relations, a finished shuffle stage
  * counting at least the bytes it wrote (see [[inputBytes]]). Every
  * exchange rewritten in one pass gets the same n, so co-partitioned join
  * sides still agree (an exchange that must match a finished stage gets
  * that stage's count from `EnsureRequirements`, not C); counts set by
  * `repartition(n, …)`, counts matched to a bucketed side and every other
  * partitioning are left alone. A leaf of unknown size (an RDD without
  * statistics) makes S unbounded and the plan keeps C. A rewrite that
  * breaks a distribution or co-partitioning requirement is dropped whole.
  */
class InputSizedShufflePartitions(session: SparkSession) extends Rule[SparkPlan] {
  import InputSizedShufflePartitions._

  override def apply(plan: SparkPlan): SparkPlan = {
    val conf = session.sessionState.conf
    val cap = conf.numShufflePartitions
    val floor = conf.defaultNumShufflePartitions
    if (cap <= floor) plan
    else inputBytes(plan, conf.defaultSizeInBytes) match {
      case Some(s) =>
        val n = partitionsFor(s, floor, cap)
        if (n == cap) plan
        else {
          val sized = plan.transformUp {
            case e @ ShuffleExchangeExec(h: HashPartitioning, _, ENSURE_REQUIREMENTS | REPARTITION_BY_COL, _)
                if h.numPartitions == cap =>
              e.copy(outputPartitioning = h.copy(numPartitions = n))
            case e @ ShuffleExchangeExec(r: RangePartitioning, _, ENSURE_REQUIREMENTS | REPARTITION_BY_COL, _)
                if r.numPartitions == cap =>
              e.copy(outputPartitioning = r.copy(numPartitions = n))
          }
          if (ValidateRequirements.validate(sized)) sized else plan
        }
      case None => plan
    }
  }
}

object InputSizedShufflePartitions {

  /** Input bytes per initial shuffle partition. The count must stay at the
    * cap C wherever the cap was measured to matter, and fall to P where the
    * input is a few MB. SF10 on 4 cores scans ≈ 1.1 GB of lineitem ≥
    * 128 × 4 MiB, and SF100 on 32 cores ≈ 11 GB ≥ 1024 × 4 MiB, so both keep
    * C = 32 × cores; every sf0.1 headline query reads ≤ ~14 MB and lands at
    * or near P. Per partition that is 1/16 of AQE's 64 MiB advisory size:
    * the plan starts below what the coalescer could keep only when rows grow
    * more than 16× between the compressed scan and the shuffle. */
  val BytesPerPartition: Long = 4L * 1024 * 1024

  /** ⌈s / BytesPerPartition⌉ clamped to [floor, cap]. */
  def partitionsFor(s: BigInt, floor: Int, cap: Int): Int =
    ((s + BytesPerPartition - 1) / BytesPerPartition).max(floor).min(cap).toInt

  /** Summed `sizeInBytes` of the leaf relations under `p`, or None when one
    * is unknown (no logical link, or Spark's "unknown" default size). Query
    * stages and reused exchanges are walked into, so S never falls between
    * the initial plan and an AQE re-plan; a materialized shuffle stage
    * counts the larger of that estimate and the bytes it measurably wrote,
    * so the exchanges planned after it see rows that grew past the
    * compressed scan (a self-join's pairs, decoded text). A broadcast
    * stage counts its estimate only: its size is that of the in-memory
    * hash relation built from the rows, not of rows that will be
    * shuffled. */
  def inputBytes(p: SparkPlan, unknown: Long): Option[BigInt] = p match {
    case s: ShuffleQueryStageExec =>
      val est = inputBytes(s.plan, unknown)
      s.computeStats().fold(est)(st => est.map(_.max(st.sizeInBytes)))
    case s: QueryStageExec => inputBytes(s.plan, unknown)
    case r: ReusedExchangeExec => inputBytes(r.child, unknown)
    case f: FileSourceScanExec => Some(BigInt(f.relation.sizeInBytes))
    case leaf if leaf.children.isEmpty =>
      leaf.logicalLink.map(_.collectLeaves().map(_.stats.sizeInBytes).sum).filter(_ < unknown)
    case _ =>
      p.children.foldLeft(Option(BigInt(0))) { (acc, c) =>
        acc.flatMap(a => inputBytes(c, unknown).map(a + _))
      }
  }
}
