package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import scala.collection.mutable

/** Shared DML rewrites: every write is a pure DataFrame → DataFrame transform
  * (the reference mutates chunks in place under MVCC row stamps, reference:
  * src/lib/operators/insert.cpp / delete.cpp / update.cpp; our immutable
  * counterpart swaps the whole binding, so auto-commit statements and staged
  * transaction writes share these verbatim). */
private[graft] object Dml {
  /** INSERT: bag-append via union (reference: insert.cpp appends to chunks). */
  def insert(target: DataFrame, rows: DataFrame): DataFrame = target.unionByName(rows)

  /** DELETE: anti-filter rewrite; NULL predicate = not deleted (SQL semantics). */
  def delete(target: DataFrame, cond: Column): DataFrame =
    target.filter(!coalesce(cond, lit(false)))

  /** UPDATE: per-column CASE rewrite (reference models it as Delete+Insert,
    * update.hpp:28 — same end state). */
  def update(target: DataFrame, cond: Column, set: Map[String, Column]): DataFrame = {
    val cols = target.columns.map { c =>
      set.get(c) match {
        case Some(v) => when(coalesce(cond, lit(false)), v.cast(target.schema(c).dataType))
          .otherwise(col(c)).as(c)
        case None => col(c)
      }
    }
    target.select(cols.toSeq: _*)
  }
}

/** A multi-statement transaction over a [[Catalog]]: snapshot isolation with
  * first-committer-wins conflict detection.
  *
  * Counterpart of the reference's TransactionContext (reference:
  * src/lib/concurrency/transaction_context.hpp:60-80 — snapshot CID fixed at
  * BEGIN, writes buffered against it, commit validates and publishes, a
  * conflicting concurrent commit forces `RollbackReason::Conflict`, reference:
  * src/lib/types.hpp:227). The reference detects conflicts per ROW via MVCC
  * begin/end-CIDs because its tables mutate in place; here every write swaps a
  * whole immutable binding, so the write set — and therefore the conflict
  * granularity — is the TABLE. That is coarser (two txns updating disjoint
  * rows of one table conflict here but not there) yet never admits a schedule
  * the reference would reject: first-committer-wins at table granularity is a
  * strict subset of first-committer-wins at row granularity.
  *
  *  - Reads resolve from the snapshot captured at BEGIN plus this txn's own
  *    staged writes — concurrent commits are invisible until this txn ends
  *    (reference: validate.cpp visibility: begin_cid <= snapshot < end_cid).
  *  - Writes stage into a private overlay; nothing publishes before commit().
  *  - commit() atomically re-checks every written table's last-commit CID
  *    against the snapshot CID and either publishes all writes under one
  *    commit point or rolls back reporting the conflicting tables.
  */
final class Transaction private[graft] (cat: Catalog) {
  val (snapshotCid, snapshot) = cat.snapshotForTxn

  // staged writes: table name -> new binding
  private val overlay = mutable.LinkedHashMap.empty[String, DataFrame]
  private var done = false

  private def requireActive(): Unit =
    require(!done, "transaction already committed or rolled back")

  def table(name: String): DataFrame =
    overlay.getOrElse(name, snapshot.getOrElse(name, sys.error(s"no such table: $name")))

  def insert(name: String, rows: DataFrame): Unit = stage(name, Dml.insert(table(name), rows))
  def delete(name: String, cond: Column): Unit = stage(name, Dml.delete(table(name), cond))
  def update(name: String, cond: Column, set: Map[String, Column]): Unit =
    stage(name, Dml.update(table(name), cond, set))

  def stage(name: String, df: DataFrame): Unit = { requireActive(); overlay(name) = df }

  def writeSet: Seq[String] = overlay.keys.toSeq

  /** Publish all staged writes under one commit point, or — if any written
    * table committed since our snapshot — roll back and report the conflicts.
    * A read-only transaction always commits (it has nothing to validate:
    * snapshot reads are consistent by construction). */
  def commit(): Either[Seq[String], Long] = {
    requireActive(); done = true
    cat.commitTxn(snapshotCid, overlay.toSeq)
  }

  def rollback(): Unit = { requireActive(); done = true; overlay.clear() }

  def isActive: Boolean = !done
}
