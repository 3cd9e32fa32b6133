package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import scala.collection.concurrent.TrieMap

/** Named-table catalog with statement-level snapshot DML.
  *
  * Counterpart of the reference's StorageManager (tables + views + prepared plans,
  * reference: src/lib/storage/storage_manager.hpp:23,29,46,54) and its read-write
  * operators Insert/Delete/Update (reference: src/lib/operators/insert.hpp:9-22,
  * delete.hpp:18, update.hpp:28). The reference needs MVCC begin/end-CIDs per row
  * (reference: src/lib/storage/mvcc_data.hpp:54-56) because tables mutate in place;
  * DataFrames are immutable, so each DML statement swaps the catalog binding to a
  * rewritten immutable plan — readers that captured the old binding keep their
  * snapshot for free, which is exactly the reference's snapshot-isolation
  * visibility rule collapsed to statement granularity (full transaction conflict
  * semantics are an explicit non-goal, SURVEY §7.4).
  *
  * Every binding is also published as a temp view so `spark.sql` sees the same
  * state as the DataFrame API.
  */
final class Catalog(val spark: SparkSession) {
  private val tables = TrieMap.empty[String, DataFrame]
  private val views = TrieMap.empty[String, String] // name -> SQL text (like LQPView)
  private val parquetPaths = TrieMap.empty[String, String] // name -> storage path
  private val eventLog = scala.collection.mutable.Buffer.empty[(Int, String, String)]

  // ------------------------------------------------ transaction bookkeeping
  // Commit-ID clock + per-table last-commit CID, the moral equivalent of the
  // reference's TransactionManager commit counter (reference:
  // src/lib/concurrency/transaction_manager.hpp:41 `_last_commit_id`). Every
  // committed write — auto-commit statement or multi-statement transaction —
  // advances the clock and stamps the written tables, so a Transaction can
  // validate first-committer-wins against ANY concurrent writer.
  private val txnLock = new Object
  private val commitCid = new java.util.concurrent.atomic.AtomicLong(0L)
  private val lastCommit = TrieMap.empty[String, Long]

  // ------------------------------------------------------------ time travel
  // Per-table binding history (commit CID → binding, None = dropped) — the
  // natural extension of immutable-binding MVCC: every commit's DataFrame is
  // a complete consistent version, so retaining the last [[HistoryDepth]]
  // bindings gives AS-OF reads for free (the reference's MVCC keeps old row
  // versions until cleanup for the same reason; Delta/Iceberg call this time
  // travel). Bounded retention: plans, not data, are retained — each entry
  // is a lazy DataFrame over shared immutable inputs.
  private val HistoryDepth = 32
  private val history = TrieMap.empty[String, Vector[(Long, Option[DataFrame])]]
  // First-ever commit CID per table: lets tableAsOf distinguish "before the
  // table existed" (legitimately None) from "older than the retention
  // window" (unanswerable — must error, not silently treat as absent).
  private val firstCid = TrieMap.empty[String, Long]
  private def recordHistory(name: String, cid: Long): Unit = {
    firstCid.putIfAbsent(name, cid)
    history.put(name,
      (history.getOrElse(name, Vector.empty) :+ (cid -> tables.get(name)))
        .takeRight(HistoryDepth))
  }

  /** The current commit clock — pair with [[tableAsOf]] for repeatable reads. */
  def commitId: Long = commitCid.get

  /** Every table with retained history, including ones since DROPped — the
    * ASOF view installer must cover these, not just current bindings. */
  def historyTableNames: Seq[String] = history.keys.toSeq.sorted

  /** The binding `name` had at commit `cid` (latest commit ≤ cid): Some(df)
    * if it existed, None if it was dropped or not yet created. Throws when
    * `cid` predates the oldest retained entry of a table that already existed
    * then — truncated history cannot answer that read, and pretending the
    * table never existed would be a plausible-but-wrong result. */
  def tableAsOf(name: String, cid: Long): Option[DataFrame] = {
    val at = history.get(name).flatMap(_.filter(_._1 <= cid).lastOption)
    if (at.isEmpty && firstCid.get(name).exists(_ <= cid)) {
      // the table had commits at/before cid, yet none are retained → evicted
      val oldest = history.get(name).flatMap(_.headOption).map(_._1).getOrElse(-1L)
      throw new IllegalArgumentException(
        s"ASOF $cid is outside the retention window for table '$name' " +
        s"(oldest retained commit: $oldest, retention depth: $HistoryDepth)")
    }
    at.flatMap(_._2)
  }

  private def logEvent(level: String, msg: String): Unit = eventLog.synchronized {
    eventLog += ((eventLog.size + 1, level, msg))
  }

  /** Begin a snapshot-isolated multi-statement transaction (reference:
    * TransactionManager::new_transaction_context, transaction_manager.hpp:29). */
  def beginTxn(): Transaction = new Transaction(this)

  /** Atomically capture (current commit CID, committed table bindings) — the
    * snapshot a transaction reads from (reference: transaction_context.hpp:60
    * `snapshot_commit_id`). */
  private[graft] def snapshotForTxn: (Long, Map[String, DataFrame]) = txnLock.synchronized {
    (commitCid.get, tables.readOnlySnapshot().toMap)
  }

  /** Publish a transaction's staged writes under one commit point, or report
    * the conflicting tables if any of them committed since `snapshotCid`
    * (first-committer-wins; reference: transaction_context.hpp:71-80 commit
    * validation, RollbackReason::Conflict at types.hpp:227). */
  private[graft] def commitTxn(
      snapshotCid: Long, writes: Seq[(String, DataFrame)]): Either[Seq[String], Long] =
    txnLock.synchronized {
      val conflicts = writes.map(_._1).filter(n => lastCommit.getOrElse(n, 0L) > snapshotCid)
      if (conflicts.nonEmpty) Left(conflicts)
      else {
        val cid = commitCid.incrementAndGet()
        writes.foreach { case (n, df) =>
          publish(n, df); lastCommit.put(n, cid); recordHistory(n, cid)
        }
        refreshMatViewsOver(writes.map(_._1))
        logEvent("INFO", s"txn commit cid=$cid tables=${writes.map(_._1).mkString(",")}")
        Right(cid)
      }
    }

  private def recordCommit(name: String): Unit = txnLock.synchronized {
    val cid = commitCid.incrementAndGet()
    lastCommit.put(name, cid)
    recordHistory(name, cid)
  }

  private def publish(name: String, df: DataFrame): Unit = {
    tables.put(name, df)
    df.createOrReplaceTempView(name)
  }

  private def removeBinding(name: String): Unit = {
    tables.remove(name)
    parquetPaths.remove(name)
    graft.plans.ConstraintRegistry.drop(name)
    spark.catalog.dropTempView(name)
  }

  def register(name: String, df: DataFrame): Unit = {
    publish(name, df)
    recordCommit(name)
    logEvent("INFO", s"register table $name")
  }

  /** Register a parquet-backed table, remembering its path so the storage
    * meta tables (chunks/segments) can walk its footers. */
  def registerParquet(name: String, path: String): Unit = {
    parquetPaths.put(name, path)
    register(name, Tables.df(spark, new java.io.File(path).getParent, name))
  }

  def parquetTables: Seq[(String, String)] = parquetPaths.toSeq.sortBy(_._1)

  def table(name: String): DataFrame =
    tables.getOrElse(name, sys.error(s"no such table: $name"))

  def exists(name: String): Boolean = tables.contains(name)
  def tableNames: Seq[String] = tables.keys.toSeq.sorted

  def dropTable(name: String): Unit = {
    val dependents = matViewDefs.values.filter(_.baseTables.contains(name)).map(_.name).toSeq.sorted
    require(dependents.isEmpty,
      s"cannot drop $name: materialized view(s) ${dependents.mkString(", ")} depend on it")
    removeBinding(name)
    recordCommit(name)
    logEvent("INFO", s"drop table $name")
  }

  /** INSERT: bag-append via union (reference: insert.cpp appends to chunks).
    * Auto-commit DML delegates to [[Dml]] so the statement path and the
    * transaction overlay path share one rewrite (ADVICE r4). */
  def insert(name: String, rows: DataFrame): Unit = {
    requireNotMatView(name)
    register(name, Dml.insert(table(name), rows))
    maintainMatViews(name, insDelta = Some(rows), delDelta = None)
  }

  /** DELETE: anti-filter rewrite; NULL predicate = not deleted (SQL semantics). */
  def delete(name: String, cond: Column): Unit = {
    requireNotMatView(name)
    val old = table(name)
    register(name, Dml.delete(old, cond))
    maintainMatViews(name, insDelta = None,
      delDelta = Some(old.filter(coalesce(cond, lit(false)))))
  }

  /** UPDATE: per-column CASE rewrite (reference models it as Delete+Insert,
    * update.hpp:28 — same end state). */
  def update(name: String, cond: Column, set: Map[String, Column]): Unit = {
    requireNotMatView(name)
    val old = table(name)
    register(name, Dml.update(old, cond, set))
    // IVM sees UPDATE exactly as the reference models it: delete+insert
    val touched = old.filter(coalesce(cond, lit(false)))
    val rewritten = touched.select(
      old.columns.map(c => set.getOrElse(c, col(c)).cast(old.schema(c).dataType).as(c)).toSeq: _*)
    maintainMatViews(name, insDelta = Some(rewritten), delDelta = Some(touched))
  }

  /** MERGE (upsert): rows of `source` matching `keys` replace the target's
    * column values; unmatched source rows append. Modeled — like UPDATE — as
    * a full rebind with the same end state (the reference composes Update
    * from Delete+Insert, update.hpp:28; MERGE is the keyed generalization).
    * Plan shape: ONE full-outer equi join on the key, then per-column
    * coalesce — no per-row lookups, scales as a join. */
  def merge(name: String, source: DataFrame, keys: Seq[String]): Unit = {
    requireNotMatView(name)
    val t = table(name)
    // presence flag, not coalesce-per-column: a matched source row must win
    // even where its column value is legitimately NULL
    val src = source.select(
      t.columns.map(c =>
        (if (source.columns.contains(c)) source(c) else lit(null))
          .cast(t.schema(c).dataType).as(s"__src_$c")) :+ lit(true).as("__src_present"): _*)
    val cond = keys.map(k => t(k) === src(s"__src_$k")).reduce(_ && _)
    val merged = t.join(src, cond, "full_outer")
      .select(t.columns.map(c =>
        when(col("__src_present"), col(s"__src_$c")).otherwise(t(c)).as(c)).toSeq: _*)
    register(name, merged)
    refreshMatViewsOver(Seq(name))
    logEvent("INFO", s"merge into $name on ${keys.mkString(",")}")
  }

  // ------------------------------------------------------------- views

  def createView(name: String, sqlText: String, cols: Option[Seq[String]] = None): Unit = {
    views.put(name, sqlText)
    val df = spark.sql(sqlText)
    cols.fold(df)(cs => df.toDF(cs: _*)).createOrReplaceTempView(name)
  }

  // ------------------------------------------------ materialized views (IVM)
  // Summary-delta incremental maintenance — see [[MatViews]] scaladoc.
  // Maintenance is EAGER (each DML statement updates dependent views before
  // returning, like the reference's chunk-level index maintenance); the
  // per-statement cost is O(delta) + one keyed merge with the stored state,
  // never a base-table rescan (except the documented MIN/MAX-under-delete
  // recompute). Raw `register` rebinds bypass DML and therefore require
  // REFRESH MATERIALIZED VIEW; transactional commits refresh dependents.

  private val matViewDefs = TrieMap.empty[String, MatViews.MatViewDef]
  private val matViewState = TrieMap.empty[String, DataFrame]
  // view -> base-table commit ids at last publish (freshness for rewrite)
  private val matViewBaseVer = TrieMap.empty[String, Map[String, Long]]

  def isMatView(name: String): Boolean = matViewDefs.contains(name)
  private def requireNotMatView(name: String): Unit =
    require(!isMatView(name),
      s"$name is a materialized view — it is read-only; run DML on its base table")

  def createMatView(name: String, sqlText: String): Unit = {
    val d = MatViews.parse(name, sqlText)
    d.baseTables.foreach { t =>
      require(exists(t), s"unknown base table: $t")
      require(!isMatView(t),
        "materialized view over a materialized view is not supported")
    }
    matViewDefs.put(name, d)
    publishMatView(d, MatViews.deltaState(d, joinedBase(d)))
    logEvent("INFO", s"create materialized view $name over ${d.baseTables.mkString(" JOIN ")}")
  }

  /** The defining FROM clause's rows: the base table folded through the
    * definition's join chain (r15 multi-join; key sides resolve by column
    * membership so `ON a = b` accepts either spelling order). */
  private def joinedBase(d: MatViews.MatViewDef): DataFrame =
    MatViews.joinedRows(d, table)

  /** Full recompute from the current base (REFRESH MATERIALIZED VIEW; also
    * the fallback for non-incremental paths). */
  def refreshMatView(name: String): Unit = {
    val d = matViewDefs.getOrElse(name, sys.error(s"no materialized view: $name"))
    publishMatView(d, MatViews.deltaState(d, joinedBase(d)))
  }

  def dropMatView(name: String): Unit = {
    require(isMatView(name), s"no materialized view: $name")
    matViewDefs.remove(name)
    matViewState.remove(name)
    matViewBaseVer.remove(name)
    dropTable(name)
  }

  /** localCheckpoint bounds state lineage (the merge chain would otherwise
    * grow one join per DML statement) and makes maintenance cost visible
    * per-statement instead of deferred to first read. The publish also
    * snapshots each base table's commit id — the staleness gate for
    * transparent query rewrite ([[answerFromMatView]]): a raw `register`
    * rebind bumps the base's commit id without maintenance, so the view
    * stops answering queries until REFRESH re-syncs it. */
  private def publishMatView(d: MatViews.MatViewDef, state: DataFrame): Unit = {
    val st = state.localCheckpoint()
    matViewState.put(d.name, st)
    matViewBaseVer.put(d.name,
      d.baseTables.map(t => t -> lastCommit.getOrElse(t, 0L)).toMap)
    register(d.name, MatViews.visible(d, st))
  }

  /** A view is fresh iff no base table has committed past the view's last
    * maintenance/refresh publish. */
  def matViewFresh(name: String): Boolean =
    matViewBaseVer.get(name).exists(_.forall { case (t, v) =>
      lastCommit.getOrElse(t, 0L) == v
    })

  /** The DML delta seen through the view's FROM clause: for join views a
    * single-table delta joins the CURRENT other side — Δ(A⋈B) = ΔA⋈B when A
    * changed, A⋈ΔB when B changed (one table per DML statement, so the ΔA⋈ΔB
    * term never arises). The delta side is small, so AQE broadcasts it
    * against the big side — maintenance stays O(delta) + one keyed merge. */
  private def viewDelta(
      d: MatViews.MatViewDef, changed: String, delta: DataFrame): DataFrame =
    MatViews.joinedRows(d, table, changed, delta)

  /** Apply a DML delta to every materialized view reading `base`. */
  private def maintainMatViews(
      base: String, insDelta: Option[DataFrame], delDelta: Option[DataFrame]): Unit =
    matViewDefs.values.filter(_.baseTables.contains(base)).foreach { d =>
      if (delDelta.isDefined && d.hasMinMax) refreshMatView(d.name)
      else {
        var st = matViewState(d.name)
        insDelta.foreach(r =>
          st = MatViews.merge(d, st, MatViews.deltaState(d, viewDelta(d, base, r))))
        delDelta.foreach(r =>
          st = MatViews.merge(d, st, MatViews.deltaState(d, viewDelta(d, base, r), sign = -1)))
        publishMatView(d, st)
      }
    }

  /** Refresh every materialized view reading a table in `names` (txn commits
    * and MERGE publish whole new bindings, so the delta is unknown). */
  private[graft] def refreshMatViewsOver(names: Seq[String]): Unit =
    matViewDefs.values.filter(_.baseTables.exists(names.contains))
      .foreach(d => refreshMatView(d.name))

  /** Transparent query rewrite: if `sql` parses into the maintainable
    * fragment and a FRESH materialized view matches it (same base/join/WHERE,
    * set-equal keys, every aggregate answerable from stored components —
    * [[MatViews.matches]]), answer from the view's state without touching the
    * base. Returns None for anything else — including stale views, which
    * fall through to normal execution for a correct (slower) answer. */
  def answerFromMatView(sql: String): Option[DataFrame] = {
    val q =
      try MatViews.parse("__rewrite_probe", sql)
      catch { case _: Exception => return None }
    val fresh = matViewDefs.values.toSeq.sortBy(_.name)
      .filter(mv => matViewFresh(mv.name))
    fresh.find(MatViews.matches(_, q))
      .map { mv =>
        logEvent("INFO", s"query rewritten onto materialized view ${mv.name}")
        MatViews.answer(q, mv, matViewState(mv.name))
      }
      .orElse(fresh.find(MatViews.matchesRollup(_, q)).map { mv =>
        logEvent("INFO",
          s"query answered by rolling up materialized view ${mv.name}")
        MatViews.answerRollup(q, mv, matViewState(mv.name))
      })
  }

  def metaMaterializedViews: DataFrame = {
    val rows = matViewDefs.values.toSeq.sortBy(_.name).map { d =>
      Row(d.name, d.base, d.sqlText, d.hasMinMax,
        matViewState.get(d.name).map(_.count()).getOrElse(0L))
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("view_name", StringType, nullable = false),
        StructField("base_table", StringType, nullable = false),
        StructField("definition", StringType, nullable = false),
        StructField("has_min_max", org.apache.spark.sql.types.BooleanType, nullable = false),
        StructField("n_groups", LongType, nullable = false))))
  }

  /** CREATE TABLE with column definitions and key constraints (reference:
    * src/lib/operators/maintenance/create_table.hpp:14, constraint model
    * src/lib/storage/constraints/table_key_constraint.hpp). Constraints are
    * stored as TRUSTED metadata in [[graft.plans.ConstraintRegistry]] — they
    * license optimizer rewrites (RemoveRedundantDistinct), they are not
    * enforced on DML, matching the reference's model. */
  def createEmpty(name: String, defs: Seq[(String, String)]): Unit = {
    import graft.plans.{ConstraintRegistry, KeyConstraint}
    def dt(t: String): org.apache.spark.sql.types.DataType = t.trim.toUpperCase match {
      case "INT" | "INTEGER" => IntegerType
      case "BIGINT" | "LONG" => LongType
      case "FLOAT" | "REAL" => org.apache.spark.sql.types.FloatType
      case "DOUBLE" | "DOUBLE PRECISION" => org.apache.spark.sql.types.DoubleType
      case "DATE" => org.apache.spark.sql.types.DateType
      case "BOOLEAN" => org.apache.spark.sql.types.BooleanType
      case _ => StringType // VARCHAR(n) / TEXT / CHAR(n) / unknown → string
    }
    def cols(spec: String): Seq[String] = {
      val open = spec.indexOf('(')
      spec.substring(open + 1, spec.indexOf(')', open)).split(',').map(_.trim).toSeq
    }
    val constraints = scala.collection.mutable.Buffer.empty[KeyConstraint]
    val fields = scala.collection.mutable.Buffer.empty[StructField]
    defs.foreach { case (first, rest) =>
      val full = s"$first $rest".trim
      val u = full.toUpperCase
      if (u.startsWith("PRIMARY KEY")) constraints += KeyConstraint(name, "PRIMARY KEY", cols(full))
      else if (u.startsWith("UNIQUE")) constraints += KeyConstraint(name, "UNIQUE", cols(full))
      else if (u.startsWith("FOREIGN KEY")) {
        val refIdx = u.indexOf("REFERENCES")
        val refPart = full.drop(refIdx + "REFERENCES".length).trim
        val refTable = refPart.takeWhile(c => c != '(' && !c.isWhitespace)
        constraints += KeyConstraint(name, "FOREIGN KEY", cols(full.take(refIdx)),
          Some(refTable), if (refPart.contains('(')) cols(refPart) else Nil)
      } else {
        // column definition: name TYPE [NOT NULL] [PRIMARY KEY] [UNIQUE]
        val typeToken = rest.split("\\s+").headOption.getOrElse("STRING")
        val restU = rest.toUpperCase
        if (restU.contains("PRIMARY KEY")) constraints += KeyConstraint(name, "PRIMARY KEY", Seq(first))
        else if (restU.contains("UNIQUE")) constraints += KeyConstraint(name, "UNIQUE", Seq(first))
        fields += StructField(first, dt(typeToken), nullable = !restU.contains("NOT NULL"))
      }
    }
    val schema = StructType(fields.toSeq)
    register(name, spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))
    ConstraintRegistry.put(name, constraints.toSeq)
  }

  /** `meta_constraints` — declared key constraints (reference:
    * table_key_constraint.hpp surfaced through meta tables). */
  def metaConstraints: DataFrame = {
    val rows = graft.plans.ConstraintRegistry.all.sortBy(c => (c.table, c.kind))
      .map(c => Row(c.table, c.kind, c.cols.mkString(","),
        c.refTable.orNull, if (c.refCols.isEmpty) null else c.refCols.mkString(",")))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("table_name", StringType, nullable = false),
      StructField("constraint_type", StringType, nullable = false),
      StructField("columns", StringType, nullable = false),
      StructField("ref_table", StringType, nullable = true),
      StructField("ref_columns", StringType, nullable = true))))
  }

  def dropView(name: String): Unit = {
    views.remove(name)
    spark.catalog.dropTempView(name)
  }

  // --------------------------------------------------------- meta tables

  /** `meta_tables` — mirrors the reference's virtual meta tables
    * (reference: src/lib/utils/meta_tables/meta_tables_table.cpp). */
  def metaTables: DataFrame = {
    val rows = tableNames.map { n =>
      val t = tables(n)
      Row(n, t.schema.length, t.isStreaming)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("table_name", StringType, nullable = false),
        StructField("column_count", IntegerType, nullable = false),
        StructField("is_streaming", org.apache.spark.sql.types.BooleanType, nullable = false))))
  }

  /** Storage meta tables over the registered parquet-backed tables — chunk =
    * parquet row group (reference: src/lib/utils/meta_tables/). */
  def metaChunks: DataFrame = MetaTables.chunks(spark, parquetTables)
  def metaSegments: DataFrame = MetaTables.segments(spark, parquetTables)
  def metaSegmentsAccurate: DataFrame = MetaTables.segmentsAccurate(spark, parquetTables)
  def metaChunkSortOrders: DataFrame = MetaTables.chunkSortOrders(spark, parquetTables)
  def metaSettings: DataFrame = MetaTables.settings(spark)
  def metaSystemInformation: DataFrame = MetaTables.systemInformation(spark)
  def metaSystemUtilization: DataFrame = MetaTables.systemUtilization(spark)
  def metaPlugins: DataFrame = MetaTables.plugins(spark)

  /** `meta_commits` — the retained binding history behind [[tableAsOf]]:
    * one row per (table, commit), dropped = the commit removed the binding.
    * No reference counterpart (its MVCC versions are row-internal); this is
    * the observability face of the ASOF time-travel surface. */
  def metaCommits: DataFrame = {
    val rows = for {
      (n, hs) <- history.toSeq.sortBy(_._1)
      (cid, b) <- hs
    } yield Row(n, cid, b.isEmpty, firstCid.getOrElse(n, cid))
    spark.createDataFrame(java.util.Arrays.asList(rows.sortBy(r => (r.getString(0), r.getLong(1))): _*),
      StructType(Seq(
        StructField("table_name", StringType, nullable = false),
        StructField("commit_id", LongType, nullable = false),
        StructField("dropped", org.apache.spark.sql.types.BooleanType, nullable = false),
        // retention bound surfaced (round-6 ADVICE): MIN(commit_id) per table
        // is the oldest ASOF-able commit; first_commit_id < that ⇒ older
        // entries were evicted and ASOF on them errors.
        StructField("first_commit_id", LongType, nullable = false))))
  }

  /** `meta_log` — catalog event log (reference: meta_log_table.cpp). */
  def metaLog: DataFrame = {
    val rows = eventLog.synchronized(eventLog.toSeq).map { case (i, lvl, m) => Row(i, lvl, m) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("seq", IntegerType, nullable = false),
      StructField("level", StringType, nullable = false),
      StructField("message", StringType, nullable = false))))
  }

  /** `meta_columns` — table/column/type/nullable inventory
    * (reference: src/lib/utils/meta_tables/meta_columns_table.cpp). */
  def metaColumns: DataFrame = {
    val rows = for {
      n <- tableNames
      f <- tables(n).schema.fields
    } yield Row(n, f.name, f.dataType.simpleString, f.nullable)
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("table_name", StringType, nullable = false),
        StructField("column_name", StringType, nullable = false),
        StructField("data_type", StringType, nullable = false),
        StructField("is_nullable", org.apache.spark.sql.types.BooleanType, nullable = false))))
  }
}
