package graft.operators

import graft.{Catalog, Pipeline, Q}
import org.apache.spark.sql.SparkSession

/** Oracle-checkable probes of the meta-table surface (reference:
  * src/lib/utils/meta_tables/ — 13 virtual tables). Each query goes through
  * `Pipeline.sql` like a user would; the oracle reproduces the deterministic
  * subset from the DATA (row counts, min/max) or from engine constants, so
  * footer-derived introspection is cross-checked against ground truth. */
object MetaQueries {

  private def pipe(s: SparkSession, dir: String): Pipeline = {
    val cat = new Catalog(s)
    graft.Stats.tpchTables.foreach(t => cat.registerParquet(t, s"$dir/$t.parquet"))
    new Pipeline(cat)
  }

  /** Chunk (row-group) row counts must sum to the table counts. */
  val metaChunksRowcount: Q = Q(
    "meta_chunks_rowcount",
    """SELECT * FROM (
      |  SELECT 'customer' AS table_name, CAST(COUNT(*) AS BIGINT) AS n FROM customer
      |  UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
      |  UNION ALL SELECT 'nation', COUNT(*) FROM nation
      |  UNION ALL SELECT 'orders', COUNT(*) FROM orders
      |  UNION ALL SELECT 'part', COUNT(*) FROM part
      |  UNION ALL SELECT 'region', COUNT(*) FROM region
      |  UNION ALL SELECT 'supplier', COUNT(*) FROM supplier)
      |ORDER BY table_name""".stripMargin) { (s, dir) =>
    pipe(s, dir).sql(
      """SELECT table_name, SUM(row_count) AS n FROM meta_chunks
        |GROUP BY table_name ORDER BY table_name""".stripMargin)
  }

  /** Footer min/max must equal the data min/max (segment pruning statistics —
    * reference: src/lib/statistics/generate_pruning_statistics.cpp). */
  val metaSegmentsMinmax: Q = Q(
    "meta_segments_minmax",
    """SELECT 'l_orderkey' AS column_name, CAST(MIN(l_orderkey) AS BIGINT) AS min_v,
      |       CAST(MAX(l_orderkey) AS BIGINT) AS max_v FROM lineitem
      |UNION ALL
      |SELECT 'o_custkey', MIN(o_custkey), MAX(o_custkey) FROM orders
      |ORDER BY column_name""".stripMargin) { (s, dir) =>
    pipe(s, dir).sql(
      """SELECT column_name, MIN(CAST(min_value AS BIGINT)) AS min_v,
        |       MAX(CAST(max_value AS BIGINT)) AS max_v
        |FROM meta_segments
        |WHERE (table_name = 'lineitem' AND column_name = 'l_orderkey')
        |   OR (table_name = 'orders' AND column_name = 'o_custkey')
        |GROUP BY column_name ORDER BY column_name""".stripMargin)
  }

  /** `meta_segments_accurate` distinct counts come from a real distributed
    * scan (reference: meta_segments_accurate_table.cpp computes uncached
    * distinct counts — the expensive/accurate half of the fast/accurate
    * split); the oracle recomputes them straight from the data. */
  val metaSegmentsAccurateDistinct: Q = Q(
    "meta_segments_accurate_distinct",
    """SELECT * FROM (
      |  SELECT 'n_name' AS column_name, CAST(COUNT(DISTINCT n_name) AS BIGINT) AS distinct_n FROM nation
      |  UNION ALL SELECT 'o_orderstatus', COUNT(DISTINCT o_orderstatus) FROM orders
      |  UNION ALL SELECT 'r_regionkey', COUNT(DISTINCT r_regionkey) FROM region)
      |ORDER BY column_name""".stripMargin) { (s, dir) =>
    pipe(s, dir).sql(
      """SELECT column_name, distinct_value_count AS distinct_n
        |FROM meta_segments_accurate
        |WHERE (table_name = 'nation' AND column_name = 'n_name')
        |   OR (table_name = 'orders' AND column_name = 'o_orderstatus')
        |   OR (table_name = 'region' AND column_name = 'r_regionkey')
        |ORDER BY column_name""".stripMargin)
  }

  /** ChangeMetaTable (reference: src/lib/operators/maintenance/
    * change_meta_table.hpp:26): SQL DML on `meta_settings` rewrites the
    * session conf; the meta snapshot bakes values at build time, so the
    * result df is stable after the try/finally restore below. */
  val metaChangeSettings: Q = Q(
    "meta_change_settings",
    "SELECT 'spark.sql.autoBroadcastJoinThreshold' AS name, '12345678' AS value") { (s, dir) =>
    val p = pipe(s, dir)
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      p.sql("UPDATE meta_settings SET value = '12345678' " +
        "WHERE name = 'spark.sql.autoBroadcastJoinThreshold'")
      p.sql("SELECT name, value FROM meta_settings " +
        "WHERE name = 'spark.sql.autoBroadcastJoinThreshold'")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Engine-pinned settings are visible (the deterministic subset). */
  val metaSettingsFixed: Q = Q(
    "meta_settings_fixed",
    "SELECT 'spark.sql.session.timeZone' AS name, 'UTC' AS value") { (s, dir) =>
    pipe(s, dir).sql(
      "SELECT name, value FROM meta_settings WHERE name = 'spark.sql.session.timeZone'")
  }

  /** meta_exec reflects the statements a pipeline ran, in order, with status. */
  val metaExecScript: Q = Q(
    "meta_exec_script",
    """SELECT * FROM (VALUES
      |  (1, 'Success'), (2, 'Success'), (3, 'Failed')) v(seq, status)
      |ORDER BY seq""".stripMargin) { (s, dir) =>
    val p = pipe(s, dir)
    p.run(
      """SELECT COUNT(*) FROM region;
        |SELECT COUNT(*) FROM nation;
        |SELECT * FROM this_table_does_not_exist""".stripMargin)
    p.sql("SELECT seq, status FROM meta_exec ORDER BY seq")
  }

  /** No dynamically loaded plugins (extensions are compiled in). */
  val metaPluginsEmpty: Q = Q(
    "meta_plugins_empty",
    "SELECT CAST(NULL AS VARCHAR) AS name WHERE FALSE") { (s, dir) =>
    pipe(s, dir).sql("SELECT name FROM meta_plugins")
  }

  /** System tables answer (machine-dependent values → rows-only check). */
  val metaSystem: Q = Q.noOracle("meta_system_info") { (s, dir) =>
    pipe(s, dir).sql(
      """SELECT i.cpu_count, i.max_memory_bytes, u.active_threads
        |FROM meta_system_information i CROSS JOIN meta_system_utilization u""".stripMargin)
  }

  val all: Seq[Q] = Seq(
    metaChunksRowcount, metaSegmentsMinmax, metaSettingsFixed,
    metaExecScript, metaPluginsEmpty, metaSystem,
    metaSegmentsAccurateDistinct, metaChangeSettings)
}
