package graft.functions

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs after
  * the per-document text stats (TextQueries) and near-dup detection
  * (DedupQueries): repetition scoring, a composite keep/drop filter,
  * deterministic stratified sampling for data mixing, token-budget sequence
  * packing, and duplicate-cluster resolution via connected components.
  *
  * Same design rules as the rest of functions/: per-row logic is pure Catalyst
  * `Column` expressions (codegen, zero shuffles), every aggregate is keyed, and
  * each query's DuckDB oracle twin is generated from the SAME constants so the
  * two engines cannot drift.
  *
  * Scale notes per query are inline; the only iterative operator is the
  * connected-components loop, which is O(component diameter) keyed joins —
  * near-dup clusters are shallow (stars around a few hubs), so it converges in
  * a handful of rounds even at 100 TB, and each round is one shuffle on
  * doc_id with lineage cut by localCheckpoint. */
object CurationQueries {
  import TextFunctions._

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.dfSpread(s, dir, "documents")

  // ------------------------------------------------------- repetition (Gopher)
  // Rae et al. 2021 (Gopher, arXiv:2112.11446) repetition rules, on word
  // 2-grams: fraction of characters in the most frequent 2-gram, fraction of
  // characters in duplicated 2-grams, distinct-token ratio. The corpus has no
  // newlines, so the line-level variants are vacuous here and the n-gram
  // family is the meaningful one.

  /** Raw (non-distinct) word 2-grams. */
  private def grams2(ws0: Column): Column = bindOnce(ws0) { ws =>
    when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
      .otherwise(array().cast("array<string>"))
  }
  private def grams2Sql(ws: String): String =
    s"[$ws[i] || ' ' || $ws[i+1] for i in range(1, len($ws))]"

  /** Characters inside duplicated 2-grams, from the SORTED gram array `ss`:
    * every occurrence of a gram with count ≥ 2 has an equal sorted neighbor,
    * so one sort + one neighbor-compare pass replaces the nested
    * filter-inside-filter (which is O(g²) per row AND re-evaluates the gram
    * construction per outer element — at long-document scale that quadratic
    * blowup, not any shuffle, was the cost ceiling of the quality gate). */
  private def dupChars(ss0: Column): Column = bindOnce(ss0) { ss =>
    val n = size(ss)
    // m(i) = ss(i) == ss(i+1), length n-1
    val m = zip_with(slice(ss, lit(1), n - 1), slice(ss, lit(2), n - 1), (a, b) => a === b)
    val flags = zip_with(
      concat(array(lit(false)), m), concat(m, array(lit(false))), (a, b) => a || b)
    when(n >= 2,
      aggregate(zip_with(ss, flags, (g, f) => when(f, length(g)).otherwise(0)),
        lit(0), (a, x) => a + x))
      .otherwise(0)
  }
  private def dupCharsSql(ss: String): String =
    s"COALESCE(list_sum([CASE WHEN $ss[i] = $ss[i-1] OR $ss[i] = $ss[i+1] " +
      s"THEN len($ss[i]) ELSE 0 END for i in range(1, len($ss)+1)]), 0)"

  val repetition: Q = Q(
    "cur_repetition",
    s"""SELECT doc_id,
       |  CASE WHEN len(grams) = 0 THEN 0.0 ELSE
       |    (best.c * len(best.g)) / chars END AS top2_frac,
       |  dupchars / chars AS dup2_frac,
       |  len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE) AS distinct_ratio
       |FROM (
       |  SELECT doc_id, chars, ws, grams,
       |    list_max([{'c': len(list_filter(grams, x -> x = g)), 'g': g}
       |              for g in list_distinct(grams)]) AS best,
       |    CAST(${dupCharsSql("sg")} AS DOUBLE) AS dupchars
       |  FROM (SELECT doc_id, CAST(length(text) AS DOUBLE) AS chars,
       |          ${tokensSql("text")} AS ws, ${grams2Sql(tokensSql("text"))} AS grams,
       |          list_sort(${grams2Sql(tokensSql("text"))}) AS sg
       |        FROM documents))
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val base = docs(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("double").as("chars"),
      tokens(col("text")).as("ws"),
      grams2(tokens(col("text"))).as("grams"),
      array_sort(grams2(tokens(col("text")))).as("sg"))
    val enriched = base.select(
      col("doc_id"), col("chars"), col("ws"), col("grams"),
      array_max(transform(array_distinct(col("grams")),
        g => struct(size(filter(col("grams"), x => x === g)).as("c"), g.as("g"))))
        .as("best"),
      dupChars(col("sg")).cast("double").as("dupchars"))
    enriched.select(
      col("doc_id"),
      when(size(col("grams")) === 0, lit(0.0))
        .otherwise((col("best.c") * length(col("best.g"))) / col("chars")).as("top2_frac"),
      (col("dupchars") / col("chars")).as("dup2_frac"),
      (size(array_distinct(col("ws"))) / size(col("ws")).cast("double")).as("distinct_ratio"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------- composite keep/drop filter
  // First-failing-rule attribution, the shape every curation pipeline reports:
  // length gates, stopword floor, digit ceiling, repetition ceiling. The rule
  // ORDER is part of the contract (a doc failing several gates is counted
  // under the first), and both engines evaluate the same ordered CASE.

  private val minTokens = 10
  private val maxTokens = 5000
  private val stopFloorPct = 5 // n_stop * 100 >= 5 * n_tokens
  private val digitCeilPct = 20 // n_digit * 100 <= 20 * chars
  private val dup2CeilPct = 60 // dupchars * 100 <= 60 * chars

  /** The per-document keep/drop decision as ONE stateless Column
    * (cur_quality_filter): per-row, no state, stays inside codegen. */
  def keepReason(text: Column): Column = {
    val stops = langMarkers.flatMap(_._2)
    // bind the token array ONCE: grams2's per-element lambda reads a bound
    // variable instead of re-splitting the text per element (O(tokens²) —
    // measured 30 s for 5k docs in the composed single-Column form)
    bindOnce(tokens(text)) { ws =>
      val nTokens = size(ws)
      val dupchars = dupChars(array_sort(grams2(ws)))
      when(nTokens < minTokens, "too_short")
        .when(nTokens > maxTokens, "too_long")
        .when(markerCount(ws, stops) * 100 < lit(stopFloorPct) * nTokens, "low_stopword")
        .when(digitCount(text) * 100 > lit(digitCeilPct) * length(text), "high_digit")
        .when(dupchars * 100 > lit(dup2CeilPct) * length(text), "repetitive")
        .otherwise("keep")
    }
  }

  /** Oracle twin of [[keepReason]]: SELECT wrapping `src` (any relation with a
    * `text` column) that adds a `reason` column, carrying `carry` through.
    * Shared by cur_quality_filter and cur_end_to_end so the two cannot drift. */
  private def keepReasonSelectSql(src: String, carry: String*): String = {
    val stops = langMarkers.flatMap(_._2)
    val carryOut = carry.map(c => s"$c, ").mkString
    s"""SELECT ${carryOut}CASE
       |    WHEN n_tokens < $minTokens THEN 'too_short'
       |    WHEN n_tokens > $maxTokens THEN 'too_long'
       |    WHEN n_stop * 100 < $stopFloorPct * n_tokens THEN 'low_stopword'
       |    WHEN n_digit * 100 > $digitCeilPct * chars THEN 'high_digit'
       |    WHEN ${dupCharsSql("sg")} * 100 > $dup2CeilPct * chars THEN 'repetitive'
       |    ELSE 'keep' END AS reason, n_tokens
       |  FROM (
       |    SELECT $carryOut${tokenCountSql("text")} AS n_tokens,
       |      ${markerCountSql(tokensSql("text"), stops)} AS n_stop,
       |      ${digitCountSql("text")} AS n_digit,
       |      length(text) AS chars,
       |      list_sort(${grams2Sql(tokensSql("text"))}) AS sg
       |    FROM $src)""".stripMargin
  }

  val qualityFilter: Q = Q(
    "cur_quality_filter",
    s"""SELECT reason, COUNT(*) AS n FROM (
       |  ${keepReasonSelectSql("documents")})
       |GROUP BY reason ORDER BY reason""".stripMargin) { (s, dir) =>
    docs(s, dir).select(keepReason(col("text")).as("reason"))
      .groupBy("reason").agg(count(lit(1)).as("n"))
      .orderBy("reason")
  }

  // --------------------------------------------------- stratified sampling
  // Data-mixing: per-source sampling rates applied via the portable hash64 —
  // membership is a pure function of (doc_id, source table), so the sample is
  // reproducible on any engine/cluster and needs no state. Map-only at scale.

  /** Per-source rate in permille: srcN → 50 + 45·N (a deliberate spread from
    * 5% to 90.5% across the 20 fixture sources). */
  private val ratePermille: Seq[(String, Int)] =
    (0 until 20).map(i => s"src$i" -> (50 + 45 * i))

  val sampleStratified: Q = {
    val caseSql = ratePermille.map { case (s0, r) => s"WHEN '$s0' THEN $r" }.mkString(" ")
    Q(
      "cur_sample_stratified",
      s"""SELECT source, COUNT(*) AS n_total,
         |  COUNT(*) FILTER (WHERE ${hash64Sql("CAST(doc_id AS VARCHAR)", "strat")} % 1000
         |    < CASE source $caseSql ELSE 0 END) AS n_sampled
         |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val rate = ratePermille.foldLeft(lit(0)) { case (acc, (s0, r)) =>
        when(col("source") === s0, r).otherwise(acc)
      }
      docs(s, dir)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_total"),
          count(when(hash64(col("doc_id").cast("string"), "strat") % 1000 < rate, 1))
            .as("n_sampled"))
        .orderBy("source")
    }
  }

  // ----------------------------------------------------- sequence packing
  // Assign documents to fixed-token-budget training packs: within each lang
  // stream ordered by doc_id, running token total DIV budget = pack id. One
  // keyed window shuffle on lang; at scale the stream key would be
  // (lang, shard) to bound partition size — same plan shape.

  private val packBudget = 2048

  val packSequences: Q = Q(
    "cur_pack_sequences",
    s"""SELECT lang, pack_id, COUNT(*) AS n_docs, SUM(tok) AS tok_total FROM (
       |  SELECT lang, tok,
       |    (SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + ${packBudget - 1})
       |      // $packBudget AS pack_id
       |  FROM (SELECT lang, doc_id, ${tokenCountSql("text")} AS tok FROM documents))
       |GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select(col("lang"), col("doc_id"), tokenCount(col("text")).as("tok"))
      .withColumn("pack_id",
        ((sum("tok").over(w) + (packBudget - 1)) / packBudget).cast("long"))
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("tok_total"))
      .orderBy("lang", "pack_id")
  }

  // --------------------------------------------- chunking with overlap
  // The inverse of packing: split each document into fixed-token context
  // windows with stride overlap (the standard pretraining prep for docs
  // longer than the model context — GPT-3 era pipelines chunk with
  // CHUNK-token windows every STRIDE tokens so no boundary loses context).
  // Map-only: the chunk lattice is computed per row inside codegen (explode
  // of an integer sequence + array slice), no shuffle at all until the
  // ORDER BY presentation sort — at 100 TB this is a pure scan-transform.
  // chunk_fp (the hash of the chunk text) feeds chunk-level exact dedup
  // downstream, the reason chunking belongs in the engine rather than the
  // tokenizer loader.

  // Window/stride sized to the fixture corpus (docs are 10-99 tokens) so the
  // lattice is non-vacuous: >48-token docs split into up to 3 overlapping
  // chunks. A real pipeline uses its model context (e.g. 2048/1536) — only
  // these two constants change; the plan shape is identical.
  private val CHUNK = 48
  private val STRIDE = 32 // 16-token overlap between consecutive windows

  val chunkOverlap: Q = Q(
    "cur_chunk_overlap",
    s"""SELECT doc_id, chunk_id,
       |  chunk_id * $STRIDE + 1 AS start_tok,
       |  len(ws[chunk_id * $STRIDE + 1 : chunk_id * $STRIDE + $CHUNK]) AS n_tok,
       |  ${hash64Sql(s"array_to_string(ws[chunk_id * $STRIDE + 1 : chunk_id * $STRIDE + $CHUNK], ' ')", "chk")} AS chunk_fp
       |FROM (
       |  SELECT doc_id, ws, unnest(range(0, n_chunks)) AS chunk_id
       |  FROM (
       |    SELECT doc_id, ws,
       |      CASE WHEN len(ws) > $CHUNK
       |        THEN 1 + (len(ws) - $CHUNK + $STRIDE - 1) // $STRIDE
       |        ELSE 1 END AS n_chunks
       |    FROM (SELECT doc_id, ${tokensSql("text")} AS ws FROM documents)))
       |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    val chunk = slice(col("ws"), col("chunk_id") * STRIDE + 1, lit(CHUNK))
    docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .withColumn("n_chunks",
        expr(s"CASE WHEN size(ws) > $CHUNK" +
          s" THEN 1L + (size(ws) - $CHUNK + ${STRIDE - 1}) div $STRIDE" +
          s" ELSE 1L END"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * STRIDE + 1).as("start_tok"),
        size(chunk).cast("long").as("n_tok"),
        hash64(array_join(chunk, " "), "chk").as("chunk_fp"))
      .orderBy("doc_id", "chunk_id")
  }

  // ---------------------------------------- duplicate-cluster resolution (CC)
  // Near-dup pairs are edges; the keep/drop unit is the connected component.
  // Spark side: min-label propagation (the Pregel/GraphX CC algorithm) — each
  // round is one keyed join + keyed agg, lineage cut per round; terminates at
  // the fixpoint detected by the monotone sum-of-labels invariant (labels only
  // decrease, so an unchanged sum == converged, one cheap scalar action per
  // round). Oracle side: the same components via a recursive transitive
  // closure over the SAME pair query (the LSH oracle text is embedded
  // verbatim, so edge sets cannot drift).
  val dedupClusterCc: Q = {
    val pairsSql = DedupQueries.dedupMinhashLsh.oracle.get
    Q(
      "cur_dedup_cluster",
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT d.doc_id, LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS cluster_id
         |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
         |GROUP BY d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      // CC reads the edges as a set: the unsorted pairs, not the registry
      // entry's ORDER BY (which would range-partition and sort them)
      val pairs = DedupQueries.minhashLshPairs(s, dir)
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .localCheckpoint(true)
      val labels = ccLabels(s, edges)
      // Fold the propagated labels back over the full corpus: docs outside
      // the graph are their own singleton cluster.
      docs(s, dir).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"))
        .orderBy("doc_id")
    }
  }

  /** Above this many edge VERTICES the connected-components loop stays
    * distributed; at or below it the graph is collected and solved with a
    * driver union-find. 2^20 vertices ≈ a few MB of longs — trivially
    * driver-sized — and near-dup graphs are orders of magnitude smaller than
    * the corpus, so in practice most runs take the O(E·α) fast path while the
    * iterative path remains the guarantee for adversarially dense corpora. */
  private[graft] val DRIVER_CC_MAX = 1L << 20

  /** Companion edge budget for the driver fast path: vertex count alone does
    * not bound the collect — a ~1M-vertex near-dup graph can carry billions
    * of edges when dense duplicate cliques survive the LSH stage. 2^22 edges
    * ≈ 64 MB of (long, long) rows, still comfortably driver-sized; past it
    * the distributed propagation (label-identical, spec-proven) takes over. */
  private[graft] val DRIVER_CC_MAX_EDGES = 1L << 22

  /** Min-label connected components over the edge-vertex set: returns
    * (doc_id, label) where label = min doc_id of the component. Adaptive:
    * driver union-find for small graphs, min-label propagation otherwise —
    * both produce identical labels (the propagation fixpoint IS the
    * per-component min). */
  private[graft] def ccLabels(s: SparkSession, edges: DataFrame,
      forceDistributed: Boolean = false,
      maxDriverEdges: Long = DRIVER_CC_MAX_EDGES): DataFrame = {
    import s.implicits._
    // Both bounds must hold before anything is collected: vertices bound the
    // union-find map, edges bound the collect itself (round-6 verdict item —
    // vertex count alone admitted an unbounded edge collect). One job counts
    // both; every edge is listed in both directions, so the distinct sources
    // are the vertex set.
    val bounds = edges.agg(count(lit(1)), countDistinct(col("src"))).head
    val (nEdges, nVertices) = (bounds.getLong(0), bounds.getLong(1))
    if (!forceDistributed && nVertices <= DRIVER_CC_MAX && nEdges <= maxDriverEdges) {
      // union-find with path compression; min member becomes the label
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.select("src", "dst").collect().foreach { row =>
        val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
        if (a != b) parent(if (a < b) b else a) = if (a < b) a else b
      }
      val members = parent.keySet ++ parent.values
      val byRoot = members.groupBy(find)
      val label = byRoot.flatMap { case (root, ms) =>
        val m = (ms + root).min
        (ms + root).map(_ -> m)
      }
      label.toSeq.toDF("doc_id", "label")
    } else {
      // Propagate labels over EDGE VERTICES only — any doc outside the
      // near-dup graph keeps its own id as cluster_id, so iterating over the
      // full corpus would re-shuffle millions of fixed rows per round for
      // nothing. At 100 TB the dup graph is orders of magnitude smaller than
      // the corpus; the joins here touch only it.
      var labels = edges.select(col("src").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("label"))
        .localCheckpoint(true)
      // sum over an EMPTY frame is NULL — a corpus with zero near-dup pairs
      // must short-circuit straight to the caller's singleton fold. Labels
      // only decrease, so an unchanged sum is the fixpoint; it is reached
      // within the graph's diameter + 1 rounds, however long the chain.
      val sumRow = labels.agg(sum("label")).head
      var lastSum = if (sumRow.isNullAt(0)) 0L else sumRow.getLong(0)
      var converged = sumRow.isNullAt(0)
      while (!converged) {
        val nbrMin = edges.join(labels, edges("src") === labels("doc_id"))
          .groupBy(col("dst").as("doc_id")).agg(min("label").as("nbr"))
        labels = labels.join(nbrMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
          .localCheckpoint(true)
        val s2 = labels.agg(sum("label")).head.getLong(0)
        converged = s2 == lastSum
        lastSum = s2
      }
      labels
    }
  }

  // -------------------------------------------------- incremental corpus diff
  // Snapshot diffing: which documents were added / removed / changed between
  // two corpus versions — the shape an incremental training-data refresh runs
  // nightly. Keyed on doc_id with the content FINGERPRINT deciding
  // changed-vs-unchanged; one full-outer join of (id, fp) pairs, no content
  // shipped through the shuffle. The "new" snapshot here is derived
  // deterministically from the fixture (edits to doc_id % 50 == 0, deletions
  // of doc_id % 97 == 0, additions re-keyed at +1000000), so both engines
  // diff the same two versions.
  val corpusDiff: Q = {
    val editSql = "doc_id % 50 = 0"
    val dropSql = "doc_id % 97 = 0"
    Q(
      "cur_corpus_diff",
      s"""WITH old AS (
         |  SELECT doc_id, ${fingerprintSql("text")} AS fp FROM documents
         |), new_v AS (
         |  SELECT doc_id, CASE WHEN $editSql
         |      THEN ${fingerprintSql("(text || ' edited')")} ELSE ${fingerprintSql("text")} END AS fp
         |  FROM documents WHERE NOT ($dropSql)
         |  UNION ALL
         |  SELECT doc_id + 1000000, ${fingerprintSql("text")} FROM documents WHERE doc_id < 10
         |)
         |SELECT
         |  COUNT(*) FILTER (WHERE o.doc_id IS NULL) AS added,
         |  COUNT(*) FILTER (WHERE n.doc_id IS NULL) AS removed,
         |  COUNT(*) FILTER (WHERE o.doc_id IS NOT NULL AND n.doc_id IS NOT NULL
         |    AND o.fp <> n.fp) AS changed,
         |  COUNT(*) FILTER (WHERE o.doc_id IS NOT NULL AND n.doc_id IS NOT NULL
         |    AND o.fp = n.fp) AS unchanged
         |FROM old o FULL OUTER JOIN new_v n ON o.doc_id = n.doc_id""".stripMargin) { (s, dir) =>
      val old = docs(s, dir)
        .select(col("doc_id").as("o_id"), fingerprint(col("text")).as("o_fp"))
      val newV = docs(s, dir)
        .filter(!(col("doc_id") % 97 === 0))
        .select(col("doc_id").as("n_id"),
          when(col("doc_id") % 50 === 0,
            fingerprint(concat(col("text"), lit(" edited"))))
            .otherwise(fingerprint(col("text"))).as("n_fp"))
        .unionAll(docs(s, dir).filter(col("doc_id") < 10)
          .select((col("doc_id") + 1000000).as("n_id"), fingerprint(col("text")).as("n_fp")))
      old.join(newV, col("o_id") === col("n_id"), "full_outer")
        .agg(
          count(when(col("o_id").isNull, 1)).as("added"),
          count(when(col("n_id").isNull, 1)).as("removed"),
          count(when(col("o_id").isNotNull && col("n_id").isNotNull
            && col("o_fp") =!= col("n_fp"), 1)).as("changed"),
          count(when(col("o_id").isNotNull && col("n_id").isNotNull
            && col("o_fp") === col("n_fp"), 1)).as("unchanged"))
    }
  }

  // --------------------------------------------------- decontamination
  // Brown et al. 2020 (GPT-3, arXiv:2005.14165 appendix C) style: a training
  // document is contaminated if it shares >= OVERLAP_MIN distinct word
  // n-grams with ANY evaluation document. The eval set here is a
  // deterministic hash-selected ~5% slice of the corpus (a real pipeline
  // plugs in its benchmark files; the JOIN SHAPE is identical). Scale: the
  // eval side collapses to a DISTINCT shingle SET (bounded by the benchmark
  // corpus, broadcastable), the train side is a map-only explode + distinct;
  // set semantics cap join fan-out at 1 per (doc, shingle) — no skew, no
  // quadratic blow-up, one keyed agg.

  private val EVAL_PCT = 5L     // pseudo-benchmark slice of the corpus
  private val OVERLAP_MIN = 5L  // distinct shared n-grams ⇒ contaminated

  val decontaminate: Q = Q(
    "cur_decontaminate",
    s"""WITH hsg AS (
       |  SELECT doc_id, ${hash64Sql("CAST(doc_id AS VARCHAR)", "eval")} % 100 AS bucket,
       |    ${shingleKeysSql("ws", "th", DedupQueries.NGRAM)} AS hsg
       |  FROM (SELECT doc_id, ws, ${tokenHashesSql("ws")} AS th
       |        FROM (SELECT doc_id, ${tokensSql("text")} AS ws FROM documents))
       |), eval_sh AS (
       |  SELECT DISTINCT s FROM (SELECT unnest(hsg) AS s FROM hsg WHERE bucket < $EVAL_PCT)
       |), train_sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, unnest(hsg) AS s FROM hsg WHERE bucket >= $EVAL_PCT)
       |)
       |SELECT t.doc_id, COUNT(*) AS n_overlap
       |FROM train_sh t JOIN eval_sh e ON t.s = e.s
       |GROUP BY t.doc_id
       |HAVING COUNT(*) >= $OVERLAP_MIN
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val isEval = hash64(col("doc_id").cast("string"), "eval") % 100 < EVAL_PCT
    // integer shingle keys (one md5 per token) — the join keys shrink to
    // 8-byte longs, same keys as the dedup family (DedupQueries.hsgOf)
    val evalSh = TextFunctions.explodeNoReeval(
      DedupQueries.hsgOf(d.filter(isEval)), Seq.empty, col("hsg"), "s").distinct()
    val trainSh = TextFunctions.explodeNoReeval(
      DedupQueries.hsgOf(d.filter(!isEval)), Seq(col("doc_id")), col("hsg"), "s")
      .distinct()
    trainSh.join(evalSh, "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= OVERLAP_MIN)
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ domain mixing
  // Data-mixture rebalancing (cf. The Pile, arXiv:2101.00027 §1: per-source
  // sampling weights; GPT-3 table 2.2): each source gets a declared weight
  // (here 2× for even-numbered sources — a real pipeline passes its mixture
  // table), its token budget is weight-proportional, and docs are kept by
  // deterministic hash sampling at the per-source rate. ALL-INTEGER
  // arithmetic (basis points, floor division) so both engines agree exactly.
  // Scale: per-source totals are a tiny keyed agg; the rate table broadcasts
  // back; the doc-level pass is map-only + one map-side-combinable agg.

  val domainMix: Q = Q(
    "cur_domain_mix",
    s"""WITH tok AS (
       |  SELECT source, doc_id, ${tokenCountSql("text")} AS tok,
       |    CASE WHEN CAST(SUBSTR(source, 4) AS INT) % 2 = 0 THEN 2 ELSE 1 END AS w
       |  FROM documents
       |), totals AS (
       |  SELECT source, MIN(w) AS w, SUM(tok) AS src_tok FROM tok GROUP BY source
       |), overall AS (
       |  SELECT SUM(src_tok) AS all_tok, SUM(w) AS sum_w FROM totals
       |), rates AS (
       |  SELECT source, src_tok,
       |    LEAST(10000, (10000 * ((all_tok * w) // sum_w)) // src_tok) AS keep_bp
       |  FROM totals CROSS JOIN overall
       |)
       |SELECT r.source, CAST(r.src_tok AS BIGINT) AS src_tok,
       |  CAST(r.keep_bp AS BIGINT) AS keep_bp,
       |  COUNT(*) FILTER (
       |    WHERE ${hash64Sql("CAST(t.doc_id AS VARCHAR)", "mix")} % 10000 < r.keep_bp) AS kept_docs,
       |  COALESCE(SUM(t.tok) FILTER (
       |    WHERE ${hash64Sql("CAST(t.doc_id AS VARCHAR)", "mix")} % 10000 < r.keep_bp), 0) AS kept_tok
       |FROM tok t JOIN rates r ON t.source = r.source
       |GROUP BY r.source, r.src_tok, r.keep_bp
       |ORDER BY r.source""".stripMargin) { (s, dir) =>
    val w = when(substring(col("source"), 4, 10).cast("int") % 2 === 0, 2L).otherwise(1L)
    val tok = docs(s, dir)
      .select(col("source"), col("doc_id"), tokenCount(col("text")).as("tok"), w.as("w"))
    val totals = tok.groupBy("source").agg(min("w").as("w"), sum("tok").as("src_tok"))
    val overall = totals.agg(sum("src_tok").as("all_tok"), sum("w").as("sum_w"))
    val rates = totals.crossJoin(broadcast(overall))
      .select(col("source"), col("src_tok"),
        least(lit(10000L), expr("(10000 * ((all_tok * w) div sum_w)) div src_tok")).as("keep_bp"))
    val keep = hash64(col("doc_id").cast("string"), "mix") % 10000 < col("keep_bp")
    tok.join(broadcast(rates), "source")
      .groupBy(col("source"), col("src_tok"), col("keep_bp"))
      .agg(count(when(keep, 1)).as("kept_docs"),
        coalesce(sum(when(keep, col("tok"))), lit(0L)).as("kept_tok"))
      .orderBy("source")
  }

  // -------------------------------------------------- fractional-epoch upsampling
  // The upsampling half of data mixing (The Pile, arXiv:2101.00027 table 1
  // declares per-source epochs like 1.5 or 2.5; cur_domain_mix is the
  // downsampling half). Fractional epochs are realized EXACTLY: a source at
  // 2.5 epochs emits 2 full replicas of every document plus a third replica
  // for a deterministic hash-selected 50% of documents. Epochs are carried as
  // integer basis points (25000 = 2.5x) so the replica count is pure integer
  // arithmetic — bit-identical in both engines. The mixture table here maps
  // source index % 3 -> {2.5, 1.5, 1.0}; a real pipeline passes its own.
  // Scale: map-side only — a per-row CASE, a <= ceil(epochs) sequence
  // explode, zero joins, zero shuffles (the ORDER BY is presentation). Output
  // is bounded at ceil(max epochs) x input.

  private val EPOCH_BP: Seq[Long] = Seq(25000L, 15000L, 10000L) // idx%3 -> bp

  val oversampleEpochs: Q = {
    val caseSql =
      s"""CASE CAST(SUBSTR(source, 4) AS INT) % 3
         |      WHEN 0 THEN ${EPOCH_BP(0)} WHEN 1 THEN ${EPOCH_BP(1)}
         |      ELSE ${EPOCH_BP(2)} END""".stripMargin
    Q(
      "cur_oversample_epochs",
      s"""WITH planned AS (
         |  SELECT source, doc_id,
         |    CAST(($caseSql) AS BIGINT) AS epochs_bp,
         |    CAST(($caseSql) // 10000
         |      + CASE WHEN ${hash64Sql("CAST(doc_id AS VARCHAR)", "epoch")} % 10000
         |                  < ($caseSql) % 10000 THEN 1 ELSE 0 END AS BIGINT) AS n_rep
         |  FROM documents
         |)
         |SELECT source, doc_id, epochs_bp, epoch FROM (
         |  SELECT source, doc_id, epochs_bp, unnest(range(1, n_rep + 1)) AS epoch
         |  FROM planned)
         |ORDER BY source, doc_id, epoch""".stripMargin) { (s, dir) =>
      val idx = substring(col("source"), 4, 10).cast("int") % 3
      val bp = when(idx === 0, EPOCH_BP(0)).when(idx === 1, EPOCH_BP(1))
        .otherwise(EPOCH_BP(2))
      val extra = when(hash64(col("doc_id").cast("string"), "epoch") % 10000
        < bp % 10000, 1L).otherwise(0L)
      docs(s, dir)
        .select(col("source"), col("doc_id"), bp.as("epochs_bp"),
          (floor(bp / 10000).cast("long") + extra).as("n_rep"))
        .select(col("source"), col("doc_id"), col("epochs_bp"),
          explode(sequence(lit(1L), col("n_rep"))).as("epoch"))
        .orderBy("source", "doc_id", "epoch")
    }
  }

  // ------------------------------------------------------- train/val/test split
  // Holdout assignment must be a pure function of the document identity —
  // never of row order, partitioning, or a random() call — so that (a) the
  // split is identical on any cluster/engine/rerun, (b) a document can never
  // migrate between train and test across pipeline versions (the classic
  // leakage bug with rand()-based splits), (c) no shuffle is needed: the
  // assignment is one map-only CASE over the portable hash. 98/1/1 permille
  // buckets, the common LLM pretraining shape.
  private val VAL_LO = 980
  private val TEST_LO = 990

  val splitAssign: Q = Q(
    "cur_split_assign",
    s"""SELECT doc_id, source, b AS bucket,
       |  CASE WHEN b < $VAL_LO THEN 'train' WHEN b < $TEST_LO THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, source,
       |        ${hash64Sql("CAST(doc_id AS VARCHAR)", "split")} % 1000 AS b
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), col("source"),
        (hash64(col("doc_id").cast("string"), "split") % 1000).as("bucket"))
      .withColumn("split",
        when(col("bucket") < VAL_LO, "train")
          .when(col("bucket") < TEST_LO, "val")
          .otherwise("test"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------- per-domain cap
  // RefinedWeb-style hard cap: at most CAP documents from any one source, the
  // guard against a single domain flooding the corpus (rate-based mixing above
  // reweights; this bounds). Selection order is (portable hash, doc_id) — a
  // deterministic uniform shuffle within the domain, so the kept subset is
  // reproducible and unbiased, never "first CAP in crawl order".
  //
  // Scale: one window shuffle keyed by source. A mega-domain makes that key
  // hot; the fix at 100 TB is a hash-threshold pre-filter (keep_bp ≈
  // CAP/domain_count from a first keyed count pass) that shrinks each domain
  // to ~CAP candidates before the exact window ranks them.
  private val DOMAIN_CAP = 20

  val domainCap: Q = Q(
    "cur_domain_cap",
    s"""SELECT doc_id, source, rk FROM (
       |  SELECT doc_id, source, ROW_NUMBER() OVER (
       |    PARTITION BY source
       |    ORDER BY ${hash64Sql("CAST(doc_id AS VARCHAR)", "cap")}, doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $DOMAIN_CAP ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val bySrc = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(hash64(col("doc_id").cast("string"), "cap"), col("doc_id"))
    docs(s, dir)
      .select(col("doc_id"), col("source"),
        row_number().over(bySrc).cast("long").as("rk"))
      .filter(col("rk") <= DOMAIN_CAP)
      .orderBy("doc_id")
  }

  // ------------------------------------------------------- end-to-end pipeline
  // The whole curation DAG as ONE composed DataFrame program — exact dedup →
  // quality gate → holdout split → per-(source, split) corpus report. This is
  // the "a user could run their nightly job on this" proof: the stages are the
  // SAME operators verified individually above, composed without any
  // materialization between them, so Catalyst optimizes across stage
  // boundaries (the quality expressions and split hash run in the same
  // codegen stage as the dedup join's probe side).
  //
  // Scale: 2 corpus shuffles total — the fingerprint groupBy and the keep-set
  // join on doc_id (AQE-sized); quality + split are map-only on the survivors;
  // the final report agg is 20×3 groups. Nothing else at 100 TB.
  val endToEnd: Q = Q(
    "cur_end_to_end",
    s"""WITH keep1 AS (
       |  SELECT MIN(doc_id) AS doc_id
       |  FROM documents GROUP BY ${fingerprintSql("text")}
       |), kept AS (
       |  SELECT d.doc_id, d.source, d.text
       |  FROM documents d JOIN keep1 ON d.doc_id = keep1.doc_id
       |), scored AS (
       |  ${keepReasonSelectSql("kept", "doc_id", "source")}
       |), survivors AS (
       |  SELECT doc_id, source, n_tokens FROM scored WHERE reason = 'keep'
       |), assigned AS (
       |  SELECT source, n_tokens,
       |    CASE WHEN b < $VAL_LO THEN 'train' WHEN b < $TEST_LO THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT source, n_tokens,
       |          ${hash64Sql("CAST(doc_id AS VARCHAR)", "split")} % 1000 AS b
       |        FROM survivors)
       |)
       |SELECT source, split, COUNT(*) AS n_docs, SUM(n_tokens) AS n_tokens
       |FROM assigned GROUP BY source, split
       |ORDER BY source, split""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val keep1 = d.groupBy(fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val survivors = d.join(keep1, "doc_id")
      .filter(keepReason(col("text")) === "keep")
    survivors
      .withColumn("b", hash64(col("doc_id").cast("string"), "split") % 1000)
      .withColumn("split",
        when(col("b") < VAL_LO, "train").when(col("b") < TEST_LO, "val").otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum(tokenCount(col("text"))).as("n_tokens"))
      .orderBy("source", "split")
  }

  // ------------------------------------------------------- shard assignment
  // Training loaders want N output shards of ~equal TOKEN mass (docs per
  // shard vary wildly in length). Greedy sequential fill over a deterministic
  // hash order: shard = floor(tokens_before_me / budget). The global running
  // sum is the scalable two-phase shape (same as window_global_rank_scalable):
  // range-partition by the order key, per-partition local sums, then a
  // partition-count-sized offset join — never a single-partition window.
  private val SHARD_TOKENS = 2048L

  val shardAssign: Q = Q(
    "cur_shard_assign",
    s"""WITH d AS (
       |  SELECT doc_id, ${tokenCountSql("text")} AS tok,
       |    ${hash64Sql("CAST(doc_id AS VARCHAR)", "shard")} AS hk
       |  FROM documents
       |), c AS (
       |  SELECT tok, COALESCE(SUM(tok) OVER (ORDER BY hk, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM d
       |)
       |SELECT cum_before // $SHARD_TOKENS AS shard,
       |  COUNT(*) AS n_docs, SUM(tok) AS n_tokens
       |FROM c GROUP BY shard ORDER BY shard""".stripMargin) { (s, dir) =>
    val keyed = docs(s, dir)
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("tok"),
        hash64(col("doc_id").cast("string"), "shard").as("hk"))
      // partition count from the session (not a constant): the result is
      // partition-count-invariant because the range keys are a total order
      .repartitionByRange(s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("hk"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
    val wLocal = Window.partitionBy("pid").orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // pin the range boundaries: offsets pass and final pass must agree
    val local = keyed
      .withColumn("cum_local", sum("tok").over(wLocal))
      .localCheckpoint(true)
    val sums = local.groupBy("pid").agg(sum("tok").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = sums.map(_._1)
      .zip(sums.scanLeft(0L) { case (acc, (_, t)) => acc + t }.init)
    val offDf = broadcast(s.createDataFrame(offsets.toSeq).toDF("pid2", "offset"))
    local.join(offDf, col("pid") === col("pid2"))
      .withColumn("cum_before", col("cum_local") - col("tok") + col("offset"))
      .withColumn("shard", expr(s"cum_before div $SHARD_TOKENS"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
      .orderBy("shard")
  }

  // ------------------------------------------------------- dedup audit report
  // Cluster-size histogram over the connected components: how much of the
  // corpus sits in singletons vs n-way duplicate groups — the one-page audit
  // every dedup run ships with. Derived from the SAME clustering (Spark: the
  // adaptive CC; oracle: the same recursive closure), so report and operator
  // cannot disagree.
  val dedupClusterHistogram: Q = {
    require(dedupClusterCc.oracle.get.endsWith("ORDER BY d.doc_id"),
      "histogram embeds the CC oracle as a CTE by stripping its ORDER BY")
    val ccSql = dedupClusterCc.oracle.get.stripSuffix("ORDER BY d.doc_id")
    Q(
      "cur_dedup_cluster_hist",
      s"""WITH cc AS ($ccSql)
         |SELECT cluster_size, COUNT(*) AS n_clusters,
         |  cluster_size * COUNT(*) AS n_docs
         |FROM (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id)
         |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin) { (s, dir) =>
      dedupClusterCc.run(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")
    }
  }

  // ------------------------------------------------------- source health report
  // The per-source one-pager every corpus owner reads daily: volume, quality
  // keep-rate (basis points, integer-exact), token mass, language-ID
  // agreement. One scan + one keyed agg; every signal reuses the SAME
  // expressions as the operators above (keepReason, tokenCount, langId), so
  // the report can never disagree with the pipeline's decisions.
  val sourceHealth: Q = Q(
    "cur_source_health",
    s"""WITH scored AS (
       |  ${keepReasonSelectSql("documents", "source", "lang", "text")}
       |)
       |SELECT source, COUNT(*) AS n_docs,
       |  COUNT(*) FILTER (WHERE reason = 'keep') AS n_keep,
       |  (10000 * COUNT(*) FILTER (WHERE reason = 'keep')) // COUNT(*) AS keep_bp,
       |  SUM(n_tokens) AS tok_total,
       |  COUNT(*) FILTER (WHERE pred = lang) AS n_lang_agree
       |FROM (SELECT source, lang, reason, n_tokens,
       |        ${langIdSql(tokensSql("text"))} AS pred FROM scored)
       |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("source"), col("lang"),
        keepReason(col("text")).as("reason"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        langId(tokens(col("text"))).as("pred"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("reason") === "keep", 1)).as("n_keep"),
        sum("n_tokens").as("tok_total"),
        count(when(col("pred") === col("lang"), 1)).as("n_lang_agree"))
      .withColumn("keep_bp", expr("(10000 * n_keep) div n_docs"))
      .select("source", "n_docs", "n_keep", "keep_bp", "tok_total", "n_lang_agree")
      .orderBy("source")
  }

  /** Document-length histogram (token-count buckets of 8): the shape check
    * against truncation artifacts and length-distribution drift between
    * corpus versions. Integer `div` bucketing, one keyed agg — exact. */
  val tokenLengthHist: Q = Q(
    "cur_token_length_hist",
    s"""SELECT (${tokenCountSql("text")} // 8) * 8 AS bucket_lo,
       |  COUNT(*) AS n_docs, SUM(${tokenCountSql("text")}) AS n_tokens
       |FROM documents GROUP BY bucket_lo ORDER BY bucket_lo""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(tokenCount(col("text")).cast("long").as("tok"))
      .groupBy(expr("(tok div 8) * 8").as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
      .orderBy("bucket_lo")
  }

  // ------------------------------------------------------ temperature sampling
  // Temperature-based source rebalancing (the multilingual/multi-domain mix
  // rule of mBERT/XLM-R, arXiv:1911.02116 §3.1): sources are sampled with
  // probability ∝ p^α instead of their natural share p, which up-weights
  // small sources. α = 1/2 realizes per-source keep rates ∝ tok^(α−1) =
  // 1/√tok, normalized so the SMALLEST source keeps 100%:
  //   keep_bp(s) = min(10000, ⌊10000·√(min_tok ∕ tok_s)⌋).
  // IEEE-754 guarantees sqrt is correctly rounded (unlike pow/ln — see
  // textDfScore), so this is the one fractional temperature whose rate table
  // hash-matches bit-for-bit across engines; other α values would land on
  // non-portable pow(). Doc selection reuses the deterministic hash-threshold
  // rule (no rand()), so the sample is reproducible run-to-run.
  // Scale plan: one tiny keyed agg (per-source totals) + a 1-row min
  // broadcast; the doc pass is map-only against the broadcast rate table with
  // a map-side-combinable final agg — the cur_domain_mix shape exactly.

  val temperatureSample: Q = Q(
    "cur_temperature_sample",
    s"""WITH tok AS (
       |  SELECT source, doc_id, ${tokenCountSql("text")} AS tok FROM documents
       |), totals AS (
       |  SELECT source, SUM(tok) AS src_tok FROM tok GROUP BY source
       |), floor_tok AS (
       |  SELECT MIN(src_tok) AS min_tok FROM totals
       |), rates AS (
       |  SELECT source, src_tok,
       |    LEAST(10000, CAST(floor(10000 * sqrt(CAST(min_tok AS DOUBLE) / src_tok)) AS BIGINT)) AS keep_bp
       |  FROM totals CROSS JOIN floor_tok
       |)
       |SELECT r.source, CAST(r.src_tok AS BIGINT) AS src_tok, r.keep_bp,
       |  COUNT(*) FILTER (
       |    WHERE ${hash64Sql("CAST(t.doc_id AS VARCHAR)", "temp")} % 10000 < r.keep_bp) AS kept_docs,
       |  COALESCE(SUM(t.tok) FILTER (
       |    WHERE ${hash64Sql("CAST(t.doc_id AS VARCHAR)", "temp")} % 10000 < r.keep_bp), 0) AS kept_tok
       |FROM tok t JOIN rates r ON t.source = r.source
       |GROUP BY r.source, r.src_tok, r.keep_bp
       |ORDER BY r.source""".stripMargin) { (s, dir) =>
    val tok = docs(s, dir)
      .select(col("source"), col("doc_id"), tokenCount(col("text")).as("tok"))
    val totals = tok.groupBy("source").agg(sum("tok").as("src_tok"))
    val floorTok = totals.agg(min("src_tok").as("min_tok"))
    val rates = totals.crossJoin(broadcast(floorTok))
      .select(col("source"), col("src_tok"),
        least(lit(10000L),
          floor(lit(10000d) * sqrt(col("min_tok").cast("double") / col("src_tok")))
            .cast("long")).as("keep_bp"))
    val keep = hash64(col("doc_id").cast("string"), "temp") % 10000 < col("keep_bp")
    tok.join(broadcast(rates), "source")
      .groupBy(col("source"), col("src_tok"), col("keep_bp"))
      .agg(count(when(keep, 1)).as("kept_docs"),
        coalesce(sum(when(keep, col("tok"))), lit(0L)).as("kept_tok"))
      .orderBy("source")
  }

  // ------------------------------------------------------------- rule funnel
  // Gopher-style rule cascade with marginal-drop accounting (Rae 2021
  // arXiv:2112.11446 Table A1: each doc is dropped by its FIRST failing rule,
  // and the report shows per-rule in/drop/out counts — the funnel view every
  // cleaning pipeline publishes). Rules are integer-exact (ratios cleared of
  // division): min/max token count, average word length ≤ 5.0 via
  // lensum·2 ≤ nt·10, top-token share ≤ 20% via topcnt·5 ≤ nt.
  // Scale plan: the per-doc stats are one map-only pass plus the repetition
  // rule's two map-side-combinable keyed aggs ((doc,token) → doc); the
  // funnel itself aggregates to 4 rule rows — the cumulative window runs on
  // the RULE table, never the corpus.

  val ruleFunnel: Q = Q(
    "cur_rule_funnel",
    s"""WITH m AS (
       |  SELECT doc_id, ${tokenCountSql("text")} AS nt,
       |    ${tokenLenSumSql(tokensSql("text"))} AS lensum
       |  FROM documents
       |), tok AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS w FROM documents
       |), tcnt AS (
       |  SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2
       |), top AS (
       |  SELECT doc_id, MAX(c) AS topcnt FROM tcnt GROUP BY 1
       |), ff AS (
       |  SELECT CASE WHEN m.nt < 20 THEN 1 WHEN m.nt > 90 THEN 2
       |    WHEN m.lensum * 2 > m.nt * 10 THEN 3
       |    WHEN top.topcnt * 5 > m.nt THEN 4 ELSE 0 END AS stage
       |  FROM m JOIN top ON m.doc_id = top.doc_id
       |), drops AS (
       |  SELECT r.stage, r.rule, COALESCE(d.cnt, 0) AS n_drop
       |  FROM (VALUES (1, 'min_tokens'), (2, 'max_tokens'),
       |               (3, 'avg_word_len'), (4, 'repetition')) AS r(stage, rule)
       |  LEFT JOIN (SELECT stage, COUNT(*) AS cnt FROM ff WHERE stage > 0
       |             GROUP BY stage) d ON r.stage = d.stage
       |)
       |SELECT stage, rule, n_total - cum_before AS n_in, n_drop,
       |  n_total - cum_before - n_drop AS n_out
       |FROM (
       |  SELECT stage, rule, n_drop,
       |    COALESCE(SUM(n_drop) OVER (ORDER BY stage
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM drops) CROSS JOIN (SELECT COUNT(*) AS n_total FROM documents)
       |ORDER BY stage""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val m = d.select(col("doc_id"), tokenCount(col("text")).as("nt"),
      tokenLenSum(tokens(col("text"))).as("lensum"))
    val top = d.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("topcnt"))
    val stage = when(col("nt") < 20, 1).when(col("nt") > 90, 2)
      .when(col("lensum") * 2 > col("nt") * 10, 3)
      .when(col("topcnt") * 5 > col("nt"), 4).otherwise(0)
    val ff = m.join(top, "doc_id").select(stage.as("stage"))
    val rules = s.createDataFrame(Seq(
      (1, "min_tokens"), (2, "max_tokens"), (3, "avg_word_len"), (4, "repetition")))
      .toDF("stage", "rule")
    val counted = ff.filter(col("stage") > 0).groupBy("stage").agg(count(lit(1)).as("cnt"))
    val total = d.agg(count(lit(1)).as("n_total"))
    val wCum = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, -1)
    broadcast(rules).join(counted, Seq("stage"), "left")
      .select(col("stage"), col("rule"), coalesce(col("cnt"), lit(0L)).as("n_drop"))
      .withColumn("cum_before", coalesce(sum("n_drop").over(wCum), lit(0L)))
      .crossJoin(broadcast(total))
      .select(col("stage"), col("rule"),
        (col("n_total") - col("cum_before")).as("n_in"), col("n_drop"),
        (col("n_total") - col("cum_before") - col("n_drop")).as("n_out"))
      .orderBy("stage")
  }

  // ---------------------------------------------------------------- PageRank
  // PageRank (Page 1999) over the content-similarity candidate graph — the
  // link-quality signal web-corpus curation ranks pages by (the same graph
  // the dedup family buckets; here coarse 64-way content buckets stand in for
  // hyperlinks, with bucket-mates mutually linked). THREE fixed power
  // iterations in pure integer micro-units: contribution = pr div deg,
  // pr' = 150000 + (850·Σ contrib) div 1000 — damping 0.85 as the exact
  // rational 850/1000, every intermediate an i64, so the ranking is
  // bit-identical in both engines and independent of aggregation order.
  // Scale plan: the graph lives on EDGES (bucket equi-join, never all-pairs
  // across buckets; bucket count scales ∝ corpus to bound bucket size), each
  // iteration is ONE keyed shuffle over edges + a left join back to nodes —
  // the ccLabels iteration shape, with localCheckpoint the documented
  // upgrade once iteration counts grow.
  private val PR_ITERS = 3
  private val PR_BUCKETS = 64

  val pageRank: Q = {
    val bktSql = s"${hash64Sql("text", "pr")} % $PR_BUCKETS"
    def itSql(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT n.doc_id, 150000 + (850 * COALESCE(s.c, 0)) // 1000 AS pr
         |  FROM b n LEFT JOIN (
         |    SELECT e.dst, SUM(p.pr // dg.d) AS c
         |    FROM e JOIN $prev p ON p.doc_id = e.src JOIN deg dg ON dg.src = e.src
         |    GROUP BY e.dst) s ON s.dst = n.doc_id)""".stripMargin
    Q(
      "cur_pagerank",
      s"""WITH b AS (
         |  SELECT doc_id, $bktSql AS bkt FROM documents
         |), e AS (
         |  SELECT a.doc_id AS src, c.doc_id AS dst
         |  FROM b a JOIN b c ON a.bkt = c.bkt AND a.doc_id <> c.doc_id
         |), deg AS (
         |  SELECT src, COUNT(*) AS d FROM e GROUP BY src
         |), it0 AS (
         |  SELECT doc_id, CAST(1000000 AS BIGINT) AS pr FROM b
         |), ${itSql("it0", "it1")},
         |${itSql("it1", "it2")},
         |${itSql("it2", "it3")}
         |SELECT doc_id, pr, rk FROM (
         |  SELECT doc_id, pr, ROW_NUMBER() OVER (ORDER BY pr DESC, doc_id) AS rk
         |  FROM it3) WHERE rk <= 20 ORDER BY rk""".stripMargin) { (s, dir) =>
      val b = docs(s, dir)
        .select(col("doc_id"), (hash64(col("text"), "pr") % PR_BUCKETS).as("bkt"))
      // materialize the edge table once — every unrolled iteration reads it,
      // and without the cut each re-derives the bucket join from the corpus
      // (the ccLabels localCheckpoint treatment; 3 iterations → 1 edge scan)
      val e = b.select(col("doc_id").as("src"), col("bkt"))
        .join(b.select(col("doc_id").as("dst"), col("bkt").as("bkt2")),
          col("bkt") === col("bkt2") && col("src") =!= col("dst"))
        .select("src", "dst")
        .localCheckpoint()
      val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
      var pr = b.select(col("doc_id"), lit(1000000L).as("pr"))
      for (_ <- 1 to PR_ITERS) {
        val contrib = e
          .join(pr.withColumnRenamed("doc_id", "src"), "src")
          .join(deg, "src")
          .select(col("dst"), expr("pr div d").as("c"))
          .groupBy("dst").agg(sum("c").as("c"))
        pr = b.select(col("doc_id"))
          .join(contrib.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            (lit(150000L) + expr("(850 * coalesce(c, 0L)) div 1000")).as("pr"))
      }
      val w = Window.orderBy(col("pr").desc, col("doc_id"))
      pr.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
        .orderBy("rk")
    }
  }

  // ------------------------------------------------------ line-level dedup
  // C4's corpus-global line dedup (Raffel et al. 2020, arXiv:1910.10683 §2.2:
  // "we discarded all but one of any three-sentence span occurring more than
  // once") / RefinedWeb's line-wise filtering: count every LINE's occurrences
  // across the WHOLE corpus, keep only the globally-first occurrence of any
  // line that appears >= LINE_DF_MAX times, and rebuild each document from
  // its surviving lines. This is the op that strips cross-site boilerplate
  // (nav bars, licence footers, cookie banners) that doc-level near-dup
  // cannot see. The fixture corpus has no newlines, so a "line" here is a
  // non-overlapping LINE_W-token segment — the boundary rule is a pluggable
  // detail; the corpus-global frequency + keep-first + rebuild pipeline is
  // the operator.
  //
  // Scale shape (the part that must survive 100 TB): segmentation is map-only;
  // line keys are 8-byte hashes (one shuffle to count df); the duplicate-line
  // table (df >= threshold) is FAR smaller than the corpus — boilerplate by
  // definition — and joins back LEFT on the 8-byte key (AQE broadcasts it when
  // small); rebuild is one doc_id-keyed aggregation. Nothing is ever
  // all-pairs, and no stage holds more than one doc's lines in memory.
  // First-occurrence order key packs (doc_id, pos) into one long — valid while
  // a single doc has < 2^20 segments (~10M tokens/doc), asserted below.

  private val LINE_W = 10       // tokens per pseudo-line (fixture boundary rule)
  private val LINE_DF_MAX = 3L  // C4's "more than once" at 3-sentence spans → df >= 3 here

  /** Corpus-global line dedup: keep-first of hot lines, rebuild docs. */
  val lineDedup: Q = Q(
    "cur_line_dedup",
    s"""WITH t AS (
       |  SELECT doc_id, ${tokensSql("text")} AS ws FROM documents
       |), sg AS (
       |  SELECT doc_id,
       |         [array_to_string(ws[(g-1)*$LINE_W+1 : g*$LINE_W], ' ')
       |          for g in range(1, CAST(ceil(len(ws) / $LINE_W.0) AS BIGINT) + 1)] AS segs
       |  FROM t
       |), ln AS (
       |  SELECT doc_id,
       |         unnest(range(1, len(segs) + 1)) AS pos,
       |         unnest(segs) AS seg
       |  FROM sg
       |), ky AS (
       |  SELECT doc_id, pos, seg, ${hash64Sql("seg", "ld")} AS k,
       |         doc_id * 1048576 + pos AS ord2
       |  FROM ln
       |), hot AS (
       |  SELECT k, MIN(ord2) AS fk FROM ky
       |  GROUP BY k HAVING COUNT(*) >= $LINE_DF_MAX
       |), kept AS (
       |  SELECT ky.doc_id, ky.pos, ky.seg
       |  FROM ky LEFT JOIN hot ON ky.k = hot.k
       |  WHERE hot.k IS NULL OR ky.ord2 = hot.fk
       |), tot AS (
       |  SELECT doc_id, COUNT(*) AS n_seg FROM ky GROUP BY doc_id
       |)
       |SELECT kept.doc_id, ANY_VALUE(tot.n_seg) AS n_seg,
       |       COUNT(*) AS n_kept,
       |       string_agg(seg, ' ' ORDER BY pos) AS new_text
       |FROM kept JOIN tot ON kept.doc_id = tot.doc_id
       |GROUP BY kept.doc_id
       |ORDER BY kept.doc_id""".stripMargin) { (s, dir) =>
    val t = docs(s, dir).select(col("doc_id"), tokens(col("text")).as("ws"))
    val segs = transform(
      sequence(lit(1), ceil(size(col("ws")) / lit(LINE_W.toDouble)).cast("int")),
      g => concat_ws(" ", slice(col("ws"), (g - lit(1)) * LINE_W + lit(1), lit(LINE_W))))
    // posexplode_outer + output filter, same generator-re-eval guard as
    // TextFunctions.explodeNoReeval (the segment lattice is expensive)
    val ln = t.select(col("doc_id"), posexplode_outer(segs).as(Seq("p0", "seg")))
      .filter(col("seg").isNotNull)
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("seg"))
    val ky = ln
      .withColumn("k", hash64(col("seg"), "ld"))
      .withColumn("ord2", col("doc_id") * (1L << 20) + col("pos"))
      .localCheckpoint() // three consumers below (hot, kept, tot)
    // the duplicated-line table: small relative to the corpus (boilerplate),
    // LEFT-joined back on the 8-byte key — AQE broadcasts it when small
    val hot = ky.groupBy("k")
      .agg(count(lit(1)).as("df"), min(col("ord2")).as("fk"))
      .filter(col("df") >= LINE_DF_MAX)
      .select(col("k"), col("fk"))
    val kept = ky.join(hot, Seq("k"), "left")
      .filter(col("fk").isNull || col("ord2") === col("fk"))
    val tot = ky.groupBy("doc_id").agg(count(lit(1)).as("n_seg"))
    kept.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
            x => x.getField("seg")), " ").as("new_text"))
      .join(tot, "doc_id")
      .select(col("doc_id"), col("n_seg"), col("n_kept"), col("new_text"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------- PII redaction
  // The scrub pass every corpus runs before training: regex-replace emails,
  // phone numbers and IPv4 addresses with typed placeholder tags. Map-only —
  // three codegen'd regexp_replace passes per row, zero shuffles before the
  // final per-source rollup — so it costs one corpus scan at any scale.
  //
  // Pattern dialect: the intersection of Java regex (Spark) and RE2 (DuckDB)
  // — character classes, bounded repetition, no lookaround — so the oracle
  // twin executes the IDENTICAL patterns. The fixture text is digit-free
  // synthetic prose, so the query composes its PII-bearing input inline from
  // real columns (deterministic in both engines); the operator under test is
  // the redaction pass, not the synthesis.

  private val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val phoneRe = """\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"""
  private val ipRe = """[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"""

  /** raw = text + a deterministic contact line (email, phone, IPv4 derived
    * from doc_id/source). Spark side of the shared-constant twin below. */
  private def piiRaw: Column = concat(
    col("text"), lit(" contact user"), col("doc_id").cast("string"),
    lit("@mail-"), col("source"), lit(".org tel +1-555-"),
    lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
    lit(" ip 10."), (col("doc_id") % 250).cast("string"),
    lit("."), ((col("doc_id") * 7) % 250).cast("string"),
    lit("."), ((col("doc_id") * 13) % 250).cast("string"))

  private val piiRawSql: String =
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail-' || source" +
      " || '.org tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')" +
      " || ' ip 10.' || CAST(doc_id % 250 AS VARCHAR)" +
      " || '.' || CAST((doc_id * 7) % 250 AS VARCHAR)" +
      " || '.' || CAST((doc_id * 13) % 250 AS VARCHAR)"

  /** Redaction order is part of the operator contract (email before IP before
    * phone) and is identical in both engines. */
  private def redact(raw: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(raw, lit(emailRe), lit("<EMAIL>")),
        lit(ipRe), lit("<IP>")),
      lit(phoneRe), lit("<PHONE>"))

  /** Spec hook: the fully-redacted synthesized text (no aggregation). */
  private[functions] def redactedProbe: Column = redact(piiRaw)

  private def redactSql(raw: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($raw, '$emailRe', '<EMAIL>', 'g')," +
      s" '$ipRe', '<IP>', 'g'), '$phoneRe', '<PHONE>', 'g')"

  val piiRedact: Q = Q(
    "cur_pii_redact",
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(regexp_extract_all(raw, '$emailRe'))) AS BIGINT) AS n_email,
       |  CAST(SUM(len(regexp_extract_all(raw, '$phoneRe'))) AS BIGINT) AS n_phone,
       |  CAST(SUM(len(regexp_extract_all(raw, '$ipRe'))) AS BIGINT) AS n_ip,
       |  CAST(SUM(length(raw) - length(${redactSql("raw")})) AS BIGINT) AS chars_removed
       |FROM (SELECT source, $piiRawSql AS raw FROM documents)
       |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val withRaw = docs(s, dir).select(col("source"), piiRaw.as("raw"))
    withRaw
      .select(
        col("source"),
        regexp_count(col("raw"), lit(emailRe)).as("e"),
        regexp_count(col("raw"), lit(phoneRe)).as("p"),
        regexp_count(col("raw"), lit(ipRe)).as("i"),
        (length(col("raw")) - length(redact(col("raw")))).as("rm"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("e")).as("n_email"),
        sum(col("p")).as("n_phone"),
        sum(col("i")).as("n_ip"),
        sum(col("rm").cast("long")).as("chars_removed"))
      .orderBy("source")
  }

  val all: Seq[Q] = Seq(
    repetition, qualityFilter, sampleStratified, packSequences, dedupClusterCc,
    corpusDiff, decontaminate, domainMix, oversampleEpochs, splitAssign, domainCap,
    endToEnd, shardAssign, dedupClusterHistogram, sourceHealth, tokenLengthHist,
    temperatureSample, ruleFunnel, pageRank, chunkOverlap, lineDedup, piiRedact)
}
