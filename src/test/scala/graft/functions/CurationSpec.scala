package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the curation operators (beyond the oracle match). */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  test("chunk overlap: full coverage, contiguous ids, stride overlap, fp matches content") {
    val rows = CurationQueries.chunkOverlap.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nTok = graft.Tables.df(spark, sf, "documents")
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.keySet == nTok.keySet, "every doc chunked")
    byDoc.foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (0L until cs.length).toSeq, "contiguous chunk ids")
      sorted.foreach { case (_, cid, start, n) =>
        assert(start == cid * 32 + 1, "stride-spaced starts")
        assert(n >= 1 && n <= 48)
      }
      val (_, _, lastStart, lastN) = sorted.last
      assert(lastStart + lastN - 1 == nTok(doc), s"last chunk reaches the doc end for $doc")
      if (sorted.length > 1)
        assert(sorted.init.forall(_._4 == 48), "all non-final chunks are full windows")
      assert(nTok(doc) > 48 == sorted.length > 1, "multi-chunk iff doc exceeds the window")
    }
    assert(rows.length > nTok.size, "corpus must produce a non-vacuous lattice")
  }

  test("decontamination: eval docs never flagged, overlaps meet the threshold") {
    val flagged = CurationQueries.decontaminate.run(spark, sf).collect()
    assert(flagged.nonEmpty, "synthetic corpus should have some contaminated docs")
    assert(flagged.forall(_.getLong(1) >= 5L), "HAVING threshold respected")
    // the eval slice (hash % 100 < 5) must be excluded from the train side
    val evalIds = graft.Tables.df(spark, sf, "documents")
      .filter(TextFunctions.hash64(col("doc_id").cast("string"), "eval") % 100 < 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged.forall(r => !evalIds.contains(r.getLong(0))), "no eval doc in output")
  }

  test("domain mix: overweighted sources keep more; counts bounded by bucket size") {
    val rows = CurationQueries.domainMix.run(spark, sf).collect()
    assert(rows.length == 20, "one row per source")
    val bp = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
    val evenMin = bp.collect { case (s, b) if s.drop(3).toInt % 2 == 0 => b }.min
    val oddMax = bp.collect { case (s, b) if s.drop(3).toInt % 2 == 1 => b }.max
    assert(evenMin > oddMax, s"2x-weight sources must keep at a higher rate ($evenMin vs $oddMax)")
    assert(bp.values.forall(b => b > 0 && b <= 10000))
    rows.foreach { r =>
      assert(r.getLong(3) <= 25, "kept docs bounded by bucket size")
      assert(r.getLong(4) <= r.getLong(1), "kept tokens bounded by bucket tokens")
    }
  }

  test("split assign: pure function of doc_id, partitions the corpus, near-declared rates") {
    val a = CurationQueries.splitAssign.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(3)))
    val b = CurationQueries.splitAssign.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(3)))
    assert(a.toSeq == b.toSeq, "assignment must be bit-stable across runs")
    val n = a.length.toDouble
    val byName = a.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byName.keySet == Set("train", "val", "test"), s"got ${byName.keySet}")
    // 98/1/1 permille targets; hash buckets are uniform so allow generous slack
    assert(byName("train") / n > 0.95, s"train frac ${byName("train") / n}")
    assert(byName("val") + byName("test") < 0.05 * n)
    assert(a.map(_._1).distinct.length == a.length, "exactly one split per doc")
  }

  test("vocab coverage: cumsum monotone, last row covers the whole corpus") {
    val rows = TextQueries.textVocabCoverage.run(spark, sf).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))) // rank, cum_n, coverage_bp
    assert(rows.map(_._1).toSeq == (1L to rows.length.toLong), "ranks dense from 1")
    assert(rows.sliding(2).forall { case Array(p, q) => q._2 > p._2; case _ => true },
      "cumulative count strictly increases (every token has n >= 1)")
    assert(rows.last._3 == 10000L, "final cumulative coverage is 100.00%")
    assert(rows.map(_._3).sliding(2).forall { case Array(p, q) => q >= p; case _ => true })
  }

  test("domain cap: at most CAP docs per source, selection hash-deterministic") {
    val rows = CurationQueries.domainCap.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySrc = rows.groupBy(_._2)
    assert(bySrc.values.forall(_.length <= 20), "cap respected")
    assert(bySrc.values.forall(g => g.map(_._3).sorted.toSeq == (1L to g.length.toLong)),
      "ranks dense within each source")
    val again = CurationQueries.domainCap.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == again.toSeq, "kept subset reproducible")
  }

  test("end-to-end pipeline agrees with composing the stage operators separately") {
    val rep = CurationQueries.endToEnd.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rep.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    val total = rep.map(_._3).sum
    // independently: dedup keep-set (from the verified exact-dedup operator),
    // then the quality gate, must yield the same survivor count
    val keepIds = DedupQueries.dedupExact.run(spark, sf)
      .select(col("keep_id").as("doc_id"))
    val survivors = graft.Tables.df(spark, sf, "documents")
      .join(keepIds, "doc_id")
      .filter(CurationQueries.keepReason(col("text")) === "keep")
      .count()
    assert(total == survivors, s"fused pipeline $total != staged composition $survivors")
    val train = rep.filter(_._2 == "train").map(_._3).sum
    assert(train.toDouble / total > 0.9, "98/1/1 split: train dominates")
  }

  test("shard assign: contiguous ids, every full shard within a doc-length of budget") {
    val rows = CurationQueries.shardAssign.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == (0L until rows.length.toLong), "shards contiguous from 0")
    val maxDoc = graft.Tables.df(spark, sf, "documents")
      .select(max(TextFunctions.tokenCount(col("text")).cast("long")))
      .collect().head.getLong(0)
    // greedy fill: a full shard's mass can miss the budget by at most the
    // straddling docs at each boundary
    rows.init.foreach { case (s0, _, tok) =>
      assert(tok >= 2048 - 2 * maxDoc && tok <= 2048 + 2 * maxDoc,
        s"shard $s0 token mass $tok vs budget 2048 (maxDoc=$maxDoc)")
    }
    assert(rows.map(_._2).sum == graft.Tables.df(spark, sf, "documents").count(),
      "every doc lands in exactly one shard")
  }

  test("cc adaptive: driver union-find equals distributed propagation exactly") {
    val pairs = DedupQueries.dedupMinhashLsh.run(spark, sf)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val fast = CurationQueries.ccLabels(spark, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val dist = CurationQueries.ccLabels(spark, edges, forceDistributed = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(fast.nonEmpty && fast.toSeq == dist.toSeq,
      "both CC paths must produce identical min-labels")
    // a symmetric 41-vertex path: propagation needs 40 rounds to carry
    // label 0 to vertex 40, so a round cap below that mislabels the tail
    import spark.implicits._
    val path = (0L until 40L).flatMap(v => Seq((v, v + 1), (v + 1, v))).toDF("src", "dst")
    val pathFast = CurationQueries.ccLabels(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val pathDist = CurationQueries.ccLabels(spark, path, forceDistributed = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(pathFast.toSeq == (0L to 40L).map(_ -> 0L))
    assert(pathDist.toSeq == pathFast.toSeq, "a 40-hop chain must reach the fixpoint")
  }

  test("cc edge budget: dense small-vertex graph routes to the distributed path") {
    import spark.implicits._
    // Two dense cliques over few vertices: vertex count passes the driver
    // gate but the edge count exceeds the (shrunk) budget, so the distributed
    // propagation must be taken — and must still label both cliques by their
    // min member. Guards the round-6 fix: the driver collect is bounded by
    // EDGES, not just vertices.
    val vs1 = (0L until 40L)
    val vs2 = (100L until 140L)
    val clique = (vs: Seq[Long]) =>
      for (a <- vs; b <- vs if a != b) yield (a, b)
    val edges = (clique(vs1) ++ clique(vs2)).toDF("src", "dst")
    val nEdges = edges.count()
    val labels = CurationQueries.ccLabels(spark, edges, maxDriverEdges = nEdges / 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    vs1.foreach(v => assert(labels(v) == 0L, s"clique-1 vertex $v mislabeled"))
    vs2.foreach(v => assert(labels(v) == 100L, s"clique-2 vertex $v mislabeled"))
  }

  test("repetition fractions are in [0,1] and distinct_ratio positive") {
    val rows = CurationQueries.repetition.run(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (top2, dup2, dr) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(top2 >= 0 && top2 <= 1, s"top2_frac out of range: $top2")
      assert(dup2 >= 0 && dup2 <= 1, s"dup2_frac out of range: $dup2")
      assert(dr > 0 && dr <= 1, s"distinct_ratio out of range: $dr")
    }
  }

  test("quality filter reasons partition the corpus") {
    val n = CurationQueries.qualityFilter.run(spark, sf)
      .agg(sum("n")).head.getLong(0)
    val total = graft.Tables.df(spark, sf, "documents").count()
    assert(n == total, s"reason counts must partition: $n != $total")
  }

  test("stratified sample is deterministic and rate-ordered in expectation") {
    val a = CurationQueries.sampleStratified.run(spark, sf).collect()
    val b = CurationQueries.sampleStratified.run(spark, sf).collect()
    assert(a.sameElements(b), "hash-based sampling must be reproducible")
    a.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "sample cannot exceed stratum size")
    }
  }

  test("sequence packing conserves tokens and ids are contiguous per lang") {
    val packs = CurationQueries.packSequences.run(spark, sf).collect()
    val byLang = packs.groupBy(_.getString(0))
    byLang.foreach { case (lang, rows) =>
      val ids = rows.map(_.getLong(1)).sorted
      assert(ids.head == 1L, s"$lang: first pack must be 1")
      assert(ids.zip(ids.tail).forall { case (a2, b2) => b2 == a2 + 1 },
        s"$lang: pack ids must be contiguous: ${ids.mkString(",")}")
    }
    val packed = packs.map(_.getLong(3)).sum
    val total = graft.Tables.df(spark, sf, "documents")
      .select(TextFunctions.tokenCount(col("text")).cast("long")).collect().map(_.getLong(0)).sum
    assert(packed == total, s"token conservation: $packed != $total")
  }

  test("fractional epochs: replica counts realize the declared mixture exactly") {
    val rows = CurationQueries.oversampleEpochs.run(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val perDoc = rows.groupBy(r => (r._1, r._2)).map { case ((src, id), rs) =>
      val bp = rs.head._3
      (src, id, bp, rs.length.toLong, rs.map(_._4).sorted.toSeq)
    }
    perDoc.foreach { case (src, id, bp, n, epochs) =>
      val full = bp / 10000
      assert(n == full || n == full + 1,
        s"doc $src/$id at ${bp}bp must have $full or ${full + 1} replicas, got $n")
      assert(epochs == (1L to n), s"doc $src/$id epochs must be 1..$n, got $epochs")
      if (bp % 10000 == 0)
        assert(n == full, s"doc $src/$id: whole epochs ($bp bp) never gain a replica")
    }
    // the fractional remainder is realized: a 1.5x source has BOTH 1- and
    // 2-replica docs (hash-sampled 50%), never all-or-nothing
    val byBp = perDoc.groupBy(_._3)
    byBp.get(15000L).foreach { ds =>
      val ns = ds.map(_._4).toSet
      assert(ns == Set(1L, 2L), s"1.5x source must mix 1 and 2 replicas, got $ns")
    }
  }

  test("dedup clusters: endpoints of every LSH pair share a cluster; rep is min member") {
    val labels = CurationQueries.dedupClusterCc.run(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = DedupQueries.dedupMinhashLsh.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // the representative is a member of its own cluster and is the minimum
    labels.groupBy(_._2).foreach { case (rep, members) =>
      val ids = members.keys.toSeq
      assert(ids.min == rep, s"cluster $rep: representative must be min member")
    }
  }

  test("line dedup: unpruned docs reconstruct verbatim; hot lines keep exactly one occurrence") {
    val out = CurationQueries.lineDedup.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val orig = graft.Tables.df(spark, sf, "documents")
      .select(col("doc_id"), concat_ws(" ", split(trim(col("text")), "\\s+")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.nonEmpty && out.forall { case (_, nSeg, nKept, _) => nKept <= nSeg && nKept >= 1 })
    // a doc that lost nothing must rebuild to its whitespace-normalized self
    val unpruned = out.filter { case (_, nSeg, nKept, _) => nSeg == nKept }
    assert(unpruned.nonEmpty, "fixture must contain unpruned docs")
    unpruned.foreach { case (id, _, _, txt) =>
      assert(txt == orig(id), s"doc $id: lossless rebuild expected")
    }
    // some pruning must actually happen on the fixture (planted dups + tails)
    assert(out.exists { case (_, nSeg, nKept, _) => nKept < nSeg }, "no lines pruned — vacuous")
    // global keep-first: after dedup no line occurs >= LINE_DF_MAX times
    val segCounts = out.toSeq
      .flatMap { case (_, _, _, txt) =>
        val ws = txt.split("\\s+")
        ws.grouped(10).map(_.mkString(" ")) }
      .groupBy(identity).map(_._2.size)
    assert(segCounts.max < 3, "a line still occurs >= LINE_DF_MAX times after dedup")
  }

  test("pii redact: every doc yields one of each PII kind; redaction removes them all") {
    val rows = CurationQueries.piiRedact.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.length == 20, "one row per source")
    rows.foreach { case (src, nDocs, nEmail, nPhone, nIp, rm) =>
      // the synthesized contact line carries exactly one email, phone and IP
      // per doc — a count mismatch means a pattern leaked into another's text
      assert(nEmail == nDocs, s"$src: email count != docs")
      assert(nPhone == nDocs, s"$src: phone count != docs")
      assert(nIp == nDocs, s"$src: ip count != docs")
      assert(rm > 0, s"$src: redaction must shorten (placeholders < PII text)")
    }
    // end-to-end: the redacted text itself must contain no residual match
    import org.apache.spark.sql.functions.{col, lit, regexp_count, sum => fsum}
    val residual = graft.Tables.df(spark, sf, "documents")
      .select(CurationQueries.redactedProbe.as("red"))
      .select((regexp_count(col("red"), lit("""[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}""")) +
        regexp_count(col("red"), lit("""@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""")) +
        regexp_count(col("red"), lit("""\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"""))).as("n"))
      .agg(fsum(col("n"))).collect()(0).getLong(0)
    assert(residual == 0L, "redacted text still matches a PII pattern")
  }
}
