package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}

/** Text-analysis primitives for large-scale training-data pipelines: tokenizing,
  * shingling, portable 64-bit hashing, MinHash signatures, SimHash, language-ID
  * markers, quality ratios, document fingerprints.
  *
  * Everything here is a pure Catalyst `Column` expression (no UDFs); the
  * MinHash chain runs on native kernels from `graft.plans` (see
  * [[tokenHashes]]), and every primitive has a DuckDB-SQL twin
  * (`*Sql` methods) generated from the SAME constants — that twin is what the
  * correctness oracle executes, so Spark and oracle can never drift.
  *
  * Portable hashing: both engines share md5, so
  * `hash64(s, seed) = int64(md5(seed ':' s)[0,15 hex])` is identical in Spark
  * (`conv(substring(md5(..),1,15),16,10)`) and DuckDB (`('0x'||substr(..))::BIGINT`).
  * 60 bits, always non-negative — safe for shifts and mins.
  */
object TextFunctions {

  /** `explode` an EXPENSIVE computed array without the optimizer re-inlining
    * the generator expression into a pre-Generate filter.
    *
    * Plain `explode(arr)` lets `InferFiltersFromGenerate` add
    * `size(arr) > 0 AND isnotnull(arr)` below the Generate; predicate
    * pushdown then collapses the whole generator expression into that
    * filter, where every `element_at(transform(...), i)` re-materializes the
    * full inner array PER ELEMENT — turning a linear shingling pass into
    * O(tokens²) md5 work per document (measured: 130 s vs 0.7 s for the
    * sf0.1 shingle explode; the same pathology Spark tracks as the
    * expensive-Generate-inference family, cf. SPARK-36715).
    * `explode_outer` infers no such filter — empty/null arrays emit a null
    * element instead — so filtering the OUTPUT column afterwards is
    * both equivalent (non-null elements are identical; empty/null arrays
    * contribute nothing either way — our arrays never contain nulls) and
    * cheap (the filter references only the generated column). */
  def explodeNoReeval(df: org.apache.spark.sql.DataFrame, keep: Seq[Column],
                      arr: Column, as: String): org.apache.spark.sql.DataFrame =
    df.select(keep :+ F.explode_outer(arr).as(as): _*).filter(F.col(as).isNotNull)

  /** Let-binding for a COMPUTED array used inside a higher-order-function
    * lambda: evaluate `value` once per row and hand the body a bound lambda
    * VARIABLE instead of the raw expression tree.
    *
    * A lambda like `transform(seq, i -> element_at(ws, i))` re-evaluates the
    * whole `ws` subtree on EVERY element when `ws` is a computed expression
    * (lambda bodies are interpreted per element; only lambda variables are
    * O(1) to read) — composing `grams2(tokens(text))` that way turns a linear
    * pass into O(tokens²) splits per document (measured: the quality gate's
    * single-Column form cost 30 s for 5k sf0.1 docs; 0.4 s after binding).
    * `transform(array(value), body)[1]` evaluates `value` exactly once and
    * every body reference reads the bound element. */
  def bindOnce(value: Column)(body: Column => Column): Column =
    F.element_at(F.transform(F.array(value), body), 1)

  // ------------------------------------------------------------ tokens

  /** Whitespace tokens of trimmed text. */
  def tokens(c: Column): Column = F.split(F.trim(c), "\\s+")
  def tokensSql(c: String): String = s"string_split_regex(trim($c), '\\s+')"

  def tokenCount(c: Column): Column = F.size(tokens(c))
  def tokenCountSql(c: String): String = s"len(${tokensSql(c)})"

  /** BPE-style pre-tokenization (the GPT-2 regex family, lookahead-free so
    * Java regex and DuckDB's RE2 split identically): contractions, space-glued
    * letter runs, digit runs, punctuation runs. Counting these approximates a
    * BPE tokenizer's sequence length far better than whitespace words —
    * subword merges only shorten within these pre-token boundaries. */
  private val bpePattern =
    """'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"""
  def bpeTokens(c: Column): Column =
    F.regexp_extract_all(c, F.lit(bpePattern), F.lit(0))
  def bpeTokenCount(c: Column): Column = F.size(bpeTokens(c))
  def bpeTokenCountSql(c: String): String =
    s"len(regexp_extract_all($c, '${bpePattern.replace("'", "''")}'))"

  /** Normalized text: lowercase, single-spaced. */
  def normalized(c: Column): Column =
    F.regexp_replace(F.lower(F.trim(c)), "\\s+", " ")
  def normalizedSql(c: String): String =
    s"regexp_replace(lower(trim($c)), '\\s+', ' ', 'g')"

  /** Document fingerprint = md5 of normalized text (exact-dedup key). */
  def fingerprint(c: Column): Column = F.md5(normalized(c))
  def fingerprintSql(c: String): String = s"md5(${normalizedSql(c)})"

  // ------------------------------------------------------------ hashing

  /** Portable deterministic 64-bit (60-bit, non-negative) hash. `seed` gives
    * independent hash families for MinHash. */
  def hash64(c: Column, seed: String): Column =
    F.conv(F.substring(F.md5(F.concat(F.lit(seed), F.lit(":"), c)), 1, 15), 16, 10)
      .cast("long")
  def hash64Sql(c: String, seed: String): String =
    s"('0x' || substr(md5('$seed' || ':' || $c), 1, 15))::BIGINT"

  // ------------------------------------------------------------ shingles

  /** Distinct word n-gram shingles (space-joined). Short docs (<n tokens)
    * collapse to one whole-text shingle. */
  def shingles(ws0: Column, n: Int): Column = bindOnce(ws0) { ws =>
    // bindOnce: the lambda below reads `ws` per element — a computed
    // argument (e.g. tokens(text)) must not be re-evaluated n times
    val grams = F.transform(
      F.sequence(F.lit(1), F.size(ws) - (n - 1)),
      i => F.concat_ws(" ", (0 until n).map(o => F.element_at(ws, i + o)): _*))
    F.when(F.size(ws) >= n, F.array_distinct(grams))
      .otherwise(F.array(F.concat_ws(" ", ws)))
  }
  def shinglesSql(ws: String, n: Int): String = {
    val parts = (0 until n).map(o => s"$ws[i+$o]").mkString(" || ' ' || ")
    s"(CASE WHEN len($ws) >= $n THEN list_distinct([$parts for i in range(1, len($ws) - ${n - 2})]) " +
      s"ELSE [array_to_string($ws, ' ')] END)"
  }

  /** POSITIONAL word n-gram spans (space-joined, NOT deduplicated — every
    * occurrence counts, unlike [[shingles]]). Docs shorter than `n` tokens
    * produce no spans: a sub-`n` fragment cannot contain an `n`-token
    * duplicate. Used by span-level substring dedup (Lee et al. 2021,
    * arXiv:2107.06499: duplicated exact substrings across training docs). */
  def spans(ws0: Column, n: Int): Column = bindOnce(ws0) { ws =>
    F.when(F.size(ws) >= n,
      F.transform(
        F.sequence(F.lit(1), F.size(ws) - (n - 1)),
        i => F.concat_ws(" ", (0 until n).map(o => F.element_at(ws, i + o)): _*)))
      .otherwise(F.array().cast("array<string>"))
  }
  def spansSql(ws: String, n: Int): String = {
    val parts = (0 until n).map(o => s"$ws[i+$o]").mkString(" || ' ' || ")
    s"(CASE WHEN len($ws) >= $n THEN [$parts for i in range(1, len($ws) - ${n - 2})] " +
      s"ELSE CAST([] AS VARCHAR[]) END)"
  }

  // ------------------------------------------------------------ MinHash

  /** One md5 per TOKEN — the base layer for integer shingle keys below:
    * `transform(ws, w -> hash64(w, 'mh'))`, computed by the native kernel
    * `graft_hash60_array` (graft.plans.Hash60Array). */
  def tokenHashes(ws: Column): Column = F.call_function("graft_hash60_array", ws, F.lit("mh"))
  def tokenHashesSql(ws: String): String = s"[${hash64Sql("w", "mh")} for w in $ws]"

  // Two independent 31-bit polynomial lanes packed into one 62-bit key.
  // Multipliers < p keep every intermediate below 2^63 (no overflow in
  // either engine); two lanes push the collision space from 2^31 (birthday-
  // marginal at 10^5+ shingles) to 2^62 (negligible).
  private val SK_A1 = 1103515245L
  private val SK_A2 = 48271L

  /** Distinct n-gram shingle KEYS from the pre-hashed token array `th` (plus
    * the raw tokens `ws` for the short-doc fallback): an order-sensitive
    * polynomial mix of n consecutive token hashes replaces per-shingle
    * string building + md5 — one md5 per token instead of per shingle, and
    * ~3× fewer hashed bytes, on the corpus-sized stage every dedup pipeline
    * pays. Consumers treat shingle identity opaquely (join/distinct/minhash),
    * so an integer key is a drop-in for the space-joined string.
    * Short docs (<n tokens) collapse to one whole-text key, mirroring
    * [[shingles]]. Key order is first occurrence, as `array_distinct`
    * keeps it. Computed by the native kernel `graft_shingle_keys`
    * (graft.plans.PolyShingleKeys); [[shingleKeysSql]] spells out the same
    * arithmetic for DuckDB. */
  def shingleKeys(ws: Column, th: Column, n: Int): Column =
    F.call_function("graft_shingle_keys", ws, th, F.lit(n), F.lit(SK_A1), F.lit(SK_A2),
      F.lit(MH_P), F.lit("mh"))
  def shingleKeysSql(ws: String, th: String, n: Int): String = {
    def lane(a: Long): String =
      (0 until n).foldLeft("0") { (acc, o) =>
        s"(($acc * $a + $th[i+$o] % $MH_P) % $MH_P)"
      }
    s"(CASE WHEN len($th) >= $n THEN list_distinct([${lane(SK_A1)} * 2147483648 + ${lane(SK_A2)} " +
      s"for i in range(1, len($th) - ${n - 2})]) " +
      s"ELSE [${hash64Sql(s"array_to_string($ws, ' ')", "mh")}] END)"
  }

  private val MH_P = 2147483647L // 2^31 - 1; (p-1)² + p < 2^63, no overflow
  /** Family constants (a_i ∈ [1, p-1], b_i ∈ [0, p-1]) from fixed golden-ratio
    * multipliers — deterministic, inlined as literals into BOTH engines. */
  private[graft] def mhFam(i: Int): (Long, Long) = {
    val a = ((i + 1).toLong * 2654435761L) % (MH_P - 1) + 1
    val b = ((i + 1).toLong * 2246822519L) % MH_P
    (a, b)
  }

  /** MinHash signature: k affine min-hashes over the PRE-HASHED shingle array
    * (`shingleKeys` above), as columns `h0 … h{k-1}`. Value i is
    * `array_min(transform(hsg, h -> ((h % p) * a_i + b_i) % p))`; all k come
    * from one `graft_minhash` kernel (graft.plans.MinHashSignature) that
    * makes one pass over the keys. The k columns read one shared array
    * expression, which subexpression elimination evaluates once per row. */
  def minhashSig(hsg: Column, k: Int): Seq[Column] = {
    val fams = (0 until k).flatMap { i => val (a, b) = mhFam(i); Seq(F.lit(a), F.lit(b)) }
    val sig = F.call_function("graft_minhash", hsg +: F.lit(MH_P) +: fams: _*)
    (0 until k).map(i => sig.getItem(i).as(s"h$i"))
  }
  def minhashSigSql(hsg: String, i: Int): String = {
    val (a, b) = mhFam(i)
    s"list_min([((s % $MH_P) * $a + $b) % $MH_P for s in $hsg])"
  }

  /** LSH band key: rows-per-band consecutive signature values joined to a string. */
  def bandKey(hs: Seq[Column], band: Int, rowsPerBand: Int): Column =
    F.concat_ws("_", (0 until rowsPerBand).map(r => hs(band * rowsPerBand + r)): _*)

  // ------------------------------------------------------------ SimHash

  /** SimHash over distinct tokens, `bits` wide. Returns per-token hash plus the
    * per-bit vote combiner is assembled by the caller (needs a groupBy). */
  def simhashTokenHash(w: Column): Column = hash64(w, "sim")
  def simhashTokenHashSql(w: String): String = hash64Sql(w, "sim")

  /** Per-bit vote: +1 if bit set else -1 (sum > 0 ⇒ bit set in signature). */
  def bitVote(h: Column, bit: Int): Column =
    (F.shiftright(h, bit).bitwiseAND(F.lit(1L)) * 2 - 1)
  def bitVoteSql(h: String, bit: Int): String =
    s"((($h >> $bit) & 1) * 2 - 1)"

  // ------------------------------------------------------------ language ID

  /** Marker stopwords per language; order = deterministic tie-break priority. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "pour"),
    "es" -> Seq("el", "los", "de", "y", "es", "una", "que", "por"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "不", "人"))

  /** Count of tokens contained in a marker set. */
  def markerCount(ws: Column, markers: Seq[String]): Column =
    F.size(F.filter(ws, w => w.isInCollection(markers)))
  def markerCountSql(ws: String, markers: Seq[String]): String = {
    val list = markers.map(m => s"'$m'").mkString("[", ", ", "]")
    s"len(list_filter($ws, w -> list_contains($list, w)))"
  }

  /** Predicted language = argmax marker count, ties to earlier language. */
  def langId(ws0: Column): Column = bindOnce(ws0) { ws =>
    // one bound evaluation feeds every language's marker count
    val scores = langMarkers.map { case (lang, ms) => lang -> markerCount(ws, ms) }
    scores.zipWithIndex.foldRight(F.lit(langMarkers.last._1)) {
      case (((lang, score), i), acc) =>
        val laterScores = scores.drop(i + 1).map(_._2)
        if (laterScores.isEmpty) acc
        else F.when(laterScores.foldLeft(F.lit(true))((c, s2) => c && score >= s2), lang)
          .otherwise(acc)
    }
  }
  def langIdSql(ws: String): String = {
    val scores = langMarkers.map { case (lang, ms) => lang -> markerCountSql(ws, ms) }
    val cases = scores.zipWithIndex.dropRight(1).map { case ((lang, s), i) =>
      val conds = scores.drop(i + 1).map { case (_, s2) => s"$s >= $s2" }.mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }
    s"(CASE ${cases.mkString(" ")} ELSE '${langMarkers.last._1}' END)"
  }

  // ------------------------------------------------------------ quality

  /** Sum of token lengths (integer; the basis for avg word length). */
  def tokenLenSum(ws: Column): Column =
    F.aggregate(F.transform(ws, w => F.length(w)), F.lit(0), (a, x) => a + x)
  def tokenLenSumSql(ws: String): String =
    s"list_sum(list_transform($ws, w -> len(w)))"

  /** Digit character count. */
  def digitCount(c: Column): Column =
    F.length(F.regexp_replace(c, "[^0-9]", ""))
  def digitCountSql(c: String): String =
    s"len(regexp_replace($c, '[^0-9]', '', 'g'))"
}
