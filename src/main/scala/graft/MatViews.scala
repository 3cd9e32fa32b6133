package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialized views — summary-delta maintenance (Gupta &
  * Mumick, "Maintenance of Materialized Views: Problems, Techniques, and
  * Applications", IEEE DE Bulletin 1995). Beyond the reference's surface
  * (hyrise has only virtual views, src/lib/storage/lqp_view.hpp); this is
  * the warehouse counterpart every 100 TB deployment maintains by hand:
  * a keyed aggregate rollup whose refresh cost is O(delta), not O(base).
  *
  * Supported defining shape (the incrementally-maintainable fragment):
  *
  *   SELECT k1, ..., FN(arg) AS a, ...  FROM base [WHERE pred] GROUP BY k1, ...
  *
  * with FN in COUNT(*) / COUNT(x) / SUM(x) / AVG(x) / MIN(x) / MAX(x).
  * The stored STATE keeps additive components per group — count(*), per-agg
  * non-null counts and sums, min/max — so:
  *
  *  - INSERT delta: aggregate the delta rows alone, then one keyed
  *    full-outer merge with the state (components add; min/max fold with
  *    least/greatest). Never rescans the base.
  *  - DELETE delta: same merge with negated counts/sums. MIN/MAX are not
  *    self-maintainable under deletion (the classic IVM limitation — the new
  *    extreme may live in the undeleted remainder), so a delete/update on a
  *    view with MIN/MAX falls back to full recompute.
  *  - Groups whose total count reaches zero disappear; SUM over a group whose
  *    non-null count reached zero returns to NULL (SQL semantics).
  *
  * Floating-point note: incremental float sums re-associate additions, so
  * like every IVM engine the bit-exactness guarantee is for integer/decimal
  * aggregates; float aggregates are correct up to addition reordering.
  *
  * COUNT(DISTINCT) is not additive (needs per-group value multisets) and is
  * rejected at parse time.
  */
object MatViews {

  final case class MatAgg(alias: String, fn: String, arg: Option[String])

  /** One inner equi-join in the defining query: `FROM base JOIN table2 ON
    * leftKey = rightKey`. Key sides are resolved by column membership at
    * join time (either spelling order is accepted). */
  final case class MatJoin(table2: String, leftKey: String, rightKey: String)

  final case class MatViewDef(
      name: String, base: String, where: Option[String],
      keys: Seq[String], aggs: Seq[MatAgg], sqlText: String,
      joins: Seq[MatJoin] = Nil, order: Seq[String] = Nil,
      keyExprs: Map[String, String] = Map.empty) {
    /** The grouping expression behind key alias `k` (the alias itself for a
      * plain-column key). Expression keys (`year(o_orderdate) AS yr`, r15)
      * widen the maintainable fragment to derived grouping columns: the
      * expression is computed per delta row at deltaState time and the alias
      * becomes an ordinary state column — merge/visible/rollup tiers never
      * see the difference. */
    def keyExpr(k: String): String = keyExprs.getOrElse(k, k)
    def hasMinMax: Boolean = aggs.exists(a => a.fn == "MIN" || a.fn == "MAX")
    /** every table the view reads — dependency + staleness tracking */
    def baseTables: Seq[String] = base +: joins.map(_.table2)
    /** select-list order (keys by name, aggs by alias); older defs that
      * predate the field fall back to keys-then-aggs */
    def selectOrder: Seq[String] =
      if (order.nonEmpty) order else keys ++ aggs.map(_.alias)
  }

  /** Split on `sep` ignoring separators nested inside parentheses/quotes. */
  private def splitTop(s: String, sep: Char): Seq[String] = {
    val out = scala.collection.mutable.Buffer.empty[String]
    val cur = new StringBuilder
    var depth = 0; var inQ = false
    s.foreach { ch =>
      if (ch == '\'') { inQ = !inQ; cur += ch }
      else if (inQ) cur += ch
      else if (ch == '(') { depth += 1; cur += ch }
      else if (ch == ')') { depth -= 1; cur += ch }
      else if (ch == sep && depth == 0) { out += cur.toString; cur.clear() }
      else cur += ch
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private val AggItem =
    """(?is)^(COUNT|SUM|MIN|MAX|AVG)\s*\((.+)\)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)$""".r

  /** Collapse runs of whitespace to single spaces OUTSIDE quoted literals
    * (multiline definitions anchor cleanly; literal spacing is preserved). */
  private def collapseWsTop(s: String): String = {
    val sb = new StringBuilder; var inQ = false; var lastWs = false
    s.foreach { ch =>
      if (ch == '\'') { inQ = !inQ; sb += ch; lastWs = false }
      else if (inQ) sb += ch
      else if (ch.isWhitespace) { if (!lastWs) sb += ' '; lastWs = true }
      else { sb += ch; lastWs = false }
    }
    sb.toString
  }

  /** First index of `kw` (given uppercased) at paren depth 0 and outside
    * single-quoted literals; -1 if absent. The quote-aware twin of the
    * anchors below — a select-list literal containing ' FROM ' must not
    * mis-slice the definition (same discipline [[splitTop]] applies to
    * commas). */
  private def topIndexOf(s: String, kw: String): Int = {
    val u = s.toUpperCase
    var i = 0; var depth = 0; var inQ = false
    while (i < u.length) {
      val ch = u.charAt(i)
      if (ch == '\'') inQ = !inQ
      else if (!inQ) {
        if (ch == '(') depth += 1
        else if (ch == ')') depth -= 1
        else if (depth == 0 && u.startsWith(kw, i)) return i
      }
      i += 1
    }
    -1
  }

  /** Parse the restricted defining SELECT; throws with a specific reason on
    * anything outside the incrementally-maintainable fragment. */
  def parse(name: String, sql: String): MatViewDef = {
    val s = collapseWsTop(sql.trim.stripSuffix(";"))
    val u = s.toUpperCase
    require(u.startsWith("SELECT "), "materialized view definition must be a SELECT")
    val fromIdx = topIndexOf(s, " FROM ")
    require(fromIdx > 0, "materialized view definition needs FROM <table>")
    val gbIdx = topIndexOf(s, " GROUP BY ")
    require(gbIdx > fromIdx,
      "materialized view definition must be a grouped aggregate (GROUP BY required)")
    val whereIdx = topIndexOf(s, " WHERE ")
    val items = splitTop(s.substring("SELECT ".length, fromIdx), ',')
    val fromSec = s.substring(fromIdx + 6, if (whereIdx > 0) whereIdx else gbIdx).trim
    def ident(t: String, what: String): String = {
      require(t.matches("[A-Za-z_][A-Za-z0-9_]*"), s"$what must be a single table, got: $t")
      t
    }
    // FROM t [JOIN t2 ON a = b [JOIN t3 ON c = d ...]] — the delta-join
    // maintainable fragment, r15 generalized to a CHAIN of inner equi-joins:
    // Δ(A⋈B⋈C) for a single-table delta substitutes the delta for that
    // table and joins the CURRENT others (one table changes per statement,
    // so no cross-delta terms arise).
    val joinIdx = topIndexOf(fromSec, " JOIN ")
    val (base, joins) =
      if (joinIdx < 0) (ident(fromSec, "materialized view base"), Nil)
      else {
        val b = ident(fromSec.substring(0, joinIdx).trim, "materialized view base")
        var rest = fromSec.substring(joinIdx + " JOIN ".length)
        val js = scala.collection.mutable.Buffer.empty[MatJoin]
        var more = true
        while (more) {
          val onIdx = topIndexOf(rest, " ON ")
          require(onIdx > 0, "JOIN in a materialized view definition needs ON <col> = <col>")
          val t2 = ident(rest.substring(0, onIdx).trim, "materialized view join table")
          val tail = rest.substring(onIdx + " ON ".length)
          val nextJoin = topIndexOf(tail, " JOIN ")
          val cond = (if (nextJoin < 0) tail else tail.substring(0, nextJoin)).trim
          val sides = cond.split("=").map(_.trim)
          require(sides.length == 2 && sides.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
            s"materialized view join condition must be a single column equality, got: $cond")
          js += MatJoin(t2, sides(0), sides(1))
          if (nextJoin < 0) more = false
          else rest = tail.substring(nextJoin + " JOIN ".length)
        }
        (b, js.toSeq)
      }
    val where = if (whereIdx > 0) Some(s.substring(whereIdx + 7, gbIdx).trim) else None
    val keys = splitTop(s.substring(gbIdx + " GROUP BY ".length), ',')
    keys.foreach(k => require(k.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"GROUP BY keys must be plain columns or select-list aliases, got: $k"))
    val order = scala.collection.mutable.Buffer.empty[String]
    val keyExprs = scala.collection.mutable.Map.empty[String, String]
    // `<expr> AS alias` select items whose alias is a GROUP BY key declare
    // EXPRESSION KEYS (e.g. `year(o_orderdate) AS yr ... GROUP BY yr`, r15);
    // greedy (.+) pairs the LAST top-level AS, so CAST(x AS INT) AS y parses
    val KeyExprItem = """(?is)^(.+)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)$""".r
    val aggs = items.flatMap {
      case item if keys.exists(_.equalsIgnoreCase(item)) => order += item; None
      case AggItem(fn, arg, alias) =>
        val a = arg.trim
        require(!a.toUpperCase.startsWith("DISTINCT "),
          "COUNT(DISTINCT) is not incrementally maintainable (per-group value sets needed); " +
            "use a plain view or REFRESH-only recompute")
        order += alias
        Some(MatAgg(alias, fn.toUpperCase, if (fn.equalsIgnoreCase("COUNT") && a == "*") None else Some(a)))
      case KeyExprItem(e, alias) if keys.exists(_.equalsIgnoreCase(alias)) =>
        keyExprs(alias.toLowerCase) = e.trim
        order += alias
        None
      case item => throw new IllegalArgumentException(
        s"select item must be a GROUP BY key, <expr> AS <group-by-alias>, or FN(arg) AS alias, got: $item")
    }
    require(aggs.nonEmpty, "materialized view needs at least one aggregate")
    MatViewDef(name, base, where, keys, aggs, s, joins, order.toSeq,
      keyExprs.map { case (k, v) => keys.find(_.equalsIgnoreCase(k)).get -> v }.toMap)
  }

  // ---------------------------------------------------------------- state
  // State schema: keys ++ __n (count(*)) ++ per-agg components:
  //   COUNT(*)  -> reads __n            COUNT(x) -> __cn_<alias>
  //   SUM(x)    -> __cn_<alias>, __s_<alias>
  //   AVG(x)    -> __cn_<alias>, __s_<alias>
  //   MIN/MAX   -> __m_<alias>

  private def componentAggs(d: MatViewDef, sign: Int) = {
    // sign = −1 only negates; the sign-1 path leaves types untouched
    def signed(c: org.apache.spark.sql.Column) = if (sign == 1) c else c * sign
    val n = signed(count(lit(1))).as("__n")
    n +: d.aggs.flatMap { a =>
      val arg = a.arg.map(expr)
      a.fn match {
        case "COUNT" =>
          arg.map(e => Seq(signed(count(e)).as(s"__cn_${a.alias}"))).getOrElse(Nil)
        case "SUM" | "AVG" =>
          val e = arg.get
          Seq(signed(count(e)).as(s"__cn_${a.alias}"), signed(sum(e)).as(s"__s_${a.alias}"))
        case "MIN" => Seq(min(arg.get).as(s"__m_${a.alias}"))
        case "MAX" => Seq(max(arg.get).as(s"__m_${a.alias}"))
      }
    }
  }

  private def filtered(d: MatViewDef, rows: DataFrame): DataFrame =
    d.where.fold(rows)(w => rows.filter(expr(w)))

  /** Aggregate `rows` (a delta or the whole base) to state-component form.
    * `sign` −1 turns a delete-delta into subtractable components (min/max
    * forbidden there — callers check [[MatViewDef.hasMinMax]] first). */
  private[graft] def deltaState(d: MatViewDef, rows: DataFrame, sign: Int = 1): DataFrame = {
    require(sign == 1 || !d.hasMinMax, "negative delta undefined for MIN/MAX")
    val comps = componentAggs(d, sign)
    // expression keys compute their derived column per delta row here; the
    // alias is an ordinary state column from this point on
    val keyCols = d.keys.map(k =>
      d.keyExprs.get(k).map(e => expr(e).as(k)).getOrElse(col(k)))
    filtered(d, rows).groupBy(keyCols: _*).agg(comps.head, comps.tail: _*)
  }

  /** One keyed full-outer merge of state + delta: components add, min/max
    * fold, dead groups (count 0) drop, empty-group sums return to NULL. */
  def merge(d: MatViewDef, state: DataFrame, delta: DataFrame): DataFrame = {
    val a = state.as("a"); val b = delta.as("b")
    def add(c: String) =
      (coalesce(col(s"a.$c"), lit(0L)) + coalesce(col(s"b.$c"), lit(0L))).as(c)
    val comps = d.aggs.flatMap { agg =>
      agg.fn match {
        case "COUNT" if agg.arg.isEmpty => Nil
        case "COUNT" => Seq(add(s"__cn_${agg.alias}"))
        case "SUM" | "AVG" =>
          val cn = s"__cn_${agg.alias}"; val sm = s"__s_${agg.alias}"
          val cnSum = coalesce(col(s"a.$cn"), lit(0L)) + coalesce(col(s"b.$cn"), lit(0L))
          Seq(add(cn),
            when(cnSum === 0, lit(null))
              .otherwise(coalesce(col(s"a.$sm"), lit(0)) + coalesce(col(s"b.$sm"), lit(0)))
              .as(sm))
        case "MIN" =>
          val m = s"__m_${agg.alias}"; Seq(least(col(s"a.$m"), col(s"b.$m")).as(m))
        case "MAX" =>
          val m = s"__m_${agg.alias}"; Seq(greatest(col(s"a.$m"), col(s"b.$m")).as(m))
      }
    }
    val keyCols = d.keys.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k))
    a.join(b, d.keys.map(k => col(s"a.$k") <=> col(s"b.$k")).reduce(_ && _), "full_outer")
      .select(keyCols ++ (add("__n") +: comps): _*)
      .filter(col("__n") > 0)
  }

  /** User-visible value of one aggregate, derived from the state components
    * (named by the OWNING view's alias) with the same expressions Spark's own
    * aggregates produce — so refresh == incremental == rewrite. */
  private def aggExpr(a: MatAgg): org.apache.spark.sql.Column = a.fn match {
    case "COUNT" => a.arg.fold(col("__n"))(_ => col(s"__cn_${a.alias}"))
    case "SUM" => col(s"__s_${a.alias}")
    case "AVG" =>
      col(s"__s_${a.alias}").cast("double") / col(s"__cn_${a.alias}").cast("double")
    case "MIN" | "MAX" => col(s"__m_${a.alias}")
  }

  /** The user-visible rows of the view itself. */
  private[graft] def visible(d: MatViewDef, state: DataFrame): DataFrame =
    state.select((d.keys.map(col) ++ d.aggs.map(a => aggExpr(a).as(a.alias))): _*)

  // ------------------------------------------------------- query rewrite

  private def sameColSet(a: Seq[String], b: Seq[String]): Boolean =
    a.map(_.toLowerCase).toSet == b.map(_.toLowerCase).toSet

  /** Every `qKeys` alias exists in `mv` AND is defined by the same grouping
    * expression (two views sharing an alias over DIFFERENT expressions must
    * never match — `yr = year(d)` vs `yr = month(d)`). */
  private def keyDefsAgree(mv: MatViewDef, q: MatViewDef, qKeys: Seq[String]): Boolean =
    qKeys.forall { qk =>
      mv.keys.find(_.equalsIgnoreCase(qk))
        .exists(mk => mv.keyExpr(mk).equalsIgnoreCase(q.keyExpr(qk)))
    }

  /** The MV aggregate whose stored components can answer `qa`: same function
    * over the same argument text (syntactic match; aliases are free). */
  private def findAgg(mv: MatViewDef, qa: MatAgg): Option[MatAgg] =
    mv.aggs.find(ma => ma.fn == qa.fn && ma.arg == qa.arg)

  /** One inner equi-join step, resolving which side spells which key by
    * column membership (`ON a = b` accepts either order). */
  def joinFrames(j: MatJoin, l: DataFrame, r: DataFrame): DataFrame = {
    val (lk, rk) =
      if (l.columns.contains(j.leftKey) && r.columns.contains(j.rightKey))
        (j.leftKey, j.rightKey)
      else (j.rightKey, j.leftKey)
    require(l.columns.contains(lk) && r.columns.contains(rk),
      s"join keys ${j.leftKey} = ${j.rightKey} do not resolve one column on each side")
    l.join(r, l(lk) === r(rk), "inner")
  }

  /** The defining FROM clause's rows for `d`, resolving each table through
    * `tableOf` — optionally substituting `delta` for the single table named
    * `changed` (the Δ(A⋈B⋈C) single-table-delta rule). */
  private[graft] def joinedRows(d: MatViewDef, tableOf: String => DataFrame,
      changed: String = "", delta: DataFrame = null): DataFrame = {
    def resolve(t: String): DataFrame =
      if (changed.nonEmpty && t.equalsIgnoreCase(changed)) delta else tableOf(t)
    d.joins.foldLeft(resolve(d.base)) { case (acc, j) =>
      joinFrames(j, acc, resolve(j.table2))
    }
  }

  private def sameJoins(a: Seq[MatJoin], b: Seq[MatJoin]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.table2.equalsIgnoreCase(y.table2) &&
        sameColSet(Seq(x.leftKey, x.rightKey), Seq(y.leftKey, y.rightKey))
    }

  /** Can a query parsed as `q` be answered from `mv`'s stored state?
    * Same base (and join chain, either key spelling order), syntactically
    * equal WHERE, set-equal GROUP BY keys, and every query aggregate present
    * in the view (alias-free). Syntactic matching is the exact-text rewrite
    * tier — no predicate subsumption. */
  def matches(mv: MatViewDef, q: MatViewDef): Boolean =
    mv.base.equalsIgnoreCase(q.base) &&
      sameJoins(mv.joins, q.joins) &&
      mv.where == q.where &&
      sameColSet(mv.keys, q.keys) &&
      keyDefsAgree(mv, q, q.keys) &&
      q.aggs.forall(qa => findAgg(mv, qa).isDefined)

  /** Answer `q` from `mv`'s state: group keys pass through, each aggregate
    * reads the MATCHING view aggregate's components, output columns keep the
    * query's aliases and select order — byte-identical to running `q` on the
    * base, without touching it. */
  def answer(q: MatViewDef, mv: MatViewDef, state: DataFrame): DataFrame = {
    val byAlias = q.aggs.map(a => a.alias -> a).toMap
    state.select(q.selectOrder.map { name =>
      byAlias.get(name) match {
        case Some(qa) => aggExpr(findAgg(mv, qa).get).as(qa.alias)
        case None => col(name).as(name) // group key, query's spelling
      }
    }: _*)
  }

  // ------------------------------------------------- rollup query rewrite

  /** Rollup tier (Gupta/Harinarayan lattice descent): `q` groups by a strict
    * SUBSET of `mv`'s keys over the same base/join/WHERE. Every stored
    * component is re-aggregable — counts and sums re-sum, min/max re-fold —
    * so the coarser grouping is answerable by ONE aggregation over the
    * view's (small) state instead of the base. The exact-match tier
    * ([[matches]]) is checked first by the caller; this tier only adds the
    * proper-subset case. */
  /** Does the query's WHERE reference ONLY the view's group-key columns?
    * Such a predicate commutes with the grouping — σ_p(γ_K(R)) = γ_K(σ_p(R))
    * when refs(p) ⊆ K — so it can run against the view's state rows instead
    * of the base. Column references are taken from Spark's own parse of the
    * predicate text (unresolved attribute names). */
  private def keyOnlyPredicate(mv: MatViewDef, pred: String): Boolean =
    try {
      val parsed =
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(pred)
      val refs = parsed.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      }
      refs.nonEmpty && refs.forall(r => mv.keys.exists(_.equalsIgnoreCase(r)))
    } catch { case _: Exception => false }

  // --- range-predicate implication (chunk-pruning-style interval logic;
  // reference: the min/max containment tests of
  // src/lib/optimizer/strategy/chunk_pruning_rule.cpp, applied here to the
  // view-subsumption question "does the query's WHERE imply the view's?")

  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal,
    EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, And => CAnd}
  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute

  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case CAnd(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    // the parser keeps BETWEEN as an unresolved `between(col, lo, hi)` call
    // (resolution would replace it with the two comparisons); lower it here
    // the same way. NOT BETWEEN arrives wrapped in NOT and stays a single
    // opaque conjunct — safe fall-through.
    // guards: exactly the parser's shape — single-part name, 3 args, no
    // DISTINCT/FILTER decoration (an explicit call to some udf named
    // `between(x, a, b)` with those decorations must stay opaque).
    // MatViewSpec's "parser still lowers BETWEEN" test fails loudly if a
    // Spark upgrade stops producing this form.
    case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.nameParts.map(_.toLowerCase) == Seq("between") && f.arguments.size == 3 &&
          !f.isDistinct && f.filter.isEmpty =>
      Seq(GreaterThanOrEqual(f.arguments(0), f.arguments(1)),
        LessThanOrEqual(f.arguments(0), f.arguments(2)))
    case other => Seq(other)
  }

  /** One simple comparison `col op literal` (either operand order), with the
    * literal normalized to a comparable: BigDecimal for numerics, String for
    * strings (ISO dates as strings compare correctly lexicographically). */
  private final case class Cmp(column: String, op: String, v: Any)

  private def litValue(l: Literal): Option[Any] = l.value match {
    case null => None
    case n: Number => Some(BigDecimal(n.toString))
    case d: org.apache.spark.sql.types.Decimal => Some(d.toBigDecimal)
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case s: String => Some(s)
    case _ => None
  }

  private def flip(op: String): String = op match {
    case ">" => "<"
    case ">=" => "<="
    case "<" => ">"
    case "<=" => ">="
    case o => o
  }

  private def asCmp(e: Expression): Option[Cmp] = {
    def mk(a: Expression, op: String, b: Expression, flipped: Boolean): Option[Cmp] =
      (a, b) match {
        case (attr: UnresolvedAttribute, l: Literal) =>
          litValue(l).map(v => Cmp(attr.name.toLowerCase, if (flipped) flip(op) else op, v))
        case _ => None
      }
    e match {
      case EqualTo(a, b) => mk(a, "=", b, flipped = false).orElse(mk(b, "=", a, flipped = false))
      case GreaterThan(a, b) => mk(a, ">", b, flipped = false).orElse(mk(b, ">", a, flipped = true))
      case GreaterThanOrEqual(a, b) => mk(a, ">=", b, flipped = false).orElse(mk(b, ">=", a, flipped = true))
      case LessThan(a, b) => mk(a, "<", b, flipped = false).orElse(mk(b, "<", a, flipped = true))
      case LessThanOrEqual(a, b) => mk(a, "<=", b, flipped = false).orElse(mk(b, "<=", a, flipped = true))
      case _ => None
    }
  }

  private val IsoDateLit = java.util.regex.Pattern.compile("^\\d{4}-\\d{2}-\\d{2}$")

  /** Comparable ordering across the two normalized literal kinds; None when
    * the kinds differ (number vs string — conservatively incomparable).
    * Two STRING literals are comparable only when both are strict ISO dates
    * (yyyy-MM-dd), where lexicographic = chronological regardless of the
    * column's type. Any other string pair is conservatively incomparable:
    * the column's real comparison semantics are unknown at this layer, so a
    * quoted numeric ('9' vs '10') or a non-padded date ('1996-1-3') would
    * compare lexicographically in a way that can disagree with the column —
    * and a wrong Some here makes the range-subsumption tier answer from view
    * state that silently misses base rows. Incomparable just means the
    * rewrite falls through to the base (correct, only slower). */
  private def cmpValues(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => Some(x.compare(y))
    case (x: String, y: String)
        if IsoDateLit.matcher(x).matches() && IsoDateLit.matcher(y).matches() =>
      Some(x.compareTo(y))
    case _ => None
  }

  /** `col IN (literals)` — the list-shaped predicate both sides of the
    * implication test can carry (the reference folds BETWEEN/IN families the
    * same way, optimizer/strategy/between_composition_rule.cpp). Only
    * all-literal lists with representable values qualify. */
  private def inValues(e: Expression): Option[(String, Seq[Any])] = e match {
    case org.apache.spark.sql.catalyst.expressions.In(a: UnresolvedAttribute, vals)
        if vals.nonEmpty && vals.forall(_.isInstanceOf[Literal]) =>
      val vs = vals.map(v => litValue(v.asInstanceOf[Literal]))
      if (vs.forall(_.isDefined)) Some((a.name.toLowerCase, vs.map(_.get))) else None
    case _ => None
  }

  /** value `v` satisfies the comparison `target` (None-comparable → false) */
  private def satisfies(v: Any, target: Cmp): Boolean =
    cmpValues(v, target.v).exists(c => target.op match {
      case ">" => c > 0
      case ">=" => c >= 0
      case "<" => c < 0
      case "<=" => c <= 0
      case "=" => c == 0
      case _ => false
    })

  /** Does the conjunction `qs` imply the single comparison `target`?
    * Interval logic per column: any q-conjunct on the same column whose
    * bound is at-least-as-tight; or an IN-list every member of which
    * satisfies the target (`x IN (7, 8)` implies `x > 5`). BETWEEN needs no
    * case of its own — the parser lowers `x BETWEEN a AND b` to
    * `x >= a AND x <= b`, which [[conjunctsOf]] splits into two range
    * conjuncts. Conservative: unhandled shapes → false. */
  private def impliesCmp(qs: Seq[Expression], target: Cmp): Boolean =
    qs.flatMap(inValues).exists { case (col, vs) =>
      col == target.column && vs.forall(satisfies(_, target))
    } ||
    qs.flatMap(asCmp).filter(_.column == target.column).exists { qc =>
      def ge(strictOk: Boolean) = cmpValues(qc.v, target.v).exists(c =>
        c > 0 || (c == 0 && strictOk))
      def le(strictOk: Boolean) = cmpValues(qc.v, target.v).exists(c =>
        c < 0 || (c == 0 && strictOk))
      (target.op, qc.op) match {
        // target X > a: implied by X > b (b>=a), X >= b (b>a), X = b (b>a)
        case (">", ">") => ge(strictOk = true)
        case (">", ">=") => ge(strictOk = false)
        case (">", "=") => ge(strictOk = false)
        // target X >= a: implied by X > b (b>=a), X >= b (b>=a), X = b (b>=a)
        case (">=", ">") | (">=", ">=") | (">=", "=") => ge(strictOk = true)
        case ("<", "<") => le(strictOk = true)
        case ("<", "<=") => le(strictOk = false)
        case ("<", "=") => le(strictOk = false)
        case ("<=", "<") | ("<=", "<=") | ("<=", "=") => le(strictOk = true)
        // target X = a: only X = a implies it
        case ("=", "=") => cmpValues(qc.v, target.v).contains(0)
        case _ => false
      }
    }

  /** Does the conjunction `qs` imply membership in the view's IN-list?
    * A query equality pinning the column to a member, or a query IN-list
    * that is a subset of the view's, suffices. */
  private def impliesIn(qs: Seq[Expression], column: String, targetVals: Seq[Any]): Boolean = {
    def member(v: Any): Boolean = targetVals.exists(tv => cmpValues(v, tv).contains(0))
    qs.flatMap(asCmp).exists(qc => qc.column == column && qc.op == "=" && member(qc.v)) ||
      qs.flatMap(inValues).exists { case (col, ws) => col == column && ws.forall(member) }
  }

  /** qWhere ⟹ vWhere: every view conjunct either appears verbatim among the
    * query's conjuncts (canonical SQL text), or is a range comparison implied
    * by the query's tighter bounds/IN-list, or is an IN-list the query pins
    * inside. Parse failure → false (conservative). */
  private[graft] def whereImplies(qWhere: String, vWhere: String): Boolean =
    try {
      val parser = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      val qs = conjunctsOf(parser.parseExpression(qWhere))
      val vs = conjunctsOf(parser.parseExpression(vWhere))
      val qSql = qs.map(_.sql).toSet
      vs.forall(vc => qSql.contains(vc.sql) ||
        asCmp(vc).exists(impliesCmp(qs, _)) ||
        inValues(vc).exists { case (col, tvs) => impliesIn(qs, col, tvs) })
    } catch { case _: Exception => false }

  /** WHERE compatibility for the rollup tier: textually identical; or the
    * query ADDS a key-only predicate on top of an unfiltered view; or —
    * range subsumption — the view is filtered and the query's key-only WHERE
    * IMPLIES the view's (e.g. view `WHERE x > 5`, query `WHERE x > 7`): the
    * state then contains every base row the query needs, and re-filtering
    * the state rows with the query's own predicate is exact because σ_q
    * commutes with γ over key columns and σ_q(base) = σ_q(σ_v(base)). */
  private def whereSubsumed(mv: MatViewDef, q: MatViewDef): Boolean =
    mv.where == q.where ||
      (mv.where.isEmpty && q.where.exists(keyOnlyPredicate(mv, _))) ||
      ((mv.where, q.where) match {
        case (Some(vw), Some(qw)) =>
          keyOnlyPredicate(mv, qw) && whereImplies(qw, vw)
        case _ => false
      })

  /** The state-side residual filter [[whereSubsumed]] licenses (None when
    * the WHEREs are textually identical — nothing left to apply). */
  private def residualWhere(mv: MatViewDef, q: MatViewDef): Option[String] =
    if (mv.where == q.where) None else q.where

  def matchesRollup(mv: MatViewDef, q: MatViewDef): Boolean =
    mv.base.equalsIgnoreCase(q.base) &&
      sameJoins(mv.joins, q.joins) &&
      whereSubsumed(mv, q) &&
      q.keys.forall(k => mv.keys.exists(_.equalsIgnoreCase(k))) &&
      keyDefsAgree(mv, q, q.keys) &&
      q.aggs.forall(qa => findAgg(mv, qa).isDefined)

  /** Answer `q` (keys ⊆ mv.keys) by re-aggregating `mv`'s state to the
    * coarser grouping. Component math per function:
    *  - COUNT(*) → SUM(__n); COUNT(x) → SUM(__cn) — both cast back to the
    *    component's stored type so the output schema is byte-identical to
    *    running `q` on the base;
    *  - SUM(x) → SUM(__s): groups whose non-null count is 0 store a NULL
    *    sum, SUM skips them, and an all-NULL rollup group correctly returns
    *    NULL (SQL semantics survive the descent);
    *  - AVG(x) → SUM(__s)/SUM(__cn) as double (same expression shape as the
    *    exact tier's [[aggExpr]]);
    *  - MIN/MAX(x) → MIN/MAX(__m).
    * Output columns keep the query's aliases and select order. */
  def answerRollup(q: MatViewDef, mv: MatViewDef, state: DataFrame): DataFrame = {
    // key-only residual predicate commutes with grouping → filter state rows
    val src = residualWhere(mv, q).fold(state)(w => state.filter(expr(w)))
    def reTyped(c: org.apache.spark.sql.Column, comp: String) =
      c.cast(state.schema(comp).dataType)
    val comps = q.aggs.map { qa =>
      val ma = findAgg(mv, qa).get
      (ma.fn match {
        case "COUNT" =>
          ma.arg.fold(reTyped(sum(col("__n")), "__n"))(_ =>
            reTyped(sum(col(s"__cn_${ma.alias}")), s"__cn_${ma.alias}"))
        case "SUM" => reTyped(sum(col(s"__s_${ma.alias}")), s"__s_${ma.alias}")
        case "AVG" =>
          sum(col(s"__s_${ma.alias}")).cast("double") /
            sum(col(s"__cn_${ma.alias}")).cast("double")
        case "MIN" => min(col(s"__m_${ma.alias}"))
        case "MAX" => max(col(s"__m_${ma.alias}"))
      }).as(qa.alias)
    }
    val keyCols = q.keys.map(k => mv.keys.find(_.equalsIgnoreCase(k)).get -> k)
    val grouped = src
      .groupBy(keyCols.map { case (mvk, qk) => col(mvk).as(qk) }: _*)
      .agg(comps.head, comps.tail: _*)
    grouped.select(q.selectOrder.map(col): _*)
  }
}
