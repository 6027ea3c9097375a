package graft.sql

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DecimalType,
  IntegerType, LongType, ShortType, StringType, StructField, StructType,
  TimestampNTZType, TimestampType}

import graft.pattern.{AfterMatchSkip, Contiguity, NFA, Pattern, Stage}

/** SQL-standard row-pattern recognition (`MATCH_RECOGNIZE`) for Spark — the
  * front-end the reference exposes through Flink SQL
  * (`/root/reference/src/main/scala/kosmag/FlinkSqlMatchRecognizeExample.scala:50-68`),
  * which Spark's grammar lacks entirely (SURVEY.md §3.2).
  *
  * Supported clause set (a superset of the reference's):
  * `PARTITION BY c [, ...]`, `ORDER BY c [, ...]` (first column is event
  * time; the rest are deterministic tiebreaks),
  * `MEASURES` items of the forms `V.c`, `FIRST|LAST(V.c)`,
  * `COUNT(V.*)`, `COUNT|SUM|AVG|MIN|MAX(V.c)`, `CLASSIFIER()`,
  * `MATCH_NUMBER()` — each `AS alias`, each optionally prefixed
  * `RUNNING` | `FINAL` (ALL ROWS mode defaults to RUNNING, per SQL),
  * `ONE ROW PER MATCH` / `ALL ROWS PER MATCH`,
  * `AFTER MATCH SKIP {PAST LAST ROW | TO NEXT ROW | TO FIRST V | TO LAST V}`,
  * `PATTERN (V1 V2* V3 ...)` with `* + ?` and bounded `{n} {n,} {n,m}`
  * quantifiers, `(B | C)` single-position alternation (leftmost matching
  * member wins, per SQL preference order; members keep their own DEFINEs,
  * bindings, and CLASSIFIER identity — beyond Flink, which rejects `|`),
  * and `{- V -}` exclusion (excluded variables match rows but their rows
  * are omitted from ALL ROWS output, per SQL),
  * `WITHIN INTERVAL 'n' {SECOND|MINUTE|HOUR|DAY}`, `DEFINE V AS cond, ...`.
  * DEFINE conditions may use `PREV|NEXT(V.c[, n])` physical navigation
  * (lowered onto codegen'd `lag`/`lead` window columns — Catalyst evaluates
  * them once per input row, not per NFA attempt), `FIRST|LAST(V.c)` logical
  * navigation, and RUNNING aggregate terms `COUNT|SUM|AVG|MIN|MAX(V.c) OP
  * literal` over the partial match's bindings (lowered onto iterative
  * conditions).
  *
  * Determinism contract (see `oracle-determinism-rules`): aggregate measures
  * never emit floating point — `SUM`/`AVG` over fractional columns emit
  * micro-quantized BIGINT (each value `round(x*1e6)`; AVG = floor of the
  * quantized mean), so MR output can be oracle-gated byte-exact.
  *
  * Lowering strategy (two front-ends, one operator — like the reference):
  * every `DEFINE` condition is attached to the input as a codegen'd boolean
  * column `__def_V` (Catalyst optimizes and pushes what it can), so the NFA's
  * per-event predicates are plain boolean-column reads; the pattern then runs
  * through the same [[graft.operators.Cep]] execution shape — a hash
  * `repartition(partition)` + `sortWithinPartitions(order)` + the keyed
  * batch driver [[NFA.runKeyed]].
  * Row-pattern contiguity is STRICT throughout (SQL semantics: every row of
  * the partition between match start and end is consumed by some variable),
  * i.e. `next` + `consecutive` in DSL terms.
  */
object MatchRecognize {

  /** One MEASURES item. `fn` ∈ "", FIRST, LAST, COUNT, SUM, AVG, MIN, MAX,
    * CLASSIFIER, MATCH_NUMBER; `column` is "*" for `COUNT(V.*)` and empty
    * for the no-argument functions. `mode` ∈ "" (SQL default: RUNNING in
    * ALL ROWS mode, FINAL in ONE ROW mode), "RUNNING", "FINAL". `offset`
    * is the SQL logical offset of `FIRST|LAST(V.c, n)` — n rows after the
    * first / before the last bound row. */
  final case class Measure(fn: String, variable: String, column: String,
      alias: String, mode: String = "", offset: Int = 0)
  final case class Spec(
      partitionBy: Seq[String],
      orderBy: Seq[String], // head = event time; tail = deterministic tiebreaks
      measures: Seq[Measure],
      skip: AfterMatchSkip,
      pattern: Seq[(String, String)], // (variable, quantifier "" * + ? {n} {n,} {n,m})
      withinMs: Option[Long],
      defines: Map[String, String],
      allRows: Boolean = false,
      excluded: Set[String] = Set.empty, // {- V -} variables (ALL ROWS only)
      /** `(B | C)` alternation groups: synthetic stage name → member
        * variables in preference (lexical) order. */
      altGroups: Map[String, Seq[String]] = Map.empty,
      /** Non-flat PATTERN (sequence alternation, quantified groups,
        * PERMUTE, or alternation members with iterative DEFINEs): the parsed
        * AST, lowered through [[graft.pattern.RowPattern]]'s graph compiler
        * instead of the flat stage chain. */
      ast: Option[graft.pattern.RowPattern.Ast] = None,
      /** SUBSET union variables: name → member variables. Usable in
        * MEASURES (rows of all members, in consumption order). */
      subsets: Map[String, Seq[String]] = Map.empty)

  // ------------------------------------------------------------ clause parser

  private val PartitionRe = "(?is)PARTITION\\s+BY\\s+(.*?)\\s*(?=ORDER\\s+BY)".r
  private val OrderRe =
    "(?is)ORDER\\s+BY\\s+([\\w.]+(?:\\s*,\\s*[\\w.]+)*)".r
  private val MeasuresRe = "(?is)MEASURES\\s+(.*?)\\s*(?=ONE\\s+ROW|ALL\\s+ROWS|AFTER\\s+MATCH|PATTERN)".r
  private val SkipRe =
    ("(?is)AFTER\\s+MATCH\\s+SKIP\\s+" +
      "(PAST\\s+LAST\\s+ROW|TO\\s+NEXT\\s+ROW|TO\\s+FIRST\\s+\\w+|TO\\s+LAST\\s+\\w+)").r
  private val WithinRe = "(?is)WITHIN\\s+INTERVAL\\s+'(\\d+)'\\s+(SECOND|MINUTE|HOUR|DAY)".r
  private val DefineRe = "(?is)DEFINE\\s+(.*)$".r
  private val MeasureItemRe =
    "(?is)^(?:(FIRST|LAST)\\s*\\(\\s*)?(\\w+)\\.(\\w+)(?:\\s*,\\s*(\\d+))?\\)?\\s+AS\\s+(\\w+)$".r
  private val MeasureAggRe =
    "(?is)^(COUNT|SUM|AVG|MIN|MAX)\\s*\\(\\s*(\\w+)\\.(\\w+|\\*)\\s*\\)\\s+AS\\s+(\\w+)$".r
  private val MeasureNoArgRe =
    "(?is)^(CLASSIFIER|MATCH_NUMBER)\\s*\\(\\s*\\)\\s+AS\\s+(\\w+)$".r
  private val PatternVarRe = "(\\w+)([*+?]|\\{\\d+(?:,\\d*)?\\})?".r

  def parseSpec(body: String): Spec = {
    val partition = PartitionRe.findFirstMatchIn(body)
      .map(_.group(1).split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
    val order = OrderRe.findFirstMatchIn(body)
      .map(_.group(1).split(",").map(_.trim).toSeq.filter(_.nonEmpty))
      .getOrElse(throw new IllegalArgumentException("MATCH_RECOGNIZE: ORDER BY required"))
    val ModeRe = "(?is)^(RUNNING|FINAL)\\s+(.*)$".r
    val measures = MeasuresRe.findFirstMatchIn(body).map(_.group(1)).toSeq
      // split on top-level commas only — `FIRST(V.c, 2)` carries one inside
      .flatMap(_.split(",(?![^(]*\\))"))
      .map(_.trim).filter(_.nonEmpty)
      .map { item =>
        val (mode, rest) = item match {
          case ModeRe(m, r) => (m.toUpperCase, r)
          case _ => ("", item)
        }
        rest match {
          case MeasureNoArgRe(fn, a) => Measure(fn.toUpperCase, "", "", a, mode)
          case MeasureAggRe(fn, v, c, a) => Measure(fn.toUpperCase, v, c, a, mode)
          case MeasureItemRe(fn, v, c, off, a) =>
            val offset = Option(off).map(_.toInt).getOrElse(0)
            if (offset > 0 && fn == null) throw new IllegalArgumentException(
              s"offset requires FIRST(...) or LAST(...): $rest")
            Measure(Option(fn).getOrElse("").toUpperCase, v, c, a, mode, offset)
          case other => throw new IllegalArgumentException(s"unsupported measure: $other")
        }
      }
    val SkipVarRe = "(?i)TO (FIRST|LAST) (\\w+)".r
    val skip = SkipRe.findFirstMatchIn(body).map(_.group(1).toUpperCase.replaceAll("\\s+", " ")) match {
      case Some("TO NEXT ROW") => AfterMatchSkip.SkipToNext
      case Some(SkipVarRe(pos, v)) =>
        if (pos.equalsIgnoreCase("FIRST")) AfterMatchSkip.SkipToFirst(v)
        else AfterMatchSkip.SkipToLast(v)
      case _ => AfterMatchSkip.SkipPastLastEvent // SQL default
    }
    // Balanced-paren extraction of the PATTERN body (the clause may nest
    // arbitrarily: groups, PERMUTE, exclusions).
    val patternStr = {
      val kw = "(?is)PATTERN\\s*\\(".r.findFirstMatchIn(body)
        .getOrElse(throw new IllegalArgumentException("MATCH_RECOGNIZE: PATTERN required"))
      var depth = 1
      var i = kw.end
      while (depth > 0 && i < body.length) {
        body.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ => ()
        }
        i += 1
      }
      if (depth != 0)
        throw new IllegalArgumentException("MATCH_RECOGNIZE: unbalanced PATTERN parens")
      body.substring(kw.end, i - 1).trim
    }
    // {- ... -} exclusion: the wrapped variables still MATCH (they appear in
    // the pattern sequence below — the var regex skips the brace markers);
    // they are only excluded from ALL ROWS output.
    val ExcludeRe = "(?s)\\{-\\s*(.*?)\\s*-\\}".r
    val excludedFlat = ExcludeRe.findAllMatchIn(patternStr)
      .flatMap(m => PatternVarRe.findAllMatchIn(m.group(1)).map(_.group(1)))
      .toSet
    // (B | C) alternation: the group collapses to ONE synthetic stage whose
    // per-row winner is the leftmost member whose DEFINE holds (SQL
    // preference order) — each member keeps its own DEFINE and bindings.
    // quantifier must be ADJACENT to the group's `)` — a `\s*` here would
    // swallow the separator before the next variable
    val AltGroupRe =
      "\\(\\s*(\\w+(?:\\s*\\|\\s*\\w+)+)\\s*\\)([*+?]|\\{\\d+(?:,\\d*)?\\})?".r
    var altGroups = Map.empty[String, Seq[String]]
    val patternStr2 = AltGroupRe.replaceAllIn(patternStr, m => {
      val members = m.group(1).split("\\|").map(_.trim).toSeq
      val name = s"__alt${altGroups.size}"
      altGroups += name -> members
      scala.util.matching.Regex.quoteReplacement(
        name + Option(m.group(2)).getOrElse(""))
    })
    val pattern = PatternVarRe.findAllMatchIn(patternStr2)
      .map(m => (m.group(1), Option(m.group(2)).getOrElse(""))).toSeq
    val withinMs = WithinRe.findFirstMatchIn(body).map { m =>
      val n = m.group(1).toLong
      m.group(2).toUpperCase match {
        case "SECOND" => n * 1000L
        case "MINUTE" => n * 60000L
        case "HOUR" => n * 3600000L
        case "DAY" => n * 86400000L
      }
    }
    val defines = DefineRe.findFirstMatchIn(body).map(_.group(1)).toSeq
      .flatMap(_.split("(?i),\\s*(?=\\w+\\s+AS\\s)"))
      .map { d =>
        val ix = "(?is)^\\s*(\\w+)\\s+AS\\s+(.*)$".r
        d.trim match {
          case ix(v, cond) => v -> cond.trim
          case other => throw new IllegalArgumentException(s"unsupported define: $other")
        }
      }.toMap
    val allRows = "(?is)ALL\\s+ROWS\\s+PER\\s+MATCH".r.findFirstIn(body).isDefined

    // SUBSET S = (A, B), ... — union variables for MEASURES.
    val subsets: Map[String, Seq[String]] =
      "(?is)\\bSUBSET\\s+(.*?)\\s*(?=\\bDEFINE\\b|\\bWITHIN\\b|$)".r
        .findFirstMatchIn(body).map(_.group(1)).toSeq
        .flatMap { s =>
          "(\\w+)\\s*=\\s*\\(\\s*(\\w+(?:\\s*,\\s*\\w+)*)\\s*\\)".r
            .findAllMatchIn(s)
            .map(m => m.group(1) -> m.group(2).split(",").map(_.trim).toSeq)
        }.toMap

    // Non-flat patterns (sequence alternation, quantified groups, PERMUTE —
    // parens survive the single-variable-alternation rewrite) and flat
    // alternations whose members carry iterative DEFINEs lower through the
    // graph compiler: members become real stages there, so navigation and
    // aggregate terms work per member.
    def iterative(cond: String): Boolean =
      NavRefRe.findFirstIn(cond).isDefined || AggRefRe.findFirstIn(cond).isDefined ||
        PrevNextRe.findFirstIn(cond).isDefined
    val needsGraph = patternStr2.contains("(") ||
      altGroups.valuesIterator.flatten.exists(v => defines.get(v).exists(iterative))

    val (specPattern, specAlt, specExcluded, specAst) =
      if (needsGraph) {
        val ast = graft.pattern.RowPattern.parse(patternStr)
        graft.pattern.RowPattern.compile(ast) // surface structural errors now
        val vars = graft.pattern.RowPattern.varNames(ast)
        (vars.map((_, "")), Map.empty[String, Seq[String]],
          graft.pattern.RowPattern.excludedNames(ast), Some(ast))
      } else (pattern, altGroups, excludedFlat, None)

    if (specExcluded.nonEmpty && !allRows)
      throw new IllegalArgumentException(
        "{- ... -} exclusion requires ALL ROWS PER MATCH (SQL:2016 row-pattern rules)")

    // A variable referenced anywhere must exist in PATTERN — silent
    // misspellings would otherwise define dead conditions or null measures.
    val plainVars = specPattern.map(_._1).filterNot(specAlt.contains).toSet
    val memberVars = specAlt.valuesIterator.flatten.toSet
    val clash = plainVars.intersect(memberVars)
    if (clash.nonEmpty) throw new IllegalArgumentException(
      s"alternation members also appear as plain pattern variables: ${clash.mkString(", ")}")
    val varSet = plainVars ++ memberVars
    val badDefs = defines.keys.filterNot(varSet)
    if (badDefs.nonEmpty) throw new IllegalArgumentException(
      s"DEFINE references variables not in PATTERN: ${badDefs.mkString(", ")}")
    subsets.foreach { case (nm, members) =>
      if (varSet(nm)) throw new IllegalArgumentException(
        s"SUBSET $nm clashes with a pattern variable")
      val bad = members.filterNot(varSet)
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"SUBSET $nm references variables not in PATTERN: ${bad.mkString(", ")}")
      defines.foreach { case (v, cond) =>
        if (s"(?i)\\b$nm\\.".r.findFirstIn(cond).isDefined)
          throw new IllegalArgumentException(
            s"DEFINE $v references SUBSET $nm: union variables are MEASURES-only")
      }
    }
    val badMeas = measures.collect {
      case m if m.variable.nonEmpty && !varSet(m.variable) &&
        !subsets.contains(m.variable) => m.variable
    }.distinct
    if (badMeas.nonEmpty) throw new IllegalArgumentException(
      s"MEASURES references variables not in PATTERN: ${badMeas.mkString(", ")}")
    skip match {
      case AfterMatchSkip.SkipToFirst(v) if memberVars(v) =>
        throw new IllegalArgumentException(
          s"AFTER MATCH SKIP TO FIRST $v: cannot target an alternation member")
      case AfterMatchSkip.SkipToLast(v) if memberVars(v) =>
        throw new IllegalArgumentException(
          s"AFTER MATCH SKIP TO LAST $v: cannot target an alternation member")
      case AfterMatchSkip.SkipToFirst(v) if !varSet(v) =>
        throw new IllegalArgumentException(s"AFTER MATCH SKIP TO FIRST $v: no such variable")
      case AfterMatchSkip.SkipToLast(v) if !varSet(v) =>
        throw new IllegalArgumentException(s"AFTER MATCH SKIP TO LAST $v: no such variable")
      case _ => ()
    }
    Spec(partition, order, measures, skip, specPattern, withinMs, defines, allRows,
      specExcluded, specAlt, specAst, subsets)
  }

  /** Rewrite `V.col` variable-prefixed references to plain column refs (the
    * engine evaluates DEFINE conditions on the CURRENT row, like the
    * reference's SimpleConditions). */
  private def stripVarPrefixes(cond: String, vars: Seq[String]): String =
    vars.foldLeft(cond)((c, v) => c.replaceAll(s"(?i)\\b$v\\.", ""))

  /** An iterative DEFINE term `X.col OP FIRST|LAST(W.col[, n])` — evaluated
    * against the partial match's bindings (lowered onto whereContext). */
  private final case class NavRef(
      col: String, op: String, fn: String, refVar: String, refCol: String,
      offset: Int = 0)

  private val NavRefRe =
    ("(?i)(\\w+)\\.(\\w+)\\s*(<=|>=|<>|=|<|>)\\s*(FIRST|LAST)\\s*\\(\\s*(\\w+)\\.(\\w+)" +
      "\\s*(?:,\\s*(\\d+))?\\s*\\)").r

  /** Split a DEFINE condition into navigation-function terms (iterative) and
    * the per-row residual (each nav term replaced with TRUE). */
  private def splitNavRefs(cond: String): (String, Seq[NavRef]) = {
    val refs = NavRefRe.findAllMatchIn(cond).map(m =>
      NavRef(m.group(2), m.group(3), m.group(4).toUpperCase, m.group(5), m.group(6),
        Option(m.group(7)).map(_.toInt).getOrElse(0))).toSeq
    (NavRefRe.replaceAllIn(cond, "TRUE"), refs)
  }

  /** An iterative DEFINE term `AGG(V.c) OP literal` — a RUNNING aggregate
    * over the partial match's rows bound to V, including the current row
    * when it is the variable being defined (SQL running semantics). */
  private final case class AggRef(
      fn: String, refVar: String, refCol: String, op: String, lit: String)

  private val AggRefRe =
    ("(?i)\\b(COUNT|SUM|AVG|MIN|MAX)\\s*\\(\\s*(\\w+)\\.(\\w+|\\*)\\s*\\)\\s*" +
      "(<=|>=|<>|=|<|>)\\s*(-?\\d+(?:\\.\\d+)?)").r

  private def splitAggRefs(cond: String): (String, Seq[AggRef]) = {
    val refs = AggRefRe.findAllMatchIn(cond).map(m =>
      AggRef(m.group(1).toUpperCase, m.group(2), m.group(3), m.group(4),
        m.group(5))).toSeq
    (AggRefRe.replaceAllIn(cond, "TRUE"), refs)
  }

  /** Physical navigation in DEFINE: `PREV|NEXT(V.c[, n])` refers to the row
    * `n` (default 1) positions before/after the CURRENT row in the sorted
    * partition — independent of the match mapping (SQL/Flink semantics), so
    * it lowers onto a codegen'd `lag`/`lead` window column computed ONCE per
    * input row by Catalyst, not per NFA attempt. At the partition edge the
    * navigated value is NULL and the whole DEFINE condition is false, Flink's
    * behavior. */
  private val PrevNextRe =
    "(?i)\\b(PREV|NEXT)\\s*\\(\\s*(\\w+)\\.(\\w+)\\s*(?:,\\s*(\\d+))?\\s*\\)".r

  private def navColName(fn: String, col: String, n: Int): String =
    s"__nav_${fn.toLowerCase}_${col}_$n"

  /** Streaming spelling of PREV: `X.col OP PREV(V.col[, n])` terms lower
    * onto iterative conditions over the runner's physical-history ring
    * ([[graft.pattern.PatternContext.recent]]) — window functions are
    * unavailable on a stream. NEXT would need lookahead; unsupported. */
  private final case class PrevRef(col: String, op: String, refCol: String, n: Int)

  private val PrevRefRe =
    ("(?i)(\\w+)\\.(\\w+)\\s*(<=|>=|<>|=|<|>)\\s*PREV\\s*\\(\\s*(\\w+)\\.(\\w+)" +
      "\\s*(?:,\\s*(\\d+))?\\s*\\)").r

  private def splitPrevRefs(cond: String): (String, Seq[PrevRef]) = {
    val refs = PrevRefRe.findAllMatchIn(cond).map(m =>
      PrevRef(m.group(2), m.group(3), m.group(5),
        Option(m.group(6)).map(_.toInt).getOrElse(1))).toSeq
    (PrevRefRe.replaceAllIn(cond, "TRUE"), refs)
  }

  /** Rewrite PREV/NEXT calls to their window-column names; return the set of
    * (fn, col, offset) columns the prepared input must carry. */
  private def rewritePrevNext(cond: String): (String, Set[(String, String, Int)]) = {
    val needed = scala.collection.mutable.Set[(String, String, Int)]()
    val out = PrevNextRe.replaceAllIn(cond, m => {
      val fn = m.group(1).toUpperCase
      val n = Option(m.group(4)).map(_.toInt).getOrElse(1)
      needed += ((fn, m.group(3), n))
      navColName(fn, m.group(3), n)
    })
    (out, needed.toSet)
  }

  private def asComparable(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue()
    case t: Timestamp => t.getTime.toDouble
    case d: java.sql.Date => d.getTime.toDouble
    case other =>
      throw new IllegalArgumentException(s"non-numeric navigation comparison: $other")
  }

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def asBigDecimal(v: Any): java.math.BigDecimal = v match {
    case d: java.math.BigDecimal => d
    case n: java.lang.Number => java.math.BigDecimal.valueOf(n.longValue())
  }

  private def micros(v: Any): Long = v match {
    case t: Timestamp => DateTimeUtils.fromJavaTimestamp(t)
    case t: java.time.Instant => DateTimeUtils.instantToMicros(t)
    case t: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(t)
  }

  private def days(v: Any): Int = v match {
    case d: java.sql.Date => DateTimeUtils.fromJavaDate(d)
    case d: java.time.LocalDate => DateTimeUtils.localDateToDays(d)
  }

  /** Orders two non-null operands of columns typed `l` and `r` in their own
    * types: integral as Long, decimal (or decimal against integral) as
    * BigDecimal, timestamps in microseconds, dates in days. Any other pair
    * compares as Double, with -0.0 equal to 0.0. */
  private def operandOrder(l: DataType, r: DataType): (Any, Any) => Int =
    (l, r) match {
      case _ if isIntegral(l) && isIntegral(r) =>
        (a, b) => java.lang.Long.compare(
          a.asInstanceOf[Number].longValue(), b.asInstanceOf[Number].longValue())
      case _ if (isIntegral(l) || l.isInstanceOf[DecimalType]) &&
          (isIntegral(r) || r.isInstanceOf[DecimalType]) =>
        (a, b) => asBigDecimal(a).compareTo(asBigDecimal(b))
      case (TimestampType, TimestampType) | (TimestampNTZType, TimestampNTZType) =>
        (a, b) => java.lang.Long.compare(micros(a), micros(b))
      case (DateType, DateType) =>
        (a, b) => Integer.compare(days(a), days(b))
      case _ => (a, b) => compareDoubles(asComparable(a), asComparable(b))
    }

  private def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  private def holds(op: String, c: Int): Boolean = op match {
    case "<" => c < 0
    case "<=" => c <= 0
    case ">" => c > 0
    case ">=" => c >= 0
    case "=" => c == 0
    case "<>" => c != 0
  }

  // ------------------------------------------------------------- lowering

  def apply(df: DataFrame, body: String): DataFrame = apply(df, parseSpec(body))

  def apply(df: DataFrame, spec: Spec): DataFrame = {
    val spark = df.sparkSession
    val vars = spec.pattern.map(_._1)

    // DEFINE conditions, lowered in three layers:
    //  - PREV/NEXT physical navigation → lag/lead window columns (codegen'd,
    //    computed once per input row);
    //  - FIRST/LAST logical navigation and RUNNING aggregate terms →
    //    iterative (whereContext) predicates over the partial match;
    //  - the per-row residual → a codegen'd boolean column on the scan side.
    // Alternation bookkeeping: members get their own DEFINE columns; the
    // synthetic group stage's column is the OR of its members'.
    val memberOf: Map[String, String] =
      spec.altGroups.iterator.flatMap { case (g, ms) => ms.map(_ -> g) }.toMap
    val defVars = vars.filterNot(spec.altGroups.contains) ++
      spec.altGroups.valuesIterator.flatten.toSeq

    val lowered = defVars.map { v =>
      val base = spec.defines.getOrElse(v, "TRUE")
      // streaming: comparison-shaped PREV terms peel off onto the runner's
      // physical-history ring BEFORE the window-column rewrite sees them
      val (c0, prevRefs) =
        if (df.isStreaming) splitPrevRefs(base) else (base, Seq.empty[PrevRef])
      val (c1, navCols) = rewritePrevNext(c0)
      if (df.isStreaming && navCols.nonEmpty)
        throw new IllegalArgumentException(
          "streaming supports only `col OP PREV(V.col[, n])` navigation " +
            "(NEXT and non-comparison PREV forms need lag/lead window columns)")
      val (c2, aggs) = splitAggRefs(c1)
      val (residual, navs) = splitNavRefs(c2)
      if (memberOf.contains(v) &&
          (navs.nonEmpty || aggs.nonEmpty || navCols.nonEmpty || prevRefs.nonEmpty))
        throw new IllegalArgumentException(
          s"alternation member $v: DEFINE must be a simple row predicate " +
            "(no FIRST/LAST/PREV/NEXT navigation or aggregates)")
      v -> ((residual, navs, aggs, navCols, prevRefs))
    }.toMap
    val allNavCols = lowered.valuesIterator.flatMap(_._4).toSet
    val navWindow = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(spec.partitionBy.map(col): _*)
      w.orderBy(spec.orderBy.map(col): _*)
    }
    val withNav =
      if (allNavCols.isEmpty) df
      else df.select(col("*") +: allNavCols.toSeq.sortBy(_.toString).map {
        case (fn, c, n) =>
          val f = if (fn == "PREV") lag(col(c), n) else lead(col(c), n)
          f.over(navWindow).as(navColName(fn, c, n))
      }: _*)
    val defCols = defVars.map { v =>
      expr(stripVarPrefixes(lowered(v)._1, defVars)).as(s"__def_$v")
    }
    // group columns derive from member columns → a second (collapsible) select
    val groupDefCols = spec.altGroups.toSeq.map { case (g, ms) =>
      ms.map(mm => col(s"__def_$mm")).reduce(_ || _).as(s"__def_$g")
    }
    val prepared = withNav.select(col("*") +: defCols: _*)
      .select(col("*") +: groupDefCols: _*)
    val schema = prepared.schema
    def idx(name: String): Int =
      schema.fieldNames.indexWhere(_.equalsIgnoreCase(name)) match {
        case -1 => throw new IllegalArgumentException(s"column not found: $name")
        case i => i
      }

    val orderIdx = idx(spec.orderBy.head)
    val partIdxs = spec.partitionBy.map(idx)
    val defIdx = (defVars ++ spec.altGroups.keys).map(v => v -> idx(s"__def_$v")).toMap

    /** Leftmost member whose DEFINE holds on this row (SQL preference order;
      * total because the group column is the OR of the members'). */
    def attributedMember(r: Row, group: String): String =
      spec.altGroups(group).find { mm =>
        val di = defIdx(mm); !r.isNullAt(di) && r.getBoolean(di)
      }.get

    /** Classifier of one consumed event (alternation rows resolve to their
      * attributed member). */
    def classifierOf(stageName: String, r: Row): String =
      if (spec.altGroups.contains(stageName)) attributedMember(r, stageName)
      else stageName

    /** Rows bound to `v`: direct bindings, the attributed slice of an
      * alternation group, or — for SUBSET union variables — every member's
      * rows in consumption order. */
    def boundOf(m: NFA.PatternMatch[Row], v: String): Vector[Row] =
      spec.subsets.get(v) match {
        case Some(members) =>
          val s = members.toSet
          m.events.collect { case (nm, r) if s(classifierOf(nm, r)) => r }
        case None =>
          memberOf.get(v) match {
            case Some(g) => m(g).filter(r => attributedMember(r, g) == v)
            case None => m(v)
          }
      }

    def tsOf(r: Row): Long = r.get(orderIdx) match {
      case t: Timestamp => t.getTime
      case t: java.time.Instant => t.toEpochMilli
      case l: Long => l
      case i: Int => i.toLong
      case d: java.sql.Date => d.getTime
      case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case other => throw new IllegalArgumentException(s"unsupported ORDER BY type: $other")
    }

    def typeOf(i: Int): DataType = schema.fields(i).dataType
    val colOrder: Int => (Any, Any) => Int =
      schema.fields.map(f => operandOrder(f.dataType, f.dataType)).toIndexedSeq
    /** The least (`sign` -1) or greatest (`sign` 1) of non-null values of
      * column `ci`, the first on ties. */
    def extreme(ci: Int, sign: Int)(xs: Seq[Any]): Option[Any] =
      xs.reduceOption((a, b) => if (colOrder(ci)(a, b) * sign >= 0) a else b)

    /** The full per-row predicate for variable `v`: its DEFINE boolean
      * column AND its iterative (navigation / aggregate / streaming-PREV)
      * terms. Shared by the flat chain and every graph occurrence of `v`. */
    def stagePred(v: String): (Row, graft.pattern.PatternContext[Row]) => Boolean = {
      val di = defIdx(v)
      // synthetic group stages have no entry in `lowered` (their column is
      // derived from the members'), hence no iterative parts
      val low = lowered.getOrElse(v,
        ("TRUE", Seq.empty[NavRef], Seq.empty[AggRef],
          Set.empty[(String, String, Int)], Seq.empty[PrevRef]))
      val navPreds = low._2.map { ref =>
        val ci = idx(ref.col)
        val refCi = idx(ref.refCol)
        val order = operandOrder(typeOf(ci), typeOf(refCi))
        (r: Row, ctx: graft.pattern.PatternContext[Row]) => {
          val all = ctx(ref.refVar)
          val bound =
            if (ref.fn == "FIRST") all.lift(ref.offset)
            else all.lift(all.size - 1 - ref.offset)
          bound.exists(b => holds(ref.op, order(r.get(ci), b.get(refCi))))
        }
      }
      // RUNNING aggregate terms: rows bound to refVar so far, plus the
      // current row when it is the variable being defined (SQL semantics:
      // the candidate row is tentatively mapped before the test).
      val aggPreds = low._3.map { ref =>
        val ci = if (ref.refCol == "*") -1 else idx(ref.refCol)
        val lit = new java.math.BigDecimal(ref.lit)
        // COUNT, MIN and MAX compare with the literal in the column's own
        // type; SUM and AVG sum integral and decimal columns exactly (AVG
        // compares the sum with lit × n), other columns as Double
        val litOrder = operandOrder(
          if (ci < 0) LongType else typeOf(ci), DecimalType.SYSTEM_DEFAULT)
        val exact = ci >= 0 && (isIntegral(typeOf(ci)) || typeOf(ci).isInstanceOf[DecimalType])
        (r: Row, ctx: graft.pattern.PatternContext[Row]) => {
          val bound = ctx(ref.refVar) ++ (if (ref.refVar == v) Seq(r) else Nil)
          val vals =
            if (ci < 0) Vector.empty
            else bound.iterator.filterNot(_.isNullAt(ci)).map(_.get(ci)).toVector
          ref.fn match {
            case "COUNT" =>
              val n = if (ci < 0) bound.size else vals.size
              holds(ref.op, java.math.BigDecimal.valueOf(n.toLong).compareTo(lit))
            case "MIN" => extreme(ci, -1)(vals).exists(m => holds(ref.op, litOrder(m, lit)))
            case "MAX" => extreme(ci, 1)(vals).exists(m => holds(ref.op, litOrder(m, lit)))
            case fn if exact => vals.nonEmpty && {
              val sum = vals.iterator.map(asBigDecimal).reduce(_ add _)
              val rhs =
                if (fn == "SUM") lit
                else lit.multiply(java.math.BigDecimal.valueOf(vals.size.toLong))
              holds(ref.op, sum.compareTo(rhs))
            }
            case fn => vals.nonEmpty && {
              val sum = vals.map(asComparable).sum
              val x = if (fn == "SUM") sum else sum / vals.size
              holds(ref.op, compareDoubles(x, lit.doubleValue()))
            }
          }
        }
      }
      // Streaming PREV: physical predecessor via the runner's history ring;
      // a missing predecessor or null operand makes the condition false
      // (matching the batch lag-column null semantics).
      val prevPreds = low._5.map { ref =>
        val ci = idx(ref.col)
        val refCi = idx(ref.refCol)
        val order = operandOrder(typeOf(ci), typeOf(refCi))
        (r: Row, ctx: graft.pattern.PatternContext[Row]) =>
          ctx.recent(ref.n).exists { p =>
            !p.isNullAt(refCi) && !r.isNullAt(ci) &&
              holds(ref.op, order(r.get(ci), p.get(refCi)))
          }
      }
      val iterPreds = navPreds ++ aggPreds ++ prevPreds
      if (iterPreds.isEmpty) (r, _) => !r.isNullAt(di) && r.getBoolean(di)
      else (r, ctx) => !r.isNullAt(di) && r.getBoolean(di) && iterPreds.forall(_(r, ctx))
    }
    val preds: Map[String, (Row, graft.pattern.PatternContext[Row]) => Boolean] =
      (defVars ++ spec.altGroups.keys).map(v => v -> stagePred(v)).toMap

    // SQL row-pattern semantics: strict contiguity, strict loop internals.
    // Flat patterns lower to the linear stage chain; group/PERMUTE patterns
    // lower through the Glushkov graph compiler — one stage per variable
    // OCCURRENCE plus a preference-ordered successor graph.
    val BoundedRe = "\\{(\\d+)(?:,(\\d*))?\\}".r
    val (stages, nfaGraph) = spec.ast match {
      case Some(ast) =>
        val compiled = graft.pattern.RowPattern.compile(ast)
        (compiled.leaves.map { lf =>
          Stage[Row](lf.name, preds(lf.name), lf.min, lf.max,
            Contiguity.Strict, Contiguity.Strict, lf.greedy)
        }, Some(compiled.graph))
      case None =>
        (spec.pattern.map { case (v, q) =>
          val (mn, mx) = q match {
            case "*" => (0, Int.MaxValue)
            case "+" => (1, Int.MaxValue)
            case "?" => (0, 1)
            case BoundedRe(n, null) => (n.toInt, n.toInt) // {n}
            case BoundedRe(n, "") => (n.toInt, Int.MaxValue) // {n,}
            case BoundedRe(n, m) => (n.toInt, m.toInt) // {n,m}
            case _ => (1, 1)
          }
          Stage[Row](v, preds(v), mn, mx, Contiguity.Strict, Contiguity.Strict)
        }.toVector, None)
    }
    val maxPrev = lowered.valuesIterator.flatMap(_._5).map(_.n).maxOption.getOrElse(0)
    val pattern = Pattern(stages, spec.withinMs, spec.skip, graph = nfaGraph)
      .withHistory(maxPrev)

    // Input columns without the appended __def_* helper columns (ALL ROWS mode).
    val inputWidth = df.schema.length
    // Output type per measure form: COUNT/MATCH_NUMBER → bigint; SUM/AVG →
    // bigint ALWAYS (fractional inputs micro-quantized, AVG = floor of the
    // quantized mean — no floating-point output, per the engine's
    // cross-engine determinism contract); CLASSIFIER → string;
    // navigation/plain → the source column's type.
    def measureField(m: Measure): StructField = m.fn match {
      case "CLASSIFIER" => StructField(m.alias, StringType)
      case "MATCH_NUMBER" | "COUNT" | "AVG" | "SUM" => StructField(m.alias, LongType)
      // nullable even over non-null sources: RUNNING values are null before
      // the variable first binds, and FINAL MIN/MAX are null on empty loops
      case _ => schema(idx(m.column)).copy(name = m.alias, nullable = true)
    }
    val outSchema =
      if (spec.allRows)
        StructType(df.schema.fields ++
          Seq(StructField("classifier", StringType)) ++
          spec.measures.map(measureField))
      else
        StructType(spec.partitionBy.map(p => schema(idx(p))) ++
          spec.measures.map(measureField))
    val measureIdx = spec.measures.map(m =>
      (m, if (m.column.isEmpty || m.column == "*") -1 else idx(m.column)))

    implicit val rowEnc = Encoders.row(outSchema)
    import spark.implicits._

    def measureVals(m: NFA.PatternMatch[Row], matchNo: Long): Seq[Any] =
      measureIdx.map { case (meas, ci) =>
        lazy val bound = boundOf(m, meas.variable)
        lazy val nonNull = bound.filterNot(_.isNullAt(ci))
        meas.fn match {
          case "CLASSIFIER" =>
            // ONE ROW semantics: classifier of the match's LAST row
            // (resolved through alternation attribution).
            m.events.lastOption.map { case (nm, r) => classifierOf(nm, r) }.orNull
          case "MATCH_NUMBER" => matchNo
          case "COUNT" =>
            if (meas.column == "*") bound.size.toLong else nonNull.size.toLong
          case "SUM" =>
            if (nonNull.isEmpty) null
            else if (isIntegral(schema(ci).dataType))
              nonNull.iterator.map(_.get(ci).asInstanceOf[Number].longValue)
                .foldLeft(0L)(Math.addExact)
            else nonNull.iterator.map(r => math.round(asComparable(r.get(ci)) * 1e6)).sum
          case "AVG" =>
            if (nonNull.isEmpty) null
            else {
              val micros =
                if (isIntegral(schema(ci).dataType))
                  nonNull.iterator
                    .map(r => Math.multiplyExact(r.get(ci).asInstanceOf[Number].longValue, 1000000L))
                    .foldLeft(0L)(Math.addExact)
                else nonNull.iterator.map(r => math.round(asComparable(r.get(ci)) * 1e6)).sum
              java.lang.Math.floorDiv(micros, nonNull.size.toLong)
            }
          case "MIN" => extreme(ci, -1)(nonNull.map(_.get(ci))).orNull
          case "MAX" => extreme(ci, 1)(nonNull.map(_.get(ci))).orNull
          case "FIRST" => bound.lift(meas.offset).map(_.get(ci)).orNull
          // plain V.c ≡ LAST(V.c), per SQL row-pattern semantics
          case _ => bound.lift(bound.size - 1 - meas.offset).map(_.get(ci)).orNull
        }
      }

    def outputRows(m: NFA.PatternMatch[Row], matchNo: Long): Iterator[Row] =
      if (spec.allRows) {
        // ONE row per consumed input row, with CLASSIFIER (the matched
        // variable) and per-row measure values: RUNNING by default (the
        // value over the match prefix up to and including the current row —
        // SQL ALL ROWS semantics), whole-match value under FINAL.
        // alternation rows carry their ATTRIBUTED member name — it drives
        // both the classifier column and which measures accumulate; the
        // match's events are already in consumption order (for flat strict
        // patterns that equals variable order; for graph patterns — PERMUTE,
        // group loops — only consumption order is right)
        val seqRows = m.events.map { case (nm, r) => classifierOf(nm, r) -> r }
        lazy val finals = measureVals(m, matchNo)
        // Per-measure running accumulators, updated row by row: RUNNING
        // values are O(1) per output row, not a prefix re-scan.
        final class Acc {
          var nAll = 0L; var n = 0L; var sumL = 0L; var sumMicros = 0L
          var minV: Any = null
          var maxV: Any = null
          // non-null values seen so far, for FIRST/LAST/plain (with offsets)
          var vals: Vector[Any] = Vector.empty
        }
        val accs = measureIdx.map(_ => new Acc)
        seqRows.iterator.flatMap { case (v, r) =>
          // accumulators update for EVERY consumed row — {- excluded -}
          // variables still contribute to measures, they just don't emit
          measureIdx.zip(accs).foreach { case ((meas, ci), a) =>
            val accumulates = meas.variable == v ||
              spec.subsets.get(meas.variable).exists(_.contains(v))
            if (accumulates && meas.fn != "CLASSIFIER" && meas.fn != "MATCH_NUMBER") {
              a.nAll += 1
              if (ci >= 0 && !r.isNullAt(ci)) {
                a.n += 1
                val raw = r.get(ci)
                meas.fn match {
                  case "SUM" | "AVG" =>
                    if (isIntegral(schema(ci).dataType)) {
                      // overflow raises, as ANSI sum does
                      val lv = raw.asInstanceOf[Number].longValue
                      if (meas.fn == "SUM") a.sumL = Math.addExact(a.sumL, lv)
                      else a.sumMicros =
                        Math.addExact(a.sumMicros, Math.multiplyExact(lv, 1000000L))
                    } else a.sumMicros += math.round(asComparable(raw) * 1e6)
                  case "MIN" =>
                    if (a.minV == null || colOrder(ci)(raw, a.minV) < 0) a.minV = raw
                  case "MAX" =>
                    if (a.maxV == null || colOrder(ci)(raw, a.maxV) > 0) a.maxV = raw
                  case _ => ()
                }
                a.vals :+= raw
              }
            }
          }
          if (spec.excluded(v)) None
          else Some {
          val vals = measureIdx.zip(accs).zipWithIndex.map { case (((meas, ci), a), mi) =>
            val running = meas.mode != "FINAL"
            meas.fn match {
              case "MATCH_NUMBER" => matchNo
              case "CLASSIFIER" => if (running) v else finals(mi)
              case _ if !running => finals(mi)
              case "COUNT" => if (meas.column == "*") a.nAll else a.n
              case "SUM" =>
                if (a.n == 0) null
                else if (isIntegral(schema(ci).dataType)) a.sumL
                else a.sumMicros
              case "AVG" =>
                if (a.n == 0) null else java.lang.Math.floorDiv(a.sumMicros, a.n)
              case "MIN" => a.minV
              case "MAX" => a.maxV
              case "FIRST" => a.vals.lift(meas.offset).orNull
              // plain V.c in ALL ROWS = RUNNING LAST(V.c), per SQL
              case _ => a.vals.lift(a.vals.size - 1 - meas.offset).orNull
            }
          }
          Row.fromSeq(r.toSeq.take(inputWidth) ++ (v +: vals))
          }
        }
      } else {
        val firstRow = m.bindings.valuesIterator.flatten.next()
        Iterator.single(Row.fromSeq(partIdxs.map(firstRow.get) ++ measureVals(m, matchNo)))
      }
    // Streaming state key: each partition value length-prefixed, NULL
    // marked apart, so distinct value tuples never share a key.
    def keyOf(r: Row): String =
      partIdxs.map { i =>
        if (r.isNullAt(i)) "N" else { val v = String.valueOf(r.get(i)); s"V${v.length}:$v" }
      }.mkString

    if (prepared.isStreaming) {
      // Streaming row-pattern query: the SAME lowered pattern runs through
      // the transformWithState CEP operator; the caller provides a watermark
      // on the ORDER BY column upstream (on the registered view).
      // MATCH_NUMBER() comes from the operator's per-key lifetime counter,
      // so numbering matches a batch run over the same ordered input.
      graft.streaming.CepStream.matchPatternNumbered[String, Row, Row](
        prepared, keyOf, tsOf, pattern,
        emitMatch = (_, m: NFA.PatternMatch[Row], no: Long) => outputRows(m, no).toSeq,
        emitTimeout = (_, _: NFA.PatternTimeout[Row]) => None)(
        Encoders.STRING, Encoders.row(schema), rowEnc,
        scala.reflect.ClassTag(classOf[Row]))
    } else {
      // One hash exchange on the partition values, then each partition in
      // ORDER BY order (tiebreak columns make match selection stable across
      // runs and partitionings) through the keyed batch driver, keyed on the
      // partition values themselves. Without PARTITION BY the input is one
      // partition.
      val byKey =
        if (spec.partitionBy.isEmpty) prepared.repartition(1)
        else prepared.repartition(spec.partitionBy.map(col): _*)
      val numbered = spec.measures.exists(_.fn == "MATCH_NUMBER")
      val keyFn = partitionKey(partIdxs)
      byKey.sortWithinPartitions(spec.orderBy.map(col): _*).mapPartitions { rows =>
        val matchNos = scala.collection.mutable.HashMap.empty[Any, Long]
        def matchNo(k: Any): Long =
          if (!numbered) 0L
          else { val no = matchNos.getOrElse(k, 0L) + 1; matchNos.update(k, no); no }
        NFA.runKeyed(rows, keyFn, tsOf, pattern)(
          (k, m) => outputRows(m, matchNo(k)),
          (_, _) => Iterator.empty)
      }
    }
  }

  /** The batch driver's key for a row's PARTITION BY values (columns
    * `idxs`), equal exactly when the `Row`s of those values are equal: NULL
    * apart from 'null', NaN equal to NaN, binary by content. One column
    * keys on the value itself and no column on one constant, so neither
    * allocates per event; several columns key on a `Row` of their values. */
  private def partitionKey(idxs: Seq[Int]): Row => Any = idxs.length match {
    case 0 => _ => ()
    case 1 => val i = idxs(0); r => keyValue(r.get(i))
    case _ => r => Row.fromSeq(idxs.map(r.get))
  }

  private case object NullValue
  private case object DoubleNaN
  private case object FloatNaN

  // A partition value as a hash key with `Row`'s equality (`Row.equals`
  // compares values with `==` but NaN to NaN and binary by content).
  private def keyValue(v: Any): Any = v match {
    case null => NullValue
    case d: Double if d.isNaN => DoubleNaN
    case f: Float if f.isNaN => FloatNaN
    case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case _ => v
  }

  /** Full-statement helper: `SELECT * FROM <table> MATCH_RECOGNIZE (<body>)`. */
  private[sql] val StatementRe =
    "(?is)^\\s*SELECT\\s+\\*\\s+FROM\\s+([\\w.]+)\\s+MATCH_RECOGNIZE\\s*\\((.*)\\)\\s*;?\\s*$".r

  def sql(spark: SparkSession, statement: String): DataFrame = statement match {
    case StatementRe(table, body) => apply(spark.table(table), body)
    case _ => throw new IllegalArgumentException(
      "expected: SELECT * FROM <table> MATCH_RECOGNIZE (...)")
  }
}
