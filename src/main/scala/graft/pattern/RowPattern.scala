package graft.pattern

import scala.collection.mutable.{ArrayBuffer, ListBuffer}

/** Recursive row-pattern parser and Glushkov NFA-graph compiler for the
  * MATCH_RECOGNIZE `PATTERN` clause — the one lowering of every pattern,
  * from the reference's flat `A B* C`
  * (`kosmag/FlinkSqlMatchRecognizeExample.scala:62`)
  * to the SQL:2016 constructs beyond its grammar: alternation
  * `(A B | C D)`, quantified groups `(A B)+` and `PERMUTE(A, B, C)`.
  *
  * Grammar:
  * {{{
  *   alt     := seq ('|' seq)*
  *   seq     := factor+
  *   factor  := primary quant?
  *   primary := ident | '(' alt ')' | 'PERMUTE' '(' alt (',' alt)* ')'
  *            | '{-' alt '-}'
  *   quant   := ('*' | '+' | '?' | '{' n? (',' m?)? '}') '?'?
  * }}}
  *
  * Compilation (Glushkov / position-automaton construction): every VARIABLE
  * OCCURRENCE becomes one NFA stage carrying the variable's own quantifier
  * natively (`min`/`max` — the runner counts repetitions in place, so `B*`
  * costs one state, not an expansion); group structure becomes pure edge
  * structure — `first`/`last`/`follow` sets with loop-back edges for `(…)+`
  * and fan-out edges for alternation. Successor lists are emitted in SQL
  * preference order: leftmost alternation branch first, loop-back (greedy
  * continuation) before group exit. `PERMUTE` expands to the alternation of
  * all orderings in lexicographic order, per SQL:2016; bounded group
  * quantifiers `{n,m}` expand to `n` copies plus a nested optional tail.
  */
object RowPattern {

  /** Surface AST. `AVar` quantifiers are native (stage-level); group
    * quantifiers wrap in [[AQuant]]. */
  sealed trait Ast
  final case class AVar(name: String, min: Int = 1, max: Int = 1,
      greedy: Boolean = true) extends Ast
  final case class ASeq(items: List[Ast]) extends Ast
  final case class AAlt(branches: List[Ast]) extends Ast
  final case class AQuant(body: Ast, min: Int, max: Int, greedy: Boolean) extends Ast
  final case class APermute(items: List[Ast]) extends Ast
  final case class AExcl(body: Ast) extends Ast

  /** One compiled stage descriptor (a variable OCCURRENCE). */
  final case class Leaf(name: String, min: Int, max: Int, greedy: Boolean,
      excluded: Boolean)

  /** Parsed + compiled pattern: stage descriptors in index order plus the
    * preference-ordered successor graph ([[NfaGraph]] sentinel =
    * `leaves.length`). */
  final case class Compiled(leaves: Vector[Leaf], graph: NfaGraph)

  // ------------------------------------------------------------------ parser

  def parse(src: String): Ast = new Parser(src).parseTop()

  /** Distinct variable names, in first-appearance order. */
  def varNames(ast: Ast): Seq[String] = {
    val out = ListBuffer.empty[String]
    val seen = scala.collection.mutable.HashSet.empty[String]
    def go(a: Ast): Unit = a match {
      case AVar(nm, _, _, _) => if (seen.add(nm)) out += nm
      case ASeq(items) => items.foreach(go)
      case AAlt(bs) => bs.foreach(go)
      case AQuant(b, _, _, _) => go(b)
      case APermute(items) => items.foreach(go)
      case AExcl(b) => go(b)
    }
    go(ast)
    out.toList
  }

  /** Names of variables under a `{- … -}` exclusion. */
  def excludedNames(ast: Ast): Set[String] = {
    val out = scala.collection.mutable.HashSet.empty[String]
    def go(a: Ast, excl: Boolean): Unit = a match {
      case AVar(nm, _, _, _) => if (excl) out += nm
      case ASeq(items) => items.foreach(go(_, excl))
      case AAlt(bs) => bs.foreach(go(_, excl))
      case AQuant(b, _, _, _) => go(b, excl)
      case APermute(items) => items.foreach(go(_, excl))
      case AExcl(b) => go(b, excl = true)
    }
    go(ast, excl = false)
    out.toSet
  }

  private final class Parser(src: String) {
    private var pos = 0

    private def ws(): Unit =
      while (pos < src.length && src.charAt(pos).isWhitespace) pos += 1
    private def peek: Char = if (pos < src.length) src.charAt(pos) else '\u0000'
    private def at(s: String): Boolean =
      src.regionMatches(true, pos, s, 0, s.length)
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"PATTERN parse error at ${pos}: $msg (in '${src}')")
    private def expect(c: Char): Unit = {
      ws()
      if (peek != c) fail(s"expected '$c'")
      pos += 1
    }

    def parseTop(): Ast = {
      val a = parseAlt()
      ws()
      if (pos != src.length) fail(s"unexpected trailing input '${src.substring(pos)}'")
      a
    }

    private def parseAlt(): Ast = {
      val bs = ListBuffer(parseSeq())
      ws()
      while (peek == '|') { pos += 1; bs += parseSeq(); ws() }
      if (bs.size == 1) bs.head else AAlt(bs.toList)
    }

    private def parseSeq(): Ast = {
      val items = ListBuffer.empty[Ast]
      var more = true
      while (more) {
        ws()
        if (pos >= src.length || peek == ')' || peek == '|' || peek == ',' || at("-}"))
          more = false
        else items += parseFactor()
      }
      if (items.isEmpty) fail("empty pattern term")
      if (items.size == 1) items.head else ASeq(items.toList)
    }

    private def parseFactor(): Ast = {
      val prim = parsePrimary()
      parseQuant() match {
        case None => prim
        case Some((mn, mx, greedy)) => prim match {
          // a quantifier on a bare unquantified variable is stage-native
          case AVar(nm, 1, 1, _) => AVar(nm, mn, mx, greedy)
          case _ => AQuant(prim, mn, mx, greedy)
        }
      }
    }

    private def parsePrimary(): Ast = {
      ws()
      if (at("{-")) {
        pos += 2
        val body = parseAlt()
        ws()
        if (!at("-}")) fail("expected '-}'")
        pos += 2
        AExcl(body)
      } else if (at("PERMUTE") &&
          !(pos + 7 < src.length && isWordChar(src.charAt(pos + 7)))) {
        pos += 7
        expect('(')
        val items = ListBuffer(parseAlt())
        ws()
        while (peek == ',') { pos += 1; items += parseAlt(); ws() }
        expect(')')
        if (items.size < 2) fail("PERMUTE needs at least two terms")
        if (items.size > 6) fail(
          s"PERMUTE of ${items.size} terms expands to ${items.size}! orderings — not supported beyond 6")
        APermute(items.toList)
      } else if (peek == '(') {
        pos += 1
        val body = parseAlt()
        expect(')')
        body
      } else {
        val start = pos
        while (pos < src.length && isWordChar(src.charAt(pos))) pos += 1
        if (pos == start) fail(s"expected a pattern variable, found '$peek'")
        AVar(src.substring(start, pos))
      }
    }

    private def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

    private def parseQuant(): Option[(Int, Int, Boolean)] = {
      ws()
      val base: Option[(Int, Int)] = peek match {
        case '*' => pos += 1; Some((0, Int.MaxValue))
        case '+' => pos += 1; Some((1, Int.MaxValue))
        case '?' => pos += 1; Some((0, 1))
        case '{' if !at("{-") =>
          pos += 1
          ws()
          val mn = number().getOrElse(0)
          ws()
          val mx = peek match {
            case ',' =>
              pos += 1; ws()
              number().getOrElse(Int.MaxValue)
            case _ => mn // {n}
          }
          expect('}')
          if (mx < mn || mx == 0) fail(s"bad quantifier bounds {$mn,$mx}")
          Some((mn, mx))
        case _ => None
      }
      base.map { case (mn, mx) =>
        // a trailing '?' flips to reluctant
        val greedy = !(peek == '?' && { pos += 1; true })
        (mn, mx, greedy)
      }
    }

    private def number(): Option[Int] = {
      val start = pos
      while (pos < src.length && src.charAt(pos).isDigit) pos += 1
      if (pos == start) None else Some(src.substring(start, pos).toInt)
    }
  }

  // ---------------------------------------------------------------- compiler

  /** Normalized core for the Glushkov build (leaves resolved to indices). */
  private sealed trait N
  private final case class NLeaf(i: Int) extends N
  private final case class NSeq(items: List[N]) extends N
  private final case class NAlt(bs: List[N]) extends N
  private final case class NLoop(b: N, canSkip: Boolean) extends N
  private final case class NOpt(b: N) extends N

  def compile(ast: Ast): Compiled = {
    val leaves = ArrayBuffer.empty[Leaf]

    def norm(a: Ast, excl: Boolean): N = a match {
      case AVar(nm, mn, mx, g) =>
        // Graph-mode preference ranks encode greedy (continue-before-leave)
        // ordering; a reluctant leaf would need divergence-stage attribution
        // the rank vector cannot recover.
        if (!g) throw new IllegalArgumentException(
          s"reluctant quantifier on $nm is not supported (row-pattern quantifiers are greedy)")
        leaves += Leaf(nm, mn, mx, g, excl)
        NLeaf(leaves.size - 1)
      case ASeq(items) => NSeq(items.map(norm(_, excl)))
      case AAlt(bs) => NAlt(bs.map(norm(_, excl)))
      case AExcl(b) => norm(b, excl = true)
      case APermute(items) =>
        // SQL:2016: PERMUTE expands to the alternation of all orderings in
        // lexicographic order; each ordering gets its own leaf occurrences
        NAlt(items.permutations.map(p => NSeq(p.map(norm(_, excl)))).toList)
      case AQuant(b, mn, mx, greedy) =>
        if (!greedy) throw new IllegalArgumentException(
          "reluctant group quantifiers are not supported (row-pattern quantifiers are greedy)")
        (mn, mx) match {
          case (0, 1) => NOpt(norm(b, excl))
          case (1, Int.MaxValue) => NLoop(norm(b, excl), canSkip = false)
          case (0, Int.MaxValue) => NLoop(norm(b, excl), canSkip = true)
          case (1, 1) => norm(b, excl)
          case (n0, Int.MaxValue) => // (…){n,} = n-1 copies then (…)+
            NSeq(List.fill(n0 - 1)(norm(b, excl)) :+ NLoop(norm(b, excl), canSkip = false))
          case (n0, m0) => // (…){n,m} = n copies + nested optional tail
            def optTail(k: Int): Option[N] =
              if (k == 0) None
              else Some(NOpt(optTail(k - 1) match {
                case Some(t) => NSeq(List(norm(b, excl), t))
                case None => norm(b, excl)
              }))
            val mand = List.fill(n0)(()).map(_ => norm(b, excl))
            val tail = optTail(m0 - n0)
            if (mand.isEmpty) tail.get else NSeq(mand ++ tail.toList)
        }
    }

    val root = norm(ast, excl = false)
    val k = leaves.size
    val follow = Array.fill(k)(ListBuffer.empty[Int])

    def nullable(p: N): Boolean = p match {
      case NLeaf(i) => leaves(i).min == 0
      case NSeq(items) => items.forall(nullable)
      case NAlt(bs) => bs.exists(nullable)
      case NLoop(b, canSkip) => canSkip || nullable(b)
      case NOpt(_) => true
    }

    // firsts of a sequence suffix: each item's firsts while the prefix of
    // the suffix stays nullable (preference order preserved)
    def firstOfSeq(items: List[N]): List[Int] = {
      val out = ListBuffer.empty[Int]
      var open = true
      items.foreach { it =>
        if (open) { out ++= first(it); open = nullable(it) }
      }
      out.toList
    }

    def first(p: N): List[Int] = p match {
      case NLeaf(i) => List(i)
      case NSeq(items) => firstOfSeq(items)
      case NAlt(bs) => bs.flatMap(first)
      case NLoop(b, _) => first(b)
      case NOpt(b) => first(b)
    }

    def last(p: N): List[Int] = p match {
      case NLeaf(i) => List(i)
      case NSeq(items) =>
        val out = ListBuffer.empty[Int]
        var open = true
        items.reverseIterator.foreach { it =>
          if (open) { out ++= last(it); open = nullable(it) }
        }
        out.toList
      case NAlt(bs) => bs.flatMap(last)
      case NLoop(b, _) => last(b)
      case NOpt(b) => last(b)
    }

    // Children link FIRST (their loop-backs land before the sequence's
    // proceed edges — greedy: continue a group before leaving it).
    def link(p: N): Unit = p match {
      case NLeaf(_) => ()
      case NSeq(items) =>
        items.foreach(link)
        items.indices.dropRight(1).foreach { i =>
          val targets = firstOfSeq(items.drop(i + 1))
          last(items(i)).foreach(x => follow(x) ++= targets)
        }
      case NAlt(bs) => bs.foreach(link)
      case NLoop(b, _) =>
        link(b)
        val fb = first(b)
        last(b).foreach(x => follow(x) ++= fb)
      case NOpt(b) => link(b)
    }
    link(root)

    if (nullable(root)) throw new IllegalArgumentException(
      "row pattern must not match the empty sequence (every branch needs a mandatory variable)")

    val lastSet = last(root).toSet
    def dedup(xs: List[Int]): List[Int] = {
      val seen = scala.collection.mutable.HashSet.empty[Int]
      xs.filter(seen.add)
    }
    val edges = Vector.tabulate(k) { i =>
      dedup(follow(i).toList) ++ (if (lastSet(i)) List(k) else Nil)
    }
    Compiled(leaves.toVector, NfaGraph(dedup(first(root)), edges))
  }
}
