package graft.serving

import scala.collection.mutable.ArrayBuffer

/** Parser for the ES `simple_query_string` syntax — the fault-tolerant
  * end-user query language the reference's passthrough forwards like
  * any other DSL body (reference: src/search_api.py:38-46). Supported
  * operators (ES's full set minus the `flags` mask, which defaults to
  * ALL):
  *
  *   - whitespace joins at the `default_operator` level (or | and)
  *   - `+` explicit AND, `|` explicit OR — AND binds tighter than OR
  *   - `-` prefix negation
  *   - `"quoted phrase"` with optional `~N` slop suffix
  *   - `term*` prefix match, `term~N` fuzzy match (N clamped to
  *     Lucene's 2-edit maximum, ES behavior)
  *   - `(...)` grouping, `\x` escapes any special character
  *
  * Like ES, the parser NEVER throws on malformed input — an unclosed
  * quote runs to the end of the string, an unmatched `)` closes the
  * innermost group, a dangling operator is dropped. (That leniency is
  * simple_query_string's defining contract vs `query_string`.) An
  * input with no usable atoms parses to None; the caller decides
  * (EsDsl rejects the request).
  */
object SimpleQueryString {

  sealed trait Node
  final case class Term(t: String) extends Node
  final case class Prefix(p: String) extends Node
  final case class Fuzzy(t: String, edits: Int) extends Node
  final case class Phrase(terms: Seq[String], slop: Int) extends Node
  final case class And(xs: Seq[Node]) extends Node
  final case class Or(xs: Seq[Node]) extends Node
  final case class Not(x: Node) extends Node

  private sealed trait Tok
  private case object LParen extends Tok
  private case object RParen extends Tok
  private case object PipeOp extends Tok
  private case object PlusOp extends Tok
  private case object MinusOp extends Tok
  private final case class Atom(n: Node) extends Tok

  def parse(query: String, defaultAnd: Boolean): Option[Node] = {
    val toks = lex(query)
    val p = new P(toks, defaultAnd)
    val n = p.parseOr()
    n
  }

  // ---------------------------------------------------------------- lex

  private def lex(q: String): Vector[Tok] = {
    val out = ArrayBuffer[Tok]()
    var i = 0
    def isSpecial(c: Char) =
      c == '(' || c == ')' || c == '|' || c == '+' || c == '"'
    while (i < q.length) {
      val c = q.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += LParen; i += 1 }
      else if (c == ')') { out += RParen; i += 1 }
      else if (c == '|') { out += PipeOp; i += 1 }
      else if (c == '+') { out += PlusOp; i += 1 }
      else if (c == '-') { out += MinusOp; i += 1 }
      else if (c == '"') {
        // phrase body to the next unescaped quote (or end — lenient)
        i += 1
        val sb = new StringBuilder
        while (i < q.length && q.charAt(i) != '"') {
          if (q.charAt(i) == '\\' && i + 1 < q.length) i += 1
          sb.append(q.charAt(i)); i += 1
        }
        if (i < q.length) i += 1 // closing quote
        var slop = 0
        if (i < q.length && q.charAt(i) == '~') {
          val (n, j) = readInt(q, i + 1)
          slop = n.getOrElse(0); i = j
        }
        val terms =
          graft.functions.TextFunctions.analyzeText(sb.toString)
        if (terms.nonEmpty) out += Atom(Phrase(terms, slop))
      } else {
        // bare term, possibly term* (prefix) or term~N (fuzzy)
        val sb = new StringBuilder
        while (i < q.length && !q.charAt(i).isWhitespace &&
            !isSpecial(q.charAt(i)) && q.charAt(i) != '~' &&
            q.charAt(i) != '*') {
          if (q.charAt(i) == '\\' && i + 1 < q.length) i += 1
          sb.append(q.charAt(i)); i += 1
        }
        val t = sb.toString.toLowerCase
        if (i < q.length && q.charAt(i) == '*') {
          i += 1
          if (t.nonEmpty) out += Atom(Prefix(t))
        } else if (i < q.length && q.charAt(i) == '~') {
          val (n, j) = readInt(q, i + 1); i = j
          if (t.nonEmpty)
            out += Atom(Fuzzy(t, math.min(n.getOrElse(2), 2)))
        } else if (t.nonEmpty) out += Atom(Term(t))
        else i += 1 // lone special char the scanners above skipped
      }
    }
    out.toVector
  }

  private def readInt(q: String, from: Int): (Option[Int], Int) = {
    var j = from
    while (j < q.length && q.charAt(j).isDigit) j += 1
    if (j == from) (None, from)
    // an absurdly long digit run saturates instead of overflowing —
    // leniency means NEVER throwing; downstream consumers clamp
    // (fuzzy to 2 here, slop inside Positional's window math)
    else if (j - from > 9) (Some(Int.MaxValue), j)
    else (Some(q.substring(from, j).toInt), j)
  }

  // -------------------------------------------------------------- parse

  private final class P(toks: Vector[Tok], defaultAnd: Boolean) {
    private var pos = 0
    private def peek: Option[Tok] =
      if (pos < toks.length) Some(toks(pos)) else None
    private def atomStart(t: Tok): Boolean = t match {
      case LParen | MinusOp | Atom(_) => true
      case _                          => false
    }

    def parseOr(): Option[Node] = parseOr(0)

    private def parseOr(depth: Int): Option[Node] = {
      val parts = ArrayBuffer[Node]()
      parseAnd().foreach(parts += _)
      var done = false
      while (!done) peek match {
        case Some(PipeOp) =>
          pos += 1; parseAnd().foreach(parts += _)
        case Some(t) if !defaultAnd && atomStart(t) =>
          parseAnd().foreach(parts += _)
        case Some(PlusOp) => pos += 1 // dangling operator: dropped
        case Some(RParen) if depth == 0 =>
          pos += 1 // top-level stray close: dropped, keep scanning
        case _ => done = true
      }
      parts.toSeq match {
        case Seq()  => None
        case Seq(x) => Some(x)
        case xs     => Some(Or(xs))
      }
    }

    private def parseAnd(): Option[Node] = {
      val parts = ArrayBuffer[Node]()
      parseUnary().foreach(parts += _)
      var done = false
      while (!done) peek match {
        case Some(PlusOp) =>
          pos += 1; parseUnary().foreach(parts += _)
        case Some(t) if defaultAnd && atomStart(t) =>
          parseUnary().foreach(parts += _)
        case _ => done = true
      }
      parts.toSeq match {
        case Seq()  => None
        case Seq(x) => Some(x)
        case xs     => Some(And(xs))
      }
    }

    private def parseUnary(): Option[Node] = peek match {
      case Some(MinusOp) =>
        pos += 1
        parseUnary().map(Not(_))
      case Some(LParen) =>
        pos += 1
        val inner = parseOr(1)
        peek match {
          case Some(RParen) => pos += 1
          case _            => () // unclosed group: lenient
        }
        inner
      case Some(Atom(n)) =>
        pos += 1; Some(n)
      case _ => None
    }
  }
}
