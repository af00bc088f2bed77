package graft.dsl

import scala.util.parsing.combinator.RegexParsers

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tier-1 replacement for the reference's sandboxed Ruby `monitor_expr`
  * (reference db/schema.rb:66, README.md:54: arbitrary Ruby evaluated in
  * a fork/exec'd MRI sandbox). We deliberately do NOT port
  * arbitrary-code eval (SURVEY §2.10 U1): this closed expression
  * language covers the documented monitoring use — reduce each series
  * over the window, compare against thresholds — and compiles to a
  * Catalyst `Column`, so it runs inside the query plan with zero
  * interpretation overhead and zero sandboxing surface.
  *
  * Grammar:
  *   cond   := or
  *   or     := and ("||" and)*
  *   and    := cmp ("&&" cmp)*
  *   cmp    := sum  (">" | ">=" | "<" | "<=" | "==" | "!=")  sum
  *   sum    := prod (("+" | "-") prod)*
  *   prod   := atom (("*" | "/") atom)*
  *   atom   := number | reduction | "(" cond-or-sum ")"
  *   reduction := sum | mean | avg | min | max | count | median
  *              | stddev | last | first | p<nn> (e.g. p95)
  *
  * Reductions refer to the monitor window's per-series value column and
  * are provided by the Planner as pre-aggregated columns named
  * `red_<name>` (SURVEY §2.4 A4).
  */
object MonitorDsl {

  sealed trait Ast
  final case class Num(v: Double) extends Ast
  final case class Red(name: String) extends Ast
  final case class Bin(op: String, l: Ast, r: Ast) extends Ast

  val reductionNames: Set[String] =
    Set("sum", "mean", "avg", "min", "max", "count", "median", "stddev", "last", "first")

  /** `p0`..`p100`, fractional allowed (`p99.9`). */
  def isPercentile(n: String): Boolean =
    n.matches("p\\d{1,3}(?:\\.\\d+)?") && n.drop(1).toDouble <= 100.0

  /** The `red_*` column a reduction lands in. Fractional percentiles
    * sanitize the dot (`p99.9` → `red_p99_9`) — a dot in a column name
    * reads as field access under `col(...)`. */
  def redCol(name: String): String = "red_" + name.replace('.', '_')

  private object P extends RegexParsers {
    def num: Parser[Ast] = """-?\d+(?:\.\d+)?""".r ^^ (s => Num(s.toDouble))
    def red: Parser[Ast] = """[a-z]+\d*(?:\.\d+)?""".r.filter(n =>
      reductionNames(n) || isPercentile(n)) ^^ Red.apply
    def atom: Parser[Ast] = num | red | "(" ~> cond <~ ")"
    def prod: Parser[Ast] = chainl1(atom, ("*" | "/") ^^ (op => (l: Ast, r: Ast) => Bin(op, l, r)))
    def sum: Parser[Ast] = chainl1(prod, ("+" | "-") ^^ (op => (l: Ast, r: Ast) => Bin(op, l, r)))
    def cmp: Parser[Ast] = sum ~ opt((">=" | "<=" | "==" | "!=" | ">" | "<") ~ sum) ^^ {
      case l ~ None => l
      case l ~ Some(op ~ r) => Bin(op, l, r)
    }
    def and: Parser[Ast] = chainl1(cmp, "&&" ^^ (_ => (l: Ast, r: Ast) => Bin("&&", l, r)))
    def cond: Parser[Ast] = chainl1(and, "||" ^^ (_ => (l: Ast, r: Ast) => Bin("||", l, r)))
    def parseCond(s: String): Either[String, Ast] = parseAll(cond, s) match {
      case Success(a, _) => Right(a)
      case NoSuccess(msg, next) => Left(s"$msg at ${next.pos}")
      case _ => Left("parse failure")
    }
  }

  def parse(expr: String): Either[String, Ast] = P.parseCond(expr)

  /** Every reduction the expression references (the Planner aggregates
    * exactly these). */
  def reductions(a: Ast): Set[String] = a match {
    case Red(n) => Set(n)
    case Bin(_, l, r) => reductions(l) ++ reductions(r)
    case _ => Set.empty
  }

  /** Compile to a Column over `red_<name>` columns. */
  def compile(a: Ast): Column = a match {
    case Num(v) => lit(v)
    case Red(n) => col(redCol(n))
    case Bin(op, l, r) =>
      val (x, y) = (compile(l), compile(r))
      op match {
        case "+" => x + y
        case "-" => x - y
        case "*" => x * y
        case "/" => x / y
        case ">" => x > y
        case ">=" => x >= y
        case "<" => x < y
        case "<=" => x <= y
        case "==" => x === y
        case "!=" => x =!= y
        case "&&" => x && y
        case "||" => x || y
      }
  }

  /** A monitor expression ready for a plan: its reductions (sorted), one
    * aggregate column per reduction over `(ts, value)` named
    * [[redCol]], and the `passed` column over those aggregates. */
  final case class Compiled(reductions: Seq[String], aggs: Seq[Column], passed: Column)

  /** The one compile step every monitor path (run, backtest, streaming)
    * shares; each caller adds only its own grouping keys. Rejects a bad
    * expression, and one that references no reduction (its `passed`
    * would be a constant), with a named IllegalArgumentException. */
  def compileMonitor(spec: graft.model.MonitorSpec): Compiled = {
    val what = s"monitor ${spec.id} '${spec.name}'"
    val ast = parse(spec.monitorExpr).fold(
      err => throw new IllegalArgumentException(s"$what: bad expr: $err"), identity)
    val reds = reductions(ast).toSeq.sorted
    require(reds.nonEmpty, s"$what: expression '${spec.monitorExpr}' " +
      "references no reduction (sum/mean/min/max/count/median/stddev/last/first/pNN)")
    Compiled(reds, reds.map(r => reductionAgg(r, col("value"), col("ts")).as(redCol(r))),
      compile(ast))
  }

  /** The aggregate expression for one reduction name, over `valueCol`.
    * `tsCol` orders first/last. */
  def reductionAgg(name: String, valueCol: Column, tsCol: Column): Column = name match {
    case "sum" => graft.series.SeriesOps.dsum(valueCol)
    case "mean" | "avg" => graft.series.SeriesOps.dmean(valueCol)
    case "min" => min(valueCol)
    case "max" => max(valueCol)
    case "count" => count(valueCol).cast("double")
    case "median" => percentile(valueCol, lit(0.5))
    case "stddev" => stddev_samp(valueCol)
    case "last" => max_by(valueCol, when(valueCol.isNotNull, tsCol))
    case "first" => min_by(valueCol, when(valueCol.isNotNull, tsCol))
    case p if isPercentile(p) =>
      percentile(valueCol, lit(p.drop(1).toDouble / 100.0))
    case other => throw new IllegalArgumentException(s"unknown reduction '$other'")
  }
}
