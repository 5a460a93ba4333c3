package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import scala.util.Try

/** Compiler for the reference's user-supplied conversion expressions
  * (reference: conversion.py:7-16, db_model.py:46): a program string of
  * the form `Value = <arithmetic in x>` evaluated per sample with the
  * raw decoded value bound to symbol `x`.
  *
  * The reference re-parses the program with a fresh sandboxed asteval
  * interpreter per sample (conversion.py:8). Here each distinct program
  * is compiled ONCE, at plan build time, into a Catalyst expression —
  * the sandbox is Catalyst itself (no UDF, no interpreter), so the
  * conversion participates in whole-stage codegen, constant folding and
  * predicate pushdown, and costs nothing extra at 100 TB.
  *
  * Error semantics mirror the reference: a program that does not parse,
  * does not assign `Value`, or references symbols other than `x` (and a
  * small arithmetic-function whitelist) yields null for every sample
  * (conversion.py:13-15 returns None on Key/Syntax errors).
  */
object Conversions {

  private val Assign = """(?s)\s*Value\s*=\s*(.+)""".r

  /** Functions allowed in a conversion body — the overlap of Spark SQL
    * built-ins and what asteval exposes by default. */
  private val allowedFns: Set[String] =
    Set("abs", "round", "floor", "ceil", "ceiling", "sqrt", "exp", "ln",
      "log", "log10", "log2", "sin", "cos", "tan", "asin", "acos",
      "atan", "pow", "power", "least", "greatest", "sign", "pi", "e")

  /** Extract the arithmetic body if the program has the required
    * `Value = ...` shape (conversion.py:10-12), else None. */
  def body(program: String): Option[String] = program match {
    case Assign(b) => Some(b.trim).filter(_.nonEmpty)
    case _ => None
  }

  /** Compile one conversion program into a Column over the given input
    * column. None when malformed or referencing unknown symbols. */
  def compile(program: String, x: Column): Option[Column] =
    body(program).flatMap { b =>
      val idents = "[A-Za-z_][A-Za-z_0-9]*".r.findAllIn(b).toSet
      val unknown = idents.filterNot(i => allowedFns(i.toLowerCase) || i == "x")
      if (unknown.nonEmpty) None
      else Try {
        // Parse with Spark's SQL parser, then bind the free symbols:
        // `x` to the caller's column, and the asteval constants pi/e
        // to their literal values (asteval exposes math.pi / math.e;
        // left unbound they would be unresolved column references and
        // crash the WHOLE plan at analysis time, not just this
        // program's channel).
        val parsed =
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(b)
        val bound = parsed.transformUp {
          case a: UnresolvedAttribute if a.nameParts == Seq("x") =>
            ColumnBridge.expression(x)
          case a: UnresolvedAttribute if a.nameParts == Seq("pi") =>
            ColumnBridge.expression(lit(math.Pi))
          case a: UnresolvedAttribute if a.nameParts == Seq("e") =>
            ColumnBridge.expression(lit(math.E))
        }
        // Defense in depth: anything still unresolved must reject THIS
        // program (-> null channel, conversion.py:13-15) rather than
        // fail analysis for every channel in the query.
        bound.foreach {
          case a: UnresolvedAttribute =>
            throw new IllegalArgumentException(s"unbound symbol ${a.name}")
          case _ => ()
        }
        // Full analysis validation of a PROBE variant (x bound to a
        // literal so it resolves against a throwaway plan): catches
        // wrong-arity / wrong-type uses of whitelisted functions
        // ("Value = pow(x)") that no syntactic check can, so they
        // null this program instead of crashing the whole query.
        org.apache.spark.sql.SparkSession.getActiveSession.foreach { sp =>
          val probe = parsed.transformUp {
            case _: UnresolvedAttribute => ColumnBridge.expression(lit(0.0))
          }
          sp.range(1).select(ColumnBridge.column(probe))
            .queryExecution.assertAnalyzed()
        }
        ColumnBridge.column(bound)
      }.toOption
    }

  /** Apply a set of per-key conversion programs (the `conversions`
    * dimension, db_model.py:42-46) to a value column, selecting the
    * program by `conversionId`. Compiles to a single CASE expression —
    * one codegen'd branch per distinct program, zero interpreters at
    * runtime. Null/unmatched conversion ids pass the value through
    * unchanged (reference daq-3i.py:150-151: 0/NULL = no conversion);
    * malformed programs yield null (conversion.py:13-15). */
  def applyConversions(
      conversions: Seq[(Long, String)],
      conversionId: Column,
      x: Column): Column = {
    val first: Column = when(conversionId.isNull, x)
    conversions.foldLeft(first) { case (acc, (id, program)) =>
      compile(program, x) match {
        case Some(converted) => acc.when(conversionId === lit(id), converted)
        case None => acc.when(conversionId === lit(id), lit(null).cast("double"))
      }
    }.otherwise(x)
  }
}
