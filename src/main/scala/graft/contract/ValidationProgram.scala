package graft.contract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Compiled validation program: `ContractPolicy × observed schema →
  * vectorized Column pipeline` (cdf: crates/cdf-contract/src/compiler.rs,
  * vector.rs — but Spark-first: each rule lowers to a codegen'd
  * `Column` predicate evaluated by Tungsten, not a hand-rolled kernel).
  *
  * Execution shape: one `select` appends a boolean per rule plus a
  * joined verdict + disposition; downstream splits accepted vs
  * quarantined rows with two cheap filters on the same cached plan.
  * At 100 TB this is a single map-stage with no shuffle.
  */
final class ValidationProgram private (
    val policy: ContractPolicy,
    val ruleCols: Seq[(RowRule, Column)]) {

  import ValidationProgram._

  /** verdict per rule as int rank (null input to a rule predicate is a
    * violation unless the rule is Nullability-pass — Kleene null maps
    * to NOT-pass, keeping the lattice total; SURVEY §7.4.2). */
  private def ruleVerdict(rule: RowRule, pass: Column): Column = {
    val failRank =
      if (policy.fatalRules.contains(rule.id)) Verdict.Fatal.rank
      else Verdict.Violation.rank
    when(coalesce(pass, lit(false)), lit(Verdict.Pass.rank)).otherwise(lit(failRank))
  }

  private def verdictRank: Column = ruleCols
    .map { case (r, c) => ruleVerdict(r, c) }
    .reduceOption((a, b) => greatest(a, b))
    .getOrElse(lit(Verdict.Pass.rank))

  /** Append `_graft_verdict` (string) + `_graft_disposition` columns.
    *
    * The rank is materialized ONCE per row and the name/disposition
    * when-chains take the column REFERENCE: inlining the rule tree
    * into each branch would re-evaluate every rule per branch, and
    * codegen's common-subexpression elimination cannot hoist out of
    * conditional branches (measured 2.75× slower). CollapseProject
    * keeps the two projections separate because the rank expression
    * is non-cheap and referenced twice. */
  def annotate(df: DataFrame): DataFrame = {
    val rankCol = "_graft_rank"
    df.withColumn(rankCol, verdictRank)
      .withColumn(VerdictCol, rankToName(col(rankCol)))
      .withColumn(DispositionCol, rankToDisposition(col(rankCol)))
      .drop(rankCol)
  }

  /** Accepted rows, original schema (cdf: program.rs:378-420 Accept).
    *
    * Hot path: filters directly on the integer verdict rank — the
    * per-row verdict/disposition STRINGS of [[annotate]] are never
    * built (each is a when-chain allocating a UTF8String per row; at
    * 100 TB that's pure garbage for rows whose only fate is a boolean
    * split). Semantics identical: rank ∈ accept-ranks ⇔ disposition
    * would have been "accept". */
  def accepted(df: DataFrame): DataFrame = {
    val acceptRanks = Verdict.all
      .filter(v => Disposition.ofVerdict(v) == Disposition.Accept).map(_.rank)
    df.filter(verdictRank.isin(acceptRanks.map(Int.box): _*))
  }

  /** Quarantined rows with evidence columns; PII-classified columns are
    * redacted with sha2 before they ever leave the pipeline
    * (cdf: VISION.md:723, program.rs:53-63 `RedactionDecision`). */
  def quarantined(df: DataFrame, redactColumns: Set[String] = Set.empty): DataFrame = {
    val a = annotate(df).filter(col(DispositionCol) =!= "accept")
    redactColumns.foldLeft(a) { (acc, c) =>
      acc.withColumn(c, sha2(col(c).cast("string"), 256))
    }
  }

  /** Per-rule pass/violation counts — the quality.parquet shape
    * (cdf: VISION.md:780 rule-outcome counts). One aggregate pass. */
  def ruleOutcomeCounts(df: DataFrame): DataFrame = {
    val aggs = ruleCols.flatMap { case (r, c) =>
      Seq(
        sum(when(coalesce(c, lit(false)), 1L).otherwise(0L)).as(s"${r.id}__pass"),
        sum(when(coalesce(c, lit(false)), 0L).otherwise(1L)).as(s"${r.id}__violation"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }
}

object ValidationProgram {
  val VerdictCol = "_graft_verdict"
  val DispositionCol = "_graft_disposition"

  /** rank → string via a LITERAL-ARRAY index (ranks are contiguous
    * 0..4 by construction): one bounds-checked read of a constant
    * UTF8String per row instead of a 5-branch when-chain re-comparing
    * the rank. Measured (SCALE.md round-9 notes, single-core cell):
    * wall-equal to the when-chain — the validation increment over the
    * same-width noop floor is rule evaluation itself (byte compares
    * on the gated string columns) plus the two contract string
    * materializations, not the rank→string mapping. Kept for the
    * simpler generated code. */
  /** rank-indexed name tables — the single source the annotate
    * columns (and any diagnostic comparing against them) index into.
    * Positional indexing is only sound while ranks are contiguous
    * from 0, so that is ASSERTED at class-load, and the lookups below
    * still coalesce to the worst verdict/disposition — the fail-safe
    * the old when-chain fallback provided — so an impossible rank can
    * never yield a NULL that slips past every disposition filter. */
  private[graft] val verdictNamesByRank: Seq[String] = {
    val sorted = Verdict.all.sortBy(_.rank)
    require(sorted.map(_.rank) == sorted.indices.map(identity),
      s"verdict ranks must be contiguous from 0: ${sorted.map(v => v.name -> v.rank)}")
    sorted.map(_.name)
  }
  private[graft] val dispositionNamesByRank: Seq[String] =
    Verdict.all.sortBy(_.rank).map { v =>
      Disposition.ofVerdict(v) match {
        case Disposition.Accept => "accept"
        case Disposition.Quarantine => "quarantine"
        case Disposition.RejectBatch => "reject_batch"
        case Disposition.RejectRun => "reject_run"
      }
    }

  private def rankToName(rank: Column): Column =
    coalesce(element_at(typedLit(verdictNamesByRank), rank + 1),
      lit(Verdict.all.maxBy(_.rank).name))

  private def rankToDisposition(rank: Column): Column =
    coalesce(element_at(typedLit(dispositionNamesByRank), rank + 1),
      lit(dispositionNamesByRank.last))

  /** Anchored-literal regex → the plain string test it denotes.
    * regexp_like has FIND semantics, so "^lit" ⇔ startsWith, "lit$" ⇔
    * endsWith, "^lit$" ⇔ equality, and a bare literal ⇔ contains —
    * all codegen'd byte comparisons on UTF8String. The general regex
    * path decodes every row to a java.lang.String and runs the regex
    * machine (measured ~2.3× the whole-scan cost for a prefix
    * pattern); a validation program over 100 TB should never pay
    * that for a literal test. None = pattern has metacharacters. */
  private def literalTest(c: Column, p: String): Option[Column] = {
    def lit_(s: String): Option[String] =
      if (s.nonEmpty && !s.exists("\\.[]{}()*+?^$|".contains(_))) Some(s) else None
    (p.startsWith("^"), p.endsWith("$")) match {
      case (true, true) => lit_(p.substring(1, p.length - 1)).map(c === _)
      case (true, false) => lit_(p.substring(1)).map(s => c.startsWith(s))
      case (false, true) => lit_(p.dropRight(1)).map(s => c.endsWith(s))
      case (false, false) => lit_(p).map(s => c.contains(s))
    }
  }

  /** Compile a rule to its boolean pass-predicate `Column`
    * (cdf: crates/cdf-contract/src/vector.rs:500-760 bind/eval — here
    * each arm is a stock Catalyst expression, codegen'd for free). */
  def compileRule(rule: RowRule): Column = rule match {
    case RowRule.Nullability(_, c) => col(c).isNotNull
    case RowRule.Domain(_, c, allowed) => col(c).isin(allowed: _*)
    case RowRule.Range(_, c, lo, hi) => col(c).between(lo, hi)
    case RowRule.Regex(_, c, p) =>
      literalTest(col(c), p).getOrElse(regexp_like(col(c), lit(p)))
    case RowRule.Freshness(_, c, maxAge, asOf) =>
      col(c).cast("timestamp") >= timestamp_seconds(lit((asOf - maxAge) / 1000.0))
    case RowRule.Custom(_, _, pred) => expr(pred)
  }

  def compile(policy: ContractPolicy): ValidationProgram =
    new ValidationProgram(policy, policy.rules.map(r => r -> compileRule(r)))

  /** Schema-aware compilation with a missing-column policy
    * (cdf: program.rs:146-200 `missing_column: Error|Skip`): rules over
    * columns absent from the observed schema either fail compilation
    * (Error — the contract cannot be evaluated honestly) or are
    * skipped with the skip recorded. */
  def compileFor(schema: org.apache.spark.sql.types.StructType, policy: ContractPolicy,
      missingColumns: String = "error"): Either[String, (ValidationProgram, Seq[String])] = {
    val present = schema.fieldNames.toSet
    val (ok, missing) = policy.rules.partition(r => present.contains(r.column))
    if (missing.nonEmpty && missingColumns == "error")
      Left(s"rules over missing columns: ${missing.map(r => s"${r.id}(${r.column})").mkString(", ")}")
    else
      Right((compile(policy.copy(rules = ok)), missing.map(_.id)))
  }
}
