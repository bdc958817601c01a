package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator,
  GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst generator: match `pattern` (a constant, anchored
  * grammar) against a string ONCE and emit ONE row holding every
  * capture group, named by `names` — or NO row when the string doesn't
  * match (or is NULL).
  *
  * Why it exists: Spark has no multi-group extraction, so a
  * seven-field record parser written with builtins executes the same
  * compiled regex eight times per line (one `rlike` prefilter + one
  * `regexp_extract` per group — Catalyst does not share Matcher state
  * across distinct expressions). This collapses them into one
  * `matches()` call per line.
  *
  * Why a generator and not an expression with a NULL-on-no-match
  * result: the malformed-line drop must not be a `Filter`. Catalyst
  * pushes a filter below the projection that computes its input and
  * copies the aliased expression into it, so `select(groups) →
  * filter(groups IS NOT NULL) → select(element_at(groups, i)…)`
  * optimizes back into one match in the filter plus one per extracted
  * field. A `Generate` that emits zero or one row has no filter to
  * push: the match runs once and its groups are plain columns above.
  *
  * Semantics: `Matcher.matches()` (whole-string) — identical to an
  * anchored `^...$` pattern under rlike/regexp_extract `find()`. A
  * group that did not participate in the match yields NULL (hence
  * nullable columns). Evaluated interpreted (`CodegenFallback`); the
  * pattern is compiled once per deserialized expression.
  */
case class RegexpGroups(child: Expression, pattern: String, names: Seq[String])
  extends UnaryExpression with Generator with CodegenFallback {

  @transient private lazy val compiled: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(pattern)

  override def checkInputDataTypes(): TypeCheckResult = {
    val groups = compiled.matcher("").groupCount()
    child.dataType match {
      case StringType if groups == names.length => TypeCheckResult.TypeCheckSuccess
      case StringType => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: ${names.length} names for $groups groups in $pattern")
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string column, got $t")
    }
  }

  override def elementSchema: StructType =
    StructType(names.map(StructField(_, StringType, nullable = true)))

  override def prettyName: String = "regexp_groups"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input)
    if (s == null) return Nil
    val m = compiled.matcher(s.asInstanceOf[UTF8String].toString)
    if (!m.matches()) Nil
    else {
      val row = new GenericInternalRow(names.length)
      var i = 0
      while (i < names.length) {
        val g = m.group(i + 1)
        if (g != null) row.update(i, UTF8String.fromString(g))
        i += 1
      }
      Iterator.single(row)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): RegexpGroups =
    copy(child = newChild)
}
