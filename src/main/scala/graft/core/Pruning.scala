package graft.core

import scala.util.Try

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{array, coalesce, col, lit, not, size, filter => arrayFilter}
import org.apache.spark.sql.types._

import graft.format.FieldIds

/** Manifest-level file pruning via falsifiable filters (reference
  * `/root/reference/python/src/space/core/manifests/falsifiable_filters.py:39-308`,
  * after Edara & Pasumansky's BigQuery paper): negate the user predicate
  * into a condition on the per-file `_STATS_f<id>._MIN/_MAX` columns that
  * PROVES a file cannot contain matching rows; files where the condition
  * holds are skipped without opening them.
  *
  * The filters arrive resolved and optimized (a scan's data filters, see
  * [[ReadOp.prune]]), so type coercion (literal casts, attribute
  * widening) is Spark's own; each is converted:
  *
  *  - `f = v`  falsifiable ⇔ `min > v OR max < v`
  *  - `f < v`  falsifiable ⇔ `min >= v`      (`<=` ⇒ `min > v`)
  *  - `f > v`  falsifiable ⇔ `max <= v`      (`>=` ⇒ `max < v`)
  *  - `f IN (…)` ⇔ AND over the equalities
  *  - `NOT e`  — pushed down first (De Morgan + comparison negation)
  *  - `a AND b` falsifiable if EITHER side is; an unconvertible side
  *    contributes nothing (None-propagation, falsifiable_filters.py:149-165)
  *  - `a OR b` falsifiable only if BOTH sides are
  *
  * Any unsupported node degrades to "scan" — never to a wrong answer
  * (falsifiable_filters.py:64-75). Non-PK fields are not convertible
  * (stats exist for PKs only, :298-308).
  *
  * Runs on the driver inside scan planning, over the manifest rows —
  * Catalyst prunes row groups from footers, but only this layer can prune
  * whole files from our own file index (SURVEY.md §4.1).
  */
object Pruning {

  /** IN lists longer than this use the shallow higher-order-filter
    * falsifiable form instead of an AND-over-equalities tree. */
  private val InTreeMax = 32

  /** Column over the index-manifest schema that is true when the file may
    * contain matching rows (i.e. NOT provably falsifiable), for RESOLVED
    * Catalyst filters (the `dataFilters` Catalyst hands a FileIndex): a
    * file is skippable when ANY filter is provably falsifiable for it, so
    * the keep condition is `NOT (OR of falsifiable conditions)`. None
    * when no filter has a convertible part (⇒ scan everything). */
  def keepConditionForFilters(
      tableSchema: StructType,
      primaryKeys: Seq[String],
      filters: Seq[Expression]): Option[Column] =
    Try {
      filters.flatMap(f => falsifiable(tableSchema, primaryKeys, f)).reduceOption(_ || _)
    }.toOption.flatten.map(f => not(coalesce(f, lit(false))))

  private def falsifiable(schema: StructType, pks: Seq[String], root: Expression): Option[Column] = {

    def f(e: Expression): Option[Column] = e match {
      case And(l, r) =>
        (f(l), f(r)) match {
          case (Some(a), Some(b)) => Some(a || b)
          case (a, b) => a.orElse(b) // one convertible side suffices
        }
      case Or(l, r) =>
        for { a <- f(l); b <- f(r) } yield a && b
      case Not(child) => negate(child).flatMap(f)
      case cmp: BinaryComparison => leaf(cmp)
      case In(attr, values) if values.length > InTreeMax =>
        val vs = values.map(LiteralValue.unapply)
        inLarge(attr, vs)
      case In(attr, values) =>
        val eqs = values.map(v => leaf(EqualTo(attr, v)))
        if (eqs.exists(_.isEmpty)) None else Some(eqs.flatten.reduce(_ && _))
      case InSet(attr, values) if values.size > InTreeMax =>
        val dt = attr.dataType
        val vs = values.toSeq.map(v =>
          Try(CatalystTypeConverters.convertToScala(v, dt)).toOption)
        inLarge(attr, vs)
      case InSet(attr, values) =>
        // analyzer may compact IN lists; values are internal representations
        val dt = attr.dataType
        val eqs = values.toSeq.map(v => leaf(EqualTo(attr, Literal(v, dt))))
        if (eqs.exists(_.isEmpty)) None else Some(eqs.flatten.reduce(_ && _))
      case Literal(false, BooleanType) => Some(lit(true)) // statically false
      case IsNotNull(_) => None // stats carry no null info: contributes nothing
      case _ => None
    }

    // Large IN lists (a point-read `isin` can carry thousands of keys):
    // `IN ⇔ AND over equalities` builds a |values|-deep boolean tree that
    // analysis and evaluation both pay for per manifest row. Equivalent
    // shallow form: the file is falsifiable ⇔ NO value lies inside
    // [min, max] ⇔ the higher-order filter keeping in-range values over
    // the literal array is empty — one fixed-depth expression, O(|values|)
    // scan per file.
    def inLarge(attr: Expression, maybeVals: Seq[Option[Any]]): Option[Column] = {
      if (maybeVals.isEmpty || maybeVals.exists(v => v.isEmpty || v.get == null)) None
      else statsCol(attr).map { s =>
        // NULL min/max (stats unknown for this file/manifest) must mean
        // KEEP: the lambda then yields NULL per element, the filter
        // drops everything and size===0 would be a non-null TRUE —
        // wrongly proving falsifiability. The explicit isNotNull guards
        // collapse that case to false (the AND-of-leaves small-IN form
        // gets the same keep-on-null behavior from three-valued logic).
        size(arrayFilter(array(maybeVals.map(v => lit(v.get)): _*),
          v => s("_MIN") <= v && s("_MAX") >= v)) === 0 &&
          s("_MIN").isNotNull && s("_MAX").isNotNull
      }
    }

    // stats struct column for an attribute, when it is stats-eligible
    def statsCol(attr: Expression): Option[Column] =
      attrName(attr).flatMap { name =>
        if (!pks.contains(name)) None
        else ManifestIO.fieldAtPath(schema, name)
          .filter(f => ManifestIO.statsEligible(f.dataType))
          .map(f => col(ManifestIO.statsColName(FieldIds.fieldId(f))))
      }

    def leaf(cmp: BinaryComparison): Option[Column] = {
      val converted: Option[(String, Any, String)] = (cmp.left, cmp.right) match {
        case (a, LiteralValue(v)) => attrName(a).map(n => (n, v, op(cmp)))
        case (LiteralValue(v), a) => attrName(a).map(n => (n, v, swap(op(cmp))))
        case _ => None // field-vs-field / literal-vs-literal: give up here
      }
      converted.flatMap { case (name, value, o) =>
        val fld =
          if (value == null || !pks.contains(name)) None
          else ManifestIO.fieldAtPath(schema, name)
            .filter(f => ManifestIO.statsEligible(f.dataType))
        fld.flatMap { f =>
          val s = col(ManifestIO.statsColName(FieldIds.fieldId(f)))
          val v = lit(value)
          o match {
            case "=" => Some(s("_MIN") > v || s("_MAX") < v)
            case "<" => Some(s("_MIN") >= v)
            case "<=" => Some(s("_MIN") > v)
            case ">" => Some(s("_MAX") <= v)
            case ">=" => Some(s("_MAX") < v)
            case _ => None
          }
        }
      }
    }

    f(root)
  }

  /** Literal or foldable literal-only expression (e.g. the casts type
    * coercion inserts around literals) → external Scala value. */
  private object LiteralValue {
    def unapply(e: Expression): Option[Any] = e match {
      case Literal(v, dt) => Some(CatalystTypeConverters.convertToScala(v, dt))
      case c: Cast if c.foldable =>
        Try(CatalystTypeConverters.convertToScala(c.eval(null), c.dataType)).toOption
      case _ => None
    }
  }

  private def op(cmp: BinaryComparison): String = cmp match {
    case _: EqualTo => "="
    case _: LessThan => "<"
    case _: LessThanOrEqual => "<="
    case _: GreaterThan => ">"
    case _: GreaterThanOrEqual => ">="
    case _ => "?"
  }

  /** `v OP f` ≡ `f swap(OP) v` (operand swap, falsifiable_filters.py:257-289). */
  private def swap(o: String): String = o match {
    case "<" => ">"
    case "<=" => ">="
    case ">" => "<"
    case ">=" => "<="
    case other => other
  }

  /** Push NOT through one level (comparisons invert; De Morgan for bool
    * ops); None for nodes with no known negation (⇒ give up on this
    * subtree, falsifiable_filters.py:133-139). */
  private def negate(e: Expression): Option[Expression] = e match {
    case EqualTo(l, r) => Some(Or(LessThan(l, r), GreaterThan(l, r)))
    case LessThan(l, r) => Some(GreaterThanOrEqual(l, r))
    case LessThanOrEqual(l, r) => Some(GreaterThan(l, r))
    case GreaterThan(l, r) => Some(LessThanOrEqual(l, r))
    case GreaterThanOrEqual(l, r) => Some(LessThan(l, r))
    case And(l, r) => Some(Or(Not(l), Not(r)))
    case Or(l, r) => Some(And(Not(l), Not(r)))
    case Not(x) => Some(x)
    case _ => None
  }

  /** Attribute name, unwrapping numeric-widening casts the analyzer adds
    * (monotonic, so min/max comparisons stay sound). Struct-member
    * access yields the DOTTED physical path — stats fields may live
    * inside structs, and the manifest keys them the same way. */
  private def attrName(e: Expression): Option[String] = e match {
    case c: Cast if numericWidening(c) => attrName(c.child)
    case other => org.apache.spark.sql.graftshim.ColumnExpr.dottedPath(other)
  }

  private def numericWidening(c: Cast): Boolean = (c.child.dataType, c.dataType) match {
    case (_: IntegerType, _: LongType) => true
    case (_: IntegerType, _: DoubleType) => true
    case (_: LongType, _: DoubleType) => true
    case (_: FloatType, _: DoubleType) => true
    case _ => false
  }
}
