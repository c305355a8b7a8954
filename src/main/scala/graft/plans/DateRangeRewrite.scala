package graft.plans

import java.time.{LocalDate, ZoneId}

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DateType, IntegerType, TimestampType}

/** Optimizer rule: turn calendar-function equality predicates into
  * sargable ranges on the underlying column.
  *
  *   year(ts) = 1996                     → ts ∈ [1996-01-01, 1997-01-01)
  *   year(ts) * 100 + month(ts) = 199604 → ts ∈ [1996-04-01, 1996-05-01)
  *
  * Why: `year(col) = c` wraps the column in a function, so the parquet
  * reader cannot use row-group min/max statistics and every row group is
  * scanned (SURVEY.md §4). The range form pushes to the scan
  * (`PushedFilters: GreaterThanOrEqual/LessThan`), pruning at 100 TB the
  * ~6/7ths of the data outside the predicate year. Semantics are
  * identical, including nulls (both forms are null-rejecting) and
  * timezone (bounds are built in the session zone the original cast
  * would have used).
  *
  * Registered via [[graft.GraftExtensions]]
  * (`spark.sql.extensions=graft.GraftExtensions`).
  */
object DateRangeRewrite extends Rule[LogicalPlan] {

  /** Underlying sargable column of a `year(...)`/`month(...)` argument:
    * either a date expression, or a timestamp one behind the implicit
    * analyzer cast (whose zone decides the calendar). */
  private object CalendarChild {
    def unapply(e: Expression): Option[(Expression, Option[String])] = e match {
      case Cast(c, DateType, tz, _) if c.dataType == TimestampType =>
        Some((c, tz))
      case d if d.dataType == DateType => Some((d, None))
      case _ => None
    }
  }

  private def intLit(e: Expression): Option[Int] = e match {
    case Literal(v: Int, IntegerType) => Some(v)
    case _ => None
  }

  /** [from, until) range predicate on the raw column for [y0m0, y1m1). */
  private def monthRange(col: Expression, tz: Option[String],
      y0: Int, m0: Int, y1: Int, m1: Int): Expression = {
    val (lo, hi) =
      if (col.dataType == TimestampType) {
        val zone = ZoneId.of(tz.getOrElse(conf.sessionLocalTimeZone))
        def us(y: Int, m: Int): Long = {
          val i = LocalDate.of(y, m, 1).atStartOfDay(zone).toInstant
          Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
        }
        (Literal(us(y0, m0), TimestampType), Literal(us(y1, m1), TimestampType))
      } else {
        (Literal(LocalDate.of(y0, m0, 1).toEpochDay.toInt, DateType),
          Literal(LocalDate.of(y1, m1, 1).toEpochDay.toInt, DateType))
      }
    And(GreaterThanOrEqual(col, lo), LessThan(col, hi))
  }

  /** Years where the rewrite's LocalDate/epoch-micros math (incl. the
    * y+1 upper bound) cannot throw; literals outside fall back to the
    * original predicate — a query for year(ts) = 2147483647 must return
    * its zero rows, not fail during optimization. */
  private def safeYear(y: Int): Boolean = y >= 1 && y <= 9998

  private def rewrite(cond: Expression): Expression = cond.transformUp {
    // year(c) = y  /  y = year(c)
    case eq @ EqualTo(Year(CalendarChild(c, tz)), l) if c.deterministic =>
      intLit(l).filter(safeYear).map(y => monthRange(c, tz, y, 1, y + 1, 1)).getOrElse(eq)
    case eq @ EqualTo(l, Year(CalendarChild(c, tz))) if c.deterministic =>
      intLit(l).filter(safeYear).map(y => monthRange(c, tz, y, 1, y + 1, 1)).getOrElse(eq)
    // year(c) * 100 + month(c) = yyyymm (same underlying column)
    case eq @ EqualTo(
        Add(Multiply(Year(CalendarChild(c1, tz)), h, _), Month(CalendarChild(c2, _)), _), l)
        if c1.deterministic && c1.semanticEquals(c2) && intLit(h).contains(100) =>
      intLit(l) match {
        case Some(v) if v % 100 >= 1 && v % 100 <= 12 && safeYear(v / 100) =>
          val (y, m) = (v / 100, v % 100)
          val (y1, m1) = if (m == 12) (y + 1, 1) else (y, m + 1)
          monthRange(c1, tz, y, m, y1, m1)
        case _ => eq
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
      f.copy(condition = rewrite(f.condition))
  }
}
