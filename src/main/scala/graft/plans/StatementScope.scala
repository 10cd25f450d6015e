package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule

/** The relations one front-door statement computes for itself (a
  * `UNION BY NAME`, `(DESCRIBE …)`, statement PIVOT, RETURNING row
  * set, `duckdb_variables()`, or a CTE bound ahead of a DML or PIVOT
  * remainder), and the statement as typed. A pass
  * binds its frame here and splices the name into the text;
  * `StatementScopeRule` resolves the name for the rest of the
  * statement. Nothing enters the session's temp-view namespace, so a
  * statement never outlives itself there or replaces a user's view.
  *
  * The outermost `GraftSql.sql` call opens the scope and closes it once
  * its frame is analyzed; nested calls join it. The scope is the
  * current thread's, as a transaction's read pins are (sources/Txn),
  * so concurrent statements on one session see only their own names.
  */
final class StatementScope private (val text: String) {
  private val bound = mutable.Map.empty[String, LogicalPlan]
  private var issued = 0L

  /** Bind `df` under `name` (a CTE's own name) for the statement. */
  def bind(name: String, df: DataFrame): Unit =
    bound(name.toLowerCase) = df.queryExecution.commandExecuted

  /** Bind `df` under a fresh `prefix<n>` name; returns the name. */
  def fresh(prefix: String, df: DataFrame): String = {
    issued += 1
    val name = s"$prefix$issued"
    bind(name, df)
    name
  }

  /** True when `text` names a relation bound in this scope. */
  def mentions(text: String): Boolean = bound.keys.exists { name =>
    SqlText.findInCode(text, s"(?i)\\b${java.util.regex.Pattern.quote(name)}\\b".r).isDefined
  }

  private[plans] def lookup(name: String): Option[LogicalPlan] = bound.get(name.toLowerCase)
}

object StatementScope {
  private val open = new ThreadLocal[StatementScope]

  /** The current thread's open scope, if a front-door statement runs. */
  def current: Option[StatementScope] = Option(open.get)

  /** The scope of the running statement; a pass that binds a relation
    * runs only inside `GraftSql.sql`. */
  def get: StatementScope = current.getOrElse(throw new IllegalStateException(
    "no front-door statement is running on this thread (call GraftSql.sql)"))

  /** Run `body` in the open scope, or in a new one for `text` that
    * closes when `body` returns. */
  def run[T](text: String)(body: => T): T =
    if (open.get != null) body
    else {
      open.set(new StatementScope(text))
      try body finally open.remove()
    }
}

/** Resolves a name bound in the current statement scope to
  * `SubqueryAlias(name, plan)`. It runs in the analyzer's Hints batch,
  * after CTE substitution and before relation lookup: a SQL-level
  * `WITH c AS (…)` still wins over a bound `c`, and a bound name
  * shadows a table or view of that name for the statement. With no
  * open scope it returns after one thread-local lookup.
  */
object StatementScopeRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = StatementScope.current match {
    case None => plan
    case Some(scope) =>
      plan.resolveOperatorsUp {
        case u: UnresolvedRelation if u.multipartIdentifier.length == 1 =>
          val name = u.multipartIdentifier.head
          scope.lookup(name).map(SubqueryAlias(name, _)).getOrElse(u)
      }
  }
}
