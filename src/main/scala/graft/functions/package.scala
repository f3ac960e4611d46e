package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, get, lit, transform}

package object functions {

  /** Bind `x` once and hand it to `f` as a lambda variable:
    * `let(x)(v => …)` evaluates `x` once per row, however often `f`
    * references `v`.
    *
    * Use it whenever a higher-order function's lambda (`transform`,
    * `aggregate`, `zip_with`, `filter`, …) would otherwise capture an
    * O(row) expression such as a token array or a normalized string.
    * Higher-order functions disable Catalyst's subexpression elimination,
    * so a captured expression is re-evaluated at every lambda call: an
    * O(n) split referenced once per n-gram makes the row O(n²). A lambda
    * variable is evaluated before the lambda runs, so the row stays O(n)
    * and needs no staging projection (`withColumn`) in front of it.
    * LambdaCaptureSpec rejects builders that capture such expressions. */
  private[graft] def let(x: Column)(f: Column => Column): Column =
    get(transform(array(x), f), lit(0))
}
