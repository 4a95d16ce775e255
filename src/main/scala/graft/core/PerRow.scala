package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{array, col, inline}

/** The once-per-row seam: every per-row function that is not a built-in
  * or a custom Expression (a Scala UDF over a broadcast model, a decoder)
  * reaches a DataFrame through [[append]].
  *
  * A deterministic projected UDF is not evaluated once per row: Catalyst
  * substitutes it into a Filter pushed below its Project, and into the
  * `isnotnull` a join infers on a key derived from it, so it runs again
  * for every row that survives. A generator's output is not substituted
  * anywhere, so a one-row `inline(array(fields))` Generate evaluates
  * `fields` exactly once per input row, and Catalyst still prunes the
  * input columns nothing above reads. Operators that carry state across
  * rows (packing, ranking, sharded writes) stay `mapPartitions`.
  */
object PerRow {

  /** `df` plus the fields of the struct `fields`, named `names`; a name
    * already in `df` (case-insensitively) is replaced in place, as
    * `withColumn` does. Generate codegen has no common-subexpression
    * elimination: reference an expensive expression once in `fields`. */
  def append(df: DataFrame, names: Seq[String], fields: Column): DataFrame = {
    val cols = df.columns.toSeq
    def in(ns: Seq[String])(c: String) = ns.exists(_.equalsIgnoreCase(c))
    val order = cols.map(c => names.find(_.equalsIgnoreCase(c)).getOrElse(c)) ++
      names.filterNot(in(cols))
    df.select(cols.filterNot(in(names)).map(quoted) :+ inline(array(fields)).as(names): _*)
      .select(order.map(quoted): _*)
  }

  /** A prefix no column of `df` starts with (case-insensitively), for
    * naming the helper columns an operator stages and drops again. */
  def freshPrefix(df: DataFrame, base: String): String = {
    val lower = df.columns.map(_.toLowerCase)
    Iterator.iterate(base.toLowerCase)(_ + "_").dropWhile(p => lower.exists(_.startsWith(p))).next()
  }

  private def quoted(name: String): Column = col(s"`${name.replace("`", "``")}`")
}
