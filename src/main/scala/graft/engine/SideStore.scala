package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A store derived from the canonical measurements table and kept beside
  * it: the sketch / histogram / stats rollups, the similarity, search and
  * tag indexes, and the continuous-query targets. [[Engine]] lists every
  * store once and fans each table mutation out over that list, so a store
  * states here how it follows a mutation instead of being wired by hand
  * into each one. The three events default to "nothing to do". */
private[engine] trait SideStore {
  /** Directory name under the warehouse. */
  def name: String

  /** The directory a staged swap replaces: `.old` recovery restores it
    * and [[Engine!.vacuum]] sweeps its orphaned `.staging`/`.old`. */
  def root: String

  /** Reserved names this store answers on the SQL surface. */
  def sqlTables: Seq[(String, () => DataFrame)]

  /** The store's readout — a typed empty frame when never built. */
  def table(): DataFrame

  def exists: Boolean

  /** Freshness marker: the engine's write version the last build or
    * refresh covered (0 = none in this JVM). */
  @volatile var builtAt = 0L

  /** Rows matching `d` left the table (retention, a series drop). */
  def deleted(d: Deletion): Unit = ()

  /** A merge replaced the `touched` (series, day) slices with the rows
    * of batch `tag`; the `emptied` ones lost every row. */
  def merged(tag: String, touched: Set[(String, String)],
      emptied: Set[(String, String)]): Unit = ()

  /** Compaction rewrote every batch under one fresh batch tag. */
  def compacted(): Unit = ()
}

/** Rows deleted from the table by a (series, day) predicate: `dead`
  * tests unescaped partition values, `keep` is its complement as a
  * column predicate over `series`/`day`, and `series` names the one
  * series a drop removed whole. */
private[engine] case class Deletion(dead: (String, String) => Boolean,
    keep: Column, series: Option[String] = None)

private[engine] object Deletion {
  def drop(s: String): Deletion =
    Deletion((x, _) => x == s, col("series") =!= s, Some(s))

  /** Every day before `day` (ISO dates: string order is date order). */
  def before(day: String): Deletion =
    Deletion((_, d) => d < day, col("day") >= to_date(lit(day)))

  def slices(set: Set[(String, String)]): Deletion = {
    val sep = 0.toChar.toString
    Deletion((s, d) => set((s, d)),
      !concat(col("series"), lit(sep), col("day").cast("string"))
        .isin(set.toSeq.map { case (s, d) => s + sep + d }: _*))
  }
}
