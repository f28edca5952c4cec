package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
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

  /** Rows matching `d` left the table (retention, a series drop). */
  def deleted(d: Deletion): Unit = ()

  /** A merge replaced the `touched` (series, day) slices with the rows
    * of batch `tag`; the `emptied` ones lost every row. */
  def merged(tag: String, touched: Set[(String, String)],
      emptied: Set[(String, String)]): Unit = ()

  /** Compaction rewrote every batch under one fresh batch tag; `before`
    * holds the live tags it replaced (empty on a crash replay, which
    * cannot know them). */
  def compacted(before: Set[String]): Unit = ()
}

/** The ledger of an incremental side store, one text file
  * `<root>/REGISTRY`: a `tag\t<batch>` line per folded batch, one
  * `version\t<v>` line naming the table manifest version the store
  * covers, and (the search store only) its `seg\t…` lines. A store is
  * current iff its ledger's version equals the manifest version: tags
  * alone cannot tell, because a retention or a drop removes leaves while
  * their batch stays live. Read and written on the driver. */
private[engine] case class Ledger(tags: Set[String], version: Long,
    segs: Seq[String] = Nil)

private[engine] object Ledger {
  /** The ledger under `root`; None when there is none, or when it has no
    * version line (an older layout), so the store reads as not built. A
    * line of any other shape fails loudly. */
  def read(conf: Configuration, root: String): Option[Ledger] = {
    val fields = (try TextFile.lines(conf, s"$root/REGISTRY")
      catch { case _: java.io.FileNotFoundException => Nil })
      .map(l => l.split("\t", 2) match {
        case Array(k @ ("tag" | "seg"), v) => k -> v
        case Array("version", v) if v.toLongOption.isDefined => "version" -> v
        case _ => throw new java.io.IOException(
          s"unreadable ledger line in $root/REGISTRY: $l")
      })
    def all(k: String) = fields.collect { case (`k`, v) => v }
    all("version").lastOption.map(v =>
      Ledger(all("tag").toSet, v.toLong, all("seg")))
  }

  def write(conf: Configuration, root: String, l: Ledger): Unit =
    TextFile.commit(conf, s"$root/REGISTRY",
      (l.tags.toSeq.sorted.map("tag\t" + _) ++
        (s"version\t${l.version}" +: l.segs.map("seg\t" + _)))
        .mkString("\n"))

  /** The folded tags a refresh may build on, given the live tags: all of
    * them while every one is live; under a keep prune (a delete or merge
    * that removes the rows of the batches it emptied) the live ones, as
    * long as one is; otherwise None, because the ledger names batches a
    * layout rewrite replaced and the store rebuilds from an empty base. */
  def base(folded: Set[String], live: Set[String],
      pruning: Boolean): Option[Set[String]] =
    if (folded.subsetOf(live)) Some(folded)
    else if (pruning && (folded intersect live).nonEmpty)
      Some(folded intersect live)
    else None
}

/** The engine's small driver-side text files: store ledgers, the
  * maintenance and merge journals, and table manifest versions. */
private[engine] object TextFile {
  private def fs(conf: Configuration, path: String) =
    new Path(path).getFileSystem(conf)

  /** The file's non-empty lines; FileNotFoundException when absent. */
  def lines(conf: Configuration, path: String): List[String] = {
    val in = fs(conf, path).open(new Path(path))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Write `body` to a tmp sibling, then rename it over `path`: a reader
    * or a crash never sees half a file. */
  def commit(conf: Configuration, path: String, body: String): Unit = {
    val f = fs(conf, path)
    val tmp = new Path(path + ".tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    f.delete(new Path(path), false)
    if (!f.rename(tmp, new Path(path)))
      throw new java.io.IOException(s"cannot commit $path")
  }
}

/** Rows deleted from the table by a (series, day) predicate: `dead`
  * tests unescaped partition values, `keep` is its complement as a
  * column predicate over `series`/`day`, and `series` names the one
  * series a drop removed whole. A table delete also carries `op`, the
  * label its manifest version publishes under, and `journal`, the
  * maintenance-journal line its crash replay is read back from. */
private[engine] case class Deletion(dead: (String, String) => Boolean,
    keep: Column, series: Option[String] = None, op: String = "",
    journal: String = "")

private[engine] object Deletion {
  private val utf8 = java.nio.charset.StandardCharsets.UTF_8

  def drop(s: String): Deletion =
    Deletion((x, _) => x == s, col("series") =!= s, Some(s), s"drop:$s",
      "op\tdrop\t" + java.util.Base64.getEncoder.encodeToString(
        s.getBytes(utf8)))

  /** Every day before `day` (ISO dates: string order is date order). */
  def before(day: String): Deletion =
    Deletion((_, d) => d < day, col("day") >= to_date(lit(day)), None,
      s"retention:$day", s"op\tretention\t$day")

  /** The table delete a maintenance-journal line records, if any. */
  def journaled(line: String): Option[Deletion] =
    line.split("\t").toList match {
      case "op" :: "drop" :: b64 :: _ =>
        Some(drop(new String(java.util.Base64.getDecoder.decode(b64), utf8)))
      case "op" :: "retention" :: day :: _ => Some(before(day))
      case _ => None
    }

  def slices(set: Set[(String, String)]): Deletion = {
    val sep = 0.toChar.toString
    Deletion((s, d) => set((s, d)),
      !concat(col("series"), lit(sep), col("day").cast("string"))
        .isin(set.toSeq.map { case (s, d) => s + sep + d }: _*))
  }
}
