package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** A store derived from the canonical measurements table and kept beside
  * it: the sketch / histogram / stats rollups, the similarity, search and
  * tag indexes, and the continuous-query targets. [[Engine]] lists every
  * store once. A store follows the table through one step, [[catchUp]]:
  * an explicit refresh, a maintenance round, every table mutation and
  * every crash replay bring a store to a pinned manifest version the same
  * way, so no store depends on which mutation ran, or in what order. */
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

  /** Bring the store to the table as of `at` (building it if it is not
    * built). Takes no lock: the caller holds the frame. */
  def catchUp(at: Pinned): Unit
}

/** The table version a store folds from: manifest version `version` and
  * its live leaf dirs (`ingest_batch=…/series=…/day=…`, relative, escaped
  * as on disk). */
private[engine] case class Pinned(version: Long, leaves: Seq[String])

/** The ledger of an incremental side store, one text file
  * `<root>/REGISTRY`: a `leaf\t<path>` line per table leaf dir the store
  * has folded, one `version\t<v>` line naming the manifest version those
  * leaves are, and (the search store only) its `seg\t…` lines. The ledger
  * keeps its own leaf set rather than naming a manifest version to look
  * it up in, so a store that falls any number of versions behind still
  * catches up by a leaf diff. A store is current iff its ledger's version
  * equals the manifest version. Read and written on the driver. */
private[engine] case class Ledger(leaves: Set[String], version: Long,
    segs: Seq[String] = Nil)

private[engine] object Ledger {
  /** The ledger under `root`; None when there is none, or when it has an
    * older layout (no version line, or `tag` lines naming batches rather
    * than leaves), so the store reads as not built. A line of any other
    * shape fails loudly. */
  def read(conf: Configuration, root: String): Option[Ledger] = {
    val fields = (try TextFile.lines(conf, s"$root/REGISTRY")
      catch { case _: java.io.FileNotFoundException => Nil })
      .map(l => l.split("\t", 2) match {
        case Array(k @ ("leaf" | "seg" | "tag"), v) => k -> v
        case Array("version", v) if v.toLongOption.isDefined => "version" -> v
        case _ => throw new java.io.IOException(
          s"unreadable ledger line in $root/REGISTRY: $l")
      })
    def all(k: String) = fields.collect { case (`k`, v) => v }
    if (all("tag").nonEmpty) None
    else all("version").lastOption.map(v =>
      Ledger(all("leaf").toSet, v.toLong, all("seg")))
  }

  def write(conf: Configuration, root: String, l: Ledger): Unit =
    TextFile.commit(conf, s"$root/REGISTRY",
      (l.leaves.toSeq.sorted.map("leaf\t" + _) ++
        (s"version\t${l.version}" +: l.segs.map("seg\t" + _)))
        .mkString("\n"))
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
  * tests unescaped partition values, `op` is the label its manifest
  * version publishes under, and `journal` the maintenance-journal line
  * its crash replay is read back from. */
private[engine] case class Deletion(dead: (String, String) => Boolean,
    op: String, journal: String)

private[engine] object Deletion {
  private val utf8 = java.nio.charset.StandardCharsets.UTF_8

  def drop(s: String): Deletion =
    Deletion((x, _) => x == s, s"drop:$s",
      "op\tdrop\t" + java.util.Base64.getEncoder.encodeToString(
        s.getBytes(utf8)))

  /** Every day before `day` (ISO dates: string order is date order). */
  def before(day: String): Deletion =
    Deletion((_, d) => d < day, s"retention:$day", s"op\tretention\t$day")

  /** The table delete a maintenance-journal line records, if any. */
  def journaled(line: String): Option[Deletion] =
    line.split("\t").toList match {
      case "op" :: "drop" :: b64 :: _ =>
        Some(drop(new String(java.util.Base64.getDecoder.decode(b64), utf8)))
      case "op" :: "retention" :: day :: _ => Some(before(day))
      case _ => None
    }
}
