package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The versioned directory layout shared by [[graft.oracle.EventStore]]
  * (one per table), [[graft.llm.VectorIndex]] and
  * [[graft.llm.BqSidecar]] — the zero-byte analog of a Delta/Iceberg
  * metadata commit:
  *
  *  - `root/vNNNNNNNN/` — one immutable version, written in full before
  *    it is committed;
  *  - `root/_commit_vNNNNNNNN` — its commit marker. The marker's NAME
  *    carries the version (its content is never read), so resolving the
  *    live version is one atomic directory listing: the HIGHEST marker
  *    wins. No pointer file is ever rewritten, so there is no
  *    partially-written pointer to race against on any FileSystem.
  *
  * Crash contract of [[writeNext]] (delete debris at the next name →
  * write the version → create its marker → reap):
  *  - a crash before the marker leaves an UNCOMMITTED dir: invisible to
  *    readers, deleted by the next [[writeNext]] that claims its name
  *    (so a torn write never blocks the next one) or by [[repair]];
  *  - retention reaps versions beyond `keep` MARKER FIRST, so a crash
  *    mid-reap leaves an uncommitted dir, never a dangling marker;
  *  - a DANGLING marker (marker, no dir) arises only from outside damage.
  *    It is the read-breaking class — resolution lands on the highest
  *    marker — and [[repair]] deletes it, after which reads resolve to
  *    the previous committed version.
  *
  * Retired versions stay readable for `keep` swaps (in-flight scans, a
  * VACUUM horizon). Owners serialize writers and [[repair]] through their
  * own [[WriterLock]]; this class takes no lock.
  */
final class VersionedDir(spark: SparkSession, root: String) {
  import VersionedDir._

  private val dir = new Path(root)

  private def fs: FileSystem = GenLedger.fsOf(spark, root)

  private def names: Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).toSeq

  private def markersIn(ns: Seq[String]): Seq[String] =
    ns.filter(_.startsWith(CommitPrefix)).map(_.stripPrefix(CommitPrefix)).sorted

  /** `root/<version>` as a path string. */
  def pathOf(version: String): String = s"$root/$version"

  /** Does the version's directory exist? */
  def holds(version: String): Boolean = fs.exists(new Path(dir, version))

  /** The live version: the highest committed marker (one `exists` plus
    * one `listStatus`). A dir holding bare `.parquet` files but no
    * marker is a pre-versioning flat layout — reading it as "empty"
    * would silently vanish the data (and restart id sequences on top of
    * it), so it is refused loudly instead. */
  def current: Option[String] = {
    val ns = names
    val cur = markersIn(ns).lastOption
    if (cur.isEmpty && ns.exists(_.endsWith(".parquet")))
      sys.error(s"$root uses the legacy flat layout; migrate by moving its " +
        s"files into a '${name(1)}' subdir and creating an empty " +
        s"'$CommitPrefix${name(1)}' marker")
    cur
  }

  /** Committed versions, oldest → newest. */
  def versions: Seq[String] = markersIn(names)

  /** Write and commit the next version: delete whatever an earlier crash
    * left at the next name, `write` the version dir (given its path),
    * create the marker, then reap committed versions beyond `keep`,
    * marker first. Returns the committed version's name. */
  def writeNext(keep: Int)(write: String => Unit): String = {
    val next = name(current.map(_.drop(1).toInt).getOrElse(0) + 1)
    fs.delete(new Path(dir, next), true)
    write(pathOf(next))
    fs.create(new Path(dir, CommitPrefix + next), true).close()
    versions.dropRight(keep).foreach { v =>
      fs.delete(new Path(dir, CommitPrefix + v), false)
      fs.delete(new Path(dir, v), true)
    }
    next
  }

  /** Read-only structural audit from one listing (never throws on a
    * damaged or legacy dir). */
  def structure: Structure = {
    val ns = names
    val dirs = ns.filter(_.matches("v\\d{8}")).toSet
    val marks = markersIn(ns)
    Structure(marks.lastOption, marks.size,
      (dirs -- marks).toSeq.sorted, marks.filterNot(dirs))
  }

  /** Guarded repair of the two structural damage classes [[structure]]
    * reports: a DANGLING marker is deleted (its data never survived; reads
    * then resolve to the previous committed version) and an UNCOMMITTED
    * dir is deleted (inert scratch of a write that died pre-commit). The
    * caller holds the owner's WriterLock; with `dryRun` every action is
    * listed and nothing is touched. Returns (item, damage, action,
    * applied) rows. */
  def repair(dryRun: Boolean): Seq[(String, String, String, Boolean)] = {
    val s = structure
    def act(v: String, damage: String, p: Path, recursive: Boolean) =
      (v, damage, s"delete $p", !dryRun && fs.delete(p, recursive))
    s.dangling.map(v =>
      act(v, "dangling_marker", new Path(dir, CommitPrefix + v), false)) ++
      s.uncommitted.map(v => act(v, "uncommitted_dir", new Path(dir, v), true))
  }
}

object VersionedDir {

  val CommitPrefix = "_commit_"

  /** The version directory name: `v` + the number zero-padded to 8. */
  def name(n: Int): String = f"v$n%08d"

  /** @param live        highest committed marker (None when there is none)
    * @param committed   number of commit markers
    * @param uncommitted version dirs with no marker, ascending
    * @param dangling    markers with no version dir, ascending */
  final case class Structure(live: Option[String], committed: Int,
      uncommitted: Seq[String], dangling: Seq[String])
}
