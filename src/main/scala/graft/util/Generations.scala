package graft.util

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The generation/commit protocol every persisted store shares. A store
  * directory holds numbered children `prefix-NNNN` (`gen-` roots,
  * `delta-` events under a root). A child is VISIBLE only once its
  * `marker` file exists, and the writer creates the marker last, after
  * every data file: a reader resolves either the complete new child or
  * the previous one, never a half-written mix, and an interrupted
  * writer leaves an invisible straggler that the retry numbers past.
  *
  * Numbers are parsed, never compared as text: past the %04d padding
  * `gen-10000` outranks `gen-9999`. A suffix that is not all digits
  * marks a foreign directory — it is never resolved, numbered past or
  * vacuumed.
  *
  * Each store keeps its own `marker` and `first` number (the IVF flat
  * build counts as generation 0, so its first child is `gen-0001`), so
  * stores written earlier read unchanged. Single-writer contract: one
  * maintainer per store directory; readers are lock-free. All calls go
  * through the Hadoop FileSystem API, so HDFS/S3 stores behave like
  * local ones. */
private[graft] final case class Generations(marker: String, first: Int) {
  import Generations._

  /** Path of the child to write next: the number after EVERY numbered
    * child, committed or not, else `first`. A crashed writer's
    * straggler is never reused, so its late writes cannot land inside
    * the retry's directory. */
  def next(spark: SparkSession, dir: String, prefix: String = "gen-")
      : String = {
    val n = numbered(fsOf(spark, dir), dir, prefix).lastOption
      .fold(first)(c => math.max(first, c._1 + 1))
    f"$dir/$prefix$n%04d"
  }

  /** Make `child` visible. Call only after every data file of `child`
    * is written. */
  def commit(spark: SparkSession, child: String): Unit = {
    val m = new Path(child, marker)
    fsOf(spark, child).create(m, true).close()
  }

  /** Every committed child of `dir`, ascending by number. */
  def committed(spark: SparkSession, dir: String, prefix: String)
      : Seq[String] = {
    val fs = fsOf(spark, dir)
    numbered(fs, dir, prefix).map(_._2.getPath)
      .filter(isCommitted(fs, _)).map(_.toString)
  }

  /** The latest committed child of `dir` — the serving one — or None.
    * Markers are probed newest-first, so this costs one listing plus
    * one probe per child at or above the serving one. */
  def resolve(spark: SparkSession, dir: String, prefix: String = "gen-")
      : Option[String] = {
    val fs = fsOf(spark, dir)
    numbered(fs, dir, prefix).reverseIterator.map(_._2.getPath)
      .find(isCommitted(fs, _)).map(_.toString)
  }

  /** Reclaim what no reader can reach under `dir`, never touching the
    * `serving` child. Returns the deleted paths.
    *  - Retired: committed `prefixes` children other than `serving`,
    *    plus the `legacy` flat-layout entries, once `serving`'s commit
    *    is older than `soakMs` — a reader that resolved the pre-swap
    *    state has long finished its scans. With `serving = None` every
    *    committed child is live (the events of a serving generation)
    *    and nothing retires.
    *  - Stragglers: uncommitted children, once the newest modification
    *    time of the child and its direct entries is older than
    *    `graceMs` — a younger one may be a writer mid-build.
    * A zero window reclaims at once. After a vacuum, rollback means
    * rebuilding, not deleting the newest marker. */
  def vacuum(spark: SparkSession, dir: String, serving: Option[String],
             soakMs: Long, graceMs: Long,
             prefixes: Seq[String] = Seq("gen-"),
             legacy: Set[String] = Set.empty): Seq[String] = {
    val fs = fsOf(spark, dir)
    val now = System.currentTimeMillis()
    def older(t: => Long, window: Long) = window == 0L || now - t > window
    val servingName = serving.map(new Path(_).getName)
    lazy val soaked = serving.exists(s => older(
      fs.getFileStatus(new Path(s, marker)).getModificationTime, soakMs))
    def agedOut(st: FileStatus) = older((st.getModificationTime +:
      fs.listStatus(st.getPath).map(_.getModificationTime).toSeq).max,
      graceMs)
    listed(fs, dir).filter { st =>
      val name = st.getPath.getName
      if (servingName.contains(name)) false
      else if (st.isDirectory &&
          prefixes.exists(suffix(name, _).nonEmpty)) {
        if (isCommitted(fs, st.getPath)) soaked else agedOut(st)
      } else legacy.contains(name) && soaked
    }.map { st => fs.delete(st.getPath, true); st.getPath.toString }.toSeq
  }

  private def isCommitted(fs: FileSystem, child: Path): Boolean =
    fs.exists(new Path(child, marker))
}

private[graft] object Generations {
  def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Every numbered child directory of `dir`, committed or not,
    * ascending by number — what a scrub that must reach rollback
    * targets and stragglers alike iterates over. */
  def children(spark: SparkSession, dir: String, prefix: String)
      : Seq[String] =
    numbered(fsOf(spark, dir), dir, prefix).map(_._2.getPath.toString)

  private def listed(fs: FileSystem, dir: String): Seq[FileStatus] =
    try fs.listStatus(new Path(dir)).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  private def suffix(name: String, prefix: String): Option[Int] =
    if (!name.startsWith(prefix)) None
    else {
      val s = name.substring(prefix.length)
      if (s.nonEmpty && s.forall(c => c >= '0' && c <= '9'))
        scala.util.Try(s.toInt).toOption
      else None
    }

  private def numbered(fs: FileSystem, dir: String, prefix: String)
      : Seq[(Int, FileStatus)] =
    listed(fs, dir).filter(_.isDirectory)
      .flatMap(st => suffix(st.getPath.getName, prefix).map(_ -> st))
      .sortBy(_._1)
}
