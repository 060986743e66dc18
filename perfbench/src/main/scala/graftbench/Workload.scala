package graftbench

import org.apache.spark.sql.SparkSession

/** What a workload's set-up hands to its passes. */
final case class Ctx(spark: SparkSession, work: String, seed: Long, gen: Gen,
                     clock: JobClock) {
  def path(rel: String): String = s"$work/$rel"
}

/** One pass of a workload: its wall time, its Spark job durations (ms),
  * the operations it attempted and failed, and a digest of its outputs. */
final case class PassOut(wallS: Double, jobsMs: Seq[Double], attempted: Long,
                         failed: Long, digest: String, storeBytes: Long)

final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  def name: String
  /** Generate the seeded inputs under `ctx.work`. */
  def setup(ctx: Ctx): Unit
  /** After `setup`: build what the passes read and change. */
  def prepare(ctx: Ctx): Unit = ()
  /** Passes the inputs support, warm-up included. */
  def maxPasses: Int = Int.MaxValue
  /** One pass; `i` numbers passes within the run, 0 is the warm-up. */
  def pass(ctx: Ctx, driver: Plan.Driver, i: Int): PassOut
  /** Output checks against an independent computation, after the
    * passes (a workload keeps what they need from the warm-up pass). */
  def check(ctx: Ctx): Seq[Check]
  /** The generated input tables (their bytes are the base of
    * `store.write_amp`). */
  def inputs(ctx: Ctx): Seq[String]
  /** Directories whose files make up the workload's stores/outputs. */
  def storeDirs(ctx: Ctx, i: Int): Seq[String]
  /** Facts for the python-side oracle (paths etc.). */
  def facts(ctx: Ctx): Map[String, Any] = Map.empty
}

object Fs {
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
  }

  def copy(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    delete(to)
    java.nio.file.Files.createDirectories(dst.getParent)
    val s = java.nio.file.Files.walk(src)
    try s.forEach(x => java.nio.file.Files.copy(x, dst.resolve(src.relativize(x).toString)))
    finally s.close()
  }

  /** (files, bytes) under `path`, Spark's checksum side files included. */
  def usage(path: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return (0L, 0L)
    val s = java.nio.file.Files.walk(p)
    try {
      var files = 0L; var bytes = 0L
      s.filter(x => java.nio.file.Files.isRegularFile(x)).forEach { x =>
        files += 1; bytes += java.nio.file.Files.size(x) }
      (files, bytes)
    } finally s.close()
  }

  /** Committed generation and event directories (`gen-NNNN`,
    * `delta-NNNN`) under `path`. */
  def generations(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return 0L
    val s = java.nio.file.Files.walk(p)
    try s.filter(x => java.nio.file.Files.isDirectory(x) &&
        x.getFileName.toString.matches("(gen|delta)-\\d+")).count()
    finally s.close()
  }
}
