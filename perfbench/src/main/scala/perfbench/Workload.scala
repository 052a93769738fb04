package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its seed, the input scale and
  * a scratch directory inside the benchmark's output directory. */
final case class Ctx(spark: SparkSession, seed: Long, tiny: Boolean,
    nproc: Int, work: Path) {
  def size(full: Int, small: Int): Int = if (tiny) small else full
}

/** One closed-loop workload with one client: the runner calls [[pass]]
  * back to back, timing each call, and calls [[check]] between passes
  * (outside the timed window). */
trait Workload {
  def name: String
  /** Items one pass processes (games, or documents). */
  def itemsPerPass: Long
  /** Client operations one pass issues; failed ones come from [[check]]. */
  def opsPerPass: Int
  /** Untimed passes before the timed ones. The first pays JIT and codegen
    * compilation. The JIT never quite settles (it compiles about one
    * core's worth through every later pass), so more warm-up passes buy
    * little steadiness for their cost. */
  def warmups: Int = 3
  /** Input sizes, recorded next to the results. */
  def sizes: Seq[(String, Long)]
  /** Generate the inputs under `dir` and seed any table the passes use.
    * Run several times by the runner; the last call's inputs are used. */
  def prepare(dir: Path): Unit
  /** One iteration of the loop. */
  def pass(t: Tracer): Unit
  /** Verify the last pass's outputs; returns the number of failed ops
    * and a description of each failure. */
  def check(): (Int, Seq[String])
  /** Spans a traced pass opens, in pipeline order (layer names). */
  def spanNames: Seq[String]
  /** Layer metrics of one traced pass, keyed without the workload
    * prefix; `root` is the pass span. */
  def layerMetrics(t: Tracer, root: Span): Map[String, Double]
  /** Workload-specific end-to-end figures of the untraced passes, for
    * the report (name without the workload prefix, value, unit). */
  def report(): Seq[(String, Double, String)] = Nil
}

object Fs {
  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Copies the directory tree `from` to `to`, which must not exist. */
  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(f => Files.copy(f, to.resolve(from.relativize(f))))
    finally s.close()
  }

  /** Bytes of the data files under `p` (checksum files excluded). */
  def dataBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
