package graft.sources

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The one copy of the crash-safe parquet-directory swap protocol:
  * write tmp → move live to .bak → move tmp to live → drop .bak.
  * A crash at ANY point leaves the old or the new table reachable,
  * because every [[read]] and [[exists]] first rolls a half-finished
  * swap forward (a missing live dir with a .bak present means the
  * crash hit between the two moves).
  *
  * Every parquet-state merge reads through [[read]] and writes through
  * [[commit]]: [[graft.streaming.MicroBatchIngest.mergeParquet]] (the
  * keyed merge, and with it [[graft.streaming.StreamMerge]] and the
  * `StreamAdmission` shingles/docs tables),
  * [[graft.streaming.MergeableStream]] (rollup, quantile and media
  * admission state, with its batch-id marker),
  * [[graft.streaming.Scd2Stream]] (SCD-2 history) and
  * [[graft.streaming.StreamAdmission]] (the shdf table). Keeping the
  * dance in one place is what keeps their recovery semantics from
  * drifting apart.
  *
  * All checks and moves route through the Hadoop `FileSystem` API
  * resolved from the table path's own scheme (active session Hadoop
  * conf), so the protocol works uniformly on `file:`, scheme-less
  * local, `hdfs://`, or any mounted store — state tables are not pinned
  * to one machine's local disk. Atomicity contract: the protocol is
  * RENAME-based, so the crash-safety guarantee holds wherever directory
  * rename is atomic (local FS, HDFS, ABFS). On rename-as-copy object
  * stores (raw S3A) a swap is not atomic — there, point `tablePath` at
  * an HDFS/consistent tier or use a committing table format; the swap
  * still converges but a concurrent reader could observe the gap
  * between the two moves. */
object TableSwap {

  /** Filesystem for the path's scheme, under the active session's
    * Hadoop conf (so fs.* tuning and credentials apply); a bare
    * `new Configuration()` fallback covers pre-session utility calls
    * — local and `file:` paths resolve identically either way. */
  private def fsFor(p: String): (FileSystem, HPath) = {
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
    val hp = new HPath(p)
    (hp.getFileSystem(conf), hp)
  }

  /** Roll a half-completed previous swap forward: if the live dir is
    * missing but its backup exists, restore the backup. Idempotent. */
  private def recover(tablePath: String): Unit = {
    val (fs, target) = fsFor(tablePath)
    val backup = new HPath(tablePath + ".bak")
    if (!fs.exists(target) && fs.exists(backup))
      require(fs.rename(backup, target),
        s"TableSwap: recovery rename $backup -> $target failed")
  }

  /** True iff the table exists on its filesystem, after rolling a
    * half-finished swap forward. */
  def exists(tablePath: String): Boolean = {
    recover(tablePath)
    val (fs, p) = fsFor(tablePath)
    fs.exists(p)
  }

  /** The table (None when absent), after rolling a half-finished swap
    * forward. */
  def read(spark: SparkSession, tablePath: String): Option[DataFrame] =
    if (exists(tablePath)) Some(spark.read.parquet(tablePath)) else None

  /** Replace the table at `tablePath` with `df`, atomically w.r.t.
    * crash recovery (see object doc). A `marker` (file name, content)
    * is written into the new table before the swap, so marker and data
    * move together. Returns the row count, observed on the write
    * itself (no re-read). */
  def commit(df: DataFrame, tablePath: String,
      marker: Option[(String, String)] = None): Long = {
    recover(tablePath)   // the swap drops a stale .bak: never the only copy
    val tmp = tablePath + ".tmp"
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(tmp)
    marker.foreach { case (name, content) => writeMarker(tmp, name, content) }
    promoteTmp(tablePath)
    rows.get("n").asInstanceOf[Long]
  }

  /** Swap the written `<tablePath>.tmp` into place. Every rename has a
    * vacated destination (backup deleted / live moved away first), so
    * FS implementations that nest-on-existing-dir can never mis-place a
    * table. */
  private def promoteTmp(tablePath: String): Unit = {
    val (fs, target) = fsFor(tablePath)
    val backup = new HPath(tablePath + ".bak")
    if (fs.exists(backup))                      // stale from last swap
      fs.delete(backup, true)
    if (fs.exists(target))
      require(fs.rename(target, backup),
        s"TableSwap: rename $target -> $backup failed")
    require(fs.rename(new HPath(tablePath + ".tmp"), target),
      s"TableSwap: rename ${tablePath}.tmp -> $target failed")
    if (fs.exists(backup)) fs.delete(backup, true)
  }

  /** Read a small marker file under the table dir (None = absent). */
  def readMarker(tablePath: String, name: String): Option[String] = {
    val (fs, _) = fsFor(tablePath)
    val m = new HPath(tablePath, name)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, "UTF-8"))
      } finally in.close()
    }
  }

  /** Write a small marker file under the table dir (overwrite). */
  private def writeMarker(tablePath: String, name: String,
      content: String): Unit = {
    val (fs, _) = fsFor(tablePath)
    val out = fs.create(new HPath(tablePath, name), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Local-nio recursive delete — fixture planting and temp-dir
    * hygiene on driver-local paths only (swap internals use the
    * Hadoop FS recursive delete above). */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
}
