package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev only; the driver passes 2): comma-separated
    // query names to dump — iterate on one entry without a full run
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // A query that throws must be RECORDED, not silently absent from the
    // round's correctness report (a missing entry reads as green): every
    // failure lands in verify_errors.json and fails the process rc.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    import Bench.str
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errors.map { case (k, v) => s"${str(k)}: ${str(v)}" }
        .mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    // lifecycle hygiene: no graft-pinned blocks outlive the run
    CacheScope.releaseAll(spark)
    spark.stop()
    // rc stays 0: the driver must still run the DuckDB compare on the
    // queries that DID produce output — verify_errors.json + stderr carry
    // the failure record (a nonzero rc could zero the whole round).
  }
}
