package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ScopedConf

/** Registry fixture builds go through `graft.queries.Fixture`: fresh in
  * every session, staged in one directory per fixture, streams awaited
  * and stopped in one place — plus the file-derived stream partition
  * count those builds run at. */
class FixtureSpec extends AnyFunSuite {
  import TestSpark._

  private def local(f: String): Path =
    Paths.get(new org.apache.hadoop.fs.Path(f).toUri.getPath)

  test("a fixture is rebuilt in a new session, not reused from disk") {
    val query = SparkEntry.queries("w10_capped_sessions_stream")
    val full = query(spark, sf0001).count()
    assert(full > 0)
    val perFile = query(spark, sf0001).inputFiles
      .map(f => f -> spark.read.parquet(f).count())
    val (victim, lost) = perFile.maxBy(_._2)
    assert(lost > 0 && perFile.map(_._2).sum === full)
    Files.delete(local(victim))
    assert(query(spark.newSession(), sf0001).count() === full)
  }

  /** (file name, text) of every Scala source under `dir` but `except`. */
  private def sources(dir: String, except: String): Seq[(String, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"missing $root")
    Files.walk(root).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != except)
      .map(p => p.getFileName.toString ->
        new String(Files.readAllBytes(p), "UTF-8"))
  }

  /** A hand-built path under the JVM's temp directory (written as a
    * pattern, so this file does not match itself). */
  private val tmpdir = """java\.io\.tmpdir""".r

  test("src/main stages files and awaits streams only through Fixture") {
    val main = sources("src/main/scala", "Fixture.scala")
    for (needle <- Seq(tmpdir, """createTempDirectory""".r,
        """awaitTermination\(""".r, """FixtureMarker""".r)) {
      val hits = main.collect {
        case (f, src) if needle.findFirstIn(src).isDefined => f }
      assert(hits.isEmpty, s"$needle in $hits")
    }
  }

  test("tests make scratch directories only through TestSpark.tempDir") {
    for (needle <- Seq("""createTempDirectory\s*\(""".r, tmpdir)) {
      val hits = sources("src/test/scala", "TestSpark.scala").collect {
        case (f, src) if needle.findFirstIn(src).isDefined => f
      }
      assert(hits.isEmpty, s"$needle in $hits")
    }
  }

  test("streamPartitions gives 1 to an input that reads no files") {
    val rdd = spark.createDataFrame(spark.sparkContext
      .parallelize(1 to 1000, 8).map(i => (i, i.toString)))
    assert(rdd.inputFiles.isEmpty)
    assert(ScopedConf.streamPartitions(spark, rdd) === 1)
  }

  test("streamPartitions gives ceil(file bytes / advisory size), clamped " +
      "to the cores") {
    val root = TestSpark.tempDir("stream_parts")
    spark.range(0, 20000).selectExpr("id", "md5(cast(id as string)) s")
      .repartition(3).write.parquet(s"$root/t")
    val written = spark.read.parquet(s"$root/t")
    val bytes = written.inputFiles
      .map(f => Files.size(local(f))).sum
    val cores = spark.sparkContext.defaultParallelism
    def at(advisory: Long): Int = ScopedConf.withConf(spark,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory.toString) {
      ScopedConf.streamPartitions(spark, written)
    }
    assert(cores >= 2)
    assert(at(bytes) === 1)
    assert(at((bytes + 1) / 2) === 2)
    assert(at(bytes / 100) === cores)
  }
}
