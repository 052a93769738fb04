package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the `events.ts` physical-type dispatch in [[Tables.events]].
  *
  * The driver's testdata generator has shipped `ts` as parquet
  * TIMESTAMP(NANOS) (read as raw Long under legacy nanos mode) and as
  * TIMESTAMP(MICROS) isAdjustedToUTC=false (read as TIMESTAMP_NTZ); a
  * type change between rounds once broke 28 registry queries at the
  * driver only — this spec makes any future drift fail here first.
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  private val epochUs = 1700000000000000L // 2023-11-14T22:13:20 UTC

  private def tmp(name: String): String = {
    val d = TestSpark.tempDir(s"graft-$name")
    d.toFile.deleteOnExit()
    s"$d/events.parquet"
  }

  private def writeEvents(path: String, tsField: StructField,
      tsValue: Any): Unit = {
    val schema = StructType(Seq(
      StructField("event_id", LongType), tsField,
      StructField("user_id", LongType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, tsValue, 7L)), schema)
    df.write.mode("overwrite").parquet(path)
  }

  private def canonical(dir: String): (DataType, Long) = {
    val out = Tables.events(spark, dir)
    val ts = out.select(unix_micros(col("ts"))).head.getLong(0)
    (out.schema("ts").dataType, ts)
  }

  test("nanos-as-long generation: Long ts is truncated to micro instant") {
    val p = tmp("evlong")
    writeEvents(p, StructField("ts", LongType), epochUs * 1000L + 999L)
    val (dt, ts) = canonical(new java.io.File(p).getParent)
    assert(dt === TimestampType)
    assert(ts === epochUs) // sub-µs nanos truncated, like DuckDB's cast
  }

  test("timestamp[us] NTZ generation: wall clock preserved as UTC instant") {
    val p = tmp("evntz")
    writeEvents(p, StructField("ts", TimestampNTZType),
      java.time.LocalDateTime.ofEpochSecond(
        epochUs / 1000000L, ((epochUs % 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC))
    val (dt, ts) = canonical(new java.io.File(p).getParent)
    assert(dt === TimestampType)
    assert(ts === epochUs)
  }

  test("instant generation: already-TIMESTAMP ts passes through") {
    val p = tmp("evltz")
    writeEvents(p, StructField("ts", TimestampType),
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        epochUs / 1000000L, (epochUs % 1000000L) * 1000L)))
    val (dt, ts) = canonical(new java.io.File(p).getParent)
    assert(dt === TimestampType)
    assert(ts === epochUs)
  }

  test("driver testdata loads with a micro-instant ts") {
    val out = Tables.events(spark, sf0001)
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.limit(1).count() === 1)
  }

  // ---- Contract coverage for EVERY table loader: a synthetic narrow
  //      generation (int32 keys, float32 metrics, one added column)
  //      must load back with exactly the declared logical schema plus
  //      the flowed-through extra — the generalization of the events
  //      incident to the whole registry surface.

  private val loaders: Map[String, (org.apache.spark.sql.SparkSession,
      String) => org.apache.spark.sql.DataFrame] = Map(
    "region" -> (Tables.region _), "nation" -> (Tables.nation _),
    "customer" -> (Tables.customer _), "supplier" -> (Tables.supplier _),
    "part" -> (Tables.part _), "orders" -> (Tables.orders _),
    "lineitem" -> (Tables.lineitem _), "events" -> (Tables.events _),
    "documents" -> (Tables.documents _),
    "embeddings" -> (Tables.embeddings _))

  test("every loader absorbs a narrowed-generation parquet (int32/float32 + added column)") {
    val root = TestSpark.tempDir("graft-narrowgen")
    root.toFile.deleteOnExit()
    Tables.contracts.keys.foreach { name =>
      val orig = Tables.table(spark, sf0001, name)
      val narrowed = orig.select(orig.schema.fields.toSeq.map { f =>
        f.dataType match {
          case LongType   => col(f.name).cast(IntegerType).as(f.name)
          case DoubleType => col(f.name).cast(FloatType).as(f.name)
          case _          => col(f.name)
        }
      }: _*).withColumn("producer_tag", lit("gen0"))
      narrowed.write.mode("overwrite").parquet(s"$root/$name.parquet")
    }
    Tables.contracts.foreach { case (name, contract) =>
      val out = loaders(name)(spark, root.toString)
      val lead = StructType(out.schema.fields.take(contract.length)
        .map(f => StructField(f.name, f.dataType)))
      val want = StructType(contract.fields.map(f =>
        StructField(f.name, f.dataType)))
      assert(lead === want, s"table $name: widened schema != contract")
      assert(out.schema.fieldNames.last === "producer_tag",
        s"table $name: added producer column must flow through")
      assert(out.count() === Tables.table(spark, sf0001, name).count(),
        s"table $name: narrowed generation lost rows")
    }
    // value fidelity on an int-narrowed key: widening back is lossless
    val keys = Tables.documents(spark, root.toString)
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted
    val origKeys = Tables.documents(spark, sf0001)
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted
    assert(keys.sameElements(origKeys))
  }

  test("case-only column drift binds to the contract (analyzer-consistent)") {
    val root = TestSpark.tempDir("graft-casegen")
    root.toFile.deleteOnExit()
    Tables.table(spark, sf0001, "documents")
      .select(col("doc_id").as("DOC_ID"), col("text").as("Text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$root/documents.parquet")
    val out = Tables.documents(spark, root.toString)
    // contract casing wins; no column misread as missing (all non-null)
    assert(out.schema.fieldNames.toSeq ===
      Tables.documentsContract.fieldNames.toSeq)
    assert(out.filter(col("doc_id").isNull || col("text").isNull)
      .count() === 0)
  }
}
