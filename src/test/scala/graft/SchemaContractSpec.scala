package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SchemaContract
import graft.ops.SchemaContract.Drift

class SchemaContractSpec extends AnyFunSuite {
  import TestSpark._

  private val data = {
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("qty", FloatType),
      StructField("label", StringType),
      StructField("extra", StringType)))
    spark.createDataFrame(java.util.Arrays.asList(
      Row(1, 2.5f, "a", "x"), Row(2, 17.0f, "7", "y")), schema)
  }

  private val contract = StructType(Seq(
    StructField("id", LongType),        // int32 → widened
    StructField("qty", DoubleType),     // float → widened
    StructField("label", StringType),   // ok
    StructField("note", StringType)))   // absent → null-filled

  test("drift classifies widen / ok / missing / dropped") {
    val d = SchemaContract.drift(data, contract)
    assert(d === Seq(
      Drift("id", "BIGINT", "INT", "widened"),
      Drift("qty", "DOUBLE", "FLOAT", "widened"),
      Drift("label", "STRING", "STRING", "ok"),
      Drift("note", "STRING", "ABSENT", "missing_filled_null"),
      Drift("extra", "ABSENT", "STRING", "dropped")))
  }

  test("conform applies exactly the declared shape") {
    val out = SchemaContract.conform(data, contract)
    assert(out.schema === StructType(contract.map(_.copy(nullable = true))))
    val rows = out.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(rows.map(_.getDouble(1)).toSeq === Seq(2.5, 17.0))
    assert(rows.forall(_.isNullAt(3)))
  }

  test("strict mode throws naming every incompatible column") {
    val bad = StructType(Seq(
      StructField("id", LongType),
      StructField("label", LongType),  // string → long: incompatible
      StructField("qty", ShortType)))  // float → short: incompatible
    val e = intercept[IllegalArgumentException] {
      SchemaContract.conform(data, bad)
    }
    assert(e.getMessage.contains("label"))
    assert(e.getMessage.contains("qty"))
  }

  test("lenient mode try_casts: parseable survives, junk nulls") {
    val bad = StructType(Seq(
      StructField("id", LongType),
      StructField("label", LongType)))
    val out = SchemaContract.conform(data, bad, strict = false)
      .orderBy("id").collect()
    assert(out(0).isNullAt(1))          // "a" → NULL, never a wrong value
    assert(out(1).getLong(1) === 7L)    // "7" parses
  }

  test("widening matrix rejects lossy pairs") {
    assert(!widens(LongType, IntegerType))
    assert(!widens(LongType, DoubleType))   // 53-bit mantissa
    assert(!widens(DoubleType, FloatType))
    assert(widens(IntegerType, DoubleType))
    assert(widens(ShortType, FloatType))
    assert(!widens(IntegerType, FloatType)) // 24-bit mantissa
    assert(widens(DecimalType(10, 2), DecimalType(12, 2)))
    assert(!widens(DecimalType(12, 2), DecimalType(10, 2)))
    assert(widens(DecimalType(10, 2), DecimalType(12, 4)))
    assert(widens(LongType, DecimalType(21, 2)))
    assert(!widens(LongType, DecimalType(18, 2)))
  }

  test("mixed int/long generations: Spark mergeSchema refuses, contract read unions") {
    val root = TestSpark.tempDir("graft-evo")
    root.toFile.deleteOnExit()
    val g0 = StructType(Seq(StructField("id", IntegerType),
      StructField("v", FloatType)))
    val g1 = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType)))
    spark.createDataFrame(java.util.Arrays.asList(Row(1, 1.5f)), g0)
      .write.parquet(s"$root/gen0")
    spark.createDataFrame(java.util.Arrays.asList(Row(2L, 2.5)), g1)
      .write.parquet(s"$root/gen1")
    // the built-in path: footer merge fails on int32 vs int64
    val e = intercept[Exception] {
      spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(root.toString).collect()
    }
    assert(e.getMessage.toLowerCase.contains("merge"))
    // the contract path: per-generation scan + widen + union
    val contract = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType)))
    val rows = SchemaContract.readParquetConformed(spark, contract,
        strict = true, s"$root/gen0", s"$root/gen1")
      .orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 1.5), (2L, 2.5)))
  }

  private def widens(f: DataType, t: DataType): Boolean =
    SchemaContract.drift(
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(Seq(StructField("c", f)))),
      StructType(Seq(StructField("c", t))))
      .head.action == "widened"
}
