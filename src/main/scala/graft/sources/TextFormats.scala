package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Line-oriented interchange formats: JSON-lines and CSV, read and
  * written through Spark's native codegen'd sources.
  *
  * The one scale rule both readers enforce: SCHEMA ON READ. Without an
  * explicit schema, `spark.read.json/csv` runs a full inference pass
  * over the data — a second corpus-wide scan before the first real job,
  * ruinous at 100 TB and nondeterministic under dirty data (a single
  * malformed row can flip a column to string). Callers pass the
  * `StructType`; inference is not offered by this API.
  *
  * Writers shard by the DataFrame's partitioning (one file per task,
  * the same layout discipline as the parquet writers in
  * [[graft.ops.Layout]]); readers split files by line, so both formats
  * parallelize on read even from a single large file.
  */
object TextFormats {

  // Spark's default text-source timestampFormat truncates to
  // milliseconds — silently lossy for microsecond data. Pin full µs on
  // both sides so write∘read is the identity on TimestampType.
  private val TsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** One JSON object per line (ndjson). Timestamps serialize as
    * ISO-8601 µs with the session zone (UTC in this engine), doubles
    * with shortest-round-trip repr — lossless both ways. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("timestampFormat", TsFormat)
      .json(path)

  def readJsonl(s: SparkSession, path: String, schema: StructType)
      : DataFrame =
    s.read.schema(schema).option("timestampFormat", TsFormat).json(path)

  /** RFC-4180-style CSV with header; embedded quotes/delimiters in
    * field values survive the default quote+escape discipline. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true")
      .option("timestampFormat", TsFormat).csv(path)

  def readCsv(s: SparkSession, path: String, schema: StructType)
      : DataFrame =
    s.read.schema(schema).option("header", "true")
      .option("timestampFormat", TsFormat).csv(path)

  /** ORC round trip — the columnar interchange format for warehouses
    * that standardized on it (Hive-lineage lakes). Spark's native
    * vectorized ORC reader/writer; µs timestamps, doubles, and strings
    * are all natively typed, so unlike the text formats there is no
    * format-string discipline to get wrong — the round-trip risk ORC
    * does carry is schema drift, which schema-on-read pins down. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(s: SparkSession, path: String, schema: StructType)
      : DataFrame =
    s.read.schema(schema).orc(path)
}
