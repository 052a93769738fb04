package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{Decontam, Tokens}

/** Persistence parity for the decontamination state that
  * `CorpusOps` saves and loads: save → load → serve is bit-identical
  * to the registry's in-session build. */
class ModelPersistSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs = Tables.documents(spark, sf0001)

  private def tmp(tag: String): String =
    TestSpark.tempDir(tag).toString + "/m"

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("decontam state save->load serves bit-identical flag AND span decontamination") {
    // the registry's bench/corpus split (doc_id % 97) and dials
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      .select("doc_id", "text")
    val dir = tmp("decontam_state")
    Decontam.saveState(
      Decontam.buildState(bench, "doc_id", "text", k = 12,
        expectedItems = 100000), dir)
    val loaded = Decontam.loadState(spark, dir)
    assert(loaded.k == 12)
    // flag tier ≡ the text_decontaminate_bloom registry entry
    assert(rows(Decontam.flagContaminated(corpus, "doc_id", "text",
        loaded).orderBy("doc_id")) ==
      rows(SparkEntry.queries("text_decontaminate_bloom")(spark, sf0001)))
    // span tier ≡ the text_decontaminate_spans registry entry — same
    // planted-contamination corpus (bench excerpt ++ reversed prefix)
    val benchTs = bench.select(col("doc_id"), Tokens.ws("text").as("__ts"))
      .filter(size(col("__ts")) >= 30)
    val planted = benchTs.select(
      (col("doc_id") + 3 * graft.queries.Planting.Offset).as("doc_id"),
      concat(array_join(slice(col("__ts"), 11, 20), " "), lit(" "),
        array_join(reverse(slice(col("__ts"), 1, 10)), " ")).as("text"))
    assert(rows(Decontam.removeSpans(corpus.unionByName(planted),
        "doc_id", "text", loaded).orderBy("doc_id")) ==
      rows(SparkEntry.queries("text_decontaminate_spans")(spark, sf0001)))
  }
}
