package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{BigramLm, Bm25, Bpe, BpeTrain, Decontam, Tokens}

/** Persistence parity for the remaining trained/built artifacts
  * (VERDICT r10 §missing-3): the BM25 inverted index, the bigram-LM
  * model, and the BPE merge table save → load → serve bit-identically
  * to their in-session builds — the same round-trip proof
  * [[PqPersistSpec]] gives the PQ tier. Integer state (LM counts, tf,
  * merge strings) is exact by type; doubles (avgdl, scores) round-trip
  * parquet exactly, so no tolerance anywhere. */
class ModelPersistSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs = Tables.documents(spark, sf0001)
  // the text_bm25_pinned entry's query (Retrieval.Bm25Terms)
  private val terms = Seq("spark", "window", "vector")

  private def tmp(tag: String): String =
    TestSpark.tempDir(tag).toString + "/m"

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("BM25 index save->load serves bit-identical pinned AND ln top-k") {
    val dir = tmp("bm25_idx")
    Bm25.saveIndex(Bm25.buildIndex(docs, "doc_id", "text"), dir)
    val idx = Bm25.loadIndex(spark, dir)
    // the hash-green pinned form (text_bm25_pinned's exact call)
    assert(rows(Bm25.topKIndexed(idx, terms, 20, lnIdf = false)) ==
      rows(Bm25.bm25PinnedTopK(docs, "doc_id", "text", terms, 20)))
    // and the production ln form
    assert(rows(Bm25.topKIndexed(idx, terms, 20)) ==
      rows(Bm25.bm25TopK(docs, "doc_id", "text", terms, 20)))
  }

  test("LM model save->load serves bit-identical pinned score, buckets, and ln score") {
    val counts = BigramLm.trainCounts(docs, "doc_id", "text")
    val totals = BigramLm.contextTotals(counts)
    val v = BigramLm.vocabSize(docs, "text")
    val dir = tmp("lm_model")
    BigramLm.saveLmModel(counts, totals, v, dir)
    val (lc, lt, lv) = BigramLm.loadLmModel(spark, dir)
    assert(lv == v)
    def pinned(c: DataFrame, t: DataFrame, vv: Long) =
      rows(BigramLm.pinnedScore(docs, "doc_id", "text", c, t, vv)
        .orderBy("doc_id"))
    assert(pinned(lc, lt, lv) == pinned(counts, totals, v))
    def lns(c: DataFrame, t: DataFrame, vv: Long) =
      rows(BigramLm.lnScore(docs, "doc_id", "text", c, t, vv)
        .orderBy("doc_id"))
    assert(lns(lc, lt, lv) == lns(counts, totals, v))
  }

  test("BPE merges save->load: frozen table serves bit-identical tokens; trained table round-trips") {
    val dir = tmp("bpe_merges")
    Bpe.saveMerges(Bpe.Merges, dir, spark)
    val loaded = Bpe.loadMerges(spark, dir)
    assert(loaded == Bpe.Merges)
    // the text_tokens_bpe projection, served from the loaded table
    def toks(m: Seq[(String, String)]) = rows(docs.select(col("doc_id"),
        size(Bpe.tokens(col("text"), m)).as("n_subwords"),
        array_join(Bpe.tokens(col("text"), m), " ").as("subwords"))
      .orderBy("doc_id"))
    assert(toks(loaded) == toks(Bpe.Merges))
    // a TRAINED merge table (vocab_bpe_train's artifact) survives too
    val trained = BpeTrain.trainMerges(docs, "text", nMerges = 5)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    val dir2 = tmp("bpe_trained")
    Bpe.saveMerges(trained, dir2, spark)
    assert(Bpe.loadMerges(spark, dir2) == trained.toVector)
  }

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
