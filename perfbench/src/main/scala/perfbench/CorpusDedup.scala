package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.{Bpe, QualityRules}

/** The LLM-data tier: line-rule quality filter → exact dedup → shingles
  * → MinHash/LSH candidates → connected components → BPE token count of
  * the survivors. The corpus has a skewed vocabulary, about 5% exact
  * copies, about 20% near copies (three words edited) and about 3%
  * documents the line rules reject. Neither chess workload touches the
  * dedup, text or codegen-kernel code this one runs. */
final class CorpusDedup(ctx: Ctx) extends Workload {
  import CorpusDedup._

  val name = "corpus_dedup"
  private val nDocs = ctx.size(4000, 200)
  private val vocab = ctx.size(6000, 400)
  private val spark = ctx.spark
  private val gen = new CorpusGen(ctx.seed + 2, vocab)

  private var docsPath: String = _
  private var family = Map.empty[Long, Int]
  private var exactPlanted = Seq.empty[Seq[Long]]
  private var nearPlanted = Seq.empty[(Long, Int)]
  private var canonOf = Map.empty[Int, Long]
  private var nJunk = 0
  // the last pass's outputs, checked and then released
  private var kept: DataFrame = _
  private var unique: DataFrame = _
  private var groups: DataFrame = _
  private var cands: DataFrame = _
  private var comps: DataFrame = _
  private var nTokens = 0L
  private var traced = false
  private var precision = 0.0

  def itemsPerPass: Long = nDocs
  def opsPerPass: Int = 1
  def sizes: Seq[(String, Long)] = Seq("docs" -> nDocs.toLong,
    "vocabulary" -> vocab.toLong, "exact_groups" -> exactPlanted.size.toLong,
    "near_copies" -> nearPlanted.size.toLong, "junk_docs" -> nJunk.toLong)

  def prepare(d: Path): Unit = {
    val r = new SplittableRandom(ctx.seed + 2)
    nJunk = nDocs * 3 / 100
    val nExact = nDocs * 5 / 100
    val nNear = nDocs * 20 / 100
    val nBase = nDocs - nJunk - nExact - nNear
    val seen = mutable.HashSet.empty[String]
    def fresh(mk: => Vector[Vector[String]]): Vector[Vector[String]] = {
      var d = mk
      while (!seen.add(gen.render(d))) d = mk
      d
    }
    val bases = Vector.fill(nBase)(fresh(gen.doc(r)))
    // (text, family: base index or -1 for junk, kind)
    val docs = mutable.ArrayBuffer.empty[(String, Int, Char)]
    bases.indices.foreach(i => docs += ((gen.render(bases(i)), i, 'b')))
    (0 until nExact).foreach { _ =>
      val k = r.nextInt(nBase); docs += ((gen.render(bases(k)), k, 'e'))
    }
    (0 until nNear).foreach { _ =>
      val k = r.nextInt(nBase)
      docs += ((gen.render(fresh(gen.nearCopy(bases(k), 3, r))), k, 'n'))
    }
    (0 until nJunk).foreach(_ => docs += ((gen.junk(r), -1, 'j')))
    // ids are a seeded permutation, so which copy is canonical varies
    val ids = {
      val a = Array.tabulate(nDocs)(_.toLong)
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x
      }
      a
    }
    val rows = docs.indices.map(i => (ids(i), docs(i)._1))
    family = docs.indices.map(i => ids(i) -> docs(i)._2).toMap
    val originals = docs.indices.filter(i => docs(i)._3 == 'b' || docs(i)._3 == 'e')
      .groupBy(i => docs(i)._2).values.toSeq
    exactPlanted = originals.filter(_.exists(i => docs(i)._3 == 'e'))
      .map(_.map(ids(_)).sorted)
    canonOf = originals.map(g => docs(g.head)._2 -> g.map(ids(_)).min).toMap
    nearPlanted = docs.indices.filter(i => docs(i)._3 == 'n').map(i => (ids(i), docs(i)._2))
    docsPath = d.resolve("docs").toString
    import spark.implicits._
    rows.toDF("id", "text").write.parquet(docsPath)
  }

  def spanNames: Seq[String] =
    Seq("text.quality", "dedup.exact", "dedup.minhash", "dedup.cc", "text.bpe")

  def pass(t: Tracer): Unit = t.span("pass") {
    val docs = spark.read.parquet(docsPath)
    // kept and unique each feed two consumers: persisted in the untraced
    // run too, as any client of these operators would
    kept = t.span("text.quality")(t.force(QualityRules.lineRules(docs, "text")
      .filter(col("keep")).select("id", "text")).persist())
    unique = t.span("dedup.exact") {
      groups = t.force(Dedup.exactGroups(kept, "id", "text"))
      val copies = groups.select(explode(col("member_ids")).as("id"),
        col("canonical_id")).filter(col("id") =!= col("canonical_id"))
      t.force(kept.join(copies.select("id"), Seq("id"), "left_anti")).persist()
    }
    cands = t.span("dedup.minhash")(t.force(
      Dedup.minhashCandidatesProd(Dedup.shingles(unique, "id", "text"))))
    comps = t.span("dedup.cc")(t.force(Dedup.connectedComponents(cands)))
    val survivors = unique.join(
      comps.filter(col("id") =!= col("cluster_id")).select("id"), Seq("id"),
      "left_anti")
    nTokens = t.span("text.bpe")(
      survivors.agg(sum(Bpe.nTokens(col("text")))).head().getLong(0))
    traced = t.enabled
  }

  def check(): (Int, Seq[String]) = {
    val nKept = kept.count()
    val found = groups.select("member_ids").collect()
      .map(_.getSeq[Long](0).toSeq).toSet
    val missing = exactPlanted.count(g => !found.contains(g))
    val cluster = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def label(id: Long) = cluster.getOrElse(id, id)
    if (traced) {
      val c = cands.collect().map(r => (r.getLong(0), r.getLong(1)))
      precision = c.count { case (a, b) => family(a) >= 0 && family(a) == family(b) }
        .toDouble / math.max(c.length, 1)
    }
    val recall = nearPlanted.count { case (id, f) => label(id) == label(canonOf(f)) }
      .toDouble / math.max(nearPlanted.size, 1)
    val failures = Seq(
      (nKept != nDocs - nJunk) -> s"quality kept $nKept of $nDocs, planted $nJunk junk",
      (missing > 0) -> s"$missing of ${exactPlanted.size} planted exact groups not found",
      (recall < NearRecallFloor) -> f"near-copy recall $recall%.3f below $NearRecallFloor",
      (nTokens <= 0) -> s"token count $nTokens"
    ).collect { case (true, m) => m }
    kept.unpersist(); unique.unpersist()
    graft.CacheScope.releaseAll(spark)
    (if (failures.isEmpty) 0 else 1, failures)
  }

  def layerMetrics(t: Tracer, root: Span): Map[String, Double] =
    Map("dedup.candidate_precision" -> precision)
}

object CorpusDedup {
  /** Planted near copies whose cluster must contain their original.
    * Three edits in ~80 words keep 3-shingle Jaccard near 0.8, where 8
    * bands of 2 MinHash rows give a candidate with probability ≈ 0.999. */
  val NearRecallFloor = 0.95
}
