package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sim.{Pq, Similarity}

/** Semantic checks for the training-data-pipeline operators (beyond
  * the DuckDB hash conformance): planted duplicates are found, the
  * approximate paths agree with exact baselines, sketches behave.
  */
class DataOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def docs = Tables.documents(spark, sf001)
  private def embs = Tables.embeddings(spark, sf001)

  // the registry's two-stage PQ path: an `mPool` ADC pool over the
  // encoded corpus, re-ranked by exact cosine to `k`
  private def adcRerank(pred: org.apache.spark.sql.Column, k: Int,
      mPool: Int, model: Pq.PqModel) =
    Pq.pqRerankWith(Pq.pqTopKEncoded(Pq.pqEncode(embs, model), embs,
      pred, mPool, model), embs, pred, k, mPool)

  test("releaseAll leaves no graft-pinned blocks, checkpoints included") {
    // other suites share this JVM/session, so assert RELATIVELY: after
    // exercising the memoized paths AND the operator-internal tracked
    // cache, releaseAll must leave no persisted RDDs beyond what was
    // already pinned before this test ran — every library checkpoint
    // (CC's lineage truncation included) is registered, so none is
    // exempt
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // memoized registry paths (shingles, jaccard pairs, clusters) …
    graft.SparkEntry.queries("dedup_clusters")(spark, sf001).count()
    // … and the operator-internal df-capped index cache
    Dedup.jaccardPairs(docs, "doc_id", "text", 0.3).count()
    assert(spark.sparkContext.getPersistentRDDs.keySet.size > before.size,
      "expected the exercised paths to pin blocks before release")
    CacheScope.releaseAll(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"releaseAll left graft-pinned RDDs: ${after -- before}")
    // released ≠ broken: the same query still answers (rebuilds memo)
    assert(graft.SparkEntry.queries("dedup_clusters")(spark, sf001)
      .count() > 0)
    CacheScope.releaseAll(spark)
  }

  test("PQ exhaustive rerank equals brute force bit-for-bit") {
    val model = graft.sim.Pq.trainPq(embs, m = 8, ksub = 16, iters = 2)
    // (ksub deliberately small here: exhaustive equality must hold for
    // ANY codebook — stage 1 keeps everything, so ADC quality is moot)
    val pred = col("vec_id") % 50 === 0
    val viaPq = adcRerank(pred, k = 10, mPool = Int.MaxValue, model)
      .orderBy("query_id", "rank").collect()
    val exact = Similarity.bruteForceTopK(embs, pred, k = 10)
      .orderBy("query_id", "rank").collect()
    assert(viaPq.toSeq == exact.toSeq)
  }

  test("PQ encode: codes bounded by ksub, reconstruction norms positive") {
    val model = graft.sim.Pq.trainPq(embs, m = 8, ksub = 16, iters = 2)
    assert(model.m == 8 && model.ksub == 16 && model.ds == 8)
    val enc = graft.sim.Pq.pqEncode(embs, model)
      .as[(Long, Seq[Byte], Double)].collect()
    assert(enc.length == embs.count())
    enc.foreach { case (id, codes, rnorm) =>
      assert(codes.length == 8, s"vec $id: ${codes.length} codes")
      assert(codes.forall(c => c >= 0 && c < 16), s"vec $id: $codes")
      assert(rnorm > 0, s"vec $id: rnorm $rnorm")
    }
    // training is deterministic: a second train from the same corpus
    // yields identical codebooks (decimal recentering, fixed seeds)
    val again = graft.sim.Pq.trainPq(embs, m = 8, ksub = 16, iters = 2)
    assert(model.codebooks.flatten.flatten.toSeq ==
      again.codebooks.flatten.flatten.toSeq)
  }

  test("PQ rerank recall vs brute force clears the floor at the registry pool") {
    // the registry configuration (ksub=64, pool=100): measured 0.95 on
    // the synthetic near-random embeddings — floor at 0.9
    val model = graft.sim.Pq.trainPq(embs, m = 8, ksub = 64, iters = 2)
    val pred = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(embs, pred, k = 10)
      .select("query_id", "cand_id")
      .as[(Long, Long)].collect().toSet
    val got = adcRerank(pred, k = 10, mPool = 100, model)
      .select("query_id", "cand_id")
      .as[(Long, Long)].collect().toSet
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"PQ rerank recall $recall < 0.9")
  }

  test("MinHash-LSH candidates cover the true Jaccard near-dup pairs") {
    val truePairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val dict = Dedup.shingleDictionary(sh)
    val enc = sh.join(dict, Seq("shingle")).select("id", "sid")
    val cand = Dedup.lshCandidates(
      Dedup.minhashSignatures(enc, 16), 2)
      .as[(Long, Long)].collect().toSet
    val recall = truePairs.count(cand).toDouble / truePairs.size
    assert(truePairs.nonEmpty)
    withClue(s"LSH recall $recall over ${truePairs.size} true pairs: ") {
      assert(recall >= 0.8)
    }
  }

  test("production xxhash64 MinHash/SimHash paths cover true Jaccard pairs") {
    val sh = Dedup.shingles(docs, "doc_id", "text").cache()
    val truth = Dedup.jaccardPairsFromShingles(sh, 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty)
    val mh = Dedup.minhashCandidatesProd(sh)
      .as[(Long, Long)].collect().toSet
    val sim = Dedup.simhashPairs(Dedup.simhashProd(sh), maxDist = 6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val mhRecall = truth.count(mh).toDouble / truth.size
    val simRecall = truth.count(sim).toDouble / truth.size
    withClue(s"prod minhash recall $mhRecall, simhash recall $simRecall: ") {
      assert(mhRecall >= 0.8)
      assert(simRecall >= 0.8)
    }
  }

  test("connectedComponents: transitive chains collapse to the min label") {
    // chain 2-5-9-11 (diameter 3 → multi-round propagation), a pair,
    // and a 3-node path — labels must be the component minimum
    // (40,40): an id seen only in a self-pair must still be labeled,
    // identically in both regimes
    val pairs = Seq((5L, 2L), (5L, 9L), (9L, 11L), (20L, 21L),
      (31L, 30L), (31L, 32L), (40L, 40L)).toDF("id1", "id2")
    val expected = Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 11L -> 2L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L, 32L -> 30L,
      40L -> 40L)
    val ccDriver = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    // driverThreshold = 0 forces the distributed label-propagation loop;
    // both regimes must produce the identical labeling
    val ccLoop = Dedup.connectedComponents(pairs, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(ccDriver === expected)
    assert(ccLoop === expected)
  }

  test("union-find and star-alternation CC agree on real Jaccard pairs") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.3)
      .select("id1", "id2").cache()
    assert(pairs.count() > 0)
    val a = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toSet
    val b = Dedup.connectedComponents(pairs, driverThreshold = 0L)
      .as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("star-alternation CC: 100-link chain converges in far fewer rounds than its diameter") {
    // a 100-edge path (diameter 100): per-hop min-label propagation
    // would need ~100 rounds; the star alternation must finish in ≤ 10.
    // Shuffled edge order, endpoints interleaved so min-ids aren't
    // already adjacent.
    val chain = scala.util.Random.shuffle(
      (0 until 100).map(i => (((i * 37) % 101).toLong, ((i + 1) * 37 % 101).toLong)))
      .toDF("id1", "id2")
    val labels = Dedup.connectedComponents(chain, maxIters = 10,
        driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 101)
    assert(labels.values.forall(_ == 0L))   // one component, min id 0
  }

  test("star CC under a 10^4-leaf hot hub: correct labels within a tight round budget") {
    // one doc near-duplicated 10^4× (boilerplate) yields a star whose
    // hub touches every edge — the worst skew a near-dup pair list
    // produces. The hub is NOT the component minimum, so every leaf
    // must relabel through the hot key. driverThreshold = 0 forces the
    // distributed star path; maxIters = 8 bounds the alternation (the
    // operator throws instead of converging slowly), and min-agg
    // partial aggregation absorbs the hot key map-side — a skew
    // collapse would surface as a timeout/iteration overrun here.
    val hub = 50000L
    val pairs = (1 to 10000).map(i => (hub, i.toLong + 7))
      .toDF("id1", "id2")
    val labels = Dedup.connectedComponents(pairs, maxIters = 8,
        driverThreshold = 0L)
      .as[(Long, Long)].collect()
    assert(labels.length === 10001)
    assert(labels.forall(_._2 === 8L),
      "every node must label to the component minimum (leaf id 8)")
  }

  test("star CC equals a reference union-find on arbitrary graphs (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val edgeGen = Gen.listOf(
      Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)))
    val prop = Prop.forAll(edgeGen) { edges =>
      // independent truth: plain-Scala union-find with min-root labels
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val ref = parent.keys.map(id => id -> find(id)).toMap
      // driverThreshold = -1 forces the star regime on every size,
      // including the empty graph
      val star = Dedup.connectedComponents(edges.toDF("id1", "id2"),
          driverThreshold = -1L)
        .as[(Long, Long)].collect().toMap
      star == ref
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("star-alternation CC equals union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 60 + trial * 30
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val pairs = edges.toDF("id1", "id2")
      val uf = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toSet
      val star = Dedup.connectedComponents(pairs, driverThreshold = 0L)
        .as[(Long, Long)].collect().toSet
      withClue(s"trial $trial: ") { assert(star == uf) }
    }
  }

  test("block-pair cosine near-dup join is invariant to block count") {
    val b1 = Similarity.cosineNearDupPairs(embs, 0.35, numBlocks = 1)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val b5 = Similarity.cosineNearDupPairs(embs, 0.35, numBlocks = 5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(b1.nonEmpty)
    assert(b1 == b5)
  }

  test("Jaccard stop-shingle cap drops ubiquitous shingles but keeps pairs") {
    // τ above the corpus max df is a no-op; τ=1 keeps only unique
    // shingles so no pair can share one — brackets the cap's behavior.
    val uncapped = Dedup.jaccardPairs(docs, "doc_id", "text", 0.3,
      maxShingleDf = Long.MaxValue).select("id1", "id2")
      .as[(Long, Long)].collect().toSet
    val default = Dedup.jaccardPairs(docs, "doc_id", "text", 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val capped1 = Dedup.jaccardPairs(docs, "doc_id", "text", 0.3,
      maxShingleDf = 1L)
    assert(uncapped == default)
    assert(capped1.count() == 0)
  }

  test("LSH ANN top-k has reasonable recall vs brute force") {
    val pred = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(embs, pred, 10)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.lshTopK(embs, pred, 10, numPlanes = 4)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // every query must return k results and overlap the exact set:
    // 4 planes → 16 buckets of ~31 vectors; bucket-local top-10 of a
    // near-orthogonal corpus keeps only coarse recall — assert the
    // mechanism works, not a tuned recall number.
    assert(approx.nonEmpty)
    val avgOverlap = exact.keys.toSeq.map { q =>
      approx.get(q).map(a => (a & exact(q)).size).getOrElse(0)
    }.sum.toDouble / exact.size
    withClue(s"avg top-10 overlap $avgOverlap: ") { assert(avgOverlap >= 1.0) }
  }

  test("IVF with nprobe = numCells equals brute force bit-for-bit") {
    val pred = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(embs, pred, 10)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val ivfAll = Similarity.ivfTopK(embs, pred, 10,
        numCells = 8, nprobe = 8)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(exact.nonEmpty)
    assert(ivfAll == exact)   // exact floats, not approx
  }

  test("tiled brute-force top-k equals single-tile result row-for-row") {
    val pred = col("vec_id") % 50 === 0
    val single = Similarity.bruteForceTopK(embs, pred, 10,
        tileRows = Int.MaxValue)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    // tiny tile bound forces many tiles (~7 queries per tile at sf0.001)
    val tiled = Similarity.bruteForceTopK(embs, pred, 10, tileRows = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(single.nonEmpty)
    assert(tiled == single)
  }

  test("LSH with numPlanes = 0 (one bucket) equals brute force bit-for-bit") {
    val pred = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(embs, pred, 10)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val lshAll = Similarity.lshTopK(embs, pred, 10, numPlanes = 0)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(exact.nonEmpty)
    assert(lshAll == exact)
  }

  test("multi-probe LSH: recall vs brute force is monotone in probe radius") {
    val pred = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(embs, pred, 10)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(flips: Int): Double = {
      val got = Similarity.lshTopKMultiProbe(embs, pred, 10,
          numPlanes = 4, flips = flips)
        .select("query_id", "cand_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.keys.toSeq.map { q =>
        got.get(q).map(a => (a & exact(q)).size).getOrElse(0)
      }.sum.toDouble / (exact.size * 10)
    }
    val r0 = recall(0); val r1 = recall(1); val r2 = recall(2)
    // candidates only get added as the Hamming ball grows, and exact
    // scoring makes top-k overlap monotone in the candidate set
    withClue(s"recalls $r0 / $r1 / $r2: ") {
      assert(r1 >= r0 && r2 >= r1)
      assert(r2 > r0)   // the wider ball must actually help on this corpus
    }
  }

  test("IVF index built once serves multiple query batches identically to inline runs") {
    val idx = Similarity.buildIvfIndex(embs, numCells = 8, iters = 2)
    for (m <- Seq(50L, 37L)) {
      val pred = col("vec_id") % m === 0
      val fromIndex = Similarity.ivfQuery(idx, pred, 10, nprobe = 3)
        .orderBy("query_id", "rank")
        .as[(Long, Int, Long, Double)].collect().toSeq
      val inline = Similarity.ivfTopK(embs, pred, 10,
          numCells = 8, nprobe = 3)
        .orderBy("query_id", "rank")
        .as[(Long, Int, Long, Double)].collect().toSeq
      assert(fromIndex.nonEmpty)
      withClue(s"pred %$m: ") { assert(fromIndex == inline) }
    }
  }

  test("IVF probe subset: every query answered, results drawn from exact ranking") {
    val pred = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(embs, pred, 10)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivf = Similarity.ivfTopK(embs, pred, 10, numCells = 8, nprobe = 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(ivf.keySet == exact.keySet) // no query starves
    val avgOverlap = exact.keys.toSeq.map { q =>
      ivf.get(q).map(a => (a & exact(q)).size).getOrElse(0)
    }.sum.toDouble / exact.size
    // 3 of 8 cells probed: coarse recall on a near-orthogonal corpus —
    // assert the mechanism retrieves real neighbors, not a tuned number
    withClue(s"avg top-10 overlap $avgOverlap: ") { assert(avgOverlap >= 1.0) }
  }

  test("exact dedup finds exactly the planted duplicate groups") {
    val planted = docs.select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val groups = Dedup.exactGroups(planted, "doc_id", "text").collect()
    val expected = docs.filter(col("doc_id") % 10 === 0).count()
    assert(groups.length == expected)
    assert(groups.forall(_.getAs[Long]("n_copies") == 2))
  }

  test("requireUniqueIds passes unique input and rejects duplicated ids") {
    val d = docs
    assert(Dedup.requireUniqueIds(d, "doc_id") eq d)
    val doubled = docs.unionByName(docs.limit(3))
    val e = intercept[IllegalArgumentException] {
      Dedup.requireUniqueIds(doubled, "doc_id")
    }
    assert(e.getMessage.contains("3 duplicate"))
  }

  test("redact: planted contacts are counted and fully scrubbed") {
    import graft.text.TextAnalysis
    val dirty = docs.withColumn("dirty", concat(col("text"),
      lit(" mail a.b-c_d@sub.example.co see http://x.org/p%20q and"),
      lit(" https://y.net/a_b ring +44-207-946-0958 or +1-555-0142"),
      lit(" box 10.0.312.7 v1.2.3 ver 1.2.3.4.5")))
    val r = TextAnalysis.redact(dirty, "dirty")
    // 10.0.312.7 IS redacted (shape-, not range-, checked); glued
    // v1.2.3 isn't (\b); the 5-run over-redacts its first 4 octets
    assert(r.filter(col("n_emails") =!= 1 || col("n_urls") =!= 2 ||
      col("n_phones") =!= 2 || col("n_ips") =!= 2).count() == 0)
    // nothing matchable survives in the redacted text
    assert(r.filter(
      regexp_count(col("redacted"), lit(TextAnalysis.EmailRe)) > 0 ||
      regexp_count(col("redacted"), lit(TextAnalysis.UrlRe)) > 0 ||
      regexp_count(col("redacted"), lit(TextAnalysis.PhoneRe)) > 0)
      .count() == 0)
    val red = r.head().getAs[String]("redacted")
    assert(red.contains("<EMAIL>") && red.contains("<PHONE>") &&
      red.contains("v1.2.3") && red.contains("<IP>.5"))
  }

  test("repetition: duplicate 3-grams are counted, clean docs score zero") {
    import graft.text.TextAnalysis
    val df = Seq(
      (1L, "one two three four five six"),            // all grams unique
      (2L, "a b c a b c a b c"),                      // heavy repetition
      (3L, "x")                                       // single short gram
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(df)
      .select("doc_id", "n_grams", "n_distinct_grams", "dup_gram_frac")
      .as[(Long, Int, Int, Double)].collect().sortBy(_._1)
    assert(r(0)._4 == 0.0)
    assert(r(1)._2 > r(1)._3 && r(1)._4 > 0.5)        // 7 grams, 3 distinct
    assert(r(2)._2 == 1 && r(2)._4 == 0.0)
  }

  test("qualityGate: word-count, word-length and symbol rules gate keep") {
    import graft.text.TextAnalysis
    val longOk = ("word " * 50).trim
    val df = Seq(
      (1L, longOk),                                   // passes all rules
      (2L, "too short"),                              // n_words < 30
      (3L, ("@@@@@ " * 50).trim),                     // symbol ratio high
      (4L, ""),                                       // empty text
      (5L, "   ")                                     // whitespace only
    ).toDF("doc_id", "text")
    val r = TextAnalysis.qualityGate(df)
      .select("doc_id", "n_words", "keep")
      .as[(Long, Int, Boolean)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(1L)._2 && !r(2L)._2 && !r(3L)._2)
    // the phantom empty token of split('') must not count as a word
    assert(r(4L) == ((0, false)) && r(5L) == ((0, false)))
  }

  test("labelCentroids: constant vectors yield the vector, quantized grid is exact") {
    val df = Seq(
      (1L, Seq(0.5f, -0.25f), 7),
      (2L, Seq(0.5f, -0.25f), 7),
      (3L, Seq(1.0f, 1.0f), 8)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.labelCentroids(df)
      .select("label", "pos", "mean_x", "n")
      .as[(Int, Int, Double, Long)].collect()
      .map { case (l, p, m, n) => ((l, p), (m, n)) }.toMap
    // 0.5 and -0.25 sit on the 2^-24 grid — means are exact
    assert(r((7, 0)) == ((0.5, 2L)) && r((7, 1)) == ((-0.25, 2L)))
    assert(r((8, 0)) == ((1.0, 1L)))
  }

  test("nearestCentroidClassify equals an independent integer re-derivation; " +
      "accuracy clears the chance floor") {
    val emb = Tables.embeddings(spark, sf001)
    val got = Similarity.nearestCentroidClassify(emb)
      .select("vec_id", "pred_label", "dist_sq", "is_correct")
      .as[(Long, Int, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // independent truth: plain-Scala grid snap, integer centroid,
    // BIGINT argmin — no Spark expressions shared with the operator
    val rows = emb.select("vec_id", "label", "embedding")
      .as[(Long, Int, Seq[Float])].collect()
    def snap(v: Seq[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 16777216.0).toLong +
        16777216L).toArray
    val byLabel = rows.groupBy(_._2)
    val cents = byLabel.map { case (l, rs) =>
      val gs = rs.map(r => snap(r._3))
      val n = gs.length.toLong
      l -> Array.tabulate(gs.head.length) { i =>
        val s = gs.map(_(i)).sum
        (2 * s + n) / (2 * n)   // nonnegative → truncation ≡ floor
      }
    }
    rows.foreach { case (id, label, v) =>
      val g = snap(v)
      val best = cents.map { case (l, c) =>
        (g.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, l)
      }.min
      val (predL, distSq, correct) = got(id)
      assert((distSq, predL) == best, s"vec $id")
      assert(correct == (if (predL == label) 1 else 0))
    }
    val acc = got.values.count(_._3 == 1).toDouble / got.size
    assert(acc > 0.3, s"accuracy $acc vs 0.1 chance over 10 labels")
    assert(got.values.map(_._1).toSet.size == 10, "every prototype used")
  }

  test("multimodal decode: per-partition batching yields typed metadata") {
    implicit val s = spark
    val meta = Multimodal.decodeMeta(
      Multimodal.assetsFromText(docs, "doc_id", "text")).collect()
    assert(meta.length == docs.count())
    assert(meta.forall(m => m.width >= 1 && m.width <= 640))
    assert(meta.forall(m => m.n_sampled_frames == (m.n_frames + 4) / 5))
    val videos = meta.filter(_.media_type == "video")
    assert(videos.nonEmpty && videos.forall(_.n_frames >= 1))
    assert(meta.filter(_.media_type != "video").forall(_.n_frames == 1))
  }

  test("one-pass MinHash UDAF equals the cross-join signature path") {
    val sh = Dedup.shingles(docs.limit(100), "doc_id", "text")
    val dict = Dedup.shingleDictionary(sh)
    val enc = sh.join(dict, Seq("shingle")).select("id", "sid").cache()
    val viaAgg = Dedup.minhashSignaturesAgg(enc, 16)
      .select(col("id"), expr("posexplode(sigs) AS (k, minhash)"))
      .select("id", "k", "minhash")
      .as[(Long, Int, Long)].collect().toSet
    val viaJoin = Dedup.minhashSignatures(enc, 16)
      .as[(Long, Long, Long)].collect()
      .map { case (i, k, m) => (i, k.toInt, m) }.toSet
    assert(viaAgg == viaJoin)
    // and the banded candidates agree too
    val c1 = Dedup.lshCandidatesFromSigs(
      Dedup.minhashSignaturesAgg(enc, 16), 2, 16)
      .as[(Long, Long)].collect().toSet
    val c2 = Dedup.lshCandidates(Dedup.minhashSignatures(enc, 16), 2)
      .as[(Long, Long)].collect().toSet
    assert(c1 == c2)
  }

  test("banded simhash pairing equals the naive cross-join pair scan") {
    val sh = Dedup.shingles(docs.limit(120), "doc_id", "text")
    val dict = Dedup.shingleDictionary(sh)
    val enc = sh.join(dict, Seq("shingle")).select("id", "sid")
    val sk = Dedup.simhash(enc, 32).cache()
    val banded = Dedup.simhashPairs(sk, maxDist = 6)
      .as[(Long, Long, Int)].collect().toSet
    val naive = {
      val a = sk.select(col("id").as("id1"), col("simhash").as("h1"))
      val b = sk.select(col("id").as("id2"), col("simhash").as("h2"))
      a.crossJoin(b).filter(col("id1") < col("id2"))
        .withColumn("hamming", bit_count(expr("h1 ^ h2")))
        .filter(col("hamming") <= 6)
        .select("id1", "id2", "hamming")
        .as[(Long, Long, Int)].collect().toSet
    }
    assert(banded == naive)
  }

  test("simhash: identical docs get identical sketches") {
    val sh = Dedup.shingles(docs.limit(50), "doc_id", "text")
    val dict = Dedup.shingleDictionary(sh)
    val enc = sh.join(dict, Seq("shingle")).select("id", "sid")
    val sk1 = Dedup.simhash(enc, 32).orderBy("id").collect()
    val sk2 = Dedup.simhash(enc, 32).orderBy("id").collect()
    assert(sk1.sameElements(sk2))
  }

  test("pipeline_curate: every composed branch is live on the planted corpus") {
    val out = SparkEntry.queries("pipeline_curate")(spark, sf0001)
      .as[(Long, Boolean, Boolean, Boolean, Boolean, String)].collect()
    assert(out.exists(!_._2), "gate rejects nothing")
    assert(out.exists(_._3), "no exact dup (planting broken)")
    assert(out.exists(r => r._4 && !r._3), "no organic near-dup loser")
    assert(out.exists(_._5), "nothing admitted")
    // every planted copy is an exact dup, a near loser, and rejected
    val planted = out.filter(_._1 >= 100000L)
    assert(planted.nonEmpty && planted.forall(r => r._3 && r._4 && !r._5))
    assert(out.map(_._6).distinct.sorted.toSeq == Seq("test", "train"))
  }

  test("pipeline_curate_v2: semantic stage only demotes — v1 verdicts preserved") {
    val v1 = SparkEntry.queries("pipeline_curate")(spark, sf0001)
      .as[(Long, Boolean, Boolean, Boolean, Boolean, String)].collect()
      .map(r => r._1 -> r).toMap
    val v2 = SparkEntry.queries("pipeline_curate_v2")(spark, sf0001)
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, String)]
      .collect()
    assert(v2.length === v1.size)
    v2.foreach { r =>
      val (id, q, ex, near, sem, adm, split) = (r._1, r._2, r._3, r._4,
        r._5, r._6, r._7)
      val b = v1(id)
      // shared stages byte-identical to v1
      assert((q, ex, near, split) === ((b._2, b._3, b._4, b._6)))
      // v2 admits exactly v1's admits minus semantic losers
      assert(adm === (b._5 && !sem))
      // planted copies (no embedding row) are never semantic losers
      if (id >= 100000L) assert(!sem)
    }
    // the semantic stage does real work on the organic corpus
    assert(v2.exists(r => r._5 && r._6 == false && v1(r._1)._5),
      "semantic stage demoted nothing that v1 admitted")
  }

  test("containment catches prefix-contained docs that jaccard misses") {
    import graft.dedup.Dedup
    import graft.queries.Planting
    val base = docs.select("doc_id", "text")
    val planted = base.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + Planting.Offset).as("doc_id"),
        array_join(slice(split(lower(trim(col("text"))), " +"), 1, 15), " ")
          .as("text"))
    val sh = Dedup.shingles(base.unionByName(planted), "doc_id", "text")
    val cont = Dedup.containmentPairsFromShingles(sh, 0.8)
      .as[(Long, Long, Long, Double)].collect()
    // every planted prefix is FULLY contained in its source doc
    val prefixToSource = cont.filter(r =>
      r._1 >= Planting.Offset && r._2 == r._1 - Planting.Offset)
    assert(prefixToSource.nonEmpty)
    assert(prefixToSource.forall(_._4 == 1.0))
    // and jaccard at the same threshold misses at least one of them
    val jac = Dedup.jaccardPairsFromShingles(sh, 0.8)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (math.min(r._1, r._2), math.max(r._1, r._2))).toSet
    assert(prefixToSource.exists(r =>
      !jac.contains((math.min(r._1, r._2), math.max(r._1, r._2)))),
      "jaccard found every containment pair — planted docs too short")
  }

  test("text_decontaminate_bloom equals text_decontaminate row-for-row") {
    val exact = SparkEntry.queries("text_decontaminate")(spark, sf0001)
      .collect()
    val bloom = SparkEntry.queries("text_decontaminate_bloom")(spark, sf0001)
      .collect()
    assert(bloom.sameElements(exact))
  }
}
