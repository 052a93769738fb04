package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ArrayDotProduct.array_dot
import graft.streaming.SourceGuard

/** Custom expression + source-guard unit tests. */
class FunctionsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("array_dot: codegen'd sequential dot product") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.5, -0.5), Array(2.0, 2.0)))
      .toDF("a", "b")
    val got = df.select(array_dot(col("a"), col("b"))).as[Double].collect()
    assert(got.toSeq == Seq(32.0, 0.0))
    // null array → null result; interpreted path agrees with codegen
    val withNull = Seq((Some(Array(1.0)), None: Option[Array[Double]]))
      .toDF("a", "b")
    assert(withNull.select(array_dot(col("a"), col("b")))
      .collect().head.isNullAt(0))
  }

  test("array_dot matches the HOF fold bit-for-bit on real embeddings") {
    val e = Tables.embeddings(spark, sf0001).limit(50)
      .withColumn("vd", expr("transform(embedding, x -> cast(x AS double))"))
    val both = e.select(
      array_dot(col("vd"), col("vd")).as("fast"),
      expr("aggregate(zip_with(vd, vd, (x, y) -> x * y), cast(0.0 AS double), (acc, x) -> acc + x)")
        .as("ref")).as[(Double, Double)].collect()
    assert(both.forall { case (f, r) => f == r })   // exact, not approx
  }

  test("array_dot registers for SQL use (session + extensions class)") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(r == 11.0)
    // the extensions injector constructs cleanly (cluster wiring path)
    new graft.functions.GraftExtensions()
  }

  test("array_dot_i8: byte kernel matches the double HOF path on real codes") {
    import graft.functions.ArrayDotI8.array_dot_i8
    val e = Tables.embeddings(spark, sf0001).limit(50)
      .withColumn("q8", graft.sim.Quantize.q8Codes(col("embedding"), 64))
    val both = e.select(
      array_dot_i8(col("q8"), col("q8")).as("fast"),
      expr("""aggregate(
                zip_with(q8, q8, (x, y) -> cast(x AS bigint) * cast(y AS bigint)),
                0L, (acc, v) -> acc + v)""").as("ref"))
      .as[(Long, Long)].collect()
    assert(both.forall { case (f, r) => f == r })
    // null array → null; null elements contribute zero; ragged-safe
    // (Seq[Byte], not Array[Byte]: the latter encodes as BinaryType)
    val edge = Seq(
      (Some(Seq[Byte](127, -128)), Some(Seq[Byte](127, -128, 5))),
      (Some(Seq[Byte](1)), None))
      .toDF("a", "b")
    val rows = edge.select(array_dot_i8(col("a"), col("b"))).collect()
    assert(rows(0).getLong(0) == 127L * 127 + 128L * 128)
    assert(rows(1).isNullAt(0))
    // SQL registration
    graft.functions.GraftFunctions.registerAll(spark)
    val s = spark.sql(
      """SELECT array_dot_i8(array(CAST(2 AS TINYINT), CAST(-3 AS TINYINT)),
                             array(CAST(4 AS TINYINT), CAST(5 AS TINYINT))) AS d""")
      .as[Long].head()
    assert(s == -7L)
  }

  test("SourceGuard.retry: recovers after transient failures, None after budget") {
    var calls = 0
    val ok = SourceGuard.retry(3, 0, _ => ()) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      42
    }
    assert(ok.contains(42) && calls == 3)
    assert(SourceGuard.retry(2, 0, _ => ())(throw new RuntimeException("x"))
      .isEmpty)
  }

  test("SourceGuard.RateLimiter: spaces acquisitions at the configured rate") {
    var now = 0L
    var slept = 0L
    val rl = new SourceGuard.RateLimiter(2.0, () => now, ms => slept += ms)
    rl.acquire()            // first: free
    rl.acquire()            // second: must wait 500ms
    assert(slept == 500L)
  }

  test("SafeCasts.tryToInt/tryToLong agree with bare try_cast on adversarial strings") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.functions.SafeCasts
    val adversarial: Gen[String] = Gen.oneOf(
      Gen.choose(Int.MinValue, Int.MaxValue).map(_.toString),
      Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString), // int overflow
      Gen.const("99999999999999999999999"),                     // long overflow
      Gen.oneOf("", " ", "+", "-", "1-URGENT", "12.5", "1e3", "0x1f",
        " 42 ", "+7", "-0", "007", "nan", "null", "\t9\n",
        // Spark's cast trims every byte <= 0x20, wider than regex \s —
        // and does NOT trim non-breaking space (0xA0)
        "\u000142", "\u001f42\u0002", "\u00a042", "\u000b 7 \u0000"),
      Gen.listOf(Gen.oneOf(Gen.numChar, Gen.alphaChar,
        Gen.choose(0.toChar, 0x20.toChar),
        Gen.oneOf(' ', '.', '-', '+', '\u00a0'))).map(_.mkString))
    val prop = Prop.forAll(Gen.listOfN(40, adversarial)) { ss =>
      val df = ss.toDF("s")
      val got = df.select(
        SafeCasts.tryToInt(col("s")).as("gi"),
        col("s").try_cast("int").as("ri"),
        SafeCasts.tryToLong(col("s")).as("gl"),
        col("s").try_cast("bigint").as("rl"))
        .collect()
      got.forall(r => r.get(0) == r.get(1) && r.get(2) == r.get(3))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("SafeCasts.tryToDate agrees with bare try_to_date on mixed-format input") {
    import graft.functions.SafeCasts
    val inputs = Seq("1995.01.03", "1995-01-03", "1995.1.3", "1995.13.40",
      " 1995.01.03 ", "01.03.1995", "", "garbage", "1995.01", "1995.01.03.04",
      "19950103", "0000.00.00",
      // 7+-digit years: java.time's year segment takes up to 19 digits,
      // so the guard must admit them too (ADVICE r3)
      "1234567.01.03", "1234567890123456789.01.03").toDF("s")
    val rows = inputs.select(
      SafeCasts.tryToDate(col("s"), "yyyy.MM.dd").as("g"),
      try_to_date(col("s"), "yyyy.MM.dd").as("r")).collect()
    assert(rows.forall(r => r.get(0) == r.get(1)),
      rows.map(r => (r.get(0), r.get(1))).mkString(", "))
  }

  test("word_ngrams: codegen matches the interpreted HOF composition bit-for-bit") {
    import graft.functions.WordNGrams.word_ngrams
    val hof = expr("""transform(
        sequence(0, greatest(size(ts) - 3, 0)),
        i -> concat_ws(' ', slice(ts, i + 1, 3)))""")
    // real corpus: every document's token array
    val docs = Tables.documents(spark, sf001)
      .select(split(lower(trim(col("text"))), " +").as("ts"))
    // null-SAFE inequality: a null-vs-array divergence must count as a
    // mismatch, not vanish into a three-valued-logic NULL
    val mism = docs.select(word_ngrams(col("ts"), 3).as("fast"), hof.as("ref"))
      .filter(!(col("fast") <=> col("ref"))).count()
    assert(mism == 0)
    // edge shapes: empty, shorter-than-n, exactly-n, null elements
    val edge = Seq(
      Seq.empty[String],
      Seq("a"),
      Seq("a", "b"),
      Seq("a", "b", "c"),
      Seq("a", "b", "c", "d")).toDF("ts")
    val pairs = edge.select(word_ngrams(col("ts"), 3).as("fast"), hof.as("ref"))
      .as[(Seq[String], Seq[String])].collect()
    pairs.foreach { case (f, r) => assert(f == r, s"$f != $r") }
    assert(pairs(0)._1 == Seq(""))            // empty array → one empty gram
    assert(pairs(1)._1 == Seq("a"))           // partial gram for short docs
    assert(pairs(4)._1 == Seq("a b c", "b c d"))
    // null array → null; null elements skipped like concat_ws
    val withNulls = Seq(
      (Some(Seq(Some("a"), None, Some("c")))),
      (None: Option[Seq[Option[String]]])).toDF("ts")
    val nres = withNulls.select(word_ngrams(col("ts"), 3)).collect()
    assert(nres(0).getSeq[String](0) == Seq("a c"))
    assert(nres(1).isNullAt(0))
  }

  test("md5_feature_sum: fused kernel matches the aggregate∘transform " +
      "composition bit-for-bit") {
    import graft.functions.Md5FeatureSum
    val D = graft.text.LinearClassifier.D
    def weight(salt: String, inner: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit(salt), inner)), 1, 4), 16, 10)
        .cast("long") % D * lit(2654435761L) % 4001L - 2000L
    def uniRef(ts: org.apache.spark.sql.Column) =
      aggregate(transform(ts, t => weight("u:", t)), lit(0L), (a, x) => a + x)
    def biRef(ts: org.apache.spark.sql.Column) = {
      val n = size(ts)
      when(n >= 2, aggregate(
          transform(sequence(lit(0), n - 2), i => weight("b:",
            concat(element_at(ts, i + 1), lit(" "), element_at(ts, i + 2)))),
          lit(0L), (a, x) => a + x))
        .otherwise(0L)
    }
    // real corpus: every document's token array
    val docs = Tables.documents(spark, sf001)
      .select(graft.text.Tokens.ws("text").as("ts"))
    val mism = docs.select(
        Md5FeatureSum.uni(col("ts"), "u:", D).as("fu"), uniRef(col("ts")).as("ru"),
        when(isnull(col("ts")), lit(0L))
          .otherwise(Md5FeatureSum.bi(col("ts"), "b:", D)).as("fb"),
        biRef(col("ts")).as("rb"))
      .filter(!(col("fu") <=> col("ru")) || !(col("fb") <=> col("rb"))).count()
    assert(mism == 0)
    // edge shapes: empty, one token, two tokens, unicode, null array,
    // null element
    val edge = Seq(
      Some(Seq(Some("a"))), Some(Seq.empty[Option[String]]),
      Some(Seq(Some("a"), Some("b"))),
      Some(Seq(Some("héllo"), Some("wörld"), Some("日本"))),
      None, Some(Seq(Some("a"), None, Some("c")))).toDF("ts")
    val pairs = edge.select(
        Md5FeatureSum.uni(col("ts"), "u:", D).as("fu"), uniRef(col("ts")).as("ru"),
        when(isnull(col("ts")), lit(0L))
          .otherwise(Md5FeatureSum.bi(col("ts"), "b:", D)).as("fb"),
        biRef(col("ts")).as("rb")).collect()
    pairs.foreach { r =>
      assert(r.get(0) == r.get(1), s"uni: ${r.get(0)} != ${r.get(1)}")
      assert(r.get(2) == r.get(3), s"bi: ${r.get(2)} != ${r.get(3)}")
    }
  }

  test("hashed_word_ngrams: aligned with word_ngrams and injective on " +
      "equal windows") {
    import graft.functions.HashedWordNGrams.hashed_word_ngrams
    import graft.functions.WordNGrams.word_ngrams
    // every (gram string, window hash) pair over the real corpus: one
    // hash per gram (alignment), and any two positions with the same
    // gram string must carry the same hash (the no-miss prefilter
    // contract of PassageDedup's phase 1)
    val docs = Tables.documents(spark, sf001)
      .select(graft.text.Tokens.ws("text").as("ts"))
      .filter(size(col("ts")) >= 12)
    val zipped = docs.select(posexplode(zip_with(
        word_ngrams(col("ts"), 12), hashed_word_ngrams(col("ts"), 12),
        (g, h) => struct(g.as("gram"), h.as("h")))))
      .select(col("col.gram").as("gram"), col("col.h").as("h"))
    val badAlign = docs.select(
        (size(word_ngrams(col("ts"), 12)) =!=
          size(hashed_word_ngrams(col("ts"), 12))).as("bad"))
      .filter(col("bad")).count()
    assert(badAlign == 0)
    val multiHash = zipped.groupBy("gram")
      .agg(countDistinct(col("h")).as("nh")).filter(col("nh") > 1).count()
    assert(multiHash == 0)
    // null array → null, mirroring word_ngrams
    val nres = Seq((None: Option[Seq[String]])).toDF("ts")
      .select(hashed_word_ngrams(col("ts"), 3)).collect()
    assert(nres(0).isNullAt(0))
  }

  test("bpe_encode: fused kernel matches the composable replace chain " +
      "bit-for-bit") {
    import graft.text.Bpe
    // real corpus (includes the fix-encoding mojibake shapes)
    val docs = Tables.documents(spark, sf001)
      .select(coalesce(col("text"), lit("")).as("t"))
    val mism = docs.select(
        Bpe.tokens(col("t")).as("fast"),
        Bpe.tokensComposable(col("t"), Bpe.Merges).as("ref"))
      .filter(!(col("fast") <=> col("ref"))).count()
    assert(mism == 0)
    // adversarial shapes: sentinel bytes in input, unicode + surrogate
    // pairs, newlines/tabs, repeated-operand runs, uppercase folding,
    // spaces everywhere, empty, null
    val edge = Seq(
      Some(""), Some(" "), Some("   "), Some("a"), Some("THE THEME"),
      Some("t" * 30), Some("ererer"), Some("that"),
      Some(""), Some("héllo wörld"), Some("日本語 text"),
      Some("emoji 😀 pair"), Some("line1\nline2\tend\r"),
      Some("that that forfor "), Some("of of of"),
      None).toDF("t")
    val rows = edge.select(
        Bpe.tokens(col("t")).as("fast"),
        Bpe.tokensComposable(col("t"), Bpe.Merges).as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.get(0) == r.get(1), s"${r.get(0)} != ${r.get(1)}")
    }
    // a trained/loaded table goes through the same kernel — exercise a
    // non-frozen table incl. an operand pair sharing a product prefix
    val tbl = Vector(("a", "b"), ("ab", "ab"), ("c", "c"))
    val rows2 = edge.select(
        Bpe.tokens(col("t"), tbl).as("fast"),
        Bpe.tokensComposable(col("t"), tbl).as("ref"))
      .collect()
    rows2.foreach { r =>
      assert(r.get(0) == r.get(1), s"${r.get(0)} != ${r.get(1)}")
    }
    val abab = Seq("ababab ccc abab").toDF("t").select(
        Bpe.tokens(col("t"), tbl).as("fast"),
        Bpe.tokensComposable(col("t"), tbl).as("ref"))
      .collect()
    abab.foreach { r =>
      assert(r.get(0) == r.get(1), s"${r.get(0)} != ${r.get(1)}")
    }
  }

  test("del_signatures: kernel set equals the mask-join CASE expression's " +
      "deduplicated signatures") {
    import graft.functions.DeletionSignatures.del_signatures
    val len = 9
    // reference: the r20 mask-join rendering, deduplicated per row
    val maskRows: Seq[(Int, Int)] =
      Seq((0, 0)) ++ (1 to len).map((0, _)) ++
        (for { i <- 1 to len; j <- i + 1 to len } yield (i, j))
    val masks = broadcast(maskRows.toDF("__mi", "__mj"))
    val sigExpr = expr(
      s"""CASE WHEN __mi = 0 AND __mj = 0 THEN __w
              WHEN __mi = 0 THEN concat(substring(__w, 1, __mj - 1),
                                        substring(__w, __mj + 1, $len))
              ELSE concat(substring(__w, 1, __mi - 1),
                          substring(__w, __mi + 1, __mj - __mi - 1),
                          substring(__w, __mj + 1, $len)) END""")
    // windows incl. repeats (duplicate-signature source), unicode,
    // and the real customer-name tail digits
    val wins = Seq("123456789", "111111111", "120021003", "ab¢def€hi",
      "000000000", "987654321").toDF("__w")
      .unionByName(Tables.customer(spark, sf001)
        .select(substring(col("c_name"), 10, 9).as("__w"))
        .filter(length(col("__w")) === len).limit(200))
    val ref = wins.crossJoin(masks).select(col("__w"), sigExpr.as("s"))
      .groupBy("__w").agg(sort_array(collect_set(col("s"))).as("ref"))
    val fast = wins.select(col("__w"),
        sort_array(array_distinct(del_signatures(col("__w"), len))).as("fast"))
      .groupBy("__w").agg(first(col("fast")).as("fast"))
    val mism = fast.join(ref, Seq("__w"))
      .filter(!(col("fast") <=> col("ref"))).count()
    assert(mism == 0)
    // the kernel's own array is already distinct
    val dup = wins.select(
        (size(del_signatures(col("__w"), len)) =!=
          size(array_distinct(del_signatures(col("__w"), len)))).as("d"))
      .filter(col("d")).count()
    assert(dup == 0)
  }

  test("multi_match: automaton matches the composable filter∘contains bit-for-bit") {
    import graft.functions.MultiMatch.multi_match
    val ps = Seq("slow fast", "table table", "hash value", "agg join",
      "scan scan", "zebra quartz")
    val hof = filter(
      array(ps.map(lit): _*), p => contains(col("text"), p))
    // real corpus: every document
    val docs = Tables.documents(spark, sf001)
      .select(coalesce(col("text"), lit("")).as("text"))
    val mism = docs
      .select(multi_match(col("text"), ps).as("fast"), hof.as("ref"))
      .filter(!(col("fast") <=> col("ref"))).count()
    assert(mism == 0)
    // adversarial shapes: overlapping patterns, pattern-inside-pattern,
    // suffix/prefix sharing, repeated hits, match at both ends
    val ps2 = Seq("aba", "ab", "babc", "c", "xy")
    val hof2 = filter(array(ps2.map(lit): _*), p => contains(col("t"), p))
    val edge = Seq("ababc", "", "aba", "cxy", "zzz", "ababab")
      .toDF("t")
    val pairs = edge
      .select(multi_match(col("t"), ps2).as("fast"), hof2.as("ref"))
      .as[(Seq[String], Seq[String])].collect()
    pairs.foreach { case (f, r) => assert(f == r, s"$f != $r") }
    assert(pairs(0)._1 == Seq("aba", "ab", "babc", "c")) // all but xy
    assert(pairs(5)._1 == Seq("aba", "ab"))              // overlap chain
    // null text → null
    val nres = Seq(Option.empty[String]).toDF("t")
      .select(multi_match(col("t"), ps2)).collect()
    assert(nres(0).isNullAt(0))
  }

  test("nfc_normalize: composes NFD, preserves ASCII, idempotent, null-safe") {
    import graft.functions.NfcNormalize.nfc_normalize
    val rows = Seq(
      Some("Café"),          // NFD: must compose to é
      Some("Café"),           // already NFC: unchanged
      Some("plain ascii 123"),     // ASCII fast path: unchanged
      Some(""),                    // empty
      None).toDF("t")
    val got = rows.select(nfc_normalize(col("t")).as("n"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(got(0) == "Caf\u00e9")
    assert(got(1) == "Caf\u00e9")
    assert(got(2) == "plain ascii 123")
    assert(got(3) == "")
    assert(got(4) == null)
    // idempotent: nfc(nfc(x)) == nfc(x) over real corpus + planted rows
    val docs = Tables.documents(spark, sf001).select(col("text").as("t"))
      .unionByName(rows.filter(col("t").isNotNull))
    val mism = docs.select(nfc_normalize(col("t")).as("once"),
        nfc_normalize(nfc_normalize(col("t"))).as("twice"))
      .filter(!(col("once") <=> col("twice"))).count()
    assert(mism == 0)
    // SQL registration (session path)
    graft.functions.GraftFunctions.registerAll(spark)
    assert(spark.sql("SELECT nfc_normalize('Café') AS n")
      .head().getString(0) == "Café")
  }

  test("multi_match registers for SQL use; rejects non-constant patterns") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT multi_match('abcd', array('bc', 'xx', 'd')) AS m")
      .as[Seq[String]].head()
    assert(r == Seq("bc", "d"))
    val e = intercept[Exception] {
      spark.sql("SELECT multi_match(t, array(t)) FROM VALUES ('a') v(t)")
        .collect()
    }
    assert(e.getMessage.contains("constant"))
    // foldable-but-NULL patterns fail with a named error, not an NPE
    val eNullArr = intercept[Exception] {
      spark.sql("SELECT multi_match('x', CAST(NULL AS ARRAY<STRING>))")
        .collect()
    }
    assert(eNullArr.getMessage.contains("multi_match"))
    val eNullElem = intercept[Exception] {
      spark.sql("SELECT multi_match('x', array('a', CAST(NULL AS STRING)))")
        .collect()
    }
    assert(eNullElem.getMessage.contains("NULL elements"))
  }

  test("word_ngrams registers for SQL use (session + extensions)") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT word_ngrams(array('x', 'y', 'z'), 2) AS g")
      .as[Seq[String]].head()
    assert(r == Seq("x y", "y z"))
    // foldable (non-literal) and long-typed n both resolve statically
    val folded = spark.sql(
      "SELECT word_ngrams(array('x', 'y', 'z'), 1 + 1) AS g")
      .as[Seq[String]].head()
    assert(folded == Seq("x y", "y z"))
    // the extensions injector wires the SAME builder: drive it directly
    // with catalyst expressions, as the injected path would
    import org.apache.spark.sql.catalyst.expressions.Literal
    val viaBuilder = graft.functions.GraftFunctions.wordNGramsBuilder(Seq(
      Literal.create(Seq("p", "q"),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
      Literal(2L)))
    assert(viaBuilder.eval().asInstanceOf[
      org.apache.spark.sql.catalyst.util.ArrayData]
      .toObjectArray(org.apache.spark.sql.types.StringType)
      .map(_.toString).toSeq == Seq("p q"))
    new graft.functions.GraftExtensions()
  }

  test("SafeCasts rejects format letters its shape guard cannot model") {
    import graft.functions.SafeCasts
    // silently quoting 'S'/'a' as literals would make the guard reject
    // every row (all-NULL output); the contract is fail-fast instead
    val e = intercept[IllegalArgumentException](
      SafeCasts.tryToDate(col("x"), "HH:mm:ss.SSS"))
    assert(e.getMessage.contains("yMdHms"))
    intercept[IllegalArgumentException](
      SafeCasts.tryToDate(col("x"), "dd MMM yyyy a"))
  }
}
