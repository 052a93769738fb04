package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.WarcCodec
import graft.text.HtmlOps

/** Crawl-container ingestion conformance: REAL WARC (ISO 28500)
  * shard parsing ([[graft.sources.WarcCodec]] — plain and per-record
  * gzipped), HTTP response unwrapping, HTML → training-text
  * extraction, and the crawl→corpus composition `pipeline_curate_v11`
  * (fetch-status gate → extraction → quality gate → shard) — the
  * ingest front half of a web-scale pretraining pipeline, upstream of
  * every text operator in the engine.
  *
  * Fixture shards are synthesized from the documents table with a
  * deterministic record formula, so every record header, HTTP status,
  * extracted title/link/clean-text, and curated row is arithmetic the
  * DuckDB oracle recomputes verbatim (the HTML round-trips through
  * [[graft.text.HtmlOps]]'s shared Spark/DuckDB regex chain).
  *
  * Scale shape: files are the parallelism unit (binaryFile scan →
  * per-partition parse, one linear walk per shard); only projected
  * record columns leave the scan, never shard bytes. ~1 GB shards
  * (the Common Crawl layout) fit executor memory by design; the
  * per-record gzip members leave room for a sub-file splittable
  * streaming reader behind the same record schema. */
object WarcOps extends QueryModule {

  private val InfoBody = "software: graft-fixture\r\n"
  private val Date = "2026-01-01T00:00:00Z"
  private val NShards = 16

  /** The HTML of a doc's response — ONE formula, mirrored by
    * [[htmlSql]] (the no-copies rule). */
  private def htmlFor(id: Long, source: String, text: String): String =
    s"""<html><head><title>Doc $id</title></head><body><p>$text</p>""" +
      s"""<a href="https://$source.example.org/ref/${id % 7}">next""" +
      "</a></body></html>"

  /** The same HTML as a DuckDB expression over documents columns. */
  private def htmlSql: String =
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || " +
      "'</title></head><body><p>' || text || '</p><a href=\"https://'" +
      " || source || '.example.org/ref/' || " +
      "CAST(doc_id % 7 AS VARCHAR) || '\">next</a></body></html>'"

  private def uriFor(id: Long, source: String): String =
    s"https://$source.example.org/doc/$id"

  private val uriSql =
    "'https://' || source || '.example.org/doc/' || " +
      "CAST(doc_id AS VARCHAR)"

  private def pad8(id: Long): String = f"$id%08d"

  /** Plant WARC shards once per (session, dir): every doc becomes a
    * `response` record (HTTP 404 for %13 ids, 200 otherwise) in shard
    * file `crawl_{doc_id % 16}` — odd shards gzipped per-record, the
    * standard layout; %9 docs also write a `request` record and each
    * shard opens with a `warcinfo` record (both skipped by the
    * response filter but surfaced by `warc_ingest`). %21 docs serve
    * the IDENTICAL html again at a `/mirror/` URI (the classic crawl
    * duplication `pipeline_curate_v12` must collapse). %11 docs
    * deliver gzip-coded bodies, %17 chunked (%187 both),
    * %19-not-%11 deflate (zlib for even ids, raw for odd) — wire
    * encodings [[WarcCodec]] must strip before any oracle sees the
    * body. A corrupt shard (+Offset ids, truncated mid-record) MUST
    * parse to None and contribute nothing. */
  private def warcFixtureDir(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "warc_fixtures") { base =>
      val docs = Tables.documents(s, d)
      Planting.requireHeadroom(docs, "doc_id", "warc_ingest")
      val rows = docs.select("doc_id", "source", "text")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1)
      def respRecord(id: Long, source: String, text: String,
          off: Long = 0, mirror: Boolean = false): Array[Byte] = {
        val status = if (id % 13 == 0) 404 else 200
        val reason = if (status == 404) "Not Found" else "OK"
        val kind = if (mirror) "mir" else "doc"
        val uri =
          if (mirror) s"https://$source.example.org/mirror/${id + off}"
          else uriFor(id + off, source)
        // delivery encodings (wire-transparent: every downstream
        // oracle sees the identical decoded body): %11 docs arrive
        // Content-Encoding: gzip, %17 docs Transfer-Encoding: chunked
        // (with a chunk extension + trailer header), %187 both —
        // gzip-inside-chunked, the RFC layering real crawlers emit;
        // %19-not-%11 docs Content-Encoding: deflate (zlib-wrapped for
        // even ids, the real-crawl RAW-deflate bug form for odd)
        val defl = id % 19 == 0 && id % 11 != 0
        WarcCodec.encodeRecord("response",
          s"<urn:uuid:$kind-${pad8(id + off)}>", uri,
          Date, "application/http;msgtype=response",
          WarcCodec.encodeHttpResponse(status, reason,
            "text/html; charset=UTF-8",
            htmlFor(id + off, source, text).getBytes("UTF-8"),
            gzipBody = id % 11 == 0, chunked = id % 17 == 0,
            deflateBody = defl, rawDeflate = defl && id % 2 == 1))
      }
      (0 until NShards).foreach { shard =>
        val mine = rows.filter(_._1 % NShards == shard)
        val recs = Seq(WarcCodec.encodeRecord("warcinfo",
          f"<urn:uuid:info-$shard%02d>", "", Date,
          "application/warc-fields", InfoBody.getBytes("UTF-8"))) ++
          mine.flatMap { case (id, source, text) =>
            val req =
              if (id % 9 == 0)
                Seq(WarcCodec.encodeRecord("request",
                  s"<urn:uuid:req-${pad8(id)}>", uriFor(id, source),
                  Date, "application/http;msgtype=request",
                  (s"GET /doc/$id HTTP/1.1\r\nHost: " +
                    s"$source.example.org\r\n\r\n").getBytes("UTF-8")))
              else Seq.empty
            val mir =
              if (id % 21 == 0)
                Seq(respRecord(id, source, text, mirror = true))
              else Seq.empty
            (req :+ respRecord(id, source, text)) ++ mir
          }
        val gz = shard % 2 == 1
        val name = f"crawl_$shard%02d.warc" + (if (gz) ".gz" else "")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$base/$name"),
          WarcCodec.encodeWarc(recs, gzipped = gz))
      }
      // the corrupt shard: offset ids, cut mid-record — whole-file None
      val bad = WarcCodec.encodeWarc(rows.take(3).map {
        case (id, source, text) =>
          respRecord(id, source, text, off = Planting.Offset)
      }.toSeq, gzipped = false)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/crawl_bad.warc"),
        bad.take(bad.length - 20))
      base
    }

  /** All parsed records of a WARC directory as a DataFrame — the
    * engine's crawl-scan primitive. */
  def records(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.format("binaryFile").load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (_, bytes) =>
        WarcCodec.parseWarc(bytes).toSeq.flatten.map(r =>
          (r.recordId, r.warcType, r.targetUri, r.warcDate,
            r.httpStatus, r.contentType, r.body))
      }
      .toDF("record_id", "warc_type", "target_uri", "warc_date",
        "http_status", "content_type", "body")
  }

  // Container-walk conformance: every record of every shard (both
  // compressions), typed and sized; the corrupt shard contributes
  // nothing. The oracle reconstructs the full record inventory from
  // the planting formula.
  private def warcIngest(s: SparkSession, d: String): DataFrame =
    records(s, warcFixtureDir(s, d))
      .select(col("record_id"), col("warc_type"), col("target_uri"),
        col("http_status"), col("content_type"),
        length(col("body")).cast("int").as("n_bytes"))
      .orderBy("record_id")

  // HTTP unwrap + HTML extraction end-to-end: responses (any status)
  // → title / link set / clean text through HtmlOps' shared
  // Spark-DuckDB regex chain.
  private def warcExtract(s: SparkSession, d: String): DataFrame = {
    val resp = records(s, warcFixtureDir(s, d))
      .filter(col("warc_type") === "response")
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .as("__id"),
        col("http_status"), col("body").cast("string").as("html"))
      .filter(col("__id") =!= "")
      .select(col("__id").cast("long").as("doc_id"),
        col("http_status"), col("html"))
    val h = col("html")
    resp.select(col("doc_id"), col("http_status"),
      HtmlOps.title(h).as("title"),
      array_join(HtmlOps.links(h), "|").as("links"),
      HtmlOps.cleanText(h).as("clean_text"))
      .withColumn("n_chars_clean",
        length(col("clean_text")).cast("int"))
      .orderBy("doc_id")
  }

  // Curate v11 — the crawl→corpus composition, every stage rule from
  // its per-operator oracle: WARC ingest → fetch gate (HTTP 200) →
  // HTML text extraction → quality gate on the EXTRACTED text
  // (text_quality_gate's dials) → mixture shard. The front half of a
  // pretraining data pipeline, driven from container bytes.
  private def pipelineCurateV11(s: SparkSession, d: String): DataFrame = {
    val ext = records(s, warcFixtureDir(s, d))
      .filter(col("warc_type") === "response" &&
        col("http_status") === 200)
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .as("__id"),
        HtmlOps.cleanText(col("body").cast("string")).as("text"))
      .filter(col("__id") =!= "")
      .select(col("__id").cast("long").as("doc_id"), col("text"))
    graft.text.TextAnalysis.qualityGate(ext)
      .filter(col("keep"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"),
        graft.ops.Export.shardId(col("doc_id"), 8).as("shard"))
      .orderBy("doc_id")
  }

  // Curate v12 — v11 plus the stage real crawls need most: EXACT
  // content dedup across URLs (mirrors, tracking-param duplicates,
  // re-hosted pages serve byte-identical documents). The md5 of the
  // EXTRACTED text is the shuffle key — a 16-byte key next to
  // kilobyte documents — and each content group keeps its
  // lexicographically least URI, so mirrors collapse onto the
  // canonical /doc/ form before the quality gate spends anything on
  // them.
  private def pipelineCurateV12(s: SparkSession, d: String): DataFrame = {
    val resp = records(s, warcFixtureDir(s, d))
      .filter(col("warc_type") === "response" &&
        col("http_status") === 200)
      .select(col("target_uri"),
        HtmlOps.cleanText(col("body").cast("string")).as("text"))
    // materialize the content key ONCE: both window functions then
    // share a single hashpartitioning on __k (two inline md5(text)
    // specs would each project their own _w0 and shuffle twice)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k"))
    val kept = resp
      .withColumn("__k", md5(col("text")))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("__keep", min(col("target_uri")).over(w))
      .filter(col("target_uri") === col("__keep"))
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .as("__id"),
        col("n_copies"), col("text"))
      .filter(col("__id") =!= "")
      .select(col("__id").cast("long").as("doc_id"), col("n_copies"),
        col("text"))
    graft.text.TextAnalysis.qualityGate(kept)
      .filter(col("keep"))
      .select(col("doc_id"), col("n_copies"), col("n_words"),
        col("mean_word_len"), col("symbol_ratio"),
        graft.ops.Export.shardId(col("doc_id"), 8).as("shard"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "warc_ingest"          -> (warcIngest _),
    "warc_extract"         -> (warcExtract _),
    "pipeline_curate_v11"  -> (pipelineCurateV11 _),
    "pipeline_curate_v12"  -> (pipelineCurateV12 _))

  override val benchBuilds: Map[String, (SparkSession, String) => Unit] =
    Map("warc_build" -> ((s, d) => { warcFixtureDir(s, d); () }))

  private val crlf = "chr(13) || chr(10)"

  val oracles: Map[String, String] = Map(

    // the full record inventory from the planting formula: one
    // response per doc (404 at %13), one request per %9 doc, one
    // warcinfo per shard present — sizes recomputed byte-exact from
    // the same string formulas the planter wrote
    "warc_ingest" ->
      s"""WITH recs AS (
            SELECT '<urn:uuid:doc-' || lpad(CAST(doc_id AS VARCHAR), 8, '0')
                     || '>' AS record_id,
                   'response' AS warc_type,
                   $uriSql AS target_uri,
                   CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END
                     AS http_status,
                   'text/html; charset=UTF-8' AS content_type,
                   CAST(octet_length(encode($htmlSql)) AS INT) AS n_bytes
            FROM documents
            UNION ALL
            SELECT '<urn:uuid:req-' || lpad(CAST(doc_id AS VARCHAR), 8, '0')
                     || '>',
                   'request', $uriSql, 0,
                   'application/http;msgtype=request',
                   CAST(octet_length(encode(
                     'GET /doc/' || CAST(doc_id AS VARCHAR)
                     || ' HTTP/1.1' || $crlf || 'Host: ' || source
                     || '.example.org' || $crlf || $crlf)) AS INT)
            FROM documents WHERE doc_id % 9 = 0
            UNION ALL
            SELECT '<urn:uuid:mir-' || lpad(CAST(doc_id AS VARCHAR), 8, '0')
                     || '>',
                   'response',
                   'https://' || source || '.example.org/mirror/'
                     || CAST(doc_id AS VARCHAR),
                   CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END,
                   'text/html; charset=UTF-8',
                   CAST(octet_length(encode($htmlSql)) AS INT)
            FROM documents WHERE doc_id % 21 = 0
            UNION ALL
            SELECT '<urn:uuid:info-' || lpad(CAST(s AS VARCHAR), 2, '0')
                     || '>',
                   'warcinfo', '', 0, 'application/warc-fields',
                   ${InfoBody.getBytes("UTF-8").length}
            FROM (SELECT DISTINCT doc_id % $NShards AS s FROM documents))
          SELECT record_id, warc_type, target_uri, http_status,
                 content_type, n_bytes
          FROM recs ORDER BY record_id""",

    // title / links / clean text recomputed through HtmlOps' DuckDB
    // mirror of the identical regex chain over the reconstructed HTML
    "warc_extract" ->
      s"""WITH h AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END
                     AS http_status,
                   $htmlSql AS html
            FROM documents)
          SELECT doc_id, http_status,
                 ${HtmlOps.oracleTitleExpr("html")} AS title,
                 array_to_string(${HtmlOps.oracleLinksExpr("html")}, '|')
                   AS links,
                 ${HtmlOps.oracleCleanTextExpr("html")} AS clean_text,
                 CAST(length(${HtmlOps.oracleCleanTextExpr("html")})
                   AS INT) AS n_chars_clean
          FROM h ORDER BY doc_id""",

    // fetch gate (200 only) → extracted text → the SHARED quality
    // metric/keep fragments (text_quality_gate's dials verbatim, over
    // the EXTRACTED text) → the export shard rule
    "pipeline_curate_v11" ->
      s"""WITH h AS (
            SELECT doc_id, $htmlSql AS html
            FROM documents WHERE doc_id % 13 <> 0),
          ext AS (
            SELECT doc_id,
                   ${HtmlOps.oracleCleanTextExpr("html")} AS text
            FROM h),
          ${OracleCtes.tokCteFor("ext")},
          ${OracleCtes.qualityMetricsCte}
          SELECT doc_id, n_words, mean_word_len, symbol_ratio,
                 ${graft.ops.Export.shardIdSql("doc_id", 8)} AS shard
          FROM m
          WHERE ${OracleCtes.qualityKeepSql}
          ORDER BY doc_id""",

    // v11's chain plus the mirror collapse: kept rows are exactly the
    // /doc/ URIs (lexicographically least of each content group), and
    // n_copies = 2 for the %21 mirrored docs — straight from the
    // planting schedule
    "pipeline_curate_v12" ->
      s"""WITH h AS (
            SELECT doc_id, $htmlSql AS html,
                   CASE WHEN doc_id % 21 = 0 THEN CAST(2 AS BIGINT)
                        ELSE CAST(1 AS BIGINT) END AS n_copies
            FROM documents WHERE doc_id % 13 <> 0),
          ext AS (
            SELECT doc_id, n_copies,
                   ${HtmlOps.oracleCleanTextExpr("html")} AS text
            FROM h),
          ${OracleCtes.tokCteFor("ext")},
          ${OracleCtes.qualityMetricsCte}
          SELECT m.doc_id, e.n_copies, m.n_words, m.mean_word_len,
                 m.symbol_ratio,
                 ${graft.ops.Export.shardIdSql("m.doc_id", 8)} AS shard
          FROM m JOIN ext e USING (doc_id)
          WHERE ${OracleCtes.qualityKeepSql}
          ORDER BY m.doc_id""")
}
