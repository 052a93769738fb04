package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization — the key-normalization step in front of
  * URL-level dedup and crawl-frontier dedup: two spellings of the same
  * resource must map to one canonical string BEFORE the exact/near-dup
  * passes, or every downstream join under-merges.
  *
  * Rules (the conservative, lossless-by-intent subset):
  *   - scheme and host lowercase (RFC 3986 §6.2.2.1 case normalization);
  *     path/query case is preserved (it is significant);
  *   - scheme-default port dropped (`:80` for http, `:443` for https);
  *     any other port kept;
  *   - empty path → `/`; trailing slash runs stripped elsewhere;
  *   - fragment dropped (client-side only);
  *   - tracking query params dropped ([[TrackingParams]]); param ORDER
  *     is preserved (reordering is not semantics-preserving for all
  *     endpoints — a deliberate under-merge).
  *
  * Pure Column program in the portable regex subset (character
  * classes, anchors, capture groups — Java regex and RE2 agree), so
  * the whole thing is codegen'd, shuffle-free, and oracle-checkable.
  */
object UrlOps {

  /** Dropped at canonicalization: analytics/click-id params that never
    * change the addressed resource. */
  val TrackingParams: Seq[String] = Seq(
    "utm_source", "utm_medium", "utm_campaign", "utm_term",
    "utm_content", "fbclid", "gclid", "ref")

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  private val HostRe   = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
  private val PathRe   = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
  private val QueryRe  = "\\?([^#]*)"

  /** Adds `canon_url` and `url_host` for the URL column `urlCol`.
    * Input must be an absolute URL with a scheme (the crawl/ingest
    * contract); rows that don't match yield empty host and a canonical
    * equal to `scheme + "://" + "/"`-normalized remnants — garbage in,
    * deterministic garbage out. */
  def canonicalize(df: DataFrame, urlCol: String = "url"): DataFrame = {
    val u = col(urlCol)
    val scheme = lower(regexp_extract(u, SchemeRe, 1))
    val hostport = lower(regexp_extract(u, HostRe, 1))
    val host = when(scheme === "http",
        regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val rawPath = regexp_extract(u, PathRe, 1)
    val trimmed = regexp_replace(rawPath, "/+$", "")
    val path = when(trimmed === "", lit("/")).otherwise(trimmed)
    val query = regexp_extract(u, QueryRe, 1)
    val kept = filter(split(query, "&"), p =>
      length(p) > 0 &&
        !lower(element_at(split(p, "="), 1))
          .isInCollection(TrackingParams))
    df.withColumn("url_host", host)
      .withColumn("canon_url", concat(
        scheme, lit("://"), host, path,
        when(size(kept) > 0,
          concat(lit("?"), array_join(kept, "&"))).otherwise(lit(""))))
  }

  /** Per-host crawl stats over a [[canonicalize]]d frame: documents
    * served, distinct canonical URLs, and the duplicated-URL rate
    * 1 − urls/docs. A high rate marks mirror/templated hosts — the
    * standard host-level prior of web curation (filter decisions made
    * per host, not per document). Two-phase aggregation on
    * `url_host`; output is one row per host — metadata next to the
    * corpus (millions of hosts vs billions of documents). */
  private[graft] def hostStats(canonicalized: DataFrame): DataFrame =
    canonicalized.groupBy("url_host")
      .agg(count(lit(1)).as("host_docs"),
        countDistinct(col("canon_url")).as("host_urls"))
      .withColumn("dup_url_rate",
        lit(1.0) - col("host_urls").cast("double")
          / col("host_docs").cast("double"))

  /** Gate documents by their host's duplicated-URL rate: keep iff the
    * host's rate is ≤ `maxDupRate`. The verdict is a host-group
    * property, so the corpus exchanges once on `url_host` for the
    * join (the host table itself is metadata and carries no hint —
    * Catalyst broadcasts it while it fits and falls back to the
    * host-keyed shuffle join at web scale). One IEEE division per
    * host, nothing else fractional — the keep bit is cross-engine
    * deterministic.
    *
    * The input frame feeds BOTH the stats aggregation and the probe
    * side; when deriving it is expensive (a canonicalize over a raw
    * crawl scan), `persist()` it first or the lineage evaluates
    * twice — the registry builders do exactly that. */
  def hostGate(canonicalized: DataFrame, maxDupRate: Double)
      : DataFrame =
    canonicalized.join(hostStats(canonicalized), Seq("url_host"))
      .withColumn("keep",
        when(col("dup_url_rate") <= maxDupRate, 1).otherwise(0))

  /** Flag documents whose `url_host` is covered by a domain blocklist,
    * with SUBDOMAIN semantics: entry `example.com` blocks
    * `example.com` and every `*.example.com` — label-suffix matching,
    * so `notexample.com` does NOT match (the endswith-without-dot
    * bug). Each host explodes into its label-suffix chain (at most
    * label-count entries, bounded by hostname length) and equi-joins
    * the blocklist — work scales with corpus × host depth plus the
    * postings of blocked suffixes, never corpus × blocklist (the
    * per-entry LIKE/regex scan a filter-chain would be; at 10⁶
    * blocklist entries that difference is the whole game). The
    * blocklist is metadata next to the corpus: Catalyst broadcasts it
    * while it fits and falls back to a shuffle join past that.
    * Blocklist contract: lowercase registrable suffixes or exact
    * hosts, no leading dot. */
  def domainBlock(canonicalized: DataFrame, blocklist: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val suffixes = expr(
      """transform(sequence(1, size(split(url_host, '\\.'))),
           i -> array_join(slice(split(url_host, '\\.'), i,
                  size(split(url_host, '\\.')) - i + 1), '.'))""")
    val hits = canonicalized
      .select(col(idCol), explode(suffixes).as("__suf"))
      .join(blocklist.select(col("domain").as("__suf")), Seq("__suf"),
        "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("blocked", lit(true))
    canonicalized.join(hits, Seq(idCol), "left")
      .withColumn("blocked", coalesce(col("blocked"), lit(false)))
  }
}
