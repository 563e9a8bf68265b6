package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Crawl-frontier operators — the scheduling half of the reference's
  * crawl loop, restated as data (VERDICT r15 #5). The reference fetches
  * one code at a time from one site with fixed sleeps between page
  * interactions (`crawler/src/procedure_code.py:256-263`, `:541` builds
  * each URL as BASE_SITE + code); at fleet scale the same semantics
  * become three relational operators: canonicalize candidate URLs so
  * syntactic aliases collapse, dedup the frontier on the canonical
  * form, and emit a per-host politeness schedule (host-serial fetch
  * slots, a fixed delay apart). The crawl fetch
  * ([[graft.pipeline.ProcedurePipeline.extract]]) keeps the schedule's
  * order — one session per host, partitioned on host — and parses on
  * all cores; the `fetch_at_ms` slots are advisory, since the fetcher's
  * rate floor is `FetchConfig.politenessMs`.
  *
  * All three are pure Catalyst column algebra — regexp splits, lower,
  * array_sort for the query-key sort, the two-phase prefix sum for the
  * schedule rank — no UDFs, fully codegen'd, oracle-mirrorable.
  */
object CrawlOps {

  /** RFC 3986 §6 syntax-based normalization (the subset every crawl
    * frontier applies): lowercase the scheme and host (NOT the path —
    * paths are case-sensitive), strip the scheme's default port
    * (http:80, https:443), strip the fragment (never sent to the
    * server), sort the query parameters key-wise (param order is
    * almost never semantic; sorting collapses permuted aliases), and
    * normalize an empty path to "/".
    *
    * Pure string algebra over one row — a narrow map at any scale; the
    * oracle mirrors each regexp and the list_sort verbatim. Query
    * params sort as whole "k=v" strings (byte order, both engines).
    * Non-URL input (no "scheme://") canonicalizes to NULL via the
    * empty regexp_extract, which the frontier treats as not-fetchable.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(noFrag, "^[^:/?#]+://([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val pathQ = regexp_extract(noFrag, "^[^:/?#]+://[^/?#]*(.*)$", 1)
    val path = regexp_extract(pathQ, "^([^?]*)", 1)
    val query = regexp_extract(pathQ, "\\?(.*)$", 1)
    val sortedQ = when(query === "", lit(""))
      .otherwise(concat(lit("?"), array_join(array_sort(split(query, "&")), "&")))
    when(scheme === "" || hostPort === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host,
        when(path === "", lit("/")).otherwise(path), sortedQ))
  }

  /** The canonical host of a URL (post-normalization): lowercase,
    * default port stripped — the politeness-schedule partition key.
    */
  def hostOf(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(noFrag, "^[^:/?#]+://([^/?#]*)", 1))
    when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
  }

  /** Frontier dedup: collapse raw candidate URLs onto their canonical
    * form. One map-side-combinable hash aggregation on the canonical
    * key — n_variants counts raw rows absorbed, n_distinct_raw the
    * distinct raw spellings, first_key the smallest source key (the
    * row that "wins" the fetch, deterministic). Rows whose URL fails
    * to canonicalize (no scheme/host) are dropped — they are not
    * fetchable frontier entries.
    *
    * @return [canonical_url, host, n_variants, n_distinct_raw, first_key]
    */
  def frontierDedup(df: DataFrame, urlCol: String, keyCol: String): DataFrame =
    df.withColumn("canonical_url", canonicalizeUrl(col(urlCol)))
      .where(col("canonical_url").isNotNull)
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_variants"),
        countDistinct(col(urlCol)).as("n_distinct_raw"),
        min(col(keyCol)).as("first_key"))
      .withColumn("host", hostOf(col("canonical_url")))
      .select("canonical_url", "host", "n_variants", "n_distinct_raw", "first_key")

  /** Per-host politeness schedule: each host's frontier entries get
    * sequential fetch slots a fixed `delayMs` apart — the reference's
    * inter-request sleep (`procedure_code.py:256-263`) as a computed
    * column instead of a driver-side time.sleep. `orderCol` must be a
    * NUMERIC total order within the host (a priority or source key);
    * seq is its 1-based rank, fetch_at_ms = (seq − 1) · delayMs.
    *
    * The rank is the two-phase value-range-bucketed prefix sum of 1s
    * ([[PrefixSumOps.exclusiveRunningSumAuto]]), NOT a bare per-host
    * window: hosts are a low-cardinality key on a focused crawl (the
    * reference crawls ONE site), and a single-window form would sort
    * one mega-host's entire frontier in one task at 100 TB. A
    * schedule is still inherently serial per host — but computing it
    * needn't be.
    *
    * @return input columns + [seq, fetch_at_ms]
    */
  def politenessSchedule(df: DataFrame, hostCol: String, orderCol: String,
      delayMs: Long = 1000L): DataFrame = {
    require(delayMs >= 0, "delayMs must be non-negative")
    PrefixSumOps.exclusiveRunningSumAuto(
        df.withColumn("_cr_one", lit(1L)), Seq(hostCol), orderCol,
        "_cr_one", "_cr_rank")
      .withColumn("seq", (col("_cr_rank") + 1L).cast("long"))
      .withColumn("fetch_at_ms", (col("_cr_rank") * delayMs).cast("long"))
      .drop("_cr_one", "_cr_rank")
  }
}
