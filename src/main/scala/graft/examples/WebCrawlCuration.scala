package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Boilerplate, Dedup, Robots, Urls}

/** The FIRST-PASS half of a web-crawl curation pipeline — everything that
  * runs BEFORE the content-quality/near-dup stages of
  * [[TrainingDataPipeline]], in the order real pipelines (CCNet / C4 /
  * RefinedWeb) run it:
  *
  *   1. domain blocklist (map-only suffix-label match — cheapest first:
  *      rows dropped here never pay any later stage)
  *   2. URL-level dedup on the canonical form (one canonical-URL-keyed
  *      exchange; re-crawls and URL spellings collapse before any
  *      content work)
  *   3. domain-scoped boilerplate removal (nav bars / cookie banners
  *      are per-site — strip a unit only where it is frequent within
  *      ITS OWN domain)
  *   4. corpus-wide unit keep-first dedup (syndicated/quoted passages
  *      keep exactly their first occurrence)
  *   5. exact content dedup on the md5 fingerprint of the CLEANED text
  *      (cheap last line of defense: steps 3–4 often make distinct
  *      crawls byte-identical)
  *
  * Stage order is load-bearing: blocklist before URL dedup (blocked rows
  * must not win a dedup group), boilerplate before unit dedup (a nav bar
  * should vanish from ALL pages of its site, not survive once on the
  * site's first page), both before fingerprinting (else trivial chrome
  * differences defeat exact dedup).
  *
  * Input columns: (doc_id: long, url: string, text: string).
  * Output: (doc_id, url_canonical, domain, text_clean) — one row per
  * surviving document. Every stage is oracle-checked individually
  * (q_url_blocklist / q_url_dedup / q_boilerplate_domain /
  * q_dedup_units / q_fingerprint); this composition is spec-pinned.
  */
object WebCrawlCuration {

  /** `spanK > 0` inserts [[Dedup.dedupSpansKeepFirst]] as stage 4b —
    * AFTER unit keep-first (so syndication-heavy mass dies at cheap
    * unit granularity before the token-level ranking pays) and before
    * the exact-fingerprint stage. Opt-in because it whitespace-
    * NORMALIZES the surviving text (tokens rejoin with single spaces,
    * `joinSep` structure collapses) — the usual contract after
    * token-level surgery, but a representation change a caller must
    * choose.
    *
    * `robotsRules` (from [[Robots.rulesFor]]) inserts the RFC 9309
    * allow/deny filter as the FIRST stage — the site's own policy runs
    * before the operator's blocklist, and like the blocklist it never
    * reads text, so disallowed captures pay nothing downstream. */
  def curate(crawl: DataFrame, blockedDomains: Seq[String],
             boilerplateMinDocs: Long = 3L,
             delim: String = "\n", joinSep: String = "\n",
             spanK: Int = 0,
             robotsRules: Option[DataFrame] = None): DataFrame = {
    // 0. site policy (robots), 1. blocklist, then 2. canonical-URL dedup
    // (adds url_canonical)
    val politeCrawl = robotsRules match {
      case Some(rules) => Robots.filterAllowed(crawl, "url", "doc_id", rules)
      case None => crawl
    }
    val allowed =
      if (blockedDomains.isEmpty) politeCrawl
      else Urls.filterBlockedDomains(politeCrawl, "url", blockedDomains)
    val byUrl0 = Urls.dedupByUrl(allowed, "url", "doc_id")
      .withColumn("domain", Urls.registrableDomain(col("url")))
    // byUrl feeds BOTH the metadata branch and the boilerplate branch —
    // without materialization the blocklist + URL-dedup exchange
    // recomputes once per branch (same pattern as TrainingDataPipeline;
    // at cluster scale this is where a real pipeline writes to storage).
    // Pinned, not persisted: a persist here leaked into the session
    // cacheManager with no releasing caller (r10 verdict) — the pin's
    // storage lifetime is the returned frame's reference.
    val byUrl = graft.ops.Checkpoints.pin(byUrl0).df

    // 3. per-domain boilerplate (returns doc_id + text_clean; re-join the
    // surviving ids back to their URL metadata — id-keyed, the same
    // exchange width as the reassembly itself)
    val meta = byUrl.select(col("doc_id"), col("url_canonical"), col("domain"))
    val deboiled = Boilerplate.removeFrequentLinesByStratum(
      byUrl, "doc_id", "domain", "text", minDocs = boilerplateMinDocs,
      delim = delim, joinSep = joinSep)

    // 4. corpus-wide keep-first unit dedup on the de-boilerplated text
    val unitDeduped0 = Dedup.dedupUnitsKeepFirst(deboiled, "doc_id", "text_clean",
      delim = delim, joinSep = joinSep)
    // 4b. (opt-in) duplicated-span excision on what units left behind
    val unitDeduped =
      if (spanK > 0) Dedup.dedupSpansKeepFirst(unitDeduped0, "doc_id", "text_clean", k = spanK)
      else unitDeduped0

    // 5. exact content dedup on the cleaned text, keep min id
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text_clean").cast("binary"))).orderBy(col("doc_id"))
    unitDeduped
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .join(meta, Seq("doc_id"))
      .select(col("doc_id"), col("url_canonical"), col("domain"), col("text_clean"))
  }
}
