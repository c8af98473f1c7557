package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The FULL curation pipeline: [[WebCrawlCuration]] (first pass — URL-level
  * and unit-level cleanup of a raw crawl) feeding [[TrainingDataPipeline]]
  * (second pass — validation, quality gating, exact + near-dup content
  * dedup). This is the composition a real pretraining-data run executes
  * end-to-end; the two halves were previously only shipped (and smoked)
  * separately.
  *
  * Stage order across the seam is the standard one (CCNet / C4 /
  * RefinedWeb): everything URL- and boilerplate-shaped happens BEFORE
  * content fingerprinting and LSH — first-pass cleanup makes distinct
  * crawls byte-identical, which is precisely what lets the second pass's
  * exact dedup fold them cheaply, and removes the per-site chrome that
  * would otherwise defeat near-dup detection (two different articles
  * sharing a nav bar are NOT near-dups).
  *
  * Scale shape = the sum of its published parts: first pass ~7 exchanges
  * (each skew-bounded, see [[WebCrawlCuration]]), second pass 2 shuffles +
  * the band join + pair-sized cluster resolution. The first pass pins its
  * URL-deduped set, the seam pins the first-pass output, and the second
  * pass pins its exact-deduped set before the LSH fan-out. Duplication
  * invariance (re-crawling pages 10× must not change the curated corpus)
  * is spec-pinned end-to-end in `TwoPassCurationSpec` and wall-time-smoked
  * over 10×-duplicated sf0.1 (`git show
  * 721304f:src/test/scala/graft/tools/TwoPassSmoke.scala`; numbers in
  * SCALE.md "two-pass composition"); the harness runs the
  * composition as `q_twopass` (rows-only — LSH bucket membership is not
  * SQL-mirrorable — content-pinned in `RowsOnlyPinSpec`).
  *
  * Output: one row per curated document — `(doc_id, url_canonical,
  * domain, text, lang_guess, quality, n_tokens)`.
  */
object TwoPassCuration {

  def curate(crawl: DataFrame, blockedDomains: Seq[String]): DataFrame = {
    // pinned HANDOFF at the seam (r13 verdict): without it the second
    // pass's plan embeds the ENTIRE first-pass tree (boilerplate
    // reassembly, PSL url expressions, both windows) below its own
    // stages — one mega-plan whose analysis + codegen dominate the cold
    // run (measured ~2× cold-run cost at sf0.1) and whose lineage a
    // cluster run would re-derive on executor loss. The pin materializes
    // the curated-survivor seam (output-sized, the cheapest point in the
    // whole pipeline) and truncates lineage — in production this is
    // where the first pass lands in storage anyway.
    val first = graft.ops.Checkpoints.pin(
      WebCrawlCuration.curate(crawl, blockedDomains)).df
    // the seam: first-pass cleaned text becomes the second pass's input
    // text; lang is absent in a raw crawl — Optional("und") fills it
    val docs = first
      .withColumnRenamed("text_clean", "text")
      .withColumn("lang", lit(null).cast("string"))
    TrainingDataPipeline.curate(docs)
      .select(col("doc_id"), col("url_canonical"), col("domain"),
        col("text"), col("lang_guess"), col("quality"), col("n_tokens"))
  }
}
