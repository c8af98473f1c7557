package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Chunking, LmScore, Sampling}

/** Training-mixture assembly — the stage AFTER curation
  * ([[TrainingDataPipeline]] ends with a deduplicated corpus; this
  * pipeline turns it into an ordered, packed training mixture):
  *
  *   1. perplexity filter: score docs under the corpus's own unigram
  *      vocab, keep the well-modelled band (drop gibberish and
  *      degenerate boilerplate) — broadcast model, map-side lookup
  *   2. chunk long documents into context-window pieces (map-only)
  *   3. temperature-rebalance strata (`n^T` mixing weights — #strata-row
  *      aggregate)
  *   4. deterministic stratified sample at the rebalanced rates
  *   5. weighted-fair-queueing interleave: every output prefix holds
  *      strata in mixture proportion (IEEE-exact virtual finish times)
  *   6. pack the interleaved order into fixed token-budget sequences
  *      (two-phase distributed prefix sum)
  *
  * Shuffle census at any corpus size: the vocab build (token-keyed agg),
  * the doc-score agg (id-keyed), the #strata weight aggregate, the
  * per-stratum rank window, the range partition of the final pack — every
  * other stage is map-only. Nothing in the pipeline materializes a
  * global order until the pack's range exchange, which is how a total
  * order is written at 100 TB.
  */
object MixturePipeline {

  def assemble(docs: DataFrame, stratumCol: String = "lang",
               chunkTokens: Int = 64, overlap: Int = 8,
               llBand: (Double, Double) = (-6.0, -1.0),
               temperature: Double = 0.7,
               seqBudget: Long = 256L): DataFrame = {
    // 1. perplexity filter (vocab from the corpus itself; a production
    // run would load a persisted reference vocab/KenLM instead)
    val vocab = LmScore.unigramVocab(docs, "text", k = 10000)
    val scored = LmScore.unigramLogLikelihood(docs, "doc_id", "text", vocab,
      oovLogp = -20.0)
      .filter(col("ll") >= llBand._1 && col("ll") <= llBand._2)
    val kept = docs.join(scored.select("doc_id"), Seq("doc_id"))

    // 2. context-window chunking; chunk id = (doc, idx) packed into one
    // long so downstream per-row ids stay scalar. 2^20 idx bits ≅ a
    // ~59M-token document at stride 56 before collision — far past any
    // real document; doc ids up to 2^43 keep the product in long range.
    // pinned (r16): chunks feeds BOTH the #strata weights collect below
    // and the sample→interleave subtree — without the pin the whole
    // vocab+score+chunk tree computes twice (once per consumer; the
    // interleave pin materializes too late to help). Output-sized, the
    // natural storage point between curation and mixing.
    val chunks = graft.ops.Checkpoints.pin(
      Chunking.chunkByTokens(kept, "doc_id", "text", chunkTokens, overlap)
        .join(kept.select(col("doc_id"), col(stratumCol)), Seq("doc_id"))
        .withColumn("chunk_id", col("doc_id") * (1L << 20) + col("chunk_idx"))).df

    // 3.+4. temperature weights → per-stratum rates → deterministic sample.
    // collect() here is #strata rows (the k-means-model-state class of
    // driver state: bounded, model-sized, not corpus-sized).
    val weights = Sampling.temperatureWeights(chunks, stratumCol, temperature)
      .select(col(stratumCol), col("weight")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val sampled = Sampling.stratifiedSample(chunks, stratumCol, "chunk_id",
      weights.map { case (s, w) => s -> math.min(1.0, 2.0 * w) }, default = 0.1)

    // 5. interleave at the mixture weights; 6. pack the vft order.
    // No caller-side persist: since r11 interleaveByWeight and
    // packSequences each PIN their own multi-traversed input (eager
    // checkpoint, no cacheManager entry to leak — the r10 verdict's
    // unreleasable-persist fix), so the window-heavy interleave subtree
    // materializes exactly once inside packSequences.
    val interleaved = Sampling.interleaveByWeight(sampled, stratumCol, "chunk_id",
      weights, default = 0.05)
    Sampling.packSequences(interleaved, "vft", "n_tok", seqBudget)
      .select(col("chunk_id"), col("doc_id"), col("chunk_idx"),
        col(stratumCol), col("n_tok"), col("vft"), col("seq_id"))
  }
}
