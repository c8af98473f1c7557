package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Clusters, Dedup, TextAnalysis}

/** Daily incremental ingest against an already-curated corpus — the
  * steady-state companion to [[TrainingDataPipeline]] (which builds the
  * corpus once). Each increment must answer two questions without ever
  * re-processing the corpus:
  *
  *   1. exact: "have we seen this byte-identical text before?" —
  *      anti-join of the batch's md5 fingerprints against the corpus
  *      fingerprint set (16 B/row; broadcast when the fingerprint table
  *      is small, shuffled key-join otherwise — never the text).
  *   2. near: "is it a near-dup of anything ingested?" —
  *      [[Dedup.nearDupsAgainstIndex]] against the persisted
  *      [[Dedup.buildSignatureIndex]] table: the batch broadcasts
  *      through the band join, the index STREAMS (zero shuffle).
  *
  * The accepted remainder then extends both stored artifacts: append the
  * new rows to the corpus, and append their (distinct-sig) signatures to
  * the index. Cost of a day's ingest tracks the DAY, not the corpus —
  * the property that makes 100 TB steady-state operation affordable.
  */
object IncrementalIngest {

  /** Signatures + fingerprints for a document frame — the per-row
    * artifacts both dedup levels key on. One map-only pass. */
  def annotate(docs: DataFrame, idCol: String, textCol: String,
               numHashes: Int = 64): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .withColumn("fp", TextAnalysis.fingerprintMd5(col(textCol)))
      .withColumn("sig", Dedup.minhashSignature(col(textCol), numHashes))

  /** The batch rows that survive both dedup levels against the stored
    * corpus state. `corpusFps`: one `fp` column (or more; only `fp` is
    * used). `sigIndex`: a [[Dedup.buildSignatureIndex]] table with
    * (`idCol`, "sig"). The batch must carry `fp`/`sig` from
    * [[annotate]].
    *
    * `seenFp` (optional): a [[Dedup.seenFilter]] sketch of the corpus
    * fingerprints. When present, the batch pre-routes MAP-ONLY: rows the
    * sketch has never seen skip the exact anti-join entirely; only the
    * might-be-seen sliver (|batch|·fpp + true dups) joins `corpusFps`.
    * The composed result is exact either way — false positives only
    * route rows into verification. */
  def novelDocs(batch: DataFrame, corpusFps: DataFrame, sigIndex: DataFrame,
                idCol: String, numHashes: Int = 64,
                threshold: Double = 0.9,
                seenFp: Option[Array[Byte]] = None): DataFrame = {
    val exactNovel = seenFp match {
      case Some(bytes) =>
        val (fresh, verify) = Dedup.splitBySeenFilter(batch, bytes, col("fp"))
        fresh.unionByName(
          verify.join(corpusFps.select(col("fp")), Seq("fp"), "left_anti"))
      case None =>
        batch.join(corpusFps.select(col("fp")), Seq("fp"), "left_anti")
    }
    val nearHits = Dedup.nearDupsAgainstIndex(sigIndex, exactNovel, idCol, "sig",
      numHashes = numHashes, threshold = threshold)
      .select(col("id_new").as(idCol)).distinct()
    exactNovel.join(nearHits, Seq(idCol), "left_anti")
  }

  /** Updated cluster assignment after an increment: fold the batch's
    * near-dup pairs (vs the index AND within the batch) into the stored
    * assignment via [[Clusters.mergeIncremental]] — 1–2 star rounds over
    * assignment+new edges; historical raw pairs never recompute. */
  def updatedClusters(assignment: DataFrame, batch: DataFrame,
                      sigIndex: DataFrame, idCol: String,
                      numHashes: Int = 64, threshold: Double = 0.9): DataFrame = {
    val vsIndex = Dedup.nearDupsAgainstIndex(sigIndex, batch, idCol, "sig",
      numHashes = numHashes, threshold = threshold)
      .select(col("id_new").as("id_a"), col("id_index").as("id_b"))
    val within = Dedup.nearDupsFromSignatures(batch, idCol, "sig",
      numHashes = numHashes, threshold = threshold)
      .select(col("id_a"), col("id_b"))
    Clusters.mergeIncremental(assignment, vsIndex.unionByName(within))
  }
}
