package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Errs, Validate}
import graft.examples.{IncrementalIngest, TrainingDataPipeline, TwoPassCuration, WebCrawlCuration}
import graft.filters.{CaseFold, Choice, FilterMapper, JsonDecode, Macros, MinLength, Required, Strip, Int => IntF}
import graft.ops.{Checkpoints, Dedup}
import graft.sources.ValidatedIO

/** One timed unit of work: a curate pass or an ingest batch. */
final case class Op(seconds: Double, rows: Long, inBytes: Long, outBytes: Long,
                    startMs: Long, endMs: Long)

/** Output checks of one op. `failures` names each check that failed; the
  * counts feed `drop_recall` (planted rows the workload must drop) and
  * `keep_recall` (planted rows it must keep). */
final case class OpCheck(failures: Seq[String], dropPlanted: Long, dropped: Long,
                         keepPlanted: Long, kept: Long)

/** Planted classes as `perfbench/gen.py` writes them to each workload's
  * truth table, which only the checks read. */
object Truth {
  val BlockedDomain = "blocked-farm.net"
  object Kind { val Blocked = 0; val Exact = 1; val Near = 2; val UrlVariant = 3 }
  object Role { val Fresh = 0; val Resend = 1 }
  val Langs = Seq("en", "de", "fr", "es", "it", "nl", "pt", "ja")
  /** validity class -> the (key, code) it must be quarantined with */
  val PlantedErrors = Map(1 -> ("lang", "not_valid_choice"), 2 -> ("meta", "not_json"))
}

object Files2 {
  def bytes(p: String): Long =
    if (!Files.exists(Paths.get(p))) 0L
    else {
      val s = Files.walk(Paths.get(p))
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_")
      }).map(Files.size).sum
      finally s.close()
    }

  def delete(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  def copy(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f: Path =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }
}

/** A workload over the inputs `perfbench/gen.py` wrote under
  * `dir/name`: a set-up step, timed ops, and output checks. Ops come in
  * rounds: a curate round is one pass, an ingest round the daily batches
  * replayed from the base state, one op per batch. */
abstract class Workload(val dir: String) {
  def name: String
  /** Warm-up over a slice of the input, plus any state the rounds start
    * from; timed as set-up. */
  def setUp(spark: SparkSession): Unit
  def opsPerRound: Int = 1
  /** Nominal wall time of one round on a 4-CPU host, which turns
    * `--seconds` into a round count. */
  def roundSeconds: Double
  /** Op `k` (from 0) of round `r`. */
  def op(spark: SparkSession, r: Int, k: Int, tr: Tracer): Op
  /** Checks the first `n` ops of round `r`, one result per op. */
  def check(spark: SparkSession, r: Int, n: Int): Seq[OpCheck]
  /** Deletes round `r`'s outputs. */
  def dropRound(r: Int): Unit
  /** Extra per-layer readings over the first `n` ops of a traced round,
    * taken untimed after it. */
  def tracedExtras(spark: SparkSession, r: Int, n: Int): Map[String, Double] = Map.empty

  protected def p(rel: String) = s"$dir/$name/$rel"
  protected def truth(spark: SparkSession) = spark.read.parquet(p("truth.parquet"))

  /** Row counts of `df` grouped by `keys`. */
  protected def counts(df: DataFrame, keys: Column*): Map[Seq[Any], Long] =
    df.groupBy(keys: _*).count().collect()
      .map(row => ((0 until keys.size).map(row.get): Seq[Any]) -> row.getLong(keys.size)).toMap
      .withDefaultValue(0L)

  protected def timed(rows: Long, inBytes: Long)(f: => Long): Op = {
    val (ms0, t0) = (System.currentTimeMillis(), System.nanoTime())
    val out = f
    val secs = (System.nanoTime() - t0) / 1e9
    Op(secs, rows, inBytes, out, ms0, System.currentTimeMillis())
  }
}

/** The full two-pass curation of a seeded crawl. */
final class CurateWorkload(dir: String, docs: Long) extends Workload(dir) {
  val name = "curate"
  val roundSeconds = 7.0
  private val blocked = Seq(Truth.BlockedDomain)

  private def curate(crawl: DataFrame) = TwoPassCuration.curate(crawl, blocked)

  def setUp(spark: SparkSession): Unit = {
    val in = spark.read.parquet(p("in"))
    val slice = in.filter(col("doc_id") < in.agg(max("doc_id")).head().getLong(0) / 16)
    curate(slice).write.parquet(p("warm"))
    Files2.delete(p("warm"))
  }

  def op(spark: SparkSession, r: Int, k: Int, tr: Tracer): Op =
    timed(docs, Files2.bytes(p("in"))) {
      tr("pass") {
        val c = curate(spark.read.parquet(p("in")))
        tr("sources.write") { c.write.parquet(p(s"out$r")) }
      }
      Files2.bytes(p(s"out$r"))
    }

  /** `TwoPassCuration.curate` split at its seam, into round `r`'s output:
    * the first pass pinned with the program's pin, then the second pass
    * over the renamed columns. Times the two passes for the traced
    * report; must keep the same documents as the one-call form. */
  def replay(spark: SparkSession, r: Int, tr: Tracer): Unit = {
    val crawl = spark.read.parquet(p("in"))
    val first = tr("examples.first_pass") { Checkpoints.pin(WebCrawlCuration.curate(crawl, blocked)).df }
    tr("examples.second_pass") {
      val docs = first.withColumnRenamed("text_clean", "text")
        .withColumn("lang", lit(null).cast("string"))
      val curated = TrainingDataPipeline.curate(docs)
        .select("doc_id", "url_canonical", "domain", "text", "lang_guess", "quality", "n_tokens")
      tr("sources.write") { curated.write.parquet(p(s"out$r")) }
    }
  }

  def check(spark: SparkSession, r: Int, n: Int): Seq[OpCheck] = {
    val out = spark.read.parquet(p(s"out$r"))
    val t = truth(spark)
    val perPage = t.groupBy("page", "kind").agg(count(lit(1)).as("k"))
      .join(out.join(t, "doc_id").groupBy("page").agg(count(lit(1)).as("s")), Seq("page"), "left")
      .withColumn("s", coalesce(col("s"), lit(0L)))
    val (k, s, kind) = (col("k"), col("s"), col("kind"))
    val K = Truth.Kind
    val grouped = kind.isin(K.Exact, K.Near, K.UrlVariant)
    def n(c: Column) = sum(when(c, 1L).otherwise(0L))
    val a = perPage.agg(
      n(kind.isin(K.Exact, K.UrlVariant) && s =!= 1),
      n(kind === K.Blocked && s > 0),
      sum(when(grouped, k - 1).otherwise(0L)),
      sum(when(grouped, least(k - s, k - 1)).otherwise(0L)),
      n(kind =!= K.Blocked),
      n(kind =!= K.Blocked && s > 0)).head()
    val sharedFp = out.groupBy(md5(col("text").cast("binary"))).count()
      .filter(col("count") > 1).count()
    val failures = Seq(
      "curate.exact_group_one_survivor" -> (a.getLong(0) == 0),
      "curate.no_blocked_survivor" -> (a.getLong(1) == 0),
      "curate.no_shared_fingerprint" -> (sharedFp == 0)
    ).collect { case (n, false) => n }
    Seq(OpCheck(failures, a.getLong(2), a.getLong(3), a.getLong(4), a.getLong(5)))
  }

  /** Same documents from the one-call and the staged form. */
  def sameDocIds(spark: SparkSession, r1: Int, r2: Int): Boolean = {
    val (a, b) = (spark.read.parquet(p(s"out$r1")).select("doc_id"),
      spark.read.parquet(p(s"out$r2")).select("doc_id"))
    a.except(b).isEmpty && b.except(a).isEmpty
  }

  def dropRound(r: Int): Unit = Files2.delete(p(s"out$r"))
}

/** Daily validated ingest against a stored corpus. Each batch's records
  * run through reference-style chains (`Validate.columns`) into the
  * quarantine sink; the valid rows then probe the fingerprint table, the
  * Bloom sketch and the signature index (`IncrementalIngest.novelDocs`),
  * the accepted rows are appended to the stored fingerprints and index,
  * and the sketch is rebuilt. Each round replays the same batches from a
  * fresh copy of the base state, so a faster engine does not grow the
  * state further. */
final class IngestWorkload(dir: String, base: Long, batchSize: Long,
                           batches: Int) extends Workload(dir) {
  val name = "ingest"
  private val expectedItems = base + batches * batchSize
  private var sketch0: Array[Byte] = _
  /** The sketch each batch of a round probed, by (round, batch). */
  private val sketches = scala.collection.mutable.Map.empty[(Int, Int), Array[Byte]]
  private var sketch: Array[Byte] = _
  override val opsPerRound: Int = batches
  val roundSeconds: Double = 3.4 * batches
  private val chains: Seq[(String, graft.core.Validator)] = Seq(
    "url" -> (Required() | Strip()),
    "lang" -> (Required() | Strip() | CaseFold() | Choice(Truth.Langs)),
    "meta" -> (JsonDecode("source STRING, rank STRING") |
      FilterMapper.of("source" -> Strip(), "rank" -> IntF())),
    "text" -> (Macros.cleanText | MinLength(20)))

  private def batchPath(b: Int) = p(s"batches/batch=$b")

  /** Builds the stored state: fingerprints, signature index and sketch. */
  private def buildState(spark: SparkSession, docs: DataFrame, state: String): Array[Byte] = {
    val annotated = Checkpoints.pin(IncrementalIngest.annotate(docs, "doc_id", "text")).df
    annotated.select("doc_id", "fp").write.parquet(s"$state/fps")
    Dedup.buildSignatureIndex(annotated, "doc_id", "sig").write.parquet(s"$state/index")
    Checkpoints.release(annotated)
    Dedup.seenFilter(spark.read.parquet(s"$state/fps"), col("fp"), expectedItems)
  }

  private def ingest(spark: SparkSession, raw: DataFrame, stage: String, state: String,
                     sketch: Array[Byte], tr: Tracer): Array[Byte] = {
    val res = tr("core.build") { Validate.columns(raw, chains: _*) }
    tr("sources.write") { ValidatedIO.writeQuarantined(res, s"$stage/valid", s"$stage/quarantine") }
    val annotated = IncrementalIngest.annotate(spark.read.parquet(s"$stage/valid"), "doc_id", "text")
    val accepted = tr("ops.novel") {
      Checkpoints.pin(IncrementalIngest.novelDocs(annotated, spark.read.parquet(s"$state/fps"),
        spark.read.parquet(s"$state/index"), "doc_id", seenFp = Some(sketch))).df
    }
    tr("sources.write") {
      accepted.select("doc_id", "fp").write.mode("append").parquet(s"$state/fps")
      Dedup.buildSignatureIndex(accepted, "doc_id", "sig").write.mode("append").parquet(s"$state/index")
    }
    Checkpoints.release(accepted)
    tr("ops.seen_filter") {
      Dedup.seenFilter(spark.read.parquet(s"$state/fps"), col("fp"), expectedItems)
    }
  }

  def setUp(spark: SparkSession): Unit = {
    Files2.delete(p("state0")); Files2.delete(p("warm"))
    sketch0 = buildState(spark, spark.read.parquet(p("base")), p("state0"))
    Files2.copy(p("state0"), p("warm/state"))
    // a whole batch: after a smaller slice the first timed batches still
    // ran about a quarter slower while the JIT caught up
    val slice = spark.read.parquet(batchPath(1))
    ingest(spark, slice, p("warm/stage"), p("warm/state"), sketch0, new Tracer)
    Files2.delete(p("warm"))
  }

  def op(spark: SparkSession, r: Int, k: Int, tr: Tracer): Op = {
    val state = p(s"round$r/state")
    if (k == 0) { Files2.copy(p("state0"), state); sketch = sketch0 }
    val b = k + 1
    sketches((r, b)) = sketch
    val stage = p(s"round$r/stage$b")
    val before = Files2.bytes(state)
    timed(batchSize, Files2.bytes(batchPath(b))) {
      tr("batch") { sketch = ingest(spark, spark.read.parquet(batchPath(b)), stage, state, sketch, tr) }
      Files2.bytes(state) - before + Files2.bytes(s"$stage/quarantine")
    }
  }

  def check(spark: SparkSession, r: Int, n: Int): Seq[OpCheck] = {
    val t = truth(spark)
    val (batch, validity, role) = (col("batch"), col("validity"), col("role"))
    val R = Truth.Role
    val planted = counts(t.filter(batch <= n), batch, validity, role)

    val fps = spark.read.parquet(p(s"round$r/state/fps"))
    val firstId = fps.groupBy("fp").agg(min("doc_id").as("first"))
    val restored = counts(fps.join(firstId, "fp").filter(col("doc_id") > col("first"))
      .join(t, "doc_id"), batch)
    val accepted = counts(fps.join(t, "doc_id"), batch, validity, role)

    val stages = (1 to n).map(b => p(s"round$r/stage$b"))
    def want(i: Int) = Truth.PlantedErrors.foldLeft(lit(null).cast("string")) {
      case (acc, (c, ke)) => when(validity === c, lit(if (i == 0) ke._1 else ke._2)).otherwise(acc) }
    val e = from_json(col(Validate.ErrorsCol), lit(Errs.typeDdl))
    val quarantine = counts(spark.read.parquet(stages.map(_ + "/quarantine"): _*)
      .select(col("doc_id"), e.as("e")).join(t, "doc_id"),
      batch, validity, size(col("e")) === 1 && col("e")(0)("key") === want(0) &&
        col("e")(0)("code") === want(1))
    val tv = t.select(col("doc_id"), batch, validity, col("url").as("t_url"), col("lang").as("t_lang"))
    val repaired = validity === 0 && col("url") === col("t_url") && col("lang") === col("t_lang") &&
      col("meta.rank").between(1, 9)
    val valid = counts(spark.read.parquet(stages.map(_ + "/valid"): _*).join(tv, "doc_id"),
      batch, repaired)

    (1 to n).map { b =>
      def of(m: Map[Seq[Any], Long])(f: Seq[Any] => Boolean) =
        m.collect { case (k, v) if k.head == b && f(k.tail) => v }.sum
      val invalidPlanted = of(planted)(k => k(0) != 0)
      val validPlanted = of(planted)(k => k(0) == 0)
      val dupPlanted = of(planted)(k => k(0) == 0 && k(1) != R.Fresh)
      val freshPlanted = of(planted)(k => k(0) == 0 && k(1) == R.Fresh)
      val failures = Seq(
        "ingest.quarantine_has_planted_key_code" ->
          (of(quarantine)(k => k(0) != 0 && k(1) == true) == invalidPlanted),
        "ingest.no_valid_row_quarantined" -> (of(quarantine)(k => k(0) == 0) == 0),
        "ingest.valid_rows_repaired" ->
          (of(valid)(k => k(0) == true) == validPlanted && of(valid)(_ => true) == validPlanted),
        "ingest.no_stored_fp_accepted" -> (of(restored)(_ => true) == 0),
        "ingest.exact_group_one_survivor" -> (of(accepted)(k => k(1) == R.Resend) == 0)
      ).collect { case (name, false) => name }
      OpCheck(failures, invalidPlanted + dupPlanted,
        of(quarantine)(k => k(0) != 0) + dupPlanted - of(accepted)(k => k(1) != R.Fresh),
        freshPlanted, of(accepted)(k => k(0) == 0 && k(1) == R.Fresh))
    }
  }

  /** Share of each batch's valid rows the sketch routes to exact
    * verification, the planted exact re-send share of those rows next to
    * it, and the index size each batch probed. */
  override def tracedExtras(spark: SparkSession, r: Int, n: Int): Map[String, Double] = {
    val resend = truth(spark).filter(col("role") === Truth.Role.Resend).select("doc_id")
    val shares = (1 to n).map { b =>
      val valid = spark.read.parquet(p(s"round$r/stage$b/valid"))
      val annotated = IncrementalIngest.annotate(valid, "doc_id", "text")
      val rows = valid.count().toDouble
      (Dedup.splitBySeenFilter(annotated, sketches((r, b)), col("fp"))._2.count() / rows,
        valid.join(resend, "doc_id").count() / rows)
    }
    val index = spark.read.parquet(p(s"round$r/state/index"))
    val perBatch = counts(index.join(truth(spark), "doc_id"), col("batch"))
    val baseRows = index.count() - perBatch.values.sum
    val probed = (1 to n).map(b => baseRows + (1 until b).map(x => perBatch(Seq(x))).sum)
    Map("ops.verify_ratio" -> shares.map(_._1).sum / n,
      "ops.true_dup_share" -> shares.map(_._2).sum / n,
      "ops.index_rows" -> probed.sum.toDouble / n)
  }

  def dropRound(r: Int): Unit = {
    Files2.delete(p(s"round$r"))
    (1 to batches).foreach(b => sketches.remove((r, b)))
  }
}
