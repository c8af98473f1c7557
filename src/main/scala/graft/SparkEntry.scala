package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Validate, ValidationResult}
import graft.{filters => F}
import graft.filters.{Emptiness, FilterMapper, FilterMapperDynamic, FilterMapperVariant, FilterRepeater, FilterRepeaterMap, FilterSwitch}
import graft.ops.{Boilerplate, Cdc, Dedup, FuzzyJoin, Html, Joins, Layout, QualityRules, Retrieval, Rollups, Sampling, Sequences, Similarity, Sketches, TextAnalysis, TimeSeries, Urls}

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2.7), each hash-checked against the DuckDB `oracleSql`. */
object SparkEntry {

  /** Table loader. `events.ts` in the CURRENT testdata is microsecond
    * TIMESTAMP_NTZ (`Timestamp(isAdjustedToUTC=false, µs)` — the
    * pandas/pyarrow default), which Spark reads natively and every batch
    * operator (windows, as-of, comparisons) consumes as-is; DuckDB's
    * TIMESTAMP is NTZ-shaped too, so under the pinned-UTC session the
    * oracle hashes agree with no conversion. The guarded branch below
    * supports the LEGACY testdata shape (nanosecond-as-long, readable only
    * with `spark.sql.legacy.parquet.nanosAsLong=true`, converted ns→µs with
    * exact integer `div` — ns epochs overflow a double mantissa); both
    * shapes are spec-covered in `StreamingSpec`. Streaming paths
    * additionally normalize NTZ→TIMESTAMP, which `withWatermark` requires
    * (`StreamingValidate.ensureEventTime`). */
  private def T(s: SparkSession, dir: String, n: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$n.parquet")
    if (n == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** [[T]] + [[rebalanceScan]]: the opt-in loader for queries whose
    * pre-exchange map work is heavy enough that splitting the
    * single-row-group bench scan wins (measured per query, r16). */
  private def TR(s: SparkSession, dir: String, n: String): DataFrame =
    rebalanceScan(s, T(s, dir, n), s"$dir/$n.parquet")

  /** Parquet bytes per task below which [[rebalanceScan]] stops splitting. */
  private final val MinTaskBytes = 8192L

  /** r16 (guide §2.5 "input skew: one huge unsplittable file"): the
    * testdata tables are SINGLE-row-group parquet files, so every scan is
    * one task and all pre-exchange map work (regex scoring, tokenization,
    * hashing, URL parsing) serializes on one core regardless of
    * `local[N]`. Repartition right after the read when — and only when —
    * the scan is underparallelized: the target is derived from input SIZE
    * (≥ [[MinTaskBytes]] of parquet per task, so dimension tables don't
    * fan out into empty tasks) and capped at the session's default
    * parallelism. At production scale a table arrives as many files /
    * row groups ≥ cores, `parts ≥ target`, and this is a no-op — nothing
    * here is tuned to the local core count.
    *
    * Measured A/B over the whole suite (OPTIMIZATION_r16.md): the extra
    * round-robin exchange pays off only where the per-row map work is
    * heavy (regex scoring, covariance, rerank kernels) and LOSES ~0.1–0.3 s
    * per query everywhere else — so it is opt-in per query ([[TR]]),
    * not the [[T]] default. */
  private def rebalanceScan(s: SparkSession, df: DataFrame, path: String): DataFrame = {
    import scala.util.control.NonFatal
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val conf = s.sparkContext.hadoopConfiguration
      val fs = p.getFileSystem(conf)
      val files = {
        val st = fs.getFileStatus(p)
        if (st.isFile) Array(st)
        else fs.listStatus(p).filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      }
      val bytes = files.map(_.getLen).sum
      val target = math.min(s.sparkContext.defaultParallelism.toLong,
        math.max(1L, bytes / MinTaskBytes)).toInt
      if (target <= 1 || files.length >= target) return df
      // Achievable scan parallelism WITHOUT a shuffle is the row-group
      // count, not `df.rdd.getNumPartitions` (r16 verdict + ADVICE):
      // byte-range splits of a single-row-group file yield ONE non-empty
      // partition — exactly the skew this helper targets — and forcing the
      // plan→RDD conversion just to count splits pays a throwaway physical
      // planning per table load. Footer reads happen only on the
      // few-files-than-cores branch above, so a production table (many
      // files ≥ cores) never pays them.
      val rowGroups = files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try r.getRowGroups.size finally r.close()
      }.sum
      if (rowGroups >= target) df else df.repartition(target)
    } catch { case NonFatal(e) =>
      // sizing failure degrades to "no rebalance", loudly (the old silent
      // `case _: Throwable => 0L` also swallowed fatal errors — r16 ADVICE)
      System.err.println(s"[graft] rebalanceScan: could not size $path ($e); skipping")
      df
    }
  }

  /** Flagship (SURVEY.md §7 step 3): validate lineitem with the canonical
    * chains, split valid/invalid, report per-bucket counts. */
  def entry(spark: SparkSession): DataFrame = {
    val li = T(spark, "/root/testdata/sf0.001", "lineitem")
    val res = Validate(li,
      "l_quantity" -> (F.Required(Emptiness.never) | F.Int() | F.Min(1) | F.Max(50)),
      "l_returnflag" -> (F.Required() | F.Choice(Seq("A", "N", "R"))))
    res.flagged("is_valid")
      .groupBy(col("is_valid")).agg(count(lit(1)).as("n"))
      .orderBy(col("is_valid"))
  }

  /** Crafted lowercase-ASCII base text for q_ngram_jaccard — shared
    * VERBATIM by the Spark query and its DuckDB oracle mirror (no quotes,
    * no escapes, pure ASCII so UTF-16 char units == code points). Varied
    * wording keeps the distinct-5-shingle count near the char count, so
    * small marker differences move Jaccard only slightly. */
  private val NgramBase: String =
    "the river bends east past the old mill where stone walls hold back " +
      "spring floods and herons stalk the shallows at dawn while upstream " +
      "the valley narrows into a gorge of layered shale and pine roots " +
      "grip the cliff face above deep green pools fed by snowmelt from " +
      "the northern ridge where goats graze between lichen covered rocks " +
      "and the trail switchbacks through birch groves toward the summit " +
      "meadow full of gentians and the ruins of a shepherd hut whose " +
      "timbers weathered silver over eighty winters of wind and ice"

  /** q_minhash_oracle's per-sect word blocks — 12 sect-unique tokens, so
    * cross-sect WORD-set Jaccard lands well below the 0.9 threshold (the
    * reject regime) while same-sect representative pairs differ only in
    * their tag token (the accept regime) and same-tag docs are identical
    * (the star regime). Shared VERBATIM with the DuckDB oracle literals
    * (the NgramBase discipline: pure lowercase ASCII, no quoting). */
  private val MinhashSectBlocks: Seq[String] =
    (0 until 5).map(y => (0 until 12).map(i => s"w${i}s$y").mkString(" "))

  /** Deterministic structured-text synthesis for the Gopher/C4 rule queries
    * (documents.parquet text has no lines or punctuation of its own): four
    * lines with terminal punctuation, a bullet line, a doc_id%3 ellipsis
    * tail, a doc_id%7 "lorem ipsum { x" boilerplate line, and a too-short
    * line — written identically in the DuckDB oracle SQL. */
  private def structuredDoc: Column =
    concat(
      substring(col("text"), 1, 60), lit(".\n"),
      lit("- bullet "), substring(col("text"), 61, 40), lit("\n"),
      substring(col("text"), 101, 50),
      when(col("doc_id") % 3 === 0, "...").otherwise("?"), lit("\n"),
      when(col("doc_id") % 7 === 0, "lorem ipsum { x\n").otherwise(""),
      when(col("doc_id") % 5 < 4,
        "we have to be with them and that is the point of it.\n").otherwise(""),
      lit("tiny\n"),
      substring(col("text"), 151, 999), lit("."))

  /** Synthesized link markup for q_links/q_pagerank/q_degrees: two
    * unconditional links to pages (doc_id·31+7)%500 and (doc_id·31+13)%500
    * — the first with inner tags and ragged whitespace in its anchor — a
    * third to (doc_id·31+29)%500 on doc_id%3==0, and an href-less anchor
    * that must NOT extract. Fixed modulus 500 keeps the node universe
    * SF-independent in form; the oracles restate the links in closed form. */
  private def linkFixtureHtml: Column =
    concat(
      lit("<p>doc <a href=\"https://ex.org/p"),
      ((col("doc_id") * 31 + 7) % 500).cast("string"),
      lit("\">to <b>page</b>  A</a> <a name=\"x\">skip</a> <a href=\"https://ex.org/p"),
      ((col("doc_id") * 31 + 13) % 500).cast("string"), lit("\">B</a>"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" <a href=\"https://ex.org/p"),
          ((col("doc_id") * 31 + 29) % 500).cast("string"), lit("\">C</a>")))
        .otherwise(lit("")),
      lit("</p>"))

  /** q_bpe_tokens's merge table: learned ONCE by `Bpe.learn` over the
    * sf0.001 documents corpus (16 merges, rank order) and committed as the
    * vocabulary artifact — the production pattern (vocabularies ship with
    * the model; they are not re-fit per query). The oracle SQL is GENERATED
    * from this same Seq, so the two engines always apply identical rules. */
  private val BpeMerges: Seq[(String, String)] = Seq(
    "e r" -> "er", "o r" -> "or", "i n" -> "in", "o w" -> "ow",
    "s t" -> "st", "l u" -> "lu", "a r" -> "ar", "p ar" -> "par",
    "m er" -> "mer", "a t" -> "at", "a n" -> "an", "c an" -> "can",
    "s can" -> "scan", "c o" -> "co", "co lu" -> "colu", "colu m" -> "colum")

  /** DuckDB mirror of `Bpe.applyMerges(Bpe.charSeq(w), BpeMerges)`:
    * the same non-regex greedy-left `replace` fold. */
  private def bpeApplySql(inner: String): String =
    BpeMerges.foldLeft(s"trim(regexp_replace($inner, '(.)', '\\1 ', 'g'))") {
      case (acc, (p, j)) => s"replace($acc, '$p', '$j')"
    }

  /** q_hash_split's named fractions; the oracle derives its hex thresholds
    * from the SAME cumulative scan `Sampling.hashSplit` runs, so double
    * summation quirks (0.8+0.1 ≠ 0.9 exactly) cannot diverge the two. */
  private val HashSplits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val HashSplitCums: Seq[Double] =
    HashSplits.map(_._2).scanLeft(0.0)(_ + _).tail

  /** q_kfold's cumulative fold boundaries — the identical scan
    * `Sampling.kFoldAssign(k = 5)` runs internally. */
  private val KFoldCums: Seq[Double] =
    (0 until 5).map(_ => 1.0 / 5).scanLeft(0.0)(_ + _).tail

  /** DuckDB mirror of [[structuredDoc]], shared by the Gopher/C4 oracles. */
  private val StructuredDocSql: String =
    "concat(substr(text,1,60), '.', chr(10), '- bullet ', substr(text,61,40), chr(10), " +
      "substr(text,101,50), CASE WHEN doc_id % 3 = 0 THEN '...' ELSE '?' END, chr(10), " +
      "CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum { x' || chr(10) ELSE '' END, " +
      "CASE WHEN doc_id % 5 < 4 THEN 'we have to be with them and that is the point of it.' || chr(10) ELSE '' END, " +
      "'tiny', chr(10), substr(text,151,999), '.')"

  /** Mirror of `Kernels.splitmix64` (the minhash affine-family seed
    * derivation) — duplicated here only to embed the A/B constants as
    * literals in the q_ngram_jaccard oracle SQL. */
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Exact integer mirror of the incremental index path
    * (Kernels.minhashSig over WORD tokens + Dedup.buildSignatureIndex +
    * Dedup.nearDupsAgainstIndex) on the real ASCII corpus: FNV-1a per
    * whitespace token in HUGEINT mod 2^64 (the q_simhash machinery),
    * signed MIN over tokens of (A_k*h + B_k) mod 2^64 per hash slot
    * (the q_ngram_jaccard machinery, 32/32-split product), index =
    * GROUP BY signature / min(doc_id) over doc_id >= 50, batch =
    * doc_id < 50, candidates when ANY of the eight 8-wide signature
    * slices is equal (band membership == slice equality — the engine's
    * xxhash64 band keys are injective here), agreement >= 0.9. Shared by
    * `q_dedup_incremental` (batch) and `q_stream_neardup` (the streaming
    * form, whose bounded single-batch run is the batch twin exactly). */
  /** The shared WITH-prefix of the incremental-dedup mirrors: signatures
    * `sg(doc_id, sig)` of every clamped document via the HUGEINT minhash
    * machinery (FNV-1a per whitespace token mod 2^64, signed MIN of the
    * affine family per slot). Both the batch/single-stream mirror and the
    * multi-batch mirror append their own tails. */
  private lazy val MinhashSigCtePrefix: String = {
    val two64 = BigInt(1) << 64
    val two63 = BigInt(1) << 63
    val fnvSeed = BigInt("cbf29ce484222325", 16)
    def u(l: Long) = java.lang.Long.toUnsignedString(l)
    val aList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 1) | 1L)}' AS HUGEINT)")
      .mkString("[", ", ", "]")
    val bList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 2))}' AS HUGEINT)")
      .mkString("[", ", ", "]")
    val T64 = s"CAST('$two64' AS HUGEINT)"
    val T63 = s"CAST('$two63' AS HUGEINT)"
    "WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL " +
      "AND octet_length(encode(text)) = length(text) AND length(trim(text)) > 0), " +
      s"th AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0)) AS tok FROM d), " +
      s"hh AS (SELECT doc_id, list_reduce(list_prepend(CAST('$fnvSeed' AS HUGEINT), " +
      "list_transform(range(1, length(tok)+1), j -> CAST(unicode(substr(tok, j, 1)) AS HUGEINT))), " +
      "(h, c) -> ((xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) + (h - h % 65536)) * 1099511628211) " +
      s"% $T64) AS h FROM th), " +
      s"ab AS (SELECT k, la[k + 1] AS a, lb[k + 1] AS b FROM (SELECT $aList AS la, $bList AS lb), " +
      "unnest(range(0, 64)) AS t(k)), " +
      s"sv AS (SELECT doc_id, k, MIN(CAST(CASE WHEN v >= $T63 THEN v - $T64 ELSE v END AS BIGINT)) AS sv FROM " +
      "(SELECT hh.doc_id, ab.k, ((ab.a * (hh.h % 4294967296) + " +
      s"((ab.a * (hh.h // 4294967296)) % 4294967296) * 4294967296) % $T64 + ab.b) % $T64 AS v " +
      "FROM hh CROSS JOIN ab) GROUP BY doc_id, k), " +
      "sg AS (SELECT doc_id, list(sv ORDER BY k) AS sig FROM sv GROUP BY doc_id)"
  }

  private lazy val DedupIncrementalMirrorSql: String =
    MinhashSigCtePrefix + ", " +
      "idx AS (SELECT sig, MIN(doc_id) AS id_index FROM sg WHERE doc_id >= 50 GROUP BY sig), " +
      "bt AS (SELECT doc_id AS id_new, sig AS sgn FROM sg WHERE doc_id < 50), " +
      "scored AS (SELECT bt.id_new, idx.id_index, " +
      "CAST(list_sum(list_transform(range(0, 64), i -> CASE WHEN bt.sgn[i + 1] = idx.sig[i + 1] THEN 1 ELSE 0 END)) AS DOUBLE) / 64.0 AS jaccard_est, " +
      "list_max(list_transform(range(0, 8), bb -> list_min(list_transform(range(0, 8), " +
      "r -> CASE WHEN bt.sgn[bb * 8 + r + 1] = idx.sig[bb * 8 + r + 1] THEN 1 ELSE 0 END)))) AS anyband " +
      "FROM bt CROSS JOIN idx) " +
      "SELECT id_new, id_index, jaccard_est FROM scored WHERE anyband = 1 AND jaccard_est >= 0.9 " +
      "ORDER BY id_new, id_index"

  /** Mirror of the MULTI-batch streaming near-dup run (r16): batch k of
    * the stream (doc_id ranges [0,17)/[17,34)/[34,50)) probes the index
    * of everything ingested BEFORE it — the static corpus (doc_id ≥ 50)
    * plus earlier stream batches — and each sig's representative is the
    * MIN id among its visible members (buildSignatureIndex semantics:
    * reps migrate to smaller batch ids as the index folds forward). */
  private lazy val StreamNearDupMultiMirrorSql: String =
    MinhashSigCtePrefix + ", " +
      "bt AS (SELECT doc_id AS id_new, sig AS sgn, " +
      "CASE WHEN doc_id < 17 THEN 1 WHEN doc_id < 34 THEN 2 ELSE 3 END AS bj FROM sg WHERE doc_id < 50), " +
      "mem AS (SELECT doc_id, sig, CASE WHEN doc_id >= 50 THEN 0 WHEN doc_id < 17 THEN 1 " +
      "WHEN doc_id < 34 THEN 2 ELSE 3 END AS vis FROM sg), " +
      "pr AS (SELECT bt.id_new, m.sig, MIN(m.doc_id) AS id_index " +
      "FROM bt JOIN mem m ON m.vis < bt.bj GROUP BY 1, 2), " +
      "scored AS (SELECT pr.id_new, pr.id_index, " +
      "CAST(list_sum(list_transform(range(0, 64), i -> CASE WHEN bt.sgn[i + 1] = pr.sig[i + 1] THEN 1 ELSE 0 END)) AS DOUBLE) / 64.0 AS jaccard_est, " +
      "list_max(list_transform(range(0, 8), bb -> list_min(list_transform(range(0, 8), " +
      "r -> CASE WHEN bt.sgn[bb * 8 + r + 1] = pr.sig[bb * 8 + r + 1] THEN 1 ELSE 0 END)))) AS anyband " +
      "FROM pr JOIN bt USING (id_new)) " +
      "SELECT id_new, id_index, jaccard_est FROM scored WHERE anyband = 1 AND jaccard_est >= 0.9 " +
      "ORDER BY id_new, id_index"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- simple filters -------------------------------------------------
    "q_required" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Validate(docs, "text" -> F.Required()).valid
        .select(col("doc_id"), col("text")).orderBy("doc_id")
    }),
    "q_optional" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Validate(docs, "lang" -> F.Optional("und")).valid
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    }),
    "q_minmax_length" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Validate(docs, "text" -> (F.MinLength(100) | F.MaxLength(400))).valid
        .select(col("doc_id"), col("text")).orderBy("doc_id")
    }),
    "q_choice" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      Validate(ev, "event_type" -> F.Choice(Seq("signup", "purchase", "error"))).valid
        .select(col("event_id"), col("event_type")).orderBy("event_id")
    }),
    "q_empty" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Validate(docs, "lang" -> F.Length(2)).flagged("ok")
        .select(col("doc_id"), col("lang"), col("ok")).orderBy("doc_id")
    }),
    "q_omit" -> ((s, dir) => {
      val cust = T(s, dir, "customer")
      val rec = cust.select(struct(cust.columns.toIndexedSeq.map(col): _*).as("rec"))
      Validate(rec, "rec" -> F.Omit(Seq("c_acctbal", "c_mktsegment"))).valid
        .select(col("rec.*")).orderBy("c_custkey")
    }),
    "q_type_int" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      Validate(ev, "value" -> F.Int()).valid
        .select(col("event_id"), col("value").as("value_int")).orderBy("event_id")
    }),
    // ---- number filters -------------------------------------------------
    "q_min" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      Validate(li, "l_quantity" -> F.Min(5.0)).valid
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q_max" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      Validate(li, "l_quantity" -> F.Max(45.0)).valid
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q_decimal" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      // final cast to double: parquet DECIMAL vs DuckDB's decimal result
      // materialize differently in the driver's hasher even when the
      // quantized values agree (r02 hash_match=false); double is exact on
      // both sides since decimal→double is the same nearest-double map
      Validate(li, "l_extendedprice" -> F.Decimal(12, 2)).valid
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").cast("double").as("price"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q_round" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").withColumn("disc_pct", col("l_discount") * 100)
      Validate(li, "disc_pct" -> F.Round()).valid
        .groupBy(col("disc_pct").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n")).orderBy("bucket")
    }),
    // ---- date/time ------------------------------------------------------
    "q_date" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      Validate(ev, "ts" -> F.Date()).valid
        .groupBy(col("ts").as("day")).agg(count(lit(1)).as("n")).orderBy("day")
    }),
    "q_date_dayfirst" -> ((s, dir) => {
      // dateutil's two-tier ambiguous-slash-date rule under BOTH dayFirst
      // settings (r15 — the documented Datetime divergence narrowed to
      // locale autodetection + freeform fuzz; the field-order knob itself
      // is oracled here). Crafted "a/b/2024" with a in 1..31, b in 1..12,
      // b never exceeding any month's day budget (≤ 12 ≤ 28): dayFirst
      // = true always reads d/M (date(2024, b, a)); the default reads M/d
      // when a ≤ 12 (date(2024, a, b)) and swaps ONLY when the preferred
      // read is invalid (a > 12 ⇒ date(2024, b, a)) — both closed-form in
      // SQL, no strptime cascade needed.
      val docs = T(s, dir, "documents").filter(col("doc_id") < 200)
        .withColumn("a", (col("doc_id") % 31 + 1).cast("int"))
        .withColumn("b", (col("doc_id") % 12 + 1).cast("int"))
        .withColumn("slashed", concat(col("a"), lit("/"), col("b"), lit("/2024")))
      // ONE cascade, both readings (r16 — the r15 version ran two
      // independent Validate passes, building and ANALYZING the big
      // lenient CASE cascade twice for a 200-row fixture): parsedTiers
      // exposes the cascade's order-independent tiers, the tiny tier
      // frame pins (localCheckpoint — CollapseProject would otherwise
      // re-inline the cascade into both output expressions), and each
      // reading is a leaf-column coalesce in the documented dateutil
      // preference order. StringsSpec pins tier-coalesce ≡ the dayFirst
      // filters' parse, so the knob's semantics stay oracled.
      val (h, m, d, t) = F.Date(lenient = true).parsedTiers(col("slashed"))
      docs.select(col("doc_id"), h.as("h"), m.as("m"), d.as("d"), t.as("t"))
        .localCheckpoint()
        .select(col("doc_id"),
          coalesce(col("h"), col("m"), col("d"), col("t"))
            .cast("date").as("us_read"),
          coalesce(col("h"), col("d"), col("m"), col("t"))
            .cast("date").as("eu_read"))
        // the .valid drop of the two-pass version: a row invalid under
        // one order is invalid under both (same formats, different
        // order), so one null check reproduces the join of valid sets
        // (e.g. 30/2/2024 — no February 30th either way round)
        .filter(col("us_read").isNotNull)
        .orderBy("doc_id")
    }),
    // ---- string filters -------------------------------------------------
    "q_strip" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("padded", concat(lit("  "), col("text"), lit(" \t")))
      Validate(docs, "padded" -> F.Strip()).valid
        .select(col("doc_id"), col("padded").as("stripped")).orderBy("doc_id")
    }),
    "q_unicode" -> ((s, dir) => {
      // append an NFD-accented suffix; Unicode() must NFC-normalize it
      val docs = T(s, dir, "documents")
        .withColumn("messy", concat(col("text"), lit(" café")))
      Validate(docs, "messy" -> F.Unicode()).valid
        .select(col("doc_id"), col("messy").as("cleaned")).orderBy("doc_id")
    }),
    "q_casefold" -> ((s, dir) => {
      // append a sharp-s suffix so the oracle actually exercises FULL
      // folding (ß -> ss), not just ASCII lowercase
      val docs = T(s, dir, "documents")
        .withColumn("mixed", concat(col("lang"), lit("-Straße")))
      Validate(docs, "mixed" -> F.CaseFold()).valid
        .select(col("doc_id"), col("mixed").as("folded")).orderBy("doc_id")
    }),
    "q_pii_redact" -> ((s, dir) => {
      // PII scrub (r12): deterministic PII synthesized onto every doc —
      // an email always, a NANP phone on %3, a dotted-quad IP on %4, a
      // 9-digit account run on %5 — then Pii.scrub redacts in the fixed
      // email→ip→phone→id order and counts against the original. The
      // oracle rebuilds the same text and applies the IDENTICAL pattern
      // strings (shared programmatically from Pii.Detectors) with
      // RE2's 'g' flag — the patterns live in the Java∩RE2 subset by
      // construction, so replace sites and counts mirror exactly.
      val d = T(s, dir, "documents").filter(col("text").isNotNull)
      val syn = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.org"),
        when(col("doc_id") % 3 === 0, lit(" call 555-867-5309 now"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, concat(lit(" from 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".77")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(lit(" acct "),
          lpad(((col("doc_id") * 37) % 1000000000L).cast("string"), 9, "0")))
          .otherwise(lit("")))
      graft.ops.Pii.scrub(d.select(col("doc_id"), syn.as("text")), "text")
        .select(col("doc_id"), col("text").as("redacted"),
          col("pii_counts.n_email"), col("pii_counts.n_ipv4"),
          col("pii_counts.n_phone"), col("pii_counts.n_id"))
        .orderBy("doc_id")
    }),
    "q_mojibake" -> ((s, dir) => {
      // encoding repair (the ftfy fix_encoding core case): corrupt every
      // document with the classic UTF-8-bytes-as-Latin-1 misdecode, then
      // repair. latin1Misdecode is lossless and fixMojibake its exact
      // inverse, so the repaired column must equal the untouched text —
      // which is exactly what the oracle asserts. Map-only, zero shuffle;
      // both kernels are codegen-resident StaticInvokes.
      import graft.expressions.native
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      docs.select(col("doc_id"),
          native.fixMojibake(native.latin1Misdecode(col("text"))).as("repaired"),
          (native.latin1Misdecode(col("text")) =!= col("text")).as("was_corrupted"))
        .orderBy("doc_id")
    }),
    "q_json" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      Validate(ev, "props" -> F.JsonDecode("k BIGINT")).valid
        .select(col("event_id"), col("props").getField("k").as("k")).orderBy("event_id")
    }),
    "q_regex" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Validate(docs, "text" -> F.Regex("[aeiou]{2}")).valid
        .select(col("doc_id"), size(col("text")).cast("long").as("n_matches"))
        .orderBy("doc_id")
    }),
    "q_split" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Validate(docs, "text" -> F.Split(" ")).valid
        .select(col("doc_id"), element_at(col("text"), 1).as("first_tok"),
          element_at(col("text"), -1).as("last_tok"))
        .orderBy("doc_id")
    }),
    "q_maxbytes" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Validate(docs, "text" -> F.MaxBytes(256, truncate = false)).valid
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"))
        .orderBy("doc_id")
    }),
    "q_bytestring" -> ((s, dir) => {
      // UTF-8 encode roundtrip: cleaned value is the encoded bytes. Output
      // hex(b), not raw binary — the driver's comparer can't hash a
      // bytearray column (r4 ERR); hex is a lossless, hashable encoding of
      // the same payload, so the binary path is still fully exercised.
      val docs = T(s, dir, "documents")
      Validate(docs, "text" -> F.ByteString()).valid
        .select(col("doc_id"), hex(col("text")).as("b_hex"),
          octet_length(col("text")).cast("long").as("n_bytes"))
        .orderBy("doc_id")
    }),
    "q_maxbytes_trunc" -> ((s, dir) => {
      // truncate mode on the ASCII subset, where the UTF-8-boundary-safe
      // cut is mirrorable as a plain byte substring in the oracle
      val docs = T(s, dir, "documents")
        .filter(octet_length(col("text")) === length(col("text")))
      Validate(docs, "text" -> F.MaxBytes(100, truncate = true)).valid
        .select(col("doc_id"), col("text").as("t")).orderBy("doc_id")
    }),
    "q_split_keyed" -> ((s, dir) => {
      // keyed split → named struct; every 5th row has 2 parts (arity
      // mismatch → wrong_count, fields null out)
      val docs = T(s, dir, "documents").withColumn("kv",
        when(col("doc_id") % 5 === 0,
          format_string("a%d:b%d", col("doc_id"), col("doc_id")))
          .otherwise(format_string("a%d:b%d:c%d", col("doc_id"), col("doc_id"), col("doc_id"))))
      Validate(docs, "kv" -> F.Split(":", Seq("x", "y", "z"))).flagged("ok")
        .select(col("doc_id"), col("kv.x").as("x"), col("kv.z").as("z"), col("ok"))
        .orderBy("doc_id")
    }),
    "q_base64" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("b64", base64(col("text").cast("binary")))
      Validate(docs, "b64" -> F.Base64Decode()).valid
        .select(col("doc_id"), col("b64").cast("string").as("decoded")).orderBy("doc_id")
    }),
    "q_uuid" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("u", format_string("%08X-0000-4000-8000-%012X", col("doc_id"), col("doc_id")))
      Validate(docs, "u" -> F.Uuid(4)).valid
        .select(col("doc_id"), col("u").as("uuid")).orderBy("doc_id")
    }),
    "q_ip" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("ip", concat(lit("10."), (col("doc_id") % 300).cast("string"), lit(".0.1")))
      Validate(docs, "ip" -> F.IpAddress()).valid
        .select(col("doc_id"), col("ip")).orderBy("doc_id")
    }),
    // ---- structural combinators ----------------------------------------
    "q_iso" -> ((s, dir) => {
      // synthesize a mix of valid/invalid/miscased country codes
      val cands = Seq("US", "de", "XX", "GB", "ZZ", "fr")
      val docs = T(s, dir, "documents")
        .withColumn("cc", element_at(typedLit(cands), (col("doc_id") % 6).cast("int") + 1))
      Validate(docs, "cc" -> F.Country()).flagged("ok")
        .select(col("doc_id"), col("cc"), col("ok")).orderBy("doc_id")
    }),
    "q_django" -> ((s, dir) => {
      // second extension pack through the registry: slugify document
      // heads (a pure transform) and slug-validate the source column —
      // both constructed BY NAME via the ServiceLoader SPI
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("head", substring(col("text"), 1, 40))
        // every source in the testdata is already slug-shaped, so break
        // some deterministically to exercise the rejection path
        .withColumn("src",
          when(col("doc_id") % 5 === 0, concat(col("source"), lit(" bad!")))
            .otherwise(col("source")))
      val res = Validate(docs,
        "head" -> graft.ext.FilterRegistry("django.slugify"),
        "src" -> graft.ext.FilterRegistry("django.slug"))
      res.flagged("src_ok")
        .select(col("doc_id"), col("head").as("slug"), col("src_ok"))
        .orderBy("doc_id")
    }),
    "q_mapper" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .select(struct(col("event_type"), col("value")).as("rec"))
      val mapper = FilterMapper(Seq(
        "event_type" -> F.Choice(Seq("signup", "purchase", "error")),
        "value" -> F.Min(50.0)))
      Validate(ev, "rec" -> mapper).errorCodes.orderBy("key", "code")
    }),
    "q_mapper_dynamic" -> ((s, dir) => {
      // runtime key policy over a map<string,string>: vary the key set by
      // event_id so all three policy codes fire (extra_key / missing_key /
      // a field-chain error on a present key)
      val ev = T(s, dir, "events")
      val ks = (col("event_id") % 150).cast("string")
      val m4 = col("event_id") % 4
      val ev2 = ev.withColumn("m",
        when(m4 === 0, map(lit("k"), ks, lit("v"), lit("ok")))
          .when(m4 === 1, map(lit("k"), ks))
          .when(m4 === 2, map(lit("k"), ks, lit("v"), lit("ok"), lit("z"), lit("boom")))
          .otherwise(map(lit("v"), lit("ok"))))
      val dyn = FilterMapperDynamic(
        Seq("k" -> F.MinLength(2), "v" -> F.Choice(Seq("ok", "meh"))),
        allowExtraKeys = false, allowMissingKeys = false)
      Validate(ev2, "m" -> dyn).errorCodes.orderBy("key", "code")
    }),
    "q_mapper_variant" -> ((s, dir) => {
      // HETEROGENEOUS dynamic-dict mapper (r12 — closes the SURVEY §7
      // heterogeneous-values divergence): five deterministic JSON shapes
      // exercise every policy branch — valid typed values (with a chain
      // error on small qty), a string where bigint is expected
      // (invalid_type), an undeclared key (extra_key), a JSON null
      // (None-passthrough), and a missing key + number→string coercion
      // feeding a chain error. The oracle mirrors the OUTCOME from the
      // same generator columns (the established synthesized-fixture
      // pattern — DuckDB has no variant type to parse).
      val ev = T(s, dir, "events")
      val m5 = col("event_id") % 5
      val z = (col("event_id") % 10).cast("string")
      val q100 = (col("event_id") % 100).cast("string")
      val js = when(m5 === 0, concat(lit("{\"qty\": "), q100,
          lit(", \"tag\": \"t"), z, lit("\", \"score\": 12.5}")))
        .when(m5 === 1, concat(lit("{\"qty\": \"oops\", \"tag\": \"t"), z,
          lit("\", \"score\": 3.5}")))
        .when(m5 === 2, concat(lit("{\"qty\": 7, \"tag\": \"t"), z,
          lit("\", \"score\": 1.5, \"x\": true}")))
        .when(m5 === 3, concat(lit("{\"qty\": null, \"tag\": \"t"), z,
          lit("\", \"score\": 2.0}")))
        .otherwise(lit("{\"tag\": 9, \"score\": 0.5}"))
      val vm = FilterMapperVariant(Seq(
        ("qty", "bigint", F.Min(5.0)),
        ("tag", "string", F.MinLength(2)),
        ("score", "double", F.Max(100.0))), allowExtraKeys = false)
      val res = Validate(ev.withColumn("doc", parse_json(js)), "doc" -> vm)
      res.df.select(col("event_id"),
        col("doc.qty").as("qty"), col("doc.tag").as("tag"),
        col("doc.score").as("score"),
        array_join(transform(col("_errors"), e => e.getField("key")), ",").as("err_keys"),
        array_join(transform(col("_errors"), e => e.getField("code")), ",").as("err_codes"))
        .orderBy("event_id")
    }),
    "q_repeater" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Validate(emb, "embedding" -> FilterRepeater(F.Min(-0.25) | F.Max(0.25)))
        .flagged("ok").select(col("vec_id"), col("ok")).orderBy("vec_id")
    }),
    "q_repeater_map" -> ((s, dir) => {
      // map-typed repeater: one chain over every map VALUE, errors keyed by
      // map key (m.v / m.half)
      val ev = T(s, dir, "events").withColumn("m",
        map(lit("v"), col("value"), lit("half"), col("value") / 2))
      Validate(ev, "m" -> FilterRepeaterMap(F.Min(10.0) | F.Max(400.0)))
        .flagged("ok").select(col("event_id"), col("ok")).orderBy("event_id")
    }),
    "q_switch" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .select(col("event_id"), struct(col("event_type"), col("value")).as("rec"))
      val switch = FilterSwitch(_.getField("event_type"), Seq(
        "purchase" -> FilterMapper(Seq("value" -> F.Min(10.0))),
        "error" -> FilterMapper(Seq("value" -> F.Max(500.0)))),
        default = Some(F.NoOp()))
      Validate(ev, "rec" -> switch).flagged("ok")
        .select(col("event_id"), col("ok")).orderBy("event_id")
    }),
    // ---- LLM-pipeline ops ----------------------------------------------
    "q_repetition" -> ((s, dir) => {
      // duplicate every line (plus a unique tail) so the dup-lines signal
      // fires on every row; dup-tokens runs on the raw text
      val docs = T(s, dir, "documents")
        .withColumn("rep", concat_ws("\n", col("text"), col("text"), lit("tail")))
      docs.select(col("doc_id"),
        TextAnalysis.duplicateLineFraction(col("rep")).as("dup_lines"),
        TextAnalysis.duplicateTokenFraction(col("text")).as("dup_tokens"))
        .orderBy("doc_id")
    }),
    "q_contamination" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val bench = docs.filter(col("doc_id") < 3).select(col("text").as("bench_text"))
      Dedup.contamination(docs.filter(col("doc_id") < 50), "doc_id", "text",
        bench, "bench_text", k = 8)
        .orderBy("doc_id")
    }),
    "q_jaccard" -> ((s, dir) => {
      // exact shingle-set Jaccard on a small id range — the precise
      // counterpart the MinHash estimate approximates (oracle-able)
      val docs = T(s, dir, "documents")
        .filter(col("doc_id") < 30 && length(col("text")) >= 5)
      val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 5).as("sh"))
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Dedup.jaccard(col("sh_a"), col("sh_b")).as("j"))
        .orderBy("id_a", "id_b")
    }),
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.distinctKeys(T(s, dir, "documents"), Seq("lang", "source"))
        .orderBy("lang", "source")
    }),
    "q_dedup_units" -> ((s, dir) => {
      // corpus-wide keep-first unit dedup at token granularity (the corpus
      // has no newlines); units under 4 chars are exempt, exercising the
      // structural-unit carve-out alongside the dedup path
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      Dedup.dedupUnitsKeepFirst(docs, "doc_id", "text",
        delim = " ", joinSep = " ", minUnitLength = 4)
        .orderBy("doc_id")
    }),
    "q_dedup_spans" -> ((s, dir) => {
      // duplicated k-token span excision, ORACLE-CHECKED end to end (the
      // window keys are exact content hashes, not LSH — fully
      // mirrorable): every doc appends a group-shared 8-token tail, so
      // within each doc_id%10 group every doc after the first loses
      // exactly that span (plus whatever real-text windows the corpus
      // happens to repeat — the oracle mirrors the algorithm, so
      // incidental repetition verifies rather than breaks)
      val docs = TR(s, dir, "documents").filter(col("text").isNotNull)
      val g = (col("doc_id") % 10).cast("string")
      val tail = concat_ws(" ", Seq("a", "b", "c", "d", "e", "f", "g", "h")
        .map(x => concat(lit("sp"), g, lit(x))): _*)
      val crafted = docs.select(col("doc_id"),
        concat(col("text"), lit(" "), tail).as("text"))
      Dedup.dedupSpansKeepFirst(crafted, "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }),
    "q_url_canon" -> ((s, dir) => {
      // synthesized URLs sweep every canonicalization rule: scheme/host
      // case, userinfo, default vs explicit port, percent-encoding
      // (unreserved decode + hex uppercase), trailing slash, tracking
      // params + param sort, bare '?', fragment. The oracle states the
      // EXPECTED canonical form in closed form — it verifies semantics
      // independently rather than mirroring the parser.
      val docs = T(s, dir, "documents")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTP://u:p@WWW.Example.COM:80"))
          .otherwise(lit("https://API.Example.org:8443")),
        lit("/Path/"), (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 6 === 0, lit("/%7euser%2fB%41")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("?utm_source=news&b=2&a=1"))
          .otherwise(when(col("doc_id") % 4 === 1, lit("?id=7&utm_campaign=x&fbclid=abc"))
            .otherwise(when(col("doc_id") % 4 === 2, lit("?")).otherwise(lit("")))),
        when(col("doc_id") % 5 === 0, lit("#section-2")).otherwise(lit("")))
      // parse ONCE: the synthesized when/concat URL tree materializes
      // into a single parseUrl struct projection; the three outputs
      // derive from the struct, so the tree codegens once, not 3×
      // (subexpression elimination cannot reach into when-branches)
      docs.select(col("doc_id"), Urls.parseUrl(url).as("__p"))
        .select(col("doc_id"),
          Urls.canonicalizeUrlParsed(col("__p")).as("url_canonical"),
          Urls.urlHostParsed(col("__p")).as("host"),
          Urls.registrableDomainParsed(col("__p")).as("domain"))
        .orderBy("doc_id")
    }),
    "q_robots" -> ((s, dir) => {
      // RFC 9309 evaluation vectors: star-group longest-match + allow
      // override + $-anchored wildcard on alpha, exact-agent group
      // shadowing the star group on beta, robots-less gamma defaulting
      // to allowed. Oracle states the EXPECTED verdicts in closed form.
      import s.implicits._
      val robots = Seq(
        ("alpha.test",
          "User-agent: *\nDisallow: /private/\nAllow: /private/ok\nDisallow: /*.zip$\n"),
        ("beta.test",
          "User-agent: graftbot\nDisallow: /\n\nUser-agent: *\nDisallow: /tmp/\n"))
        .toDF("domain", "content")
      val rules = graft.ops.Robots.rulesFor(robots, "domain", "content", "graftbot")
      val dom = when(col("doc_id") % 3 === 0, lit("alpha.test"))
        .when(col("doc_id") % 3 === 1, lit("beta.test"))
        .otherwise(lit("gamma.test"))
      val path = when(col("doc_id") % 5 === 0, lit("/public/a"))
        .when(col("doc_id") % 5 === 1, lit("/private/x"))
        .when(col("doc_id") % 5 === 2, lit("/private/ok/y"))
        .when(col("doc_id") % 5 === 3, lit("/data/file.zip"))
        .otherwise(lit("/tmp/t"))
      val urls = T(s, dir, "documents")
        .select(col("doc_id"), concat(lit("https://"), dom, path).as("url"))
      graft.ops.Robots.annotateAllowed(urls, "url", "doc_id", rules, "allowed")
        .orderBy("doc_id")
    }),
    "q_url_psl" -> ((s, dir) => {
      // PSL registrable-domain + IPv6-host vectors, closed-form oracle:
      // ccTLD second-level suffixes (co.uk / com.au), the wildcard
      // (*.ck) and exception (!www.ck) rule forms, suffix-self hosts,
      // IP hosts (no registrable domain), and bracket-host
      // canonicalization incl. default-port drop
      val docs = T(s, dir, "documents")
      val url =
        when(col("doc_id") % 8 === 0, lit("https://a.b.Example.CO.UK/x"))
          .when(col("doc_id") % 8 === 1, lit("http://shop.Example.COM.AU:80/y?z=1"))
          .when(col("doc_id") % 8 === 2, lit("https://deep.sub.foo.CK/p"))
          .when(col("doc_id") % 8 === 3, lit("https://WWW.CK/q"))
          // non-canonical v6 spelling: RFC 5952 must strip the leading
          // zeros and compress the zero run → [2001:db8::1]
          .when(col("doc_id") % 8 === 4, lit("http://[2001:0DB8:0:0:0:0:0:1]:8080/v6"))
          .when(col("doc_id") % 8 === 5, lit("http://[2001:DB8::1]:80/v6"))
          .when(col("doc_id") % 8 === 6, lit("https://192.168.0.1/ip"))
          .otherwise(lit("https://co.uk/self"))
      // parse-once struct — q_url_canon's rationale
      docs.select(col("doc_id"), Urls.parseUrl(url).as("__p"))
        .select(col("doc_id"),
          Urls.canonicalizeUrlParsed(col("__p")).as("url_canonical"),
          Urls.urlHostParsed(col("__p")).as("host"),
          Urls.registrableDomainParsed(col("__p")).as("domain"))
        .orderBy("doc_id")
    }),
    "q_html_text" -> ((s, dir) => {
      // synthesized markup sweeps every extraction stage: subtree drops
      // (script/style), comments, CDATA, block-tag newlines, inline-tag
      // spaces, named/decimal/hex entities, nbsp collapse, no-double-
      // decode. Oracle states the EXPECTED extracted text in closed form.
      val docs = T(s, dir, "documents")
      val html = concat(
        when(col("doc_id") % 5 === 0, lit("<html><head><title>T</title>" +
            "<style>p{color:red}</style></head><body><h1>Hello</h1>" +
            "<p>World &amp; friends</p></body></html>"))
          .when(col("doc_id") % 5 === 1,
            lit("<div>A<!-- hidden <b>x</b> -->B<span>C</span></div>"))
          .when(col("doc_id") % 5 === 2,
            lit("<p>X<![CDATA[1 < 2 & \"raw\"]]>Y &#65;&#x42; &copy;</p>"))
          .when(col("doc_id") % 5 === 3, lit("<script type=\"text/js\">" +
            "var a=\"<p>no</p>\";</script>Only&nbsp;this"))
          .otherwise(lit("Line1<br/>Line2<hr>Line3 <b>bold &amp;lt;tag&amp;gt;</b>")),
        lit("<p>uniq"), col("doc_id").cast("string"), lit("</p>"))
      docs.select(col("doc_id"), Html.htmlToText(html).as("text_extracted"))
        .orderBy("doc_id")
    }),
    "q_fuzzy_join" -> ((s, dir) => {
      // typo-tolerant pair discovery over 16-char prefixes: lossless
      // q-gram prefix-filter blocking vs the oracle's exhaustive
      // length-filtered all-pairs levenshtein
      val strs = T(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 16).as("s"))
      graft.ops.FuzzyJoin.editDistanceJoin(strs, "doc_id", "s", maxDist = 2)
        .orderBy("id_1", "id_2")
    }),
    "q_profile_drift" -> ((s, dir) => {
      // snapshot profile drift (r12): today's orders vs a planted
      // tomorrow — 10% of rows gone, o_orderstatus nulled on %7,
      // o_totalprice rescaled, o_custkey re-typed to string,
      // o_orderpriority dropped, o_channel added. The report must flag
      // exactly the schema changes + the null-rate drift and leave the
      // benign columns unflagged; the oracle recomputes every metric
      // and the flag rule per column.
      val before = T(s, dir, "orders")
      val after = before.filter(col("o_orderkey") % 10 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderstatus")))
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .withColumn("o_custkey", col("o_custkey").cast("string"))
        .drop("o_orderpriority")
        .withColumn("o_channel",
          when(col("o_orderkey") % 2 === 0, lit("web")).otherwise(lit("app")))
      Sketches.profileDrift(before, after, exact = true).orderBy("col_name")
    }),
    "q_entity_resolution" -> ((s, dir) => {
      // golden-record entity resolution (r12): every even customer gets a
      // typo'd duplicate record (distinct md5-derived keys, so distinct
      // customers never false-match; the duplicate drops the key's last
      // char and flips its case = normalized distance 1) with
      // COMPLEMENTARY attributes — survivorship must stitch segment from
      // the base record and nation from the duplicate, and when %3 kills
      // the base's bal the duplicate (then the more complete member)
      // supplies bal+100 AND the canonical key. Odd customers stay
      // singletons. The oracle replays pairing, closure, and per-attr
      // survivorship in full.
      val c = T(s, dir, "customer")
        .filter(col("c_custkey").isNotNull && col("c_custkey") <= 600)
      val base = c.select(col("c_custkey").as("rid"),
        concat(lit("Entity "), md5(col("c_custkey").cast("string"))).as("name"),
        col("c_mktsegment").as("segment"),
        when(col("c_custkey") % 3 =!= 0, col("c_acctbal")).as("bal"),
        lit(null).cast("int").as("nation"))
      val dup = c.filter(col("c_custkey") % 2 === 0).select(
        (col("c_custkey") + 1000000L).as("rid"),
        concat(lit("entity "),
          substring(md5(col("c_custkey").cast("string")), 1, 31)).as("name"),
        lit(null).cast("string").as("segment"),
        when(col("c_custkey") % 3 === 0, col("c_acctbal") + 100.0).as("bal"),
        col("c_nationkey").as("nation"))
      graft.ops.EntityResolution.resolve(base.unionByName(dup), "rid", "name",
          Seq("segment", "bal", "nation"), maxDist = 1)
        .orderBy("entity_id")
    }),
    "q_quality_score" -> ((s, dir) => {
      // fixed-weight linear quality model over interpretable signals —
      // the score a trained fastText-style filter would assign, stated
      // in closed form so the oracle is plain arithmetic
      val d = T(s, dir, "documents").filter(col("text").isNotNull)
      graft.ops.Classifier.scoreLinear(d, Seq(
          least(col("n_chars") / 500.0, lit(2.0)) -> 0.8,
          (size(split(col("text"), " ")) / 100.0) -> 0.6,
          (length(regexp_replace(col("text"), "[a-z ]", ""))
            / greatest(length(col("text")), lit(1))) -> -2.0),
          bias = -0.5)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),
    "q_logit_fit" -> ((s, dir) => {
      // train the quality model IN the engine: 3 grid-quantized GD
      // iterations against the weak lang=='en' label; the oracle unrolls
      // the identical iterations in SQL
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull && col("n_chars").isNotNull)
        .withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0))
      graft.ops.Classifier.fitLogistic(d, Seq(
          least(col("n_chars") / 500.0, lit(2.0)),
          length(regexp_replace(col("text"), "[a-z ]", ""))
            / greatest(length(col("text")), lit(1))),
          "y", learningRate = 2.0, iterations = 3)
        .select(round(col("bias"), 6).as("bias"), round(col("w_1"), 6).as("w_1"),
          round(col("w_2"), 6).as("w_2"), col("n"))
    }),
    "q_auc" -> ((s, dir) => {
      // tie-correct ROC-AUC of the q_quality_score model against the weak
      // lang=='en' label — the eval loop of classifier filtering. The
      // score is round(σ, 6) (the proven q_quality_score 6dp-exp mirror),
      // so both engines rank the identical discrete values; rank sums run
      // integral/decimal (partitioning-proof) and the one-row ratio
      // floor-rounds on the 1e-9 grid.
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull &&
          col("n_chars").isNotNull)
      val scored = graft.ops.Classifier.scoreLinear(d, Seq(
          least(col("n_chars") / 500.0, lit(2.0)) -> 0.8,
          (size(split(col("text"), " ")) / 100.0) -> 0.6,
          (length(regexp_replace(col("text"), "[a-z ]", ""))
            / greatest(length(col("text")), lit(1))) -> -2.0),
          bias = -0.5)
        .withColumn("score", round(col("score"), 6))
        .withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0))
      graft.ops.Classifier.aucROC(scored, "score", "y")
    }),
    "q_auc_by_lang" -> ((s, dir) => {
      // per-stratum model evaluation: AUC of the quality score against
      // the n_chars >= 500 label WITHIN each language — the label leans
      // on a model feature, so every stratum's AUC is high but distinct.
      // Ranks are per-group over GLOBAL score buckets (one boundary
      // aggregate; the offsets table is |langs|×nBuckets and broadcasts).
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull &&
          col("n_chars").isNotNull)
      val scored = graft.ops.Classifier.scoreLinear(d, Seq(
          least(col("n_chars") / 500.0, lit(2.0)) -> 0.8,
          (size(split(col("text"), " ")) / 100.0) -> 0.6,
          (length(regexp_replace(col("text"), "[a-z ]", ""))
            / greatest(length(col("text")), lit(1))) -> -2.0),
          bias = -0.5)
        .withColumn("score", round(col("score"), 6))
        .withColumn("y", when(col("n_chars") >= 500, 1.0).otherwise(0.0))
      graft.ops.Classifier.aucROCBy(scored, Seq("lang"), "score", "y")
        .orderBy("lang")
    }),
    "q_calibration" -> ((s, dir) => {
      // reliability table of the same model/label: 10 probability bins ×
      // (volume, positives, empirical rate, mean score). Mean score
      // accumulates as a LONG sum of 2^-20-snapped values (the
      // q_mean_pool idiom) — exact at any row count — and both means
      // floor-round on the 1e-6 grid.
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull &&
          col("n_chars").isNotNull)
      val scored = graft.ops.Classifier.scoreLinear(d, Seq(
          least(col("n_chars") / 500.0, lit(2.0)) -> 0.8,
          (size(split(col("text"), " ")) / 100.0) -> 0.6,
          (length(regexp_replace(col("text"), "[a-z ]", ""))
            / greatest(length(col("text")), lit(1))) -> -2.0),
          bias = -0.5)
        .withColumn("score", round(col("score"), 6))
        .withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0))
      graft.ops.Classifier.calibrationTable(scored, "score", "y")
        .orderBy("bin")
    }),
    "q_links" -> ((s, dir) => {
      // synthesized per-doc markup: two unconditional links (one with
      // inner tags + messy whitespace in the anchor), a third on doc_id%3,
      // plus an href-less <a> that must NOT match. Oracle states the
      // expected (pos, href, anchor) rows in closed form.
      Html.extractLinks(T(s, dir, "documents")
          .withColumn("html", linkFixtureHtml), "doc_id", "html")
        .orderBy("doc_id", "link_pos")
    }),
    "q_pagerank" -> ((s, dir) => {
      // end-to-end link-graph prior: extract links from the synthesized
      // markup, parse the page id back out of each href, run 3
      // grid-quantized PageRank iterations over the edge list
      val edges = Html.extractLinks(T(s, dir, "documents")
          .withColumn("html", linkFixtureHtml), "doc_id", "html")
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "([0-9]+)$", 1).cast("long").as("dst"))
      graft.ops.Graphs.pageRank(edges, "src", "dst", iterations = 3)
        .select(col("node"), round(col("rank"), 8).as("rank"))
        .orderBy("node")
    }),
    "q_degrees" -> ((s, dir) => {
      val edges = Html.extractLinks(T(s, dir, "documents")
          .withColumn("html", linkFixtureHtml), "doc_id", "html")
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "([0-9]+)$", 1).cast("long").as("dst"))
      graft.ops.Graphs.degrees(edges, "src", "dst").orderBy("node")
    }),
    "q_curation_e2e" -> ((s, dir) => {
      // the FULL first-pass curation composition, ORACLE-checked (unlike
      // q_pipeline_e2e, every stage here is SQL-expressible): blocklist
      // drops all odd docs (*.example.org), canonical-URL dedup collapses
      // the %200 collisions, boilerplate strips corpus-frequent tokens
      // within the (single) surviving domain, unit keep-first scrubs
      // repeats, exact dedup collapses docs made identical by cleaning
      val docs = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("source").isNotNull)
      val url = concat(lit("https://"), col("source"), lit(".Example."),
        when(col("doc_id") % 2 === 0, lit("com")).otherwise(lit("ORG")),
        lit("/p/"), (col("doc_id") % 200).cast("string"),
        when(col("doc_id") % 3 === 0, lit("?utm_source=x")).otherwise(lit("")))
      // every 4th doc carries a unique token: the tiny shared vocabulary
      // is (correctly) all boilerplate at this threshold, so without
      // distinctive tokens the corpus would collapse to ~1 doc and the
      // later stages would see nothing — with them, ~half the
      // URL-dedup survivors keep distinctive text, multi-token docs pin
      // the reassembly order, and the rest still exercise the
      // empty-drop / exact-dedup paths
      val text2 = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit(" uniq"), col("doc_id").cast("string"))).otherwise(lit("")))
      val crawl = docs.select(col("doc_id"), url.as("url"), text2.as("text"))
      graft.examples.WebCrawlCuration.curate(crawl, Seq("example.org"),
        boilerplateMinDocs = 10L, delim = " ", joinSep = " ")
        .orderBy("doc_id")
    }),
    "q_mixture_e2e" -> ((s, dir) => {
      // the FULL mixture-assembly composition ORACLE-checked stage by
      // stage (r16 — graduates COVERAGE row 63 from tests-only, the
      // q_curation_e2e pattern): perplexity band → 64/8 chunking →
      // temperature weights → stratified sample → WFQ interleave → pack.
      // Every stage has its own green mirror (q_unigram_ll, q_chunk,
      // q_temperature_weights, q_sample_stratified, q_interleave,
      // q_pack_sequences); the composition restates them as CTEs. The ll
      // band (-3.41, -1.0) sits inside the corpus's observed ll
      // distribution at every SF so the filter stage drops a real tail.
      // packSequences breaks vft ties by a row hash no SQL can mirror —
      // vft is UNIQUE here at every SF (verified 0.001/0.01/0.1; weights
      // are per-lang distinct so no two strata share a vft series), and
      // the window guard below turns any future tie into a LOUD
      // raise_error instead of a silent hash flap.
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      val out = graft.examples.MixturePipeline.assemble(docs,
        stratumCol = "lang", chunkTokens = 64, overlap = 8,
        llBand = (-3.41, -1.0), temperature = 0.7, seqBudget = 256L)
      val wv = Window.partitionBy(col("vft"))
      out.withColumn("__c", count(lit(1)).over(wv))
        .select(col("chunk_id"), col("doc_id"), col("chunk_idx"),
          col("lang"), col("n_tok"), col("vft"),
          when(col("__c") === 1, col("seq_id"))
            .otherwise(raise_error(lit("q_mixture_e2e: vft tie — pack " +
              "order not SQL-mirrorable on this corpus")).cast("long"))
            .as("seq_id"))
        .orderBy("chunk_id")
    }),
    "q_clusters_merge" -> ((s, dir) => {
      // incremental cluster maintenance ORACLE-checked on a crafted
      // stored+fresh fixture with a CLOSED-FORM merged assignment (r16 —
      // graduates COVERAGE row 66 from tests-only, the
      // q_dedup_incremental pattern): the stored assignment is 4-blocks
      // (rep = id − id%4) over doc_id < 200; fresh pairs bridge the two
      // 4-blocks of every EVEN 8-block (doc_id%16 == 0 → (id, id+4)), so
      // merged rep = id − id%8 on even 8-blocks and the stored rep
      // elsewhere; a batch-vs-batch chain creates new cluster 200..205
      // (rep 200) and a batch-vs-index pair attaches 210 to node 3's
      // cluster (rep 0). Exercises rep stability, cross-cluster merge,
      // and both new-pair classes of the daily-ingest contract.
      val ids = T(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"))
      val assignment = ids.select(col("doc_id").as("id"),
        (col("doc_id") - col("doc_id") % 4).as("rep"))
      val bridges = ids.filter(col("doc_id") % 16 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 4).as("id_b"))
      val chain = ids.filter(col("doc_id") < 5)
        .select((col("doc_id") + 200).as("id_a"), (col("doc_id") + 201).as("id_b"))
      val attach = ids.filter(col("doc_id") === 0)
        .select(lit(210L).as("id_a"), lit(3L).as("id_b"))
      graft.ops.Clusters.mergeIncremental(assignment,
        bridges.unionByName(chain).unionByName(attach))
        .orderBy("id")
    }),
    "q_twopass" -> ((s, dir) => {
      // the COMPOSED two-pass pipeline (WebCrawlCuration → seam →
      // TrainingDataPipeline) over the real documents table with a
      // synthesized crawl surface: deterministic per-doc URL over 50
      // registrable domains + a per-domain nav line for the boilerplate
      // stage. Rows-only (standard LSH rationale: band-bucket membership
      // is not SQL-mirrorable) — content-pinned in RowsOnlyPinSpec; the
      // per-stage semantics are each oracle-checked by q_curation_e2e /
      // q_pipeline_e2e, and invariance is smoked in git show
      // 721304f:src/test/scala/graft/tools/TwoPassSmoke.scala.
      val docs = TR(s, dir, "documents")
      val crawl = docs.select(col("doc_id"),
        concat(lit("https://www.crawl"), pmod(col("doc_id"), lit(50)).cast("string"),
          lit(".co.uk/d/"), col("doc_id").cast("string")).as("url"),
        concat(lit("crawl"), pmod(col("doc_id"), lit(50)).cast("string"),
          lit(" home about contact navigation\n"), col("text")).as("text"))
      graft.examples.TwoPassCuration.curate(crawl, Seq("blocked.example.com"))
        .select(col("doc_id"), col("domain"), col("lang_guess"),
          col("quality"), col("n_tokens"))
        .orderBy("doc_id")
    }),
    "q_url_blocklist" -> ((s, dir) => {
      // suffix-label blocklist: every odd doc lands on *.example.org
      // (blocked domain), src3's even docs land on src3.example.com
      // (blocked subdomain); matching is case-insensitive on both sides
      val docs = T(s, dir, "documents").filter(col("source").isNotNull)
      val url = concat(lit("https://"), col("source"), lit(".Example."),
        when(col("doc_id") % 2 === 0, lit("com")).otherwise(lit("ORG")),
        lit("/p/"), col("doc_id").cast("string"))
      Urls.filterBlockedDomains(
        docs.select(col("doc_id"), col("source"), url.as("url")),
        "url", Seq("example.org", "SRC3.example.com"))
        .select("doc_id", "source").orderBy("doc_id")
    }),
    "q_url_dedup" -> ((s, dir) => {
      // many URL spellings of the same resource (case, trailing slash,
      // tracking param, fragment) collapse to one canonical form; keep the
      // smallest doc_id per resource
      val docs = T(s, dir, "documents")
      val url = concat(lit("HTTPS://Example.COM/item/"),
        (col("doc_id") % 37).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/?utm_source=x")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit("#f")).otherwise(lit("")))
      Urls.dedupByUrl(docs.select(col("doc_id"), url.as("url")), "url", "doc_id")
        .select("doc_id", "url_canonical").orderBy("doc_id")
    }),
    "q_dedup_clusters" -> ((s, dir) => {
      // transitive near-dup resolution, ORACLE-CHECKED: exact token-set
      // Jaccard pairs on a clamped id range (the precise quantity
      // minhashSignature estimates — the oracle-able pair source) resolved
      // to connected components with min-id representatives; DuckDB
      // mirrors the closure with a recursive CTE. The LSH-pair variant
      // runs inside q_pipeline_e2e.
      val docs = TR(s, dir, "documents")
        .filter(col("doc_id") < 200 && col("text").isNotNull)
      val tokSet = array_distinct(filter(
        split(lower(col("text")), "\\s+"), t => length(t) > 0))
      val sh = docs.select(col("doc_id"), tokSet.as("tok"))
      val a = sh.select(col("doc_id").as("id_a"), col("tok").as("tok_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("tok").as("tok_b"))
      val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .filter(Dedup.jaccard(col("tok_a"), col("tok_b")) >= 0.9)
        .select(col("id_a"), col("id_b"))
      val cc = graft.ops.Clusters.connectedComponents(pairs)
      docs.select(col("doc_id"))
        .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
        .orderBy("doc_id")
    }),
    "q_dedup_keep_best" -> ((s, dir) => {
      // keep-BEST cluster resolution (the RefinedWeb keep-longest recipe):
      // same exact-Jaccard oracle-able pair source as q_dedup_clusters,
      // but each transitive cluster keeps its longest member (ties → min
      // id) instead of the min-id representative
      val docs = T(s, dir, "documents")
        .filter(col("doc_id") < 200 && col("text").isNotNull)
      val tokSet = array_distinct(filter(
        split(lower(col("text")), "\\s+"), t => length(t) > 0))
      val sh = docs.select(col("doc_id"), tokSet.as("tok"))
      val a = sh.select(col("doc_id").as("id_a"), col("tok").as("tok_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("tok").as("tok_b"))
      val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .filter(Dedup.jaccard(col("tok_a"), col("tok_b")) >= 0.9)
        .select(col("id_a"), col("id_b"))
      graft.ops.Clusters.keepBestInClusters(docs, pairs, "doc_id", "n_chars")
        .select(col("doc_id"), col("n_chars")).orderBy("doc_id")
    }),
    "q_approx_distinct" -> ((s, dir) => {
      T(s, dir, "events").agg(count_distinct(col("user_id")).as("n"))
    }),
    "q_window_events" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("h"), col("n")).orderBy("h")
    }),
    "q_session_window" -> ((s, dir) => {
      // batch parity of the streaming session-window operator (same code
      // path minus watermark): 30-min-gap sessions per user
      graft.streaming.StreamingValidate.sessionCounts(
        T(s, dir, "events"), "ts", "user_id", "30 minutes")
        .orderBy("user_id", "session_start")
    }),
    "q_stream_dedup" -> ((s, dir) => {
      // TRUE streaming run (not batch parity): file source → the SAME
      // validator chain as q_choice → watermark dedup → memory sink,
      // driven to completion with Trigger.AvailableNow. Deterministic and
      // oracle-able because (a) the output is only the dedup KEY (which
      // duplicate survives is engine-internal; the key set is not) and
      // (b) the bounded run ingests the single events file in one
      // microbatch, where the initial watermark (epoch 0) drops nothing —
      // so streaming dedup == batch DISTINCT on the valid split.
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      // normalize all three observed testdata shapes (µs TIMESTAMP_NTZ is
      // the current one; ns-as-long the legacy one) to watermarkable TIMESTAMP
      val ev = graft.streaming.StreamingValidate.ensureEventTime(raw, "ts")
      val valid = graft.streaming.StreamingValidate(ev,
        "event_id" -> F.Required(),
        "event_type" -> F.Choice(Seq("signup", "purchase", "error"))).valid
      val deduped = graft.streaming.StreamingValidate.dedupWithinWatermark(
        valid, Seq("user_id"), "ts", "1 hour")
      graft.streaming.StreamingValidate.runBounded(deduped.select(col("user_id")))
        .orderBy(col("user_id").asc_nulls_first)
    }),
    "q_stream_session" -> ((s, dir) => {
      // TRUE streaming session windows (file source → watermark → session
      // state store), driven to completion with Trigger.AvailableNow under
      // COMPLETE output mode. The bounded run ingests the single events
      // file in one microbatch where the initial watermark (epoch 0) drops
      // nothing, and complete mode emits ALL sessions — append mode would
      // emit only watermark-closed sessions, silently dropping every
      // session within (delay+gap) of max event time. So streaming session
      // assembly == the batch gaps-and-islands oracle (same argument as
      // q_stream_dedup, extended to windowed state).
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val sess = graft.streaming.StreamingValidate.sessionCounts(
        raw, "ts", "user_id", "30 minutes")
      graft.streaming.StreamingValidate.runBounded(sess, outputMode = "complete")
        .orderBy(col("user_id").asc_nulls_first, col("session_start"))
    }),
    "q_quantiles" -> ((s, dir) => {
      T(s, dir, "lineitem").agg(
        percentile(col("l_quantity"), lit(0.25)).as("p25"),
        percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.9)).as("p90"))
    }),
    "q_mean_pool" -> ((s, dir) => {
      // per-label centroids via the partial-aggregable array_sum agg.
      // Elements are pre-rounded to the 2^-20 grid, making every partial
      // sum EXACTLY representable -> the sum is identical under ANY
      // addition order (Spark partial-agg order is nondeterministic),
      // which is what lets an aggregate over floats be hash-oracled
      val emb = T(s, dir, "embeddings").withColumn("e",
        transform(col("embedding"),
          x => floor(x.cast("double") * 1048576.0 + 0.5) / 1048576.0))
      Similarity.meanPool(emb, Seq("label"), "e")
        .select(col("label"), col("n"),
          posexplode(transform(col("mean"), x => floor(x * 1e6 + 0.5) / 1e6))
            .as(Seq("pos", "val")))
        .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
          col("val"), col("n"))
        .orderBy("label", "pos")
    }),
    "q_phrase_flag" -> ((s, dir) => {
      val phrases = Seq("merge part", "scan join", "lorem ipsum")
      T(s, dir, "documents").select(col("doc_id"),
        QualityRules.containsAnyPhrase(col("text"), phrases).as("flagged"))
        .orderBy("doc_id")
    }),
    "q_winsorize" -> ((s, dir) => {
      // per-stratum [5%, 95%] clamp of price, exact percentiles
      Sketches.winsorize(T(s, dir, "lineitem"), "l_extendedprice",
        "l_returnflag", lo = 0.05, hi = 0.95, outCol = "price_w")
        .select(col("l_orderkey"), col("l_linenumber"), col("price_w"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q_dedup_normalize" -> ((s, dir) => {
      // accents + case + punctuation synthesized per row; the kernel's
      // lowercase→NFD-strip→collapse pipeline must equal DuckDB's
      // lower→strip_accents→regex-collapse bitwise
      val t = concat(lit("Héllo, WORLD!  Café #"), col("doc_id"), lit(": "),
        upper(substring(col("text"), 1, 40)), lit(" ñ-ç…ü"))
      T(s, dir, "documents").select(col("doc_id"),
        graft.expressions.native.dedupNormalize(t).as("norm"))
        .orderBy("doc_id")
    }),
    "q_bpe_tokens" -> ((s, dir) => {
      // real BPE subword counts under the committed 16-merge vocabulary
      T(s, dir, "documents").select(col("doc_id"),
        graft.ops.Bpe.tokenCount(col("text"), BpeMerges).as("n_bpe"))
        .orderBy("doc_id")
    }),
    "q_hash_split" -> ((s, dir) => {
      // deterministic train/val/test partition: id-stable, engine-portable
      Sampling.hashSplit(T(s, dir, "documents"), "doc_id", HashSplits)
        .select(col("doc_id"), col("split")).orderBy("doc_id")
    }),
    "q_split_decontam" -> ((s, dir) => {
      // GPT-3-style decontaminated split: hash split, then train docs
      // sharing ANY 8-char shingle with the eval side drop (id clamp
      // bounds the oracle's shingle self-join)
      val d = T(s, dir, "documents")
        .filter(col("doc_id") < 300 && col("text").isNotNull)
      Dedup.decontaminatedSplit(d, "doc_id", "text",
          trainFrac = 0.9, k = 8, salt = "dc")
        .select(col("doc_id"), col("split")).orderBy("doc_id")
    }),
    "q_manifest" -> ((s, dir) => {
      // publishing manifest: per-shard row count + order-free mod-prime
      // content checksum (portable: nothing but md5 + integer arithmetic)
      val d = T(s, dir, "documents")
        .withColumn("shard", pmod(col("doc_id"), lit(13)).cast("long"))
      graft.ops.Layout.datasetManifest(d, "shard",
          Seq("doc_id", "lang", "n_chars"))
        .orderBy("shard")
    }),
    "q_char_entropy" -> ((s, dir) => {
      T(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.charEntropy(col("text")).as("entropy"))
        .orderBy("doc_id")
    }),
    "q_kmv_overlap" -> ((s, dir) => {
      // cross-corpus set algebra from two mergeable KMV theta sketches
      // (train/test overlap at 100 TB without re-shuffling keys); k=4096
      // exceeds every SF's distinct count here, so the sketch holds ALL
      // hashes and each output is exact — which is what the oracle pins
      val docs = T(s, dir, "documents")
      val k = 4096
      val a = docs.filter(col("doc_id") % 3 =!= 0)
        .agg(Sketches.kmv(col("doc_id"), k).as("ska"))
      val b = docs.filter(col("doc_id") % 2 === 0)
        .agg(Sketches.kmv(col("doc_id"), k).as("skb"))
      a.crossJoin(b).select(
        size(col("ska")).cast("long").as("n_a"),
        size(col("skb")).cast("long").as("n_b"),
        Sketches.kmvIntersectCount(col("ska"), col("skb"), k).as("n_intersect"),
        size(Sketches.kmvUnion(col("ska"), col("skb"), k)).cast("long").as("n_union"),
        (floor(Sketches.kmvIntersectEstimate(col("ska"), col("skb"), k)
          / Sketches.kmvEstimate(Sketches.kmvUnion(col("ska"), col("skb"), k), k)
          * 1e6 + 0.5) / 1e6).as("jaccard"))
    }),
    "q_pct_norm" -> ((s, dir) => {
      // within-stratum percentile normalization: each document's
      // n_chars mapped to its percentile INSIDE its language — the
      // cross-model score alignment before a single global cut. The
      // oracle replays the per-lang rank window; the engine never runs
      // a corpus-scale window (stratified globalRank decomposition).
      graft.ops.Sketches.percentileNormalize(
          T(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "n_chars", "doc_id", Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("pct"))
        .orderBy("doc_id")
    }),
    "q_cdc_asof" -> ((s, dir) => {
      // snapshot AS-OF reconstruction (time travel from the changelog):
      // the q_cdc_apply changelog replayed only through seq 1 — the
      // %10==2 delete at seq 2 has NOT happened yet, so those keys
      // survive with their seq-1 state. Closed-form oracle.
      val base = T(s, dir, "orders")
      val k = col("o_orderkey")
      def tag(df: DataFrame, op: String, seq: Long) =
        df.withColumn("__op", lit(op)).withColumn("__seq", lit(seq))
      val changes = tag(base.filter(k % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2), "U", 1L)
        .unionByName(tag(base.filter(k % 10 === 0), "D", 1L))
        .unionByName(tag(base.filter(k % 10 === 2), "U", 1L))
        .unionByName(tag(base.filter(k % 10 === 2), "D", 2L))
        .unionByName(tag(base.filter(k % 10 === 3)
          .withColumn("o_orderkey", k + 10000000L), "I", 1L))
      Cdc.applyChangelog(base, changes.filter(col("__seq") <= 1),
          Seq("o_orderkey"), "__seq", "__op")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),
    "q_reject_reasons" -> ((s, dir) => {
      // quarantine triage dashboard: WHY rows failed validation, by
      // (field, error code) — the first chart an ingest operator looks
      // at. Planted %7 nulls fail Required ("empty"); user_id > 100
      // fails Max ("too_big"); a row can contribute both.
      val dirty = T(s, dir, "events").withColumn("event_type",
        when(col("event_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("event_type")))
      val res = Validate.columns(dirty,
        "event_type" -> F.Required(), "user_id" -> F.Max(100L))
      res.invalid
        .select(explode(col("_errors")).as("e"))
        .groupBy(col("e.key").as("field"), col("e.code").as("code"))
        .agg(count(lit(1)).as("n"))
        .orderBy("field", "code")
    }),
    "q_fd_violations" -> ((s, dir) => {
      // functional-dependency audit: does k → status hold? The %1000
      // key collision manufactures genuine violations (one collided key
      // sees several statuses) — the merge-bug signature
      graft.ops.Integrity.fdViolations(
          T(s, dir, "orders").select((col("o_orderkey") % 1000).as("k"),
            col("o_orderstatus")),
          Seq("k"), Seq("o_orderstatus"))
        .orderBy("k")
    }),
    "q_lexical" -> ((s, dir) => {
      // corpus vocabulary audit: tokens/types/hapax + TTR + hapax share
      // (a template-heavy corpus runs unnaturally low on hapax)
      graft.ops.TextAnalysis.lexicalDiversity(T(s, dir, "documents"), "text")
    }),
    "q_url_templates" -> ((s, dir) => {
      // crawl-structure map: synthesized product/item URLs per source
      // host — %5 docs carry an md5 path segment (collapses to {hex}),
      // the rest a numeric id (collapses to {n}); counts + distinct
      // concrete paths per (host, template)
      val docs = T(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("source").isNotNull)
      val url = concat(lit("https://"), col("source"), lit(".shop.com"),
        when(col("doc_id") % 5 === 0,
          concat(lit("/item/"), md5(col("doc_id").cast("string")), lit("/view")))
        .otherwise(concat(lit("/p/"), (col("doc_id") % 1000).cast("string"))))
      Urls.urlTemplates(docs.select(url.as("url")), "url")
        .orderBy("host", "template")
    }),
    "q_cluster_labels" -> ((s, dir) => {
      // c-TF-IDF cluster naming (BERTopic class-based TF-IDF): the 5
      // most DISTINCTIVE terms per language-cluster — how a near-dup /
      // topic cluster gets a readable label. Same tokenizer and 1e-6
      // floor-before-rank idiom as q_tfidf.
      Retrieval.clusterLabels(T(s, dir, "documents"), "lang", "text", k = 5)
        .orderBy("lang", "rk")
    }),
    "q_null_patterns" -> ((s, dir) => {
      // missingness-pattern audit over the four nullable document
      // columns: which null COMBINATIONS occur ("text only drops with
      // n_chars" vs "lang drops alone" are different bugs)
      graft.ops.Integrity.nullPatterns(T(s, dir, "documents"),
          Seq("text", "lang", "source", "n_chars"))
        .orderBy("pattern")
    }),
    "q_chi_square" -> ((s, dir) => {
      // categorical association audit: is lang independent of source?
      // (a skewed lang×source table is how a scraper outage or sampling
      // bug surfaces). Per-cell terms on the 1e-9 grid summed as
      // DECIMAL; chi2 + Cramér's V on the 1e-6 grid.
      graft.ops.Integrity.chiSquare(T(s, dir, "documents"), "lang", "source")
    }),
    "q_psi" -> ((s, dir) => {
      // population-stability drift between two order-price snapshots:
      // baseline excludes %10 keys, the "after" snapshot doubles every
      // %3 price (×2 is IEEE-exact) — real mass leaves the baseline
      // deciles. Boundaries are BEFORE-side exact deciles on the 1e-6
      // grid; each PSI term rounds on the 1e-9 grid (the ln idiom).
      val o = T(s, dir, "orders").filter(col("o_totalprice").isNotNull)
      val before = o.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_totalprice").as("v"))
      val after = o.select(when(col("o_orderkey") % 3 === 0,
          col("o_totalprice") * 2).otherwise(col("o_totalprice")).as("v"))
      Sketches.scorePsi(before, after, "v", nBins = 10).orderBy("bin")
    }),
    "q_cms_freq" -> ((s, dir) => {
      // count-min frequency estimates (the fixed-size frequency table
      // when a per-key groupBy is itself the problem): 4×64 sketch over
      // event user_ids — width 64 against 150 distinct keys FORCES
      // collisions, so the min-over-rows estimate and its ≥-exact bound
      // are both exercised, not vacuous. The oracle replays the affine
      // hashes in HUGEINT with the same splitmix64-derived constants and
      // states (key, exact, estimate) side by side.
      val ev = T(s, dir, "events").filter(col("user_id").isNotNull)
      val cms = Sketches.cmsBuild(ev, "user_id", depth = 4, width = 64)
      val cands = s.range(0, 50).select(col("id").as("user_id"))
      val est = Sketches.cmsEstimate(cms, cands, "user_id",
        depth = 4, width = 64)
      val exact = ev.filter(col("user_id") < 50)
        .groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("user_id"), "left")
        .na.fill(0L, Seq("n_exact"))
        .select(col("user_id"), col("n_exact"), col("est"))
        .orderBy("user_id")
    }),
    "q_text_stats" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
        .orderBy("lang")
    }),
    "q_token_count" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws"),
        TextAnalysis.subwordCount(col("text")).as("n_subword"))
        .orderBy("doc_id")
    }),
    "q_bm25_topk" -> ((s, dir) => {
      // BM25 keyword retrieval: 5 literal queries over the documents
      // corpus, top-10 each. Scores rounded to 1e-6 BEFORE ranking in
      // both engines (see Retrieval.bm25TopK), ties break by doc_id.
      import s.implicits._
      val docs = T(s, dir, "documents")
      val qs = Seq((1L, "fast hash join"), (2L, "window group query"),
        (3L, "slow table scan"), (4L, "customer order line part"),
        (5L, "stream batch data")).toDF("qid", "qtext")
      Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 10)
        .orderBy("qid", "rk")
    }),
    "q_confusables" -> ((s, dir) => {
      // homoglyph skeleton (r12): %2 docs get Cyrillic-а/Greek-ο
      // laundering, %3 docs a fullwidth suffix; the skeleton must undo
      // exactly the covered classes and the spoof flag must fire on
      // precisely the rows whose text changed. The oracle's translate
      // mapping is generated from Confusables.pairs — one source of truth.
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      val corrupt = concat(
        when(col("doc_id") % 2 === 0,
          translate(col("text"), "ao", "аο")).otherwise(col("text")),
        when(col("doc_id") % 3 === 0,
          lit("　ｈｅｌｌｏ！")).otherwise(lit("")))
      docs.select(col("doc_id"),
          graft.ops.Confusables.skeleton(corrupt).as("skeleton"),
          graft.ops.Confusables.isSpoofed(corrupt).as("spoofed"))
        .orderBy("doc_id")
    }),
    "q_tag_keywords" -> ((s, dir) => {
      // dictionary topic tagging (r12): two real tags whose term lists
      // overlap the corpus vocabulary (minHits=2 so single-term docs
      // don't tag), one never-matching tag (absent from the output), and
      // a case/tokenizer-folding check on the dictionary side
      import s.implicits._
      val docs = T(s, dir, "documents")
      val dict = Seq(("perf", "Fast"), ("perf", "slow"), ("perf", "quick"),
        ("storage", "table"), ("storage", "ROW"), ("storage", "column"),
        ("ghost", "zzzqqq")).toDF("tag", "term")
      TextAnalysis.tagKeywords(docs, "doc_id", "text", dict, "tag", "term",
          minHits = 2)
        .orderBy("doc_id", "tag")
    }),
    "q_phrase_search" -> ((s, dir) => {
      // exact phrase search (r12): four literal phrases — a 3-gram, a
      // 2-gram through the tokenizer's case/punctuation folding, a
      // never-matching 3-gram (absent from the output), and a 1-gram
      // (occurrence count = plain term frequency). Overlap-counted
      // occurrences; oracle scans the same token lists positionally.
      import s.implicits._
      val docs = T(s, dir, "documents")
      val ps = Seq((1L, "table value part"), (2L, "Fast, JOIN!"),
        (3L, "spark zz never"), (4L, "value")).toDF("pid", "phrase")
      Retrieval.phraseSearch(docs, "doc_id", "text", ps, "pid", "phrase")
        .select(col("pid"), col("doc_id"), col("n_occ").cast("bigint").as("n_occ"))
        .orderBy("pid", "doc_id")
    }),
    "q_bm25_indexed" -> ((s, dir) => {
      // the SAME retrieval through the persisted index path: write the
      // term-bucketed inverted index, read it back, score over it —
      // identical output to q_bm25_topk (and the identical oracle), with
      // the df roll-up exchange-free on the bucketed read
      import s.implicits._
      val docs = T(s, dir, "documents")
      Retrieval.writeIndex(docs, "doc_id", "text", "graft_bm25_idx",
        buckets = 8)
      val qs = Seq((1L, "fast hash join"), (2L, "window group query"),
        (3L, "slow table scan"), (4L, "customer order line part"),
        (5L, "stream batch data")).toDF("qid", "qtext")
      Retrieval.bm25OverIndex(s.table("graft_bm25_idx"), "doc_id",
          qs, "qid", "qtext", k = 10)
        .orderBy("qid", "rk")
    }),
    "q_shard_assign" -> ((s, dir) => {
      // deterministic training-serving shuffle: md5-derived shard +
      // intra-shard order key, bit-for-bit reproducible anywhere
      Layout.assignShards(T(s, dir, "documents"), "doc_id", nShards = 16)
        .select(col("doc_id"), col("shard"), col("shard_order"))
        .orderBy("doc_id")
    }),
    "q_quality" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),
    "q_readability" -> ((s, dir) => {
      // Flesch reading ease + FK grade from three regex run counts and
      // fixed 1e-6-grid double arithmetic — map-only, mirrored verbatim
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      docs.select(col("doc_id"), TextAnalysis.readability(col("text")).as("r"))
        .filter(col("r").isNotNull)
        .select(col("doc_id"), col("r.words").as("words"),
          col("r.sentences").as("sentences"), col("r.syllables").as("syllables"),
          col("r.flesch").as("flesch"), col("r.fk_grade").as("fk_grade"))
        .orderBy("doc_id")
    }),
    "q_gopher_rules" -> ((s, dir) => {
      // documents.parquet text is single-line word soup, so the query first
      // gives it deterministic structure (lines, punctuation, bullets,
      // ellipses, boilerplate markers — the q_redact synthesis pattern,
      // mirrored verbatim in the oracle) so every Gopher rule branch fires
      val docs = T(s, dir, "documents").withColumn("t", structuredDoc)
      docs.select(col("doc_id"),
        QualityRules.wordCount(col("t")).as("word_count"),
        QualityRules.meanWordLength(col("t")).as("mean_word_len"),
        QualityRules.symbolWordRatio(col("t")).as("symbol_ratio"),
        QualityRules.bulletLineFraction(col("t")).as("bullet_frac"),
        QualityRules.ellipsisLineFraction(col("t")).as("ellipsis_frac"),
        QualityRules.alphaWordFraction(col("t")).as("alpha_frac"),
        QualityRules.gopherStopwordMatches(col("t")).as("stop_hits"),
        QualityRules.gopherKeep(col("t")).as("keep"))
        .orderBy("doc_id")
    }),
    "q_c4_clean" -> ((s, dir) => {
      val docs = T(s, dir, "documents").withColumn("t", structuredDoc)
      val cleaned = QualityRules.c4CleanLines(col("t"))
      docs.select(col("doc_id"), cleaned.as("cleaned"),
        QualityRules.c4Keep(col("t"), cleaned).as("keep"))
        .orderBy("doc_id")
    }),
    "q_ngram_repetition" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      docs.select(col("doc_id"),
        QualityRules.topNgramCharFraction(col("text"), 2).as("top2_frac"),
        QualityRules.dupNgramCharFraction(col("text"), 3).as("dup3_frac"))
        .orderBy("doc_id")
    }),
    "q_redact" -> ((s, dir) => {
      // synthesize one email + phone + IPv4 + URL per doc so the scrub
      // pass exercises every pattern on every row
      val docs = T(s, dir, "documents").withColumn("t",
        concat(col("text"), lit(" contact u"), col("doc_id"),
          lit("@mail.example.org or +1 555 01"), col("doc_id"),
          lit(" at 10.0."), col("doc_id") % 256,
          lit(".7 see https://ex"), col("doc_id"), lit(".org/a/b?x=1")))
      docs.select(col("doc_id"),
        TextAnalysis.redactPii(col("t")).as("redacted"),
        size(TextAnalysis.extractUrls(col("t"))).cast("long").as("n_urls"),
        element_at(TextAnalysis.extractDomains(col("t")), 1).as("domain"))
        .orderBy("doc_id")
    }),
    "q_fingerprint" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      docs.select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    }),
    "q_asof" -> ((s, dir) => {
      // as-of join: most recent purchase value at-or-before each click,
      // per user — union + per-key window, ONE shuffle, no join operator
      // (see Joins.asofJoin). Right side pre-aggregated to unique
      // (user_id, ts) so ties are well-defined on both engines.
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pv"))
      Joins.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("pv")).orderBy("event_id")
    }),
    "q_asof_tolerance" -> ((s, dir) => {
      // bounded-staleness variant: a purchase only matches within 2 hours
      // before the click — the "join telemetry to the latest fresh
      // snapshot" shape; stale matches null out rather than attach
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pv"))
      Joins.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
        tolerance = Some(expr("INTERVAL 2 HOURS")))
        .select(col("event_id"), col("pv")).orderBy("event_id")
    }),
    "q_asof_nearest" -> ((s, dir) => {
      // nearest-direction as-of (pandas merge_asof parity): closest
      // purchase on either side, backward winning ties
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pv"))
      Joins.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
        direction = "nearest")
        .select(col("event_id"), col("pv")).orderBy("event_id")
    }),
    "q_funnel" -> ((s, dir) => {
      // ordered-sequence funnel view→click→purchase, whole funnel bounded
      // to 7 days from the first view; greedy earliest-first matching
      Sequences.funnel(T(s, dir, "events"), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"),
          horizon = Some(expr("INTERVAL 7 DAYS")))
        .select(col("user_id"), col("step_reached"),
          col("t_1"), col("t_2"), col("t_3"))
        .orderBy("user_id")
    }),
    "q_funnel_counts" -> ((s, dir) => {
      // unbounded variant + the cumulative conversion report
      val f = Sequences.funnel(T(s, dir, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      Sequences.funnelCounts(f, Seq("view", "click", "purchase")).orderBy("step")
    }),
    "q_rolling" -> ((s, dir) => {
      // per-user rolling features; values snapped to a 2^-20 grid so every
      // frame aggregate (sums of ≤4 grid points, ÷4 a power of two) is
      // EXACT in both engines — the oracle compare is rounding-free in
      // spirit, the round(…,6) is belt-and-braces
      val ev = T(s, dir, "events").withColumn("v",
        floor(col("value") * 1048576.0 + 0.5) / 1048576.0)
      TimeSeries.rollingFeatures(ev, "user_id", "ts", "v", "event_id",
          rowFrame = 4, rangeSeconds = 86400)
        .select(col("event_id"), col("lag_1"),
          round(col("delta"), 6).as("delta"),
          round(col("roll_avg"), 6).as("roll_avg"),
          col("roll_min"), col("roll_max"), col("n_range"))
        .orderBy("event_id")
    }),
    "q_ewma" -> ((s, dir) => {
      // two-level blocked EWMA (α=0.1) vs the oracle's closed-form prefix
      // sum — machine-precision-equal by the forgetting argument, rounded
      // to 6dp for the cross-engine hash
      TimeSeries.ewma(T(s, dir, "events"), "user_id", "ts", "value",
          "event_id", alpha = 0.1, blockSize = 64)
        .select(col("event_id"), round(col("ewma"), 6).as("ewma"))
        .orderBy("event_id")
    }),
    "q_binary_sniff" -> ((s, dir) => {
      // multimodal triage over a REAL binary column: payloads synthesized
      // with genuine magic bytes (PNG/JPEG/GIF89a/RIFF-WAVE + junk) ahead
      // of the text bytes; sniffFormat reads hex(substring(bin)) map-only.
      // The oracle states the expected format in closed form from the id
      // and the byte length as magic-length + octet_length(text).
      val d = T(s, dir, "documents").filter(col("text").isNotNull)
      val magic = when(col("doc_id") % 5 === 0, unhex(lit("89504E470D0A1A0A")))
        .when(col("doc_id") % 5 === 1, unhex(lit("FFD8FFE000104A46")))
        .when(col("doc_id") % 5 === 2, unhex(lit("474946383961")))
        .when(col("doc_id") % 5 === 3, unhex(lit("52494646DEADBEEF57415645")))
        .otherwise(unhex(lit("0BAD")))
      val payload = concat(magic, col("text").cast("binary"))
      d.select(col("doc_id"),
          graft.ops.Multimodal.sniffFormat(payload).as("format"),
          length(payload).cast("long").as("n_bytes"))
        .orderBy("doc_id")
    }),
    "q_image_dims" -> ((s, dir) => {
      // header-only dimension triage (no decode): synthesized PNG/GIF/BMP
      // headers carrying doc_id-derived dims — w = id%300+1, h = id%200+1
      // — plus junk rows that must yield nulls. The oracle states the
      // parsed fields in closed form from the id (the q_binary_sniff
      // pattern); the engine actually builds the bytes and parses them
      // back with fixed-offset arithmetic.
      val d = T(s, dir, "documents")
      val w = (col("doc_id") % 300 + 1).cast("long")
      val h = (col("doc_id") % 200 + 1).cast("long")
      def hex2(c: Column) = lpad(hex(c % 256), 2, "0")
      val wBE4 = unhex(lpad(hex(w), 8, "0"))
      val hBE4 = unhex(lpad(hex(h), 8, "0"))
      val wLE2 = unhex(concat(hex2(w), hex2(floor(w / 256).cast("long"))))
      val hLE2 = unhex(concat(hex2(h), hex2(floor(h / 256).cast("long"))))
      val wLE4 = unhex(concat(hex2(w), hex2(floor(w / 256).cast("long")),
        lit("0000")))
      val hLE4 = unhex(concat(hex2(h), hex2(floor(h / 256).cast("long")),
        lit("0000")))
      val payload = when(col("doc_id") % 4 === 0,
          concat(unhex(lit("89504E470D0A1A0A0000000D49484452")), wBE4, hBE4))
        .when(col("doc_id") % 4 === 1,
          concat(unhex(lit("474946383961")), wLE2, hLE2))
        .when(col("doc_id") % 4 === 2,
          // 16 filler bytes put the DIB width field at byte offset 18
          concat(unhex(lit("424D")), unhex(lit("00" * 16)), wLE4, hLE4))
        .otherwise(unhex(lit("0BAD")))
      d.select(col("doc_id"),
          graft.ops.Multimodal.imageDimsFromHeader(payload).as("m"))
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.width").as("width"), col("m.height").as("height"))
        .orderBy("doc_id")
    }),
    "q_image_dhash" -> ((s, dir) => {
      // ORACLE-CHECKED real image decode (r12): two committed 9×8
      // grayscale PNGs whose dHash is CLOSED-FORM because the decode is
      // lossless and the 9×8→9×8 "resize" is a raster copy (same size,
      // same TYPE_BYTE_GRAY — no resampling), so sample(x,y) equals the
      // generating formula and bit i=y*8+x sets iff v(x+1,y) > v(x,y).
      // Image A: v=(37x+11y)%256; image B: v=255−((53x+29y)%256). The
      // expected 64-bit hashes in the oracle are derived BY HAND from
      // those inequalities (tools/GenDhash regenerates the fixtures and
      // re-proves hash==closed-form against the real ImageIO path). A
      // third undecodable payload pins the null contract.
      import s.implicits._
      val pngA = "89504e470d0a1a0a0000000d49484452000000090000000808000000000ea68a690000005b49444154785e015000afff0000254a6f94b9de0328000b30557a9fc4e90e3300163b6085aacff4193e0021466b90b5daff2449002c51769bc0e50a2f5400375c81a6cbf0153a5f0042678cb1d6fb20456a004d7297bce1062b5075b6e01f75b38690000000000049454e44ae426082"
      val pngB = "89504e470d0a1a0a0000000d49484452000000090000000808000000000ea68a690000005549444154785e63f87f6a6a82f6b7833de10c8fd65638f3dd5c926fc5707442b4dac73ded41b20c2b8aed38afcccf326560e80e537cb3bdc957e231439e25cbf959a906bf8f3104ca3cdf54eb217c6f258309cc1800bd0f248da758ca4a0000000049454e44ae426082"
      val df = Seq((0L, pngA), (1L, pngB), (2L, "deadbeef"))
        .toDF("img_id", "hex")
        .select(col("img_id"), unhex(col("hex")).as("payload"))
      graft.ops.Multimodal.withDHash(df, "payload")
        .select(col("img_id"), col("dhash"))
        .orderBy("img_id")
    }),
    "q_audio_features" -> ((s, dir) => {
      // ORACLE-CHECKED real audio decode (r12, the q_image_dhash pattern
      // for the WAV path): 16-bit PCM fixtures whose windowed RMS/ZCR are
      // CLOSED-FORM in exactly-representable floats — a ±16384 square
      // wave (mono = ±0.5 exactly; per 65-sample window rms = √0.25 =
      // 0.5, 12 sign changes / 64 = 0.1875), a DC clip (rms 0.5, zcr 0),
      // a STEREO clip with opposite channels (mono mix = 0 exactly →
      // rms 0, zcr 0 — pins the channel mixer), and an undecodable
      // payload pinning the null contract.
      import s.implicits._
      def wav(samples: Array[Short], channels: Int): Array[Byte] = {
        val dataLen = samples.length * 2
        val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
          .put("WAVE".getBytes("US-ASCII"))
          .put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(1).putShort(channels.toShort).putInt(8000)
          .putInt(8000 * 2 * channels).putShort((2 * channels).toShort)
          .putShort(16)
          .put("data".getBytes("US-ASCII")).putInt(dataLen)
        samples.foreach(bb.putShort)
        bb.array()
      }
      val sq = Array.tabulate(130)(i =>
        if (i % 10 < 5) 16384.toShort else (-16384).toShort)
      val dc = Array.fill(130)(16384.toShort)
      val stereo = Array.tabulate(260)(i =>
        if (i % 2 == 0) 16384.toShort else (-16384).toShort)
      val df = Seq((0L, wav(sq, 1)), (1L, wav(dc, 1)), (2L, wav(stereo, 2)),
        (3L, Array[Byte](1, 2, 3))).toDF("clip_id", "payload")
      graft.ops.Multimodal.audioFeatures(df, "payload", windows = 2)
        .select(col("clip_id"),
          element_at(col("features"), 1).as("rms_1"),
          element_at(col("features"), 2).as("zcr_1"),
          element_at(col("features"), 3).as("rms_2"),
          element_at(col("features"), 4).as("zcr_2"))
        .orderBy("clip_id")
    }),
    "q_rollup" -> ((s, dir) => {
      // grouping-sets subtotals: (priority, status), (priority), ()
      T(s, dir, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)
    }),
    "q_jsonl_roundtrip" -> ((s, dir) => {
      // validated-source roundtrip: events → JSON lines on disk + a
      // planted malformed shard → PERMISSIVE schema read →
      // corrupt-record quarantine via the Empty() validator → the valid
      // split must equal the parquet original exactly
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_jsonl_roundtrip").getAbsolutePath
      T(s, dir, "events").select(col("event_id"), col("user_id"), col("event_type"))
        .coalesce(2).write.mode("overwrite").json(tmp)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "part-zzz-garbage.json"),
        ("{\"event_id\": \"not-a-number\", \"user_id\": 1}\n" +
          "this line is not json\n").getBytes("UTF-8"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, event_type STRING, _corrupt_record STRING")
      graft.sources.ValidatedIO.json(s, tmp, schema)(
          "_corrupt_record" -> F.Empty())
        .valid.select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id").asc_nulls_first, col("user_id").asc_nulls_first,
          col("event_type").asc_nulls_first)
    }),
    "q_orc_roundtrip" -> ((s, dir) => {
      // ORC roundtrip (r12): the second columnar format Spark ships
      // natively — write events as ORC, read back through the same
      // Required validation the parquet path gets, equality with the
      // original. (No planted-corruption variant: ORC's PERMISSIVE
      // corrupt-record column does not exist — a torn ORC file fails at
      // the stripe level, which is the format's own integrity story.)
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_orc_roundtrip").getAbsolutePath
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .coalesce(2).write.mode("overwrite").orc(tmp)
      Validate(s.read.orc(tmp), "event_type" -> F.Optional("unknown")).valid
        .orderBy(col("event_id").asc_nulls_first, col("user_id").asc_nulls_first,
          col("event_type").asc_nulls_first, col("value").asc_nulls_first)
    }),
    "q_avro_roundtrip" -> ((s, dir) => {
      // Avro roundtrip (r12): the row-oriented interchange format —
      // write events as Avro (by implementation class; the shortname is
      // unregistered in this distribution), read back through the same
      // validation, equality with the original. Doubles roundtrip
      // bit-exactly (Avro stores IEEE doubles natively, not text).
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_avro_roundtrip").getAbsolutePath
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .coalesce(2).write.mode("overwrite")
        .format(graft.sources.ValidatedIO.AvroFormat).save(tmp)
      Validate(s.read.format(graft.sources.ValidatedIO.AvroFormat).load(tmp),
          "event_type" -> F.Optional("unknown")).valid
        .orderBy(col("event_id").asc_nulls_first, col("user_id").asc_nulls_first,
          col("event_type").asc_nulls_first, col("value").asc_nulls_first)
    }),
    "q_xml_roundtrip" -> ((s, dir) => {
      // XML roundtrip (r12): the feed/dump ingest format — write events
      // as XML (one <event> element per row; the writer omits null
      // fields), read back with an EXPLICIT schema (absent elements →
      // null), same validation, equality with the original. Doubles
      // survive the text roundtrip because Spark renders the
      // shortest-exact decimal and the reader parses it back to the
      // identical IEEE value.
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_xml_roundtrip").getAbsolutePath
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .coalesce(2).write.mode("overwrite")
        .option("rootTag", "events").option("rowTag", "event")
        .format("xml").save(tmp)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      graft.sources.ValidatedIO.xml(s, tmp, "event", schema)(
          "event_type" -> F.Optional("unknown")).valid
        .orderBy(col("event_id").asc_nulls_first, col("user_id").asc_nulls_first,
          col("event_type").asc_nulls_first, col("value").asc_nulls_first)
    }),
    "q_schema_evolution" -> ((s, dir) => {
      // schema-evolution merge read (r12): generation 1 wrote only
      // (event_id, user_id); generation 2 added event_type and value. A
      // mergeSchema read must union both generations under the evolved
      // schema with nulls backfilled for gen-1 rows — the
      // append-new-columns contract every long-lived dataset depends on.
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_schema_evo").getAbsolutePath
      val ev = T(s, dir, "events")
      ev.select(col("event_id"), col("user_id"))
        .coalesce(2).write.mode("overwrite").parquet(tmp + "/g1")
      ev.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .coalesce(2).write.mode("overwrite").parquet(tmp + "/g2")
      s.read.option("mergeSchema", "true").parquet(tmp + "/g1", tmp + "/g2")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id").asc_nulls_first, col("user_id").asc_nulls_first,
          col("event_type").asc_nulls_first, col("value").asc_nulls_first)
    }),
    "q_csv_roundtrip" -> ((s, dir) => {
      // CSV validated-source roundtrip (r12 — the csv reader's oracle
      // twin of q_jsonl_roundtrip): events → headerless CSV + a planted
      // type-malformed shard → PERMISSIVE schema read with a
      // _corrupt_record column → Empty() quarantine → valid == original.
      // Both garbage lines fail BIGINT parses, the unambiguous malformed
      // class (token-count mismatches are version-sensitive; types are
      // not).
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_csv_roundtrip").getAbsolutePath
      T(s, dir, "events").select(col("event_id"), col("user_id"), col("event_type"))
        .coalesce(2).write.mode("overwrite")
        .option("header", "false").csv(tmp)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "part-zzz-garbage.csv"),
        ("not-a-number,1,signup\nx,y,z\n").getBytes("UTF-8"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, event_type STRING, _corrupt_record STRING")
      graft.sources.ValidatedIO.csv(s, tmp, schema, Map("header" -> "false"))(
          "_corrupt_record" -> F.Empty())
        .valid.select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id").asc_nulls_first, col("user_id").asc_nulls_first,
          col("event_type").asc_nulls_first)
    }),
    "q_benford" -> ((s, dir) => {
      // Benford first-digit audit (r12) over order totals: exact digit
      // extraction via grid-scaled BIGINT rendering (no log10 in the
      // data path — expected frequencies are literals from ONE Scala map
      // shared with the oracle), 1e-6-grid frequencies and Nigrini MAD
      graft.ops.Integrity.benfordCheck(T(s, dir, "orders"), "o_totalprice")
        .orderBy("digit")
    }),
    "q_lineage" -> ((s, dir) => {
      // row provenance (r12): the parquet file index supplies basename +
      // in-file position for every row — the stable physical identity an
      // incremental pipeline keys reprocessing on. Fixture closed form:
      // the generator wrote documents in doc_id order, so row == doc_id
      // (verified at all three SFs) and the basename is constant.
      graft.sources.ValidatedIO
        .parquetWithLineage(s, s"$dir/documents.parquet")
        .select(col("doc_id"), col("_source_file"), col("_source_row"))
        .orderBy("doc_id")
    }),
    "q_temporal_split" -> ((s, dir) => {
      // leakage-guarded time split (r12): train before Jan 20, a 2-day
      // embargo absorbing the boundary, test after — three labels the
      // oracle restates as timestamp comparisons
      Sampling.temporalSplit(T(s, dir, "events"), "ts",
          cutoff = "2024-01-20 00:00:00", embargo = "2 days")
        .select(col("event_id"), col("split"))
        .orderBy(col("event_id").asc_nulls_first, col("split").asc_nulls_first)
    }),
    "q_fk_orphans" -> ((s, dir) => {
      // referential-integrity check over a synthesized violation pattern:
      // every %97 orderkey bumped out of the parent's key space
      val child = T(s, dir, "lineitem").withColumn("l_orderkey",
        when(col("l_orderkey") % 97 === 0, col("l_orderkey") + 1000000000L)
          .otherwise(col("l_orderkey")))
      graft.ops.Integrity.fkOrphans(child, T(s, dir, "orders"),
          Seq("l_orderkey"), Seq("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q_manifest_verify" -> ((s, dir) => {
      // verification against a published manifest over a tampered copy:
      // doc 3 dropped (count_mismatch on shard 3), doc 5's n_chars bumped
      // (checksum_mismatch on shard 5 — counts still equal), shard 7
      // dropped wholesale (missing), shard 99 injected (unexpected).
      // Clean shards produce NO row.
      val keys = Seq("doc_id", "lang", "n_chars")
      val base = T(s, dir, "documents")
        .withColumn("shard", pmod(col("doc_id"), lit(13)).cast("long"))
      val manifest = graft.ops.Layout.datasetManifest(base, "shard", keys)
      val tampered = base
        .filter(col("shard") =!= 7 && col("doc_id") =!= 3)
        .withColumn("n_chars",
          when(col("doc_id") === 5, col("n_chars") + 1).otherwise(col("n_chars")))
        .unionByName(base.filter(col("doc_id") === 1).withColumn("shard", lit(99L)))
      graft.ops.Layout.verifyManifest(tampered, manifest, "shard", keys)
        .orderBy("shard")
    }),
    "q_quantile_buckets" -> ((s, dir) => {
      // 4-bucket length curriculum over n_chars: exact quantile
      // boundaries (DuckDB quantile_cont ≡ Spark percentile, the
      // q_winsorize-proven equivalence), map-only assignment
      Sketches.quantileBuckets(T(s, dir, "documents"), "n_chars", 4)
        .select(col("doc_id"), col("bucket").cast("integer").as("bucket"))
        .orderBy("doc_id")
    }),
    "q_global_rank" -> ((s, dir) => {
      // global row_number over (o_totalprice, o_orderkey) WITHOUT the
      // single-reducer window: quantile buckets + offsets + per-bucket
      // windows, exact-equal to the global sort by construction
      Sketches.globalRank(T(s, dir, "orders"), "o_totalprice", "o_orderkey",
          nBuckets = 8, rankCol = "rn")
        .select(col("o_orderkey"), col("rn"))
        .orderBy("rn")
    }),
    "q_coverage_cut" -> ((s, dir) => {
      // minimal head of part keys covering 60% of lineitem rows — the
      // domain-allowlist primitive; decimal mass, bucketed running sum
      Sketches.coverageCut(T(s, dir, "lineitem"), "l_partkey", 0.6,
          nBuckets = 8)
        .select(col("l_partkey"), col("weight").cast("double").as("weight"),
          col("cum_weight").cast("double").as("cum_weight"))
        .orderBy("l_partkey")
    }),
    "q_select_budget" -> ((s, dir) => {
      // greedy corpus selection: longest documents first until a 5000-
      // token budget is spent (crossing doc kept); decimal cum cost
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("toks", size(filter(split(col("text"), "\\s+"),
          t => length(t) > 0)).cast("long"))
      Sketches.selectByBudget(docs, "doc_id", "n_chars", "toks", 5000.0,
          nBuckets = 8)
        .select(col("doc_id"), col("toks"),
          col("cum_cost").cast("double").as("cum_cost"))
        .orderBy("doc_id")
    }),
    "q_rollup_refresh" -> ((s, dir) => {
      // materialized-rollup maintenance: the q_cdc_apply changelog drives
      // an INCREMENTAL refresh (changed-key-sized work), oracled against
      // the from-scratch recompute over the closed-form survivor set
      val base = T(s, dir, "orders")
      val k = col("o_orderkey")
      def tag(df: DataFrame, op: String, seq: Long) =
        df.withColumn("__op", lit(op)).withColumn("__seq", lit(seq))
      val changes = tag(base.filter(k % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2), "U", 1L)
        .unionByName(tag(base.filter(k % 10 === 0), "D", 1L))
        .unionByName(tag(base.filter(k % 10 === 2), "U", 1L))
        .unionByName(tag(base.filter(k % 10 === 2), "D", 2L))
        .unionByName(tag(base.filter(k % 10 === 3)
          .withColumn("o_orderkey", k + 10000000L), "I", 1L))
      val oldAgg = Cdc.rollupOf(base, Seq("o_orderstatus"), "o_totalprice")
      Cdc.incrementalRollup(oldAgg, base, changes, Seq("o_orderkey"),
          Seq("o_orderstatus"), "o_totalprice", "__seq", "__op")
        .select(col("o_orderstatus"), col("n_rows"), col("n_vals"),
          col("total").cast("double").as("total"))
        .orderBy("o_orderstatus")
    }),
    "q_transitions" -> ((s, dir) => {
      // corpus-wide event-transition counts per user session order,
      // event_id breaking timestamp ties
      Sequences.transitionCounts(T(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id")
        .orderBy("from_event", "to_event")
    }),
    "q_retention" -> ((s, dir) => {
      // first-active-month cohorts × return offsets over the event
      // stream; months-since-epoch integer index on both engines
      Rollups.retentionCohorts(T(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_month", "offset_m")
    }),
    "q_corr_matrix" -> ((s, dir) => {
      // one-pass complete-rows Pearson matrix over exact decimal moments —
      // partitioning-proof, closed-form mirrorable, and per-column moments
      // shared across pairs (15 un-branched aggregates, not 60 guarded
      // ones; listwise ≡ pairwise on this null-free fixture)
      Sketches.correlationMatrixComplete(TR(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_x", "col_y")
    }),
    "q_gini" -> ((s, dir) => {
      // corpus-concentration audit: Gini index of order mass across
      // customers — ranks via the bucketed globalRank decomposition (no
      // global window), exact decimal rank-weighted sums, one output row
      Sketches.giniConcentration(T(s, dir, "orders"), "o_custkey", lit(1L))
    }),
    "q_wap_publish" -> ((s, dir) => {
      // write-audit-publish roundtrip: stage, audit (count + key
      // uniqueness over the STAGED bytes), swap into place, read back —
      // published data ≡ the source slice in closed form
      val docs = T(s, dir, "documents").filter(col("doc_id") < 500)
        .select("doc_id", "lang", "n_chars")
      val path = "/tmp/graft_wap_publish"
      val rep = graft.sources.ValidatedIO.writeAudited(docs, path, Seq(
        graft.sources.ValidatedIO.Expect.rowCountBetween(1),
        graft.sources.ValidatedIO.Expect.noNulls("doc_id"),
        graft.sources.ValidatedIO.Expect.unique("doc_id")))
      require(rep.published, s"audit failed: ${rep.failures}")
      s.read.parquet(path).orderBy("doc_id")
    }),
    "q_stream_drift" -> ((s, dir) => {
      // TRUE streaming PSI drift monitor: baseline = the static events
      // value column; the stream replays the same file with every %3
      // value doubled (×2 exact) — real mass leaves the baseline
      // deciles. foreachBatch accumulates nBins-row state per batch;
      // the final table ≡ the batch PSI the oracle states (the q_psi
      // arithmetic, same grids).
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val baseline = T(s, dir, "events").select(col("value").as("v"))
      val shifted = raw.select(when(col("event_id") % 3 === 0,
          col("value") * 2).otherwise(col("value")).as("v"))
      graft.streaming.StreamingValidate.monitorDrift(shifted, baseline, "v")
        .orderBy("bin")
    }),
    "q_stream_rollup" -> ((s, dir) => {
      // TRUE streaming rollup maintenance: the q_cdc_apply changelog as a
      // file-source stream, applied batch-by-batch via foreachBatch
      // (incrementalRollup + applyChangelog, one pinned generation of
      // state) — final rollup ≡ the batch refresh, same oracle
      val schema = s.read.parquet(s"$dir/orders.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet").parquet(dir)
      val k = col("o_orderkey")
      def tag(df: DataFrame, op: String, seq: Long) =
        df.withColumn("__op", lit(op)).withColumn("__seq", lit(seq))
      val changes = tag(raw.filter(k % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2), "U", 1L)
        .unionByName(tag(raw.filter(k % 10 === 0), "D", 1L))
        .unionByName(tag(raw.filter(k % 10 === 2), "U", 1L))
        .unionByName(tag(raw.filter(k % 10 === 2), "D", 2L))
        .unionByName(tag(raw.filter(k % 10 === 3)
          .withColumn("o_orderkey", k + 10000000L), "I", 1L))
      graft.streaming.StreamingValidate.maintainRollup(changes,
          T(s, dir, "orders"), Seq("o_orderkey"), Seq("o_orderstatus"),
          "o_totalprice", "__seq", "__op")
        .select(col("o_orderstatus"), col("n_rows"), col("n_vals"),
          col("total").cast("double").as("total"))
        .orderBy("o_orderstatus")
    }),
    "q_release_e2e" -> ((s, dir) => {
      // the full release chain oracled END TO END: word-count gate →
      // budget-greedy selection → deterministic shards → manifest
      graft.examples.DatasetRelease.release(T(s, dir, "documents"),
          minWords = 30, tokenBudget = 20000.0, nShards = 8)
        .orderBy("shard")
    }),
    "q_budget_per_lang" -> ((s, dir) => {
      // per-language token caps: the many-strata regime where a window
      // PARTITIONED BY the stratum is the right plan
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("toks", size(filter(split(col("text"), "\\s+"),
          t => length(t) > 0)).cast("long"))
      Sketches.selectByBudgetPerGroup(docs, "lang", "doc_id", "n_chars",
          "toks", 2000.0)
        .select(col("lang"), col("doc_id"), col("toks"),
          col("cum_cost").cast("double").as("cum_cost"))
        .orderBy("lang", "doc_id")
    }),
    "q_jaccard_join" -> ((s, dir) => {
      // EXACT prefix-filtered token-set similarity join (AllPairs) on a
      // clamped id range — lossless vs the oracle's all-pairs grid
      val docs = T(s, dir, "documents").filter(col("doc_id") < 200)
      FuzzyJoin.jaccardJoin(docs, "doc_id", "text", 0.8)
        .orderBy("id_1", "id_2")
    }),
    "q_skew_report" -> ((s, dir) => {
      // pre-join skew diagnosis over a synthesized hot key (every %7
      // orderkey folds onto key 0 — ~14% of the corpus on one reducer)
      val d = T(s, dir, "lineitem").withColumn("k",
        when(col("l_orderkey") % 7 === 0, lit(0L))
          .otherwise(col("l_orderkey") % 500))
      graft.ops.Integrity.skewReport(d.select(col("k")), Seq("k"), topN = 10)
    }),
    "q_integrity" -> ((s, dir) => {
      // one-row integrity dashboard: %97 keys nulled so every counter is
      // exercised (null keys, distinct keys, dup groups, orphans)
      val child = T(s, dir, "lineitem").withColumn("l_orderkey",
        when(col("l_orderkey") % 97 === 0, lit(null)).otherwise(col("l_orderkey")))
      graft.ops.Integrity.summary(child, T(s, dir, "orders"),
        Seq("l_orderkey"), Seq("o_orderkey"))
    }),
    "q_scd_history" -> ((s, dir) => {
      // SCD-2 validity intervals from a changelog: %10==0 insert-only
      // (open interval), %10==1 insert+update (closed + open), %10==2
      // insert then a same-seq U/D race the delete must win (closed
      // interval, no current row)
      val base = T(s, dir, "orders").filter(col("o_orderkey") % 10 <= 2)
        .select(col("o_orderkey"), col("o_totalprice"))
      val k = col("o_orderkey")
      def tag(df: DataFrame, op: String, seq: Long) =
        df.withColumn("__op", lit(op)).withColumn("__seq", lit(seq))
      val changes = tag(base, "I", 1L)
        .unionByName(tag(base.filter(k % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2), "U", 2L))
        .unionByName(tag(base.filter(k % 10 === 2), "D", 2L))
        .unionByName(tag(base.filter(k % 10 === 2), "U", 2L))
      // o_totalprice stays DOUBLE end-to-end (×2 is IEEE-exact): a
      // double→DECIMAL output cast rounds differently across engines
      // (the q_decimal hazard; r11 driver hash-fail), so neither side
      // casts.
      graft.ops.Cdc.scdHistory(changes, Seq("o_orderkey"), "__seq", "__op")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("o_orderkey", "valid_from")
    }),
    "q_interval_merge" -> ((s, dir) => {
      // gaps-and-islands interval coalescing over epoch-second intervals
      // synthesized from events (duration varies with event_id so islands
      // mix singletons and long chains; user_id%50 densifies overlap);
      // the oracle mirrors the same running-max + cumulative-flag windows
      val sec = unix_timestamp(col("ts"))
      val iv = T(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_id").isNotNull)
        .select((col("user_id") % 50).as("k"), sec.as("s"),
          (sec + lit(300L) + col("event_id") % 7200).as("e"))
      TimeSeries.mergeIntervals(iv, "k", "s", "e").orderBy("k", "island")
    }),
    "q_sessionize" -> ((s, dir) => {
      // batch row-level sessionization (30-min gap, event_id tiebreak)
      // rolled up to per-session stats; session identity is order-
      // independent within an equal-second run (gap 0), so the oracle's
      // (sec, event_id) ordering and the engine's (ts, event_id) ordering
      // assign identical sessions
      val sess = TimeSeries.sessionize(T(s, dir, "events"), "user_id", "ts",
        "event_id", gapSeconds = 1800)
      sess.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_timestamp(col("ts"))).as("t_start"),
          max(unix_timestamp(col("ts"))).as("t_end"))
        .orderBy("user_id", "session_id")
    }),
    "q_tfidf" -> ((s, dir) => {
      // smooth-idf TF-IDF keyword profile, top 3 terms per document;
      // scores floor-rounded to 1e-6 BEFORE ranking (the bm25 idiom) with
      // term-asc tiebreak so cross-engine ulp drift cannot reorder
      Retrieval.tfidfTopK(T(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rk")
    }),
    "q_compaction_plan" -> ((s, dir) => {
      // offset-bin compaction plan over a synthesized file inventory (one
      // "file" per order: group = priority, order = key, size = exact
      // price cents); floor(x*100+0.5) keeps the double→long conversion
      // identical across engines
      val inv = T(s, dir, "orders").select(
        col("o_orderpriority").as("grp"), col("o_orderkey").as("fname"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("bytes"))
      Layout.planCompaction(inv, "grp", "fname", "bytes",
          targetBytes = 50000000L)
        .orderBy("grp", "bin")
    }),
    "q_zonemap" -> ((s, dir) => {
      // data-skipping zone map: per-1000-key zone min/max/null stats on
      // the price column — the tiny index a reader prunes scans with
      val li = T(s, dir, "lineitem")
        .withColumn("zone", expr("l_orderkey div 1000"))
      Layout.zoneMap(li, "zone", "l_extendedprice").orderBy("zone")
    }),
    "q_anchor_profile" -> ((s, dir) => {
      // inbound anchor-text aggregation per link target over the q_links
      // fixture: hrefs collide across docs (mod 500), anchors carry three
      // fixed texts, so targets accumulate multi-doc multi-anchor profiles
      val links = Html.extractLinks(T(s, dir, "documents")
        .withColumn("html", linkFixtureHtml), "doc_id", "html")
      Html.anchorProfile(links).orderBy("href")
    }),
    "q_stream_keystats" -> ((s, dir) => {
      // TRUE streaming CUSTOM STATE (flatMapGroupsWithState — the
      // stateful-quarantine shape SURVEY §7 deferred, now oracled): a
      // synthesized per-user invalid pattern (event_id nulled when
      // (id%3==0 AND user%5==0) OR id%11==0 — %5 users run ~39% bad,
      // the rest ~9%) streams through the Required validator into
      // keyErrorStats, whose per-key running (seen, invalid) state emits
      // one stat row per key per microbatch. The bounded AvailableNow
      // run ingests the single events file in ONE microbatch, so each
      // key emits exactly one row carrying its final counts — the plain
      // grouped aggregate the oracle states, alert = rate ≥ 0.3 with
      // ≥ 10 seen (both engines compare the identical double division).
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val ev = graft.streaming.StreamingValidate.ensureEventTime(raw, "ts")
      val dirty = ev.withColumn("event_id",
        when((col("event_id") % 3 === 0 && col("user_id") % 5 === 0) ||
          col("event_id") % 11 === 0, lit(null)).otherwise(col("event_id")))
      val validated = graft.streaming.StreamingValidate(dirty,
        "event_id" -> F.Required()).df
      val stats = graft.streaming.StreamingValidate.keyErrorStats(
        validated, "user_id", alertRate = 0.3, minSeen = 10)
      graft.streaming.StreamingValidate.runBounded(stats.toDF(),
          statePartitions = Some(8))
        .orderBy("key")
    }),
    "q_stream_join" -> ((s, dir) => {
      // TRUE stream-stream inner join (view→purchase attribution within
      // one hour): two file-source streams, both watermarked — the shape
      // Spark requires for state cleanup in an unbounded run — joined on
      // the key plus an event-time range condition. The bounded
      // AvailableNow run ingests one microbatch, where inner-join
      // matches emit regardless of the (epoch-0) watermark, so the
      // streaming result == the batch self-join the oracle states.
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      def src = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val views = graft.streaming.StreamingValidate.ensureEventTime(src, "ts")
        .filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
          col("event_id").as("view_id"))
        .withWatermark("view_ts", "1 hour")
      val purchases = graft.streaming.StreamingValidate.ensureEventTime(src, "ts")
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
        .withWatermark("p_ts", "1 hour")
      val joined = views.join(purchases,
        col("v_user") === col("p_user") &&
          col("p_ts") >= col("view_ts") &&
          col("p_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      // statePartitions = 8: a stream-stream join commits FOUR state
      // stores per partition per batch; at this key cardinality 32 stores
      // is pure commit overhead (measured 3×) — an unbounded
      // high-throughput deploy sizes UP instead (runBounded scaladoc)
      graft.streaming.StreamingValidate.runBounded(
          joined.select(col("view_id"), col("purchase_id")),
          statePartitions = Some(8))
        .orderBy("view_id", "purchase_id")
    }),
    "q_dedup_weighted" -> ((s, dir) => {
      // dedup-but-upweight: min-id representative per fingerprint with
      // the collapsed multiplicity and weight mass preserved
      val d = T(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("fp", Dedup.fingerprint(col("text")))
      Dedup.exactWithMultiplicity(d, Seq("fp"), "doc_id", Some("n_chars"))
        .select(col("doc_id"), col("n_dups"),
          col("weight").cast("decimal(18,1)").cast("double").as("weight"))
        .orderBy("doc_id")
    }),
    "q_impute_median" -> ((s, dir) => {
      // per-event-type median fill of a synthesized null pattern (every
      // %7 value nulled) — the oracle recomputes the same medians from
      // the same non-null set
      val ev = T(s, dir, "events").withColumn("v",
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
      Sketches.imputeMedian(ev, "v", "event_type")
        .select(col("event_id"), col("v_filled")).orderBy("event_id")
    }),
    "q_salted_join" -> ((s, dir) => {
      // skew-mitigated join must equal the plain join bit-for-bit: fact
      // events (hot key universe user_id%5) x dim nation, salt=8
      val fact = T(s, dir, "events")
        .select(col("event_id"), (col("user_id") % 5).as("nk"))
      val dim = T(s, dir, "nation")
        .select(col("n_nationkey").as("nk"), col("n_name"))
      Layout.saltedJoin(fact, dim, Seq("nk"), "event_id", saltBuckets = 8)
        .select(col("event_id"), col("n_name")).orderBy("event_id")
    }),
    "q_cdc_apply" -> ((s, dir) => {
      // CDC merge over orders with a synthesized changelog: %10==0
      // deletes, %10==1 upserts (price doubled), %10==2 gets an update
      // THEN a delete (the later seq must win), %10==3 additionally
      // INSERTS a new key (+10M). The oracle states the surviving
      // snapshot in closed form.
      val base = T(s, dir, "orders")
      val k = col("o_orderkey")
      def tag(df: DataFrame, op: String, seq: Long) =
        df.withColumn("__op", lit(op)).withColumn("__seq", lit(seq))
      val changes = tag(base.filter(k % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2), "U", 1L)
        .unionByName(tag(base.filter(k % 10 === 0), "D", 1L))
        .unionByName(tag(base.filter(k % 10 === 2), "U", 1L))
        .unionByName(tag(base.filter(k % 10 === 2), "D", 2L))
        .unionByName(tag(base.filter(k % 10 === 3)
          .withColumn("o_orderkey", k + 10000000L), "I", 1L))
      // DOUBLE output, no decimal cast — see q_scd_history's note on the
      // cross-engine double→DECIMAL rounding hazard (r11 driver red).
      Cdc.applyChangelog(base, changes, Seq("o_orderkey"), "__seq", "__op")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy("o_orderkey")
    }),
    "q_snapshot_diff" -> ((s, dir) => {
      // snapshot diff: after = before minus %7 keys, %5 keys' n_chars
      // bumped, %11 keys re-added under new ids — added/removed/changed
      // stated in closed form by the oracle
      val before = T(s, dir, "documents")
      val after = before.filter(col("doc_id") % 7 =!= 0)
        .withColumn("n_chars", when(col("doc_id") % 5 === 0,
          col("n_chars") + 1).otherwise(col("n_chars")))
        .unionByName(before.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      Cdc.snapshotDiff(before, after, Seq("doc_id"), Seq("n_chars"))
        .orderBy("doc_id")
    }),
    "q_topk_group" -> ((s, dir) => {
      // WindowGroupLimit-planned per-group top-k (map-side pre-prune)
      Rollups.topKPerGroup(T(s, dir, "orders"), Seq("o_orderpriority"),
          "o_totalprice", k = 3, tieCol = "o_orderkey")
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"), col("rank").cast("long").as("rank"))
        .orderBy(col("o_orderpriority").asc_nulls_first, col("rank"))
    }),
    "q_pivot_counts" -> ((s, dir) => {
      // explicit-value pivot: one partial-agg pass, stable schema
      Rollups.pivotCounts(T(s, dir, "documents"), "lang", "source",
          Seq("src1", "src6", "src7"))
        .orderBy(col("lang").asc_nulls_first)
    }),
    "q_histogram" -> ((s, dir) => {
      // 20 equi-width price bins over [0, 60000); out-of-range drops,
      // empty bins emitted with n=0
      Rollups.equiWidthHistogram(T(s, dir, "lineitem"), "l_extendedprice",
          min = 0.0, max = 60000.0, bins = 20)
        .orderBy("bin")
    }),
    "q_mad_outliers" -> ((s, dir) => {
      // robust modified z-score per event_type (median/MAD, Iglewicz &
      // Hoaglin) — exact interpolated percentiles mirror quantile_cont
      Sketches.madOutliers(T(s, dir, "events"), "value", "event_type")
        .select(col("event_id"), col("value_rz"), col("value_outlier"))
        .orderBy("event_id")
    }),
    "q_kl_divergence" -> ((s, dir) => {
      // unigram-distribution drift between the en slice and the rest:
      // KL both ways + JS over a shared smoothed top-50 vocab; per-token
      // terms floor-rounded to 1e-9 and summed as DECIMAL so the result
      // is addition-order-free and exactly SQL-mirrorable
      val docs = T(s, dir, "documents")
      graft.ops.LmScore.corpusDivergence(
        docs.filter(col("lang") === "en"),
        docs.filter(!(col("lang") <=> "en")), "text", k = 50)
    }),
    "q_log_odds" -> ((s, dir) => {
      // WHERE two corpora differ (the token-level complement to q_kl's
      // how-much): Dirichlet-prior log-odds z-scores between the en
      // slice and the rest, 15 most-distinctive tokens each side,
      // z on the 1e-6 grid BEFORE ranking with a token tiebreak
      val docs = T(s, dir, "documents")
      graft.ops.LmScore.logOddsDiff(
          docs.filter(col("lang") === "en"),
          docs.filter(!(col("lang") <=> "en")), "text",
          k = 15, alpha = 0.01, minCount = 5L)
        .orderBy("side", "token")
    }),
    "q_stream_enrich" -> ((s, dir) => {
      // TRUE streaming stream-static enrichment: file-source events
      // stream joined to the static customer dimension (broadcast hash
      // join — no stream state for the dim), aggregated per market
      // segment under complete mode in a bounded AvailableNow run. The
      // value sum goes through DECIMAL so float addition order cannot
      // break the cross-engine hash.
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val ev = graft.streaming.StreamingValidate.ensureEventTime(raw, "ts")
      val cust = broadcast(T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      val agg = ev.join(cust, ev("user_id") === cust("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      graft.streaming.StreamingValidate.runBounded(agg, "complete")
        .orderBy(col("c_mktsegment").asc_nulls_first)
    }),
    "q_range_join" -> ((s, dir) => {
      // interval containment as a bin-overlap EQUI-join (never a nested
      // loop): 49 price brackets derived from orders, each width 1000 =
      // the bin width, so a range spans ≤ 2 bins
      val points = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      val ranges = T(s, dir, "orders").filter(col("o_orderkey") < 50)
        .select(col("o_orderkey").as("rid"),
          (col("o_totalprice") * 0.5).as("lo"),
          (col("o_totalprice") * 0.5 + 1000.0).as("hi"))
      Joins.rangeJoin(points, ranges, "l_extendedprice", "lo", "hi", binWidth = 1000.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("rid"))
        .orderBy("l_orderkey", "l_linenumber", "rid")
    }),
    "q_boilerplate_domain" -> ((s, dir) => {
      // RefinedWeb-accurate form: frequency counted within each doc's own
      // source — a unit strips only where IT is domain-boilerplate
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      graft.ops.Boilerplate.removeFrequentLinesByStratum(docs, "doc_id",
        "source", "text", minDocs = 10, delim = " ", joinSep = " ")
        .orderBy("doc_id")
    }),
    "q_boilerplate" -> ((s, dir) => {
      // cross-document boilerplate removal at token granularity (the
      // corpus has no newlines): units in ≥ 60% of documents strip, the
      // rest reassemble in order. The fractional threshold is computed
      // INSIDE the frequency aggregate (grouping-sets () cell) — no
      // separate count() action, no extra corpus scan.
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      Boilerplate.removeFrequentLinesFraction(docs, "doc_id", "text",
        fraction = 0.6, delim = " ", joinSep = " ")
        .orderBy("doc_id")
    }),
    "q_bloom_incremental" -> ((s, dir) => {
      // incremental exact dedup through the seen-keys Bloom sketch: the
      // batch splits map-only into certainly-new / needs-verify, only the
      // verify sliver anti-joins the index — and the COMPOSED result is
      // exact (false positives only route rows into the anti-join), so
      // the sketch path gets a full DuckDB oracle despite the bloom bits
      // themselves being engine-internal.
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      val index = docs.filter(col("doc_id") >= 50)
      val batch = docs.filter(col("doc_id") < 50)
      val fp = md5(col("text").cast("binary"))
      val bytes = Dedup.seenFilter(index, fp, expectedItems = 100000)
      val (fresh, verify) = Dedup.splitBySeenFilter(batch, bytes, fp)
      val verified = verify.withColumn("__fp", fp)
        .join(index.select(fp.as("__fp")).distinct(), Seq("__fp"), "left_anti")
        .drop("__fp")
      fresh.unionByName(verified).select(col("doc_id")).orderBy("doc_id")
    }),
    "q_sample_det" -> ((s, dir) => {
      // deterministic md5-thresholded Bernoulli sample — engine-portable,
      // partitioning-independent (no rand())
      Sampling.deterministicSample(T(s, dir, "documents"), "doc_id", 0.25)
        .select(col("doc_id")).orderBy("doc_id")
    }),
    "q_sample_stratified" -> ((s, dir) => {
      // per-stratum mixing rates with a default for unlisted/null strata
      Sampling.stratifiedSample(T(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.1), default = 0.05)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    }),
    "q_temperature_weights" -> ((s, dir) => {
      Sampling.temperatureWeights(T(s, dir, "documents"), "lang", 0.7)
        .orderBy("lang")
    }),
    "q_containment_pairs" -> ((s, dir) => {
      // asymmetric near-dup verification on an oracle-able pair clamp:
      // exact containment + the size-recovery estimator (exact identity
      // when fed true Jaccard — both columns bitwise-mirrored)
      val docs = T(s, dir, "documents")
        .filter(col("doc_id") < 30 && col("text").isNotNull)
      val tokSet = array_distinct(filter(
        split(lower(col("text")), "\\s+"), t => length(t) > 0))
      val sh = docs.select(col("doc_id"), tokSet.as("tok"))
      val a = sh.select(col("doc_id").as("id_a"), col("tok").as("tok_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("tok").as("tok_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Dedup.containment(col("tok_a"), col("tok_b")).as("cont_ab"),
          Dedup.containmentFromJaccard(Dedup.jaccard(col("tok_a"), col("tok_b")),
            size(col("tok_a")), size(col("tok_b"))).as("cont_est"))
        .orderBy("id_a", "id_b")
    }),
    "q_dsir" -> ((s, dir) => {
      // DSIR importance weights: target model from en docs, base from the
      // whole corpus; log-domain ratio so the only transcendental is ln
      val docs = T(s, dir, "documents")
      val vt = graft.ops.LmScore.unigramVocab(docs.filter(col("lang") === "en"), "text", k = 25)
      val vb = graft.ops.LmScore.unigramVocab(docs, "text", k = 25)
      graft.ops.LmScore.importanceWeights(docs, "doc_id", "text", vt, vb,
        oovLogp = -20.0)
        .orderBy("doc_id")
    }),
    "q_quantized_topk" -> ((s, dir) => {
      // two-phase search's prune stage scored entirely on int8 codes:
      // scales cancel in cosine, integer dots are exact, so the full
      // RANKING has a bitwise oracle (unlike float-sum scoring)
      val emb = T(s, dir, "embeddings")
      Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3)
        .orderBy("q_id", "rk")
    }),
    "q_knn_join" -> ((s, dir) => {
      // corpus×corpus kNN join at FULL probe (nprobe = #centroids), which
      // is exactly brute force — the oracle-able setting; production runs
      // lower nprobe for the IVF recall/cost trade (spec-pinned subset)
      val emb = T(s, dir, "embeddings")
      val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 4)
      Similarity.knnJoin(emb.filter(col("vec_id") < 40), emb, cents,
          "vec_id", "vec_id", "embedding", k = 3, nprobe = 4)
        .orderBy("left_id", "rk")
    }),
    "q_pq_topk" -> ((s, dir) => {
      // product-quantization ADC search over the deterministic synthetic
      // codebook (8 subspaces × 16 centroids × 8 dims): encode, per-query
      // LUT, integer asymmetric distances — every step on the 1e-9 grid,
      // so the full ranking mirrors bitwise in SQL (the oracle regrows
      // the same codebook from its closed form via generate_series)
      val emb = T(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 3), "vec_id",
          "embedding", Similarity.pqSyntheticCodebook(8, 16, 8),
          m = 8, k = 16, topK = 5)
        .orderBy("q_id", "rk")
    }),
    "q_quantize" -> ((s, dir) => {
      // int8 embedding quantization — IEEE-exact formula, bitwise oracle
      // (scale + every code); DuckDB mirrors with list_transform
      T(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qs"))
        .select(col("vec_id"), col("qs.scale").as("scale"),
          // comma-joined codes: the comparer hashes scalar cells, not arrays
          array_join(col("qs.q"), ",").as("q"))
        .orderBy("vec_id")
    }),
    "q_zorder" -> ((s, dir) => {
      // Morton codes for 2-D clustering — exact integer bit arithmetic,
      // mirrored in DuckDB by the same magic-mask spread
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.ops.Layout.zValue(col("l_partkey"), col("l_suppkey")).as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    "q_unigram_ll" -> ((s, dir) => {
      // CCNet-style perplexity filter: score docs by mean token log-prob
      // under the corpus's own top-25 unigram vocab (broadcast model,
      // map-side lookup, one id-keyed exchange)
      val docs = T(s, dir, "documents")
      val vocab = graft.ops.LmScore.unigramVocab(docs, "text", k = 25)
      graft.ops.LmScore.unigramLogLikelihood(docs, "doc_id", "text", vocab,
        oovLogp = -20.0)
        .orderBy("doc_id")
    }),
    "q_perplexity_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail bucketing (r11): per-LANG tercile
      // boundaries over the corpus's own ll distribution, exact
      // interpolated percentile (the quantile_cont-mirrorable form;
      // percentile_approx is the documented corpus-scale escape),
      // boundaries and ll both 1e-6-rounded BEFORE comparison so
      // interpolation ulp cannot flip a boundary doc's bucket
      val docs = T(s, dir, "documents")
      val vocab = graft.ops.LmScore.unigramVocab(docs, "text", k = 25)
      graft.ops.LmScore.perplexityTerciles(docs, "doc_id", "text", "lang",
        vocab, oovLogp = -20.0)
        .orderBy("doc_id")
    }),
    "q_bigram_ll" -> ((s, dir) => {
      // bigram LM with stupid backoff (Brants et al. '07): corpus-built
      // top-50 bigram + top-25 unigram models, broadcast lookups,
      // exactly SQL-mirrorable because backoff never mixes probabilities
      val docs = T(s, dir, "documents")
      val bi = graft.ops.LmScore.bigramVocab(docs, "text", k = 50)
      val uni = graft.ops.LmScore.unigramVocab(docs, "text", k = 25)
      graft.ops.LmScore.bigramLogLikelihood(docs, "doc_id", "text", bi, uni,
        backoff = 0.4, oovLogp = -20.0)
        .orderBy("doc_id")
    }),
    "q_script_mix" -> ((s, dir) => {
      // per-doc script profile over synthesized multi-script suffixes
      // (testdata text is ASCII): each doc gains a per-residue sample of
      // Cyrillic/CJK/Arabic/kana text so every class exercises on real
      // rows; the oracle runs the SAME \x{...} character classes (the
      // escape parses identically in Java regex and RE2)
      val t = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" дом мир"))
          .when(col("doc_id") % 4 === 1, lit(" 漢字文"))
          .when(col("doc_id") % 4 === 2, lit(" كتاب"))
          .otherwise(lit(" かなカナ")))
      // materialize the 9-regex counts struct ONCE, then extract fields
      // and run the tie-break over the struct column — each class scans
      // each row exactly once (see dominantScriptFromCounts scaladoc)
      T(s, dir, "documents")
        .withColumn("__sc", TextAnalysis.scriptCounts(t))
        .select(col("doc_id"),
          col("__sc.latin").as("n_latin"),
          col("__sc.cyrillic").as("n_cyrillic"),
          col("__sc.cjk").as("n_cjk"),
          col("__sc.arabic").as("n_arabic"),
          col("__sc.kana").as("n_kana"),
          col("__sc.digit").as("n_digit"),
          TextAnalysis.dominantScriptFromCounts(col("__sc")).as("script"))
        .orderBy("doc_id")
    }),
    "q_collocations" -> ((s, dir) => {
      // PMI collocation mining (Church & Hanks): top-40 bigrams at
      // minCount 5, PMI floor-rounded to 6 dp BEFORE ranking so the SQL
      // mirror orders identically
      graft.ops.LmScore.collocations(T(s, dir, "documents"), "text",
        k = 40, minCount = 5L)
    }),
    "q_kn_bigram" -> ((s, dir) => {
      // interpolated Kneser–Ney bigram model (r12): top-150 bigrams,
      // D = 0.75; context totals, successor/predecessor type counts and
      // the type total all mirror as SQL aggregates, p_kn on the 1e-6
      // grid after the identical double expression
      graft.ops.LmScore.knBigramModel(T(s, dir, "documents"), "text",
        k = 150)
    }),
    "q_chunk" -> ((s, dir) => {
      // context-window segmentation: 32-token chunks with 8-token overlap
      // (stride 24) — map-only, no shuffle (plan-asserted in ChunkingSpec)
      graft.ops.Chunking.chunkByTokens(T(s, dir, "documents"),
        "doc_id", "text", chunkTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")
    }),
    "q_weighted_sample" -> ((s, dir) => {
      // Efraimidis–Spirakis weighted sample without replacement, weight =
      // document length; priority ln(u)/w rounded to 12 dp (ln is the one
      // non-IEEE-exact op) so DuckDB ranks identically
      Sampling.weightedSample(
        T(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 100)
        .select(col("doc_id"), col("priority")).orderBy("doc_id")
    }),
    "q_interleave" -> ((s, dir) => {
      // weighted-fair-queueing interleave: virtual finish times use only
      // IEEE-exact arithmetic on ranks and literal weights — bit-identical
      // across engines, so the full mixing ORDER is oracle-checked
      Sampling.interleaveByWeight(T(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.6, "de" -> 0.3), default = 0.1)
        .select(col("doc_id"), col("lang"), col("vft"))
        .orderBy("vft", "lang", "doc_id")
    }),
    "q_cap_stratum" -> ((s, dir) => {
      // domain quota: at most 40 docs per lang, deterministic hash-draw
      // selection (WindowGroupLimit pre-prunes before the exchange)
      Sampling.capPerStratum(T(s, dir, "documents"), "lang", "doc_id", 40)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    }),
    "q_pack_sequences" -> ((s, dir) => {
      // token-budget packing via the two-phase distributed prefix sum;
      // DuckDB mirrors with a plain global window cumsum — boundary
      // independence of the prefix sum makes the two formulations equal
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Sampling.packSequences(docs, "doc_id", "n_tokens", 512)
        .select(col("doc_id"), col("n_tokens"), col("seq_id"))
        .orderBy("doc_id")
    }),
    "q_topk_similar" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val iv = emb.select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000, 0)).as("v"))
      val q = iv.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val pairs = iv.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q_id"))
      // exact-integer dot in double, sequential kernel — DuckDB-comparable
      val dotCol = graft.expressions.native.dotD(col("qv"), col("v"))
      val w = Window.partitionBy("q_id").orderBy(col("dot").desc, col("cand_id"))
      pairs.select(col("q_id"), col("vec_id").as("cand_id"), dotCol.cast("long").as("dot"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("cand_id"), col("dot"), col("rk"))
        .orderBy("q_id", "rk")
    }),
    // ---- kernel-dependent ops (rows-only driver check; ScalaTest covers;
    // q_ann_cosine and q_lang_id above DO have oracle twins) -------------
    "q_minhash_oracle" -> ((s, dir) => {
      // ORACLE-CHECKED word-token LSH (r15 — the q_ngram_jaccard pattern
      // applied to the WORD-shingle minhash path, closing the r14 ask):
      // on this crafted doc_id<40 clamp the ENTIRE guarded
      // nearDupsBySignature path mirrors in DuckDB HUGEINT — the
      // whitespace-token minhash kernel (the q_dedup_incremental
      // machinery), the identical-signature star collapse (same doc_id%10
      // ⇒ identical text ⇒ (min-id rep, member) stars at est 1.0), and
      // the band join among representatives (band membership ≡ equality
      // of an 8-wide signature slice; agreement/64 ≥ 0.9). Crafted texts
      // = the shared ASCII base + a tag token (doc_id%10) + 12
      // sect-unique tokens (doc_id%5): all three regimes appear —
      // identical (stars), same-sect pairs differing in ONE token
      // (word Jaccard ≈ 0.99, accept), cross-sect pairs separated by 26
      // tokens (word Jaccard ≈ 0.78 — band flukes surface them, the
      // estimate rejects them; the mirror reproduces both outcomes).
      // bandsForThreshold(64, 0.9) = 8 bands × 8 rows/band; 10 reps keep
      // every band bucket far under maxBucket, so subs ≡ 0.
      val sect = element_at(array(MinhashSectBlocks.map(lit): _*),
        (col("doc_id") % 5 + 1).cast("int"))
      val tagged = concat(lit(NgramBase), lit(" tag"),
        (col("doc_id") % 10).cast("string"), lit(" "), sect, lit(" end"))
      val crafted = T(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), tagged.as("text"))
      Dedup.minhashNearDups(crafted, "doc_id", "text",
        numHashes = 64, threshold = 0.9)
        .orderBy("id_a", "id_b")
    }),
    "q_ngram_jaccard" -> ((s, dir) => {
      // ORACLE-CHECKED ngram LSH (r11 — the former rows-only q_dedup_ngram
      // path, now bitwise-mirrored): on this crafted clamp the ENTIRE
      // guarded nearDupsBySignature path is DuckDB-expressible — the
      // minhash-over-shingles kernel (FNV-1a per shingle + the
      // splitmix64-derived affine family, mirrored in HUGEINT mod-2^64
      // arithmetic exactly like q_simhash), the identical-signature star
      // collapse (same doc_id%10 ⇒ identical text ⇒ (min-id rep, member)
      // star pairs at est 1.0), and the band join among group
      // representatives (band membership ≡ equality of a 16-wide
      // signature slice; est ≥ threshold). Crafted texts = a shared
      // ~600-char lowercase-ASCII base + small per-group markers, giving
      // all three regimes: identical (stars), same-sect ~0.97 (band
      // candidates), different-sect sub-threshold. bandsForThreshold(64,
      // 0.95) = 4 (S-curve (1/4)^(1/16) ≈ 0.917 ≤ 0.95), so bands are the
      // four 16-wide slices the oracle checks.
      val tagged = concat(lit(NgramBase),
        lit(" tag"), (col("doc_id") % 10).cast("string"),
        lit(" sect"), (col("doc_id") % 5).cast("string"), lit(" end"))
      val crafted = T(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), tagged.as("text"))
      Dedup.ngramNearDups(crafted, "doc_id", "text", ngram = 5,
        numHashes = 64, threshold = 0.95)
        .orderBy("id_a", "id_b")
    }),
    "q_dedup_embedding" -> ((s, dir) => {
      // testdata embeddings are near-orthogonal (max pairwise cosine 0.48)
      // — 0.3/4-bit picks up the closest-pair tail while staying bucketed
      Similarity.embeddingNearDups(T(s, dir, "embeddings"), "vec_id", "embedding",
        simThreshold = 0.3, bits = 4)
        .orderBy("id_a", "id_b")
    }),
    "q_dedup_incremental" -> ((s, dir) => {
      // daily-ingest shape: docs with id < 50 arrive as the NEW batch and
      // broadcast through the band join against the signature index built
      // from the rest of the corpus (in deployment the build's sig-keyed
      // exchange runs ONCE at ingest and queries read the stored table —
      // here both compose inline). ORACLE-CHECKED since r14: the word-token
      // minhash kernel mirrors in HUGEINT mod-2^64 (the q_simhash/
      // q_ngram_jaccard machinery), band membership restates as 8-wide
      // signature-slice equality, and buildSignatureIndex is a plain
      // GROUP BY sig / min(id). The ASCII + non-empty clamps pin byte-level
      // == char-level folding and exclude the all-MaxValue empty-token
      // signature; the corpus is entirely ASCII with non-blank text, so no
      // row actually drops.
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull &&
          octet_length(col("text")) === length(col("text")) &&
          length(trim(col("text"))) > 0)
        .select(col("doc_id"), Dedup.minhashSignature(col("text"), 64).as("sig"))
      Dedup.nearDupsAgainstIndex(
        Dedup.buildSignatureIndex(d.filter(col("doc_id") >= 50), "doc_id", "sig"),
        d.filter(col("doc_id") < 50),
        "doc_id", "sig", numHashes = 64, threshold = 0.9)
        .orderBy("id_new", "id_index")
    }),
    "q_lsh_recall" -> ((s, dir) => {
      // the dedup audit a 100 TB run performs on a SAMPLE before
      // trusting the banded path (r15): exact word-Jaccard ground truth
      // (lossless prefix-filtered join) vs the guarded LSH candidate
      // set, one report row with recall/precision. doc_id < 120 with
      // the ASCII clamp is SF-stable and small enough for the oracle's
      // all-pairs exact mirror; the LSH side reuses the q_minhash_oracle
      // HUGEINT machinery over the REAL corpus text.
      val docs = T(s, dir, "documents")
        .filter(col("doc_id") < 120 && col("text").isNotNull &&
          octet_length(col("text")) === length(col("text")) &&
          length(trim(col("text"))) > 0)
      Dedup.lshRecallAudit(docs, "doc_id", "text",
        numHashes = 64, threshold = 0.9)
    }),
    "q_stream_neardup" -> ((s, dir) => {
      // TRUE streaming incremental near-dup (the r14 "dedup the crawl as
      // it lands" ask): the documents file STREAMS through foreachBatch,
      // each micro-batch probing the persisted signature index built from
      // the established corpus (doc_id >= 50) via nearDupsAgainstIndex,
      // the index folding forward per batch (streamNearDups). A bounded
      // AvailableNow run over ONE file is ONE micro-batch, so by the
      // sequential-replay contract the result is EXACTLY the batch twin
      // q_dedup_incremental — whose HUGEINT mirror is the shared oracle.
      // The multi-batch replay equivalence and the one-pin-generation
      // state discipline are pinned in StreamingNearDupSpec; the state
      // soak lives in SCALE.md.
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      def clamp(d: DataFrame): DataFrame = d.filter(col("text").isNotNull &&
        octet_length(col("text")) === length(col("text")) &&
        length(trim(col("text"))) > 0)
      val batchSigs = clamp(raw).filter(col("doc_id") < 50)
        .select(col("doc_id"), Dedup.minhashSignature(col("text"), 64).as("sig"))
      val idx = Dedup.buildSignatureIndex(
        clamp(T(s, dir, "documents")).filter(col("doc_id") >= 50)
          .select(col("doc_id"),
            Dedup.minhashSignature(col("text"), 64).as("sig")),
        "doc_id", "sig")
      graft.streaming.StreamingValidate.streamNearDups(batchSigs, idx,
        "doc_id", "sig", numHashes = 64, threshold = 0.9)
        .orderBy("id_new", "id_index")
    }),
    "q_stream_neardup_multi" -> ((s, dir) => {
      // MULTI-batch streaming near-dup under the driver's hash check
      // (r16 — q_stream_neardup's single AvailableNow batch oracles only
      // the batch twin; here the SAME 50 docs stream as THREE
      // mtime-ordered files at maxFilesPerTrigger=1, so the index-FOLDING
      // path itself is oracled: batch k probes static ∪ batches < k, and
      // a sig's representative migrates to the smallest visible id, the
      // buildSignatureIndex semantics StreamingNearDupSpec pins). The
      // mirror adds a visible-from-batch membership table to the shared
      // HUGEINT machinery.
      def clamp(d: DataFrame): DataFrame = d.filter(col("text").isNotNull &&
        octet_length(col("text")) === length(col("text")) &&
        length(trim(col("text"))) > 0)
      val docs = T(s, dir, "documents")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_stream_multi").toString
      Seq((0, 17), (17, 34), (34, 50)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          val f = new java.io.File(s"$tmp/b$i")
          docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
            .select(col("doc_id"), col("text"))
            .coalesce(1).write.parquet(f.toString)
          // file-source ordering is by modification time — pin it
          f.listFiles().filter(_.getName.endsWith(".parquet"))
            .foreach(_.setLastModified(1700000000000L + i * 60000L))
      }
      val stream = s.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(tmp)
      val batchSigs = clamp(stream)
        .select(col("doc_id"), Dedup.minhashSignature(col("text"), 64).as("sig"))
      val idx = Dedup.buildSignatureIndex(
        clamp(docs).filter(col("doc_id") >= 50)
          .select(col("doc_id"),
            Dedup.minhashSignature(col("text"), 64).as("sig")),
        "doc_id", "sig")
      graft.streaming.StreamingValidate.streamNearDups(batchSigs, idx,
        "doc_id", "sig", numHashes = 64, threshold = 0.9)
        .orderBy("id_new", "id_index")
    }),
    "q_simhash" -> ((s, dir) => {
      // ORACLE-CHECKED (r5): DuckDB reproduces both kernels exactly with
      // HUGEINT mod-2^64 arithmetic — FNV-1a-per-token bit votes for
      // simhash, the 31-polynomial for the rolling fingerprint. The ASCII
      // clamp (octet_length == length) pins byte-level == char-level
      // folding so the mirror holds; the corpus is entirely ASCII, so no
      // row actually drops.
      T(s, dir, "documents")
        .filter(octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"), TextAnalysis.fingerprintSimhash(col("text")).as("sh"),
          TextAnalysis.fingerprintRolling(col("text")).as("rh"))
        .orderBy("doc_id")
    }),
    "q_hamming_pairs" -> ((s, dir) => {
      // the LOSSLESS Hamming-banded blocking (Dedup.hammingPairs — the
      // engine behind simhash/dHash near-dup) over the proven simhash
      // kernel on a clamped grid; the oracle brute-forces the same pairs
      val docs = T(s, dir, "documents")
        .filter(col("doc_id") < 300 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"), TextAnalysis.fingerprintSimhash(col("text")).as("sh"))
      Dedup.hammingPairs(docs, "doc_id", "sh", maxDist = 16)
        .select(col("id_1"), col("id_2"), col("dist").cast("integer").as("dist"))
        .orderBy("id_1", "id_2")
    }),
    "q_lang_id" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.languageId(col("text")).as("guess"))
        .orderBy("doc_id")
    }),
    "q_pipeline_e2e" -> ((s, dir) => {
      graft.examples.TrainingDataPipeline.curate(TR(s, dir, "documents"))
        .select(col("doc_id"), col("lang_guess"), col("quality"), col("n_tokens"))
        .orderBy("doc_id")
    }),
    "q_ann_cosine" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
        .orderBy("q_id", "rk")
    }),
    "q_ivf_topk" -> ((s, dir) => {
      // full IVF path: seed centroids -> assign corpus -> probe queries.
      // ORACLE-CHECKED since r14: the oracle takes seedCentroids' 16
      // picks at the verify scale as committed literals (IvfSeedIds — the
      // BPE merge-table pattern) and mirrors the rest of the path exactly
      // like q_ivf_oracle.
      val emb = T(s, dir, "embeddings")
      val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 16)
      val assigned = Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
      Similarity.ivfTopK(assigned, emb.filter(col("vec_id") < 5), cents,
        "vec_id", "embedding", k = 3, nprobe = 4)
        .orderBy("q_id", "rk")
    }),
    "q_semdedup" -> ((s, dir) => {
      // SemDeDup (Abbas et al. 2023): nearest-centroid cells over
      // DuckDB-expressible centroids (vec_id < 8, the q_ivf_oracle
      // pattern), within-cell cosine ≥ 0.35 pairs, transitive closure to
      // min-id reps. Corpus clamped to vec_id < 1000 so the oracle's
      // recursive closure stays bounded (q_dedup_clusters precedent).
      val emb = T(s, dir, "embeddings").filter(col("vec_id") < 1000)
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("long").as("centroid_id"),
          col("embedding").cast("array<double>").as("centroid_vec"))
      Similarity.semanticDedup(emb, "vec_id", "embedding", cents,
        simThreshold = 0.35)
        .orderBy("vec_id")
    }),
    "q_ivf_oracle" -> ((s, dir) => {
      // ORACLE-CHECKED IVF twin: the same ivfAssign → ivfTopK path as
      // q_ivf_topk, but with centroids picked by a DuckDB-expressible rule
      // (vec_id < 16) instead of seedCentroids' xxhash64 order, so the full
      // assignment + probe semantics get a bitwise float-cosine oracle
      // (like q_ann_cosine) that is independent of the IvfSeedIds literal
      // pin q_ivf_topk's oracle relies on.
      val emb = T(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("long").as("centroid_id"),
          col("embedding").cast("array<double>").as("centroid_vec"))
      val assigned = Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
      Similarity.ivfTopK(assigned, emb.filter(col("vec_id") < 5), cents,
        "vec_id", "embedding", k = 3, nprobe = 4)
        .orderBy("q_id", "rk")
    }),
    // ---- r13: graph structure, hybrid retrieval, drift stats ----------
    "q_triangles" -> ((s, dir) => {
      // per-node triangle counts over the synthesized link graph —
      // degree-ordered wedge enumeration in the engine, id-ordered in the
      // oracle (both enumerate the identical undirected triangle set).
      // The raw link fixture is triangle-free at every SF (r13 verdict:
      // the oracle compared two EMPTY sets — vacuously green), so every
      // doc_id%4==0 wedge {d→A, d→B} is CLOSED with an explicit A–B edge,
      // guaranteeing ≥ ⌈n/4⌉ known triangles at any scale.
      val base = Html.extractLinks(T(s, dir, "documents")
          .withColumn("html", linkFixtureHtml), "doc_id", "html")
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "([0-9]+)$", 1).cast("long").as("dst"))
      val closing = T(s, dir, "documents").filter(col("doc_id") % 4 === 0)
        .select(((col("doc_id") * 31 + 7) % 500).as("src"),
          ((col("doc_id") * 31 + 13) % 500).as("dst"))
      graft.ops.Graphs.triangles(base.unionByName(closing), "src", "dst")
        .orderBy("node")
    }),
    "q_hits" -> ((s, dir) => {
      // 3 L1-normalized grid-quantized HITS iterations over the same
      // closed-form edge list as q_pagerank; the oracle unrolls them
      val edges = Html.extractLinks(T(s, dir, "documents")
          .withColumn("html", linkFixtureHtml), "doc_id", "html")
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "([0-9]+)$", 1).cast("long").as("dst"))
      graft.ops.Graphs.hits(edges, "src", "dst", iterations = 3)
        .select(col("node"), round(col("auth"), 8).as("auth"),
          round(col("hub"), 8).as("hub"))
        .orderBy("node")
    }),
    "q_rrf_fusion" -> ((s, dir) => {
      // hybrid retrieval: BM25 (precision) fused with coordination-level
      // term overlap (recall) by reciprocal-rank fusion over the same 5
      // literal queries as q_bm25_topk; both input rankings and the fused
      // scores are fully SQL-mirrorable
      import s.implicits._
      val docs = T(s, dir, "documents")
      val qs = Seq((1L, "fast hash join"), (2L, "window group query"),
        (3L, "slow table scan"), (4L, "customer order line part"),
        (5L, "stream batch data")).toDF("qid", "qtext")
      val bm = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 10)
      val co = Retrieval.coordinationTopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 10)
      Retrieval.rrfFusion(Seq(bm, co), "qid", "doc_id", kRrf = 60, topN = 10)
        .orderBy("qid", "rk")
    }),
    "q_ks_test" -> ((s, dir) => {
      // two-sample KS drift test: order totals of finished vs open orders,
      // snapped to the $100 grid (the bounded-cell contract) — one row
      Sketches.ksStatistic(T(s, dir, "orders"), "o_totalprice",
        col("o_orderstatus") === "F", col("o_orderstatus") === "O", grid = 100.0)
    }),
    "q_ks_by_group" -> ((s, dir) => {
      // the per-stratum form of q_ks_test: which order priority actually
      // drifted between finished and open orders
      Sketches.ksStatisticBy(T(s, dir, "orders"), "o_orderpriority",
          "o_totalprice", col("o_orderstatus") === "F",
          col("o_orderstatus") === "O", grid = 100.0)
        .orderBy("o_orderpriority")
    }),
    "q_mutual_info" -> ((s, dir) => {
      // dependence audit: how much do return flag and line status share —
      // the how-many-nats complement to q_chi_square's is-it-dependent
      Sketches.mutualInfo(T(s, dir, "lineitem"), "l_returnflag", "l_linestatus")
    }),
    "q_cusum" -> ((s, dir) => {
      // CUSUM changepoint over per-type daily event counts with the
      // first-10-days mean as in-control target (snapped to 1e-6 so the
      // double→DECIMAL handoff is rounding-rule-proof on both engines)
      val daily = T(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val targets = daily.filter(col("day") < lit("2024-01-11").cast("date"))
        .groupBy(col("event_type"))
        .agg((floor(avg(col("n")) * 1e6 + lit(0.5)) / 1e6).as("target"))
      graft.ops.TimeSeries.cusum(daily, "event_type", "day", "n",
          targets, "target", slack = 1.0, threshold = 15.0)
        .select(col("event_type"), col("day"), col("n"), col("s_pos"), col("alarm"))
        .orderBy("event_type", "day")
    }),
    "q_autocorr" -> ((s, dir) => {
      // ACF at lags 1..3 of the same per-type daily count series — the
      // weekly-rhythm / persistence audit
      val daily = T(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.TimeSeries.autocorrelation(daily, "event_type", "day", "n", maxLag = 3)
        .orderBy("event_type", "lag")
    }),
    "q_embed_cov" -> ((s, dir) => {
      // covariance matrix of the first 8 embedding coordinates — the
      // PCA-whitening statistics pass; pcaComponents/pcaProject consume
      // this (PcaSpec), the matrix itself is the oracled stage
      Similarity.embeddingCovariance(T(s, dir, "embeddings"), "embedding", dims = 8)
        .orderBy("i", "j")
    }),
    "q_interval_join" -> ((s, dir) => {
      // interval×interval overlap join: 7-day order windows (keys %97)
      // against 3-day windows (keys %89≡3) from the same calendar —
      // bin-blocked with canonical-bin dedup, mirrored as a plain
      // non-equi join at oracle scale
      val o = T(s, dir, "orders")
      val left = o.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("a_key"),
          unix_date(to_date(col("o_orderdate"))).cast("double").as("a_lo"))
        .withColumn("a_hi", col("a_lo") + 7.0)
      val right = o.filter(col("o_orderkey") % 89 === 3)
        .select(col("o_orderkey").as("b_key"),
          unix_date(to_date(col("o_orderdate"))).cast("double").as("b_lo"))
        .withColumn("b_hi", col("b_lo") + 3.0)
      Joins.intervalJoin(left, right, "a_lo", "a_hi", "b_lo", "b_hi", binWidth = 7.0)
        .select("a_key", "b_key").orderBy("a_key", "b_key")
    }),
    "q_ppr" -> ((s, dir) => {
      // personalized PageRank from the doc_id%7 seed slice over the same
      // closed-form link graph — TrustRank-style seed proximity
      val docs = T(s, dir, "documents")
      val edges = Html.extractLinks(docs.withColumn("html", linkFixtureHtml),
          "doc_id", "html")
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "([0-9]+)$", 1).cast("long").as("dst"))
      val seeds = docs.select(col("doc_id").as("node")).filter(col("node") % 7 === 0)
      graft.ops.Graphs.pageRankPersonalized(edges, "src", "dst", seeds, "node",
          iterations = 3)
        .select(col("node"), round(col("rank"), 8).as("rank"))
        .orderBy("node")
    }),
    "q_frequent_pairs" -> ((s, dir) => {
      // basket co-occurrence over order line parts: pairs in ≥ 2 orders
      // with support counts and independence lift
      graft.ops.Baskets.frequentPairs(T(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2)
        .orderBy("item_a", "item_b")
    }),
    "q_jaro" -> ((s, dir) => {
      // Jaro–Winkler via the native kernel over deterministic typo pairs
      // (swap / deletion / identity by key class). The kernel is
      // byte-oriented (UTF-8) since r14, matching DuckDB on ALL inputs —
      // the ASCII fixture remains for readability; 1e-9 floor-round
      // absorbs ratio-arithmetic ulp
      val c = T(s, dir, "customer").select(col("c_custkey"),
        concat(lit("customer_"), col("c_custkey").cast("string")).as("s1"))
      c.withColumn("s2",
          when(col("c_custkey") % 3 === 0,
            concat(substring(col("s1"), 1, 1), substring(col("s1"), 3, 1),
              substring(col("s1"), 2, 1), substring(col("s1"), 4, 9999)))
          .when(col("c_custkey") % 3 === 1,
            concat(substring(col("s1"), 1, 3), substring(col("s1"), 5, 9999)))
          .otherwise(col("s1")))
        .select(col("c_custkey"), col("s1"), col("s2"),
          (floor(graft.expressions.native.jaroWinkler(col("s1"), col("s2"))
            * 1e9 + lit(0.5)) / 1e9).as("jw"))
        .orderBy("c_custkey")
    }),
    "q_attribution" -> ((s, dir) => {
      // last-touch attribution: every purchase credited to the user's
      // most recent prior non-purchase event — one window, no join
      graft.ops.Sequences.lastTouchAttribution(T(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type", "purchase")
        .orderBy("user_id", "ts")
    }),
    // ---- r14: attribution variants, rank tests, agreement, resampling --
    "q_attribution_first" -> ((s, dir) => {
      // first-touch: the same window exchange, earliest prior touch —
      // "which channel first brought this user in"
      graft.ops.Sequences.firstTouchAttribution(T(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type", "purchase")
        .orderBy("user_id", "ts")
    }),
    "q_attribution_position" -> ((s, dir) => {
      // U-shaped 40/20/40 multi-touch credit within each purchase journey
      graft.ops.Sequences.positionAttribution(T(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type", "purchase")
        .orderBy("user_id", "conv_ts", "touch_ts")
    }),
    "q_mannwhitney" -> ((s, dir) => {
      // rank-sum location test on the same F-vs-O / $100-grid fixture as
      // q_ks_test: KS says IF the distributions differ, U says which way
      Sketches.mannWhitney(T(s, dir, "orders"), "o_totalprice",
        col("o_orderstatus") === "F", col("o_orderstatus") === "O",
        grid = 100.0)
    }),
    "q_bh_fdr" -> ((s, dir) => {
      // Benjamini-Hochberg over 60 deterministic synthetic p-values
      // ((doc_id*37)%97/97 — spans [0,1) with p=0 at doc_id 0, so both
      // the reject and accept branches are exercised at every SF)
      val hyp = T(s, dir, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id").as("hyp_id"),
          ((col("doc_id") * 37 % 97).cast("double") / 97.0).as("p"))
      Sketches.bhFdr(hyp, "hyp_id", "p", alpha = 0.2).orderBy("rank")
    }),
    "q_kappa" -> ((s, dir) => {
      // chance-corrected agreement between two synthesized raters: rater 2
      // disagrees with rater 1 (lang) exactly on the doc_id%7 slice, where
      // it answers `source` instead — a deterministic confusion pattern
      val rated = T(s, dir, "documents").select(
        col("lang").as("r1"),
        when(col("doc_id") % 7 === 0, col("source"))
          .otherwise(col("lang")).as("r2"))
      graft.ops.Classifier.cohensKappa(rated, "r1", "r2")
    }),
    "q_locf" -> ((s, dir) => {
      // forward-fill per user over a deterministic missingness pattern
      // (every event_id%3==0 reading dropped)
      val ev = T(s, dir, "events").select(col("event_id"), col("user_id"),
        col("ts"),
        when(col("event_id") % 3 === 0, lit(null).cast("double"))
          .otherwise(col("value")).as("value"))
      graft.ops.TimeSeries.locfFill(ev, "user_id", "ts", "event_id", "value")
        .orderBy("event_id")
    }),
    "q_resample_daily" -> ((s, dir) => {
      // irregular event values onto each user's own daily grid with
      // as-of fill — the daily-close convention
      graft.ops.TimeSeries.resampleDaily(T(s, dir, "events"),
          "user_id", "ts", "event_id", "value")
        .orderBy("user_id", "day")
    }),
    "q_label_prop" -> ((s, dir) => {
      // 3 synchronized min-label rounds over the same closed link graph
      // as q_triangles; the oracle unrolls the rounds
      val base = Html.extractLinks(T(s, dir, "documents")
          .withColumn("html", linkFixtureHtml), "doc_id", "html")
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "([0-9]+)$", 1).cast("long").as("dst"))
      val closing = T(s, dir, "documents").filter(col("doc_id") % 4 === 0)
        .select(((col("doc_id") * 31 + 7) % 500).as("src"),
          ((col("doc_id") * 31 + 13) % 500).as("dst"))
      graft.ops.Graphs.labelPropagation(base.unionByName(closing),
          "src", "dst", iterations = 3)
        .orderBy("node")
    }),
    "q_assoc_rules" -> ((s, dir) => {
      // directional confidence over the frequent-pair table — both rule
      // orientations, confidence-gated. The even-orderkey clamp keeps
      // this entry from re-paying q_frequent_pairs' full pair build in
      // every bench pass (the rule layer itself is pair-table-sized)
      graft.ops.Baskets.associationRules(
          T(s, dir, "lineitem").filter(col("l_orderkey") % 2 === 0),
          "l_orderkey", "l_partkey", minSupport = 2, minConfidence = 0.05)
        .orderBy("antecedent", "consequent")
    }),
    "q_kfold" -> ((s, dir) => {
      // deterministic 5-fold CV assignment — id-stable under growth
      graft.ops.Sampling.kFoldAssign(T(s, dir, "documents"), "doc_id", k = 5)
        .select("doc_id", "fold").orderBy("doc_id")
    }),
    "q_wilcoxon" -> ((s, dir) => {
      // paired signed-rank: did each user's activity shift between the
      // two halves of the month (integer paired counts, grid 1)
      val paired = T(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(when(dayofmonth(col("ts")) <= 15, 1L).otherwise(0L)).as("h1"),
          sum(when(dayofmonth(col("ts")) > 15, 1L).otherwise(0L)).as("h2"))
      Sketches.wilcoxonSignedRank(paired, "h1", "h2", grid = 1.0)
    }),
    "q_cohens_d" -> ((s, dir) => {
      // effect size for the q_prop_ztest fixture: how far apart are
      // click vs view value distributions in pooled-sd units
      Sketches.cohensD(T(s, dir, "events"), "value",
        col("event_type") === "click", col("event_type") === "view")
    }),
    "q_kcore" -> ((s, dir) => {
      // fixed-round 5-core peeling over the closed link graph — the
      // dense-cluster (link-farm) complement of q_triangles; k=5 peels
      // 500 nodes down to a 37-node core at the verify scale (k=4 would
      // keep everything, k=6 empties — both vacuous)
      val base = Html.extractLinks(T(s, dir, "documents")
          .withColumn("html", linkFixtureHtml), "doc_id", "html")
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "([0-9]+)$", 1).cast("long").as("dst"))
      val closing = T(s, dir, "documents").filter(col("doc_id") % 4 === 0)
        .select(((col("doc_id") * 31 + 7) % 500).as("src"),
          ((col("doc_id") * 31 + 13) % 500).as("dst"))
      graft.ops.Graphs.kCore(base.unionByName(closing), "src", "dst",
          k = 5, rounds = 3)
        .orderBy("node")
    }),
    "q_zipf" -> ((s, dir) => {
      // one-number corpus-health audit: OLS slope of ln(freq) on
      // ln(rank) over the top-100 tokens (natural text ≈ −1)
      graft.ops.LmScore.zipfFit(T(s, dir, "documents"), "text", topK = 100)
    }),
    "q_cube" -> ((s, dir) => {
      // every subtotal combination in one pass, grouping_id-labeled —
      // the CUBE complement of q_rollup's hierarchy
      graft.ops.Rollups.cubeCounts(T(s, dir, "orders"),
          "o_orderpriority", "o_orderstatus", "o_totalprice")
        .orderBy(col("grouping_id"), col("o_orderpriority").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)
    }),
    "q_pop" -> ((s, dir) => {
      // month-over-month order mass with deltas and percent change
      graft.ops.Rollups.periodOverPeriod(T(s, dir, "orders"),
          "o_orderdate", "o_totalprice")
        .orderBy("month")
    }),
    "q_sla" -> ((s, dir) => {
      // the SLA table: per-type value percentiles as ONE
      // percentile-over-array aggregate per group
      graft.ops.Rollups.groupPercentiles(T(s, dir, "events"),
          Seq("event_type"), "value", Seq(0.5, 0.9, 0.99))
        .orderBy("event_type")
    }),
    "q_ann_recall" -> ((s, dir) => {
      // the ANN quality gate measured in-engine: IVF at nprobe=2 (so
      // recall is honestly < 1 somewhere) against brute-force truth
      val emb = T(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("long").as("centroid_id"),
          col("embedding").cast("array<double>").as("centroid_vec"))
      val assigned = Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
      val approx = Similarity.ivfTopK(assigned, emb.filter(col("vec_id") < 5),
        cents, "vec_id", "embedding", k = 3, nprobe = 2)
      val exact = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
      Similarity.recallAtK(approx.select(col("q_id"), col("cand_id")),
          exact.select(col("q_id"), col("cand_id")), "q_id", "cand_id")
        .orderBy("q_id")
    }),
    "q_theil_sen" -> ((s, dir) => {
      // robust per-type daily trend — the outlier-proof OLS complement
      val daily = T(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.TimeSeries.theilSen(daily, "event_type", "day", "n")
        .orderBy("event_type")
    }),
    "q_isotonic" -> ((s, dir) => {
      // isotonic calibration over a deterministic synthetic scorer:
      // score s = (13·id%100)/100, label = 1 iff (7·id%100) < (13·id%100)
      // — P(label|s) increases in s, so the PAV actually pools something
      val d = T(s, dir, "documents").select(
        ((col("doc_id") * 13 % 100).cast("double") / 100.0).as("s"),
        when(col("doc_id") * 7 % 100 < col("doc_id") * 13 % 100, 1.0)
          .otherwise(0.0).as("y"))
      graft.ops.Classifier.isotonicCalibration(d, "s", "y", bins = 10)
        .orderBy("bin")
    }),
    "q_holt" -> ((s, dir) => {
      // Holt level+trend over the 5 per-type daily count series (the
      // CUSUM fixture); the oracle replays the fold via list_reduce
      val daily = T(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.TimeSeries.holtSmooth(daily, "event_type", "day", "n",
          alpha = 0.5, beta = 0.3, horizon = 7)
        .orderBy("event_type")
    }),
    "q_seasonal" -> ((s, dir) => {
      // weekly additive decomposition of the same daily series
      val daily = T(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.TimeSeries.seasonalDecompose(daily, "event_type", "day",
          "n", period = 7)
        .orderBy("event_type", "day")
    }),
    "q_wilson" -> ((s, dir) => {
      // finished-rate per order priority with Wilson 95% bounds
      graft.ops.Classifier.wilsonInterval(T(s, dir, "orders"),
          Seq("o_orderpriority"), col("o_orderstatus") === "F", z = 1.96)
        .orderBy("o_orderpriority")
    }),
    "q_prop_ztest" -> ((s, dir) => {
      // A/B: do click events carry high values (≥ 50) at a different
      // rate than view events
      Sketches.proportionZTest(T(s, dir, "events"),
        col("event_type") === "click", col("event_type") === "view",
        col("value") >= 50)
    }),
    "q_rfm" -> ((s, dir) => {
      // RFM quintiles over orders; monetary pre-snapped to cents and
      // summed as DECIMAL (exact, order-free), output cast to double so
      // both engines' sum dtypes align
      val o = T(s, dir, "orders").select(col("o_custkey"),
        col("o_orderdate"),
        (floor(col("o_totalprice") * 100 + lit(0.5)) / 100)
          .cast("decimal(18,2)").as("spend"))
      graft.ops.Rollups.rfmSegments(o, "o_custkey", "o_orderdate", "spend")
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary").cast("double").as("monetary"),
          col("r"), col("f"), col("m"))
        .orderBy("o_custkey")
    }),
    "q_ols" -> ((s, dir) => {
      // in-plan two-feature OLS: extended price regressed on quantity and
      // discount — coefficients via Cramer over exact decimal moments;
      // inputs pre-snapped to 1e-6 in DOUBLE so no engine's
      // double→decimal rounding rule decides a moment
      def snap6(c: Column) = floor(c * 1e6 + lit(0.5)) / 1e6
      val li = T(s, dir, "lineitem")
        .filter(col("l_extendedprice").isNotNull &&
          col("l_quantity").isNotNull && col("l_discount").isNotNull)
        .select(snap6(col("l_extendedprice")).as("y"),
          snap6(col("l_quantity")).as("x1"),
          snap6(col("l_discount")).as("x2"))
      graft.ops.Classifier.fitOLS2(li, "y", "x1", "x2")
    }),
    "q_kaplan_meier" -> ((s, dir) => {
      // survival curve over per-user event-log lifetimes: duration =
      // first→last event in days. Censoring is a deterministic user_id%4
      // flag (null → censored), NOT a date cutoff: the r13 date rule left
      // every subject censored at the verify scale, so the oracle compared
      // two EMPTY curves — this rule guarantees events (and a non-empty
      // curve) at every SF while the censored quarter still exercises the
      // at-risk arithmetic.
      val subj = T(s, dir, "events").groupBy(col("user_id"))
        .agg(min(col("ts")).as("f"), max(col("ts")).as("l"))
        .select(datediff(to_date(col("l")), to_date(col("f")))
            .cast("double").as("dur"),
          when(col("user_id") % 4 =!= 0, 1).otherwise(0).as("ev"))
      graft.ops.TimeSeries.kaplanMeier(subj, "dur", "ev").orderBy("t")
    }),
    "q_geo_join" -> ((s, dir) => {
      // grid-blocked geo radius join: customers × suppliers at
      // synthesized coordinates in a 25°×20° band, pairs within 100 km.
      // The oracle is the plain cross-join SPEC with the haversine
      // written in the same operation order (radians as x/180*π — the
      // JDK toRadians order) so distances match on the 1e-6 grid.
      val cust = T(s, dir, "customer").select(col("c_custkey"),
        (lit(30.0) + (col("c_custkey") * 37 % 2500).cast("double") / 100.0).as("c_lat"),
        (lit(-10.0) + (col("c_custkey") * 73 % 2000).cast("double") / 100.0).as("c_lon"))
      val supp = T(s, dir, "supplier").select(col("s_suppkey"),
        (lit(30.0) + (col("s_suppkey") * 41 % 2500).cast("double") / 100.0).as("s_lat"),
        (lit(-10.0) + (col("s_suppkey") * 79 % 2000).cast("double") / 100.0).as("s_lon"))
      graft.ops.Geo.radiusJoin(cust, "c_lat", "c_lon",
          supp, "s_lat", "s_lon", radiusKm = 100.0)
        .select("c_custkey", "s_suppkey", "distance_km")
        .orderBy("c_custkey", "s_suppkey")
    }),
    "q_cidr_lookup" -> ((s, dir) => {
      // longest-prefix-match network enrichment: deterministic dotted
      // quads from event keys (a 10/8 corp slice, a 172.16/12 guest
      // slice, an unparsable %11 slice) against a 4-row CIDR dim —
      // /24 beats /16 beats /8; one dim entry carries host bits to
      // exercise canonicalization; misses and bad addresses stay null
      import s.implicits._
      val ips = T(s, dir, "events").select(col("event_id"),
        when(col("event_id") % 11 === 0, lit("999.1.2.3"))
          .when(col("event_id") % 5 === 0, concat(lit("172.16."),
            (col("user_id") % 16).cast("string"), lit("."),
            (col("event_id") % 256).cast("string")))
          .otherwise(concat(lit("10."),
            (col("user_id") % 256).cast("string"), lit("."),
            ((col("user_id") * 7) % 256).cast("string"), lit("."),
            (col("event_id") % 256).cast("string"))).as("ip"))
      val dim = Seq(("10.0.0.0/8", "corp"), ("10.3.21.0/24", "rack3"),
        ("10.77.5.9/16", "dc77"), ("172.16.0.0/12", "guest"))
        .toDF("cidr", "zone")
      graft.ops.Networks.cidrLookup(ips, "ip", dim, "cidr")
        .select("event_id", "ip", "cidr", "zone")
        .orderBy("event_id")
    }),
    "q_mmr_rerank" -> ((s, dir) => {
      // MMR diversified rerank of the BM25 top-10 (k=5, λ=0.7) with
      // cosine redundancy over the embeddings table — the RAG
      // context-packing step; greedy selection is k unrolled projections
      // of higher-order array expressions, mirrored step-by-step in SQL
      import s.implicits._
      val docs = TR(s, dir, "documents")
      val qs = Seq((1L, "fast hash join"), (2L, "window group query"),
        (3L, "slow table scan"), (4L, "customer order line part"),
        (5L, "stream batch data")).toDF("qid", "qtext")
      val bm = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid", "qtext", k = 10)
      Similarity.mmrRerank(bm.select("qid", "doc_id", "score"),
          "qid", "doc_id", "score", T(s, dir, "embeddings"),
          "vec_id", "embedding", k = 5, lambda = 0.7)
        .orderBy("qid", "rk")
    }),
    "q_skyline" -> ((s, dir) => {
      // Pareto frontier of (maximize total price, minimize order date):
      // the engine runs the bucketed suffix-max decomposition; the oracle
      // states the quadratic dominance SPEC — result sets must agree
      val o = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
          (lit(0L) - unix_micros(col("o_orderdate").cast("timestamp")))
            .cast("double").as("__neg_t"))
      Sketches.skyline2D(o, "o_totalprice", "__neg_t")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderkey")
    })
  )

  /** Shared by q_rollup_refresh and q_stream_rollup — the incremental
    * batch refresh and the foreachBatch streaming maintenance must land
    * on the same final rollup (the from-scratch recompute over the
    * closed-form q_cdc_apply survivor set). */
  private val rollupRefreshOracleSql: String =
    "WITH s AS (SELECT o_orderstatus, " +
      "CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2 ELSE o_totalprice END AS p " +
      "FROM orders WHERE o_orderkey % 10 NOT IN (0, 2) " +
      "UNION ALL SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 10 = 3) " +
      "SELECT o_orderstatus, COUNT(*) AS n_rows, COUNT(p) AS n_vals, " +
      "CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS total " +
      "FROM s GROUP BY o_orderstatus ORDER BY o_orderstatus"

  /** Shared by q_bm25_topk and q_bm25_indexed — the two plans (live
    * tokenization vs persisted bucketed index) must score identically. */
  private val bm25OracleSql: String =
    "WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term " +
      "FROM documents WHERE text IS NOT NULL), " +
      "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2), " +
      "dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1), " +
      "st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl), " +
      "q(qid, qtext) AS (VALUES (1, 'fast hash join'), (2, 'window group query'), " +
      "(3, 'slow table scan'), (4, 'customer order line part'), (5, 'stream batch data')), " +
      "qt AS (SELECT CAST(qid AS BIGINT) AS qid, unnest(list_distinct(regexp_extract_all(lower(qtext), '[a-z0-9]+'))) AS term FROM q), " +
      "dfreq AS (SELECT term, COUNT(*) AS df FROM tf WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1), " +
      "sc AS (SELECT qt.qid, tf.doc_id, " +
      "SUM(ln(1.0 + (CAST(st.n AS DOUBLE) - df + 0.5) / (df + 0.5)) " +
      "* (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))) AS raw " +
      "FROM tf JOIN qt USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN st " +
      "GROUP BY 1, 2) " +
      "SELECT qid, doc_id, floor(raw * 1000000.0 + 0.5) / 1000000.0 AS score, " +
      "CAST(row_number() OVER (PARTITION BY qid ORDER BY floor(raw * 1000000.0 + 0.5) / 1000000.0 DESC, doc_id) AS INTEGER) AS rk " +
      "FROM sc QUALIFY rk <= 10 ORDER BY qid, rk"

  /** The 16 centroid ids `Similarity.seedCentroids(emb, "vec_id",
    * "embedding", 16)` selects on the sf0.01 embeddings table (lowest
    * `xxhash64(vec_id)`, id tiebreak) — committed as the q_ivf_topk
    * oracle's centroid set (the BPE merge-table pattern: the engine
    * computes the model artifact, the oracle takes it as given). If the
    * driver ever regenerates testdata, re-derive with the one-liner in
    * the q_ivf_topk oracle comment; a mismatch shows up as that one row
    * going red, never silently. */
  private val IvfSeedIds: String =
    "459, 411, 468, 199, 184, 241, 115, 465, 75, 8, 295, 388, 233, 239, 463, 308"

  /** Shared IVF mirror for q_ivf_oracle / q_ivf_topk: assignment = argmax
    * cosine over the centroid set (tiebreak: lowest centroid_id — mirrors
    * ivfAssign's max_by(sim, -id)); probe = top-4 centroids per query;
    * rank candidates in probed cells only. Cosine fragment is IDENTICAL
    * to q_ann_cosine's (bitwise parity). The queries differ ONLY in
    * `centroidPred` — the DuckDB-expressible `vec_id < 16` rule vs the
    * committed seedCentroids literals — and in `nprobe`
    * (q_ann_recall probes 2 cells so its recall is honestly < 1). */
  private def ivfMirrorSql(centroidPred: String, nprobe: Int = 4): String =
    "WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings), " +
      s"c AS (SELECT vec_id AS centroid_id, vec AS cvec FROM v WHERE $centroidPred), " +
      "sc AS (SELECT v.vec_id, v.vec, c.centroid_id, " +
      "CASE WHEN sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(c.cvec, c.cvec)) = 0 THEN 0.0 " +
      "ELSE list_dot_product(v.vec, c.cvec) / (sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(c.cvec, c.cvec))) END AS csim " +
      "FROM v, c), " +
      "asn AS (SELECT vec_id, vec, centroid_id FROM " +
      "(SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rn FROM sc) WHERE rn = 1), " +
      "q AS (SELECT vec_id AS q_id, vec AS q_vec FROM v WHERE vec_id < 5), " +
      "qc AS (SELECT q.q_id, q.q_vec, c.centroid_id, " +
      "CASE WHEN sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(c.cvec, c.cvec)) = 0 THEN 0.0 " +
      "ELSE list_dot_product(q.q_vec, c.cvec) / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(c.cvec, c.cvec))) END AS psim " +
      "FROM q, c), " +
      "pr AS (SELECT q_id, q_vec, centroid_id FROM " +
      s"(SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY psim DESC, centroid_id) AS c_rk FROM qc) WHERE c_rk <= $nprobe), " +
      "scored AS (SELECT pr.q_id, a.vec_id AS cand_id, " +
      "CASE WHEN sqrt(list_dot_product(pr.q_vec, pr.q_vec)) * sqrt(list_dot_product(a.vec, a.vec)) = 0 THEN 0.0 " +
      "ELSE list_dot_product(pr.q_vec, a.vec) / (sqrt(list_dot_product(pr.q_vec, pr.q_vec)) * sqrt(list_dot_product(a.vec, a.vec))) END AS sim " +
      "FROM asn a JOIN pr ON a.centroid_id = pr.centroid_id WHERE a.vec_id <> pr.q_id) " +
      "SELECT q_id, cand_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id) AS INTEGER) AS rk " +
      "FROM scored QUALIFY rk <= 3 ORDER BY q_id, rk"

  /** q_ann_cosine mirror (also the exact side of q_ann_recall):
    * bitwise-comparable — both engines run the same sequential
    * double-accumulation dot product over float-widened vectors. */
  private val annCosineOracleSql: String =
    "WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings), " +
      "q AS (SELECT vec_id AS q_id, vec AS q_vec FROM v WHERE vec_id < 5), " +
      "pairs AS (SELECT q.q_id, v.vec_id AS cand_id, " +
      "CASE WHEN sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(v.vec, v.vec)) = 0 THEN 0.0 " +
      "ELSE list_dot_product(q.q_vec, v.vec) / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(v.vec, v.vec))) END AS sim " +
      "FROM v, q WHERE v.vec_id <> q.q_id) " +
      "SELECT q_id, cand_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id) AS INTEGER) AS rk " +
      "FROM pairs QUALIFY rk <= 3 ORDER BY q_id, rk"

  /** Closed-form link-graph edge list shared by the q_pagerank /
    * q_degrees / q_triangles / q_hits oracles (the SQL restatement of
    * [[linkFixtureHtml]]'s links). */
  private val linkEdgesSql: String =
    "SELECT doc_id AS src, (doc_id*31+7)%500 AS dst FROM documents " +
      "UNION ALL SELECT doc_id, (doc_id*31+13)%500 FROM documents " +
      "UNION ALL SELECT doc_id, (doc_id*31+29)%500 FROM documents WHERE doc_id%3 = 0"

  /** q_hits oracle: three unrolled L1-normalized grid-quantized HITS
    * iterations — the exact [[graft.ops.Graphs.hits]] recurrence (raw
    * sums over the snapped previous vector, one normalizing total, snap
    * at 1e-12), generated per iteration so the two engines cannot drift
    * in structure. */
  private val hitsOracleSql: String = {
    def snap(x: String) = s"floor(($x)/1e-12 + 0.5)*1e-12"
    val iters = (1 to 3).map { i =>
      val (hPrev, a, h) = (if (i == 1) "h0" else s"h${i - 1}", s"a$i", s"h$i")
      s"${a}raw AS (SELECT v.node, coalesce(c.s, 0) AS raw FROM nodes v LEFT JOIN " +
        s"(SELECT e.dst AS node, sum(p.v) AS s FROM e JOIN $hPrev p ON e.src = p.node GROUP BY 1) c ON v.node = c.node), " +
        s"${a}t AS (SELECT sum(raw) AS t FROM ${a}raw), " +
        s"$a AS (SELECT node, CASE WHEN t > 0 THEN ${snap("raw/t")} ELSE 0 END AS v FROM ${a}raw, ${a}t), " +
        s"${h}raw AS (SELECT v.node, coalesce(c.s, 0) AS raw FROM nodes v LEFT JOIN " +
        s"(SELECT e.src AS node, sum(p.v) AS s FROM e JOIN $a p ON e.dst = p.node GROUP BY 1) c ON v.node = c.node), " +
        s"${h}t AS (SELECT sum(raw) AS t FROM ${h}raw), " +
        s"$h AS (SELECT node, CASE WHEN t > 0 THEN ${snap("raw/t")} ELSE 0 END AS v FROM ${h}raw, ${h}t)"
    }.mkString(", ")
    s"WITH e AS ($linkEdgesSql), " +
      "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)), " +
      "nn AS (SELECT count(*) AS n FROM nodes), " +
      s"h0 AS (SELECT node, ${snap("1.0/nn.n")} AS v FROM nodes CROSS JOIN nn), " +
      iters +
      " SELECT a3.node, round(a3.v, 8) AS auth, round(h3.v, 8) AS hub " +
      "FROM a3 JOIN h3 ON a3.node = h3.node ORDER BY a3.node"
  }

  /** q_label_prop oracle: three unrolled synchronized min-label rounds
    * over the canonical undirected simple graph (the q_triangles edge set
    * including its %4 closing edges) — the exact
    * [[graft.ops.Graphs.labelPropagation]] recurrence
    * `l(v) ← least(l(v), min_{u∼v} l(u))`, generated per round. */
  private val labelPropOracleSql: String = {
    val rounds = (1 to 3).map { i =>
      val prev = s"l${i - 1}"
      s"l$i AS (SELECT l.node, least(l.label, coalesce(m.mn, l.label)) AS label " +
        s"FROM $prev l LEFT JOIN (SELECT a.node, min(p.label) AS mn FROM adj a " +
        s"JOIN $prev p ON a.nbr = p.node GROUP BY 1) m ON l.node = m.node)"
    }.mkString(", ")
    s"WITH e AS ($linkEdgesSql " +
      "UNION ALL SELECT (doc_id*31+7)%500, (doc_id*31+13)%500 FROM documents WHERE doc_id%4 = 0), " +
      "und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e WHERE src <> dst), " +
      "adj AS (SELECT u AS node, v AS nbr FROM und UNION ALL SELECT v, u FROM und), " +
      "l0 AS (SELECT DISTINCT node, node AS label FROM adj), " +
      rounds +
      " SELECT node, label FROM l3 ORDER BY node"
  }

  /** q_kcore oracle: unrolled fixed-round 5-core peeling — round r keeps
    * nodes whose degree within round r−1's surviving subgraph is ≥ 5,
    * exactly [[graft.ops.Graphs.kCore]]'s recurrence; the output is the
    * degree table of the final surviving subgraph. */
  private val kCoreOracleSql: String = {
    def degOver(e: String, d: String) =
      s"$d AS (SELECT node, count(*) AS d FROM (SELECT u AS node FROM $e UNION ALL SELECT v FROM $e) GROUP BY 1)"
    val rounds = (1 to 3).map { r =>
      val (ePrev, d, a) = (if (r == 1) "und" else s"e${r - 1}", s"d$r", s"a$r")
      s"${degOver(ePrev, d)}, " +
        s"$a AS (SELECT node FROM $d WHERE d >= 5), " +
        s"e$r AS (SELECT p.u, p.v FROM $ePrev p JOIN $a x ON p.u = x.node JOIN $a y ON p.v = y.node)"
    }.mkString(", ")
    s"WITH e AS ($linkEdgesSql " +
      "UNION ALL SELECT (doc_id*31+7)%500, (doc_id*31+13)%500 FROM documents WHERE doc_id%4 = 0), " +
      "und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e WHERE src <> dst), " +
      rounds +
      " SELECT node, count(*) AS degree FROM (SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3) " +
      "GROUP BY 1 ORDER BY node"
  }

  /** q_ppr oracle: three unrolled personalized-PageRank iterations — the
    * exact [[graft.ops.Graphs.pageRankPersonalized]] recurrence (teleport
    * mass only on the doc_id%7 seed slice, 1e-12 snap per iteration),
    * generated per iteration. `(1.0-0.85)` is written as the SUBTRACTION
    * so both engines fold the identical double, not a 0.15 literal. */
  private val pprOracleSql: String = {
    def snap(x: String) = s"floor(($x)/1e-12 + 0.5)*1e-12"
    val iters = (1 to 3).map { i =>
      val prev = s"r${i - 1}"
      s"r$i AS (SELECT f.node, f.seed, " +
        snap(s"(1.0-0.85)*(CASE WHEN f.seed THEN 1.0/ns.k ELSE 0 END) + 0.85*coalesce(c.s, 0)") +
        s" AS rank FROM f CROSS JOIN ns LEFT JOIN " +
        s"(SELECT e.dst AS node, sum(r.rank/deg.d) AS s FROM e JOIN $prev r ON e.src = r.node " +
        s"JOIN deg ON e.src = deg.src GROUP BY 1) c ON f.node = c.node)"
    }.mkString(", ")
    s"WITH e AS ($linkEdgesSql), " +
      "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)), " +
      "sd AS (SELECT DISTINCT doc_id AS node FROM documents WHERE doc_id % 7 = 0), " +
      "f AS (SELECT n.node, (s.node IS NOT NULL) AS seed FROM nodes n LEFT JOIN sd s ON n.node = s.node), " +
      "ns AS (SELECT count(*) AS k FROM f WHERE seed), " +
      "deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1), " +
      s"r0 AS (SELECT node, seed, CASE WHEN seed THEN ${snap("1.0/ns.k")} ELSE 0 END AS rank FROM f CROSS JOIN ns), " +
      iters +
      " SELECT node, round(rank, 8) AS rank FROM r3 ORDER BY node"
  }

  /** q_mmr_rerank oracle: the BM25 mirror feeds five unrolled greedy MMR
    * selections — step i anti-joins the already-picked set, scores
    * `rel·0.7 − (1.0−0.7)·greatest(−1, max cos)` with the same 1e-9
    * floor-round, and picks per-query row_number 1 by (mmr DESC, id).
    * Cosines run over unit vectors via `list_dot_product` — the same
    * left-to-right double accumulation as the engine's zip_with fold
    * (the q_ann_cosine discipline), so scores match bitwise. */
  private val mmrOracleSql: String = {
    val steps = (2 to 5).map { i =>
      s"s$i AS (SELECT c.qid, c.id, c.rel, c.uv, " +
        "floor((c.rel*0.7 - (1.0-0.7)*greatest(-1.0, max(list_dot_product(c.uv, s.uv))))*1e9 + 0.5)/1e9 AS mmr, " +
        "max(CASE WHEN c.id = s.id THEN 1 ELSE 0 END) AS taken " +
        s"FROM cand c JOIN sel${i - 1} s ON c.qid = s.qid GROUP BY 1, 2, 3, 4), " +
        s"p$i AS (SELECT qid, id, mmr, uv, $i AS rk FROM s$i WHERE taken = 0 " +
        "QUALIFY row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, id) = 1), " +
        s"sel$i AS (SELECT qid, id, uv FROM sel${i - 1} UNION ALL SELECT qid, id, uv FROM p$i)"
    }.mkString(", ")
    val unionAll = (1 to 5).map(i => s"SELECT qid, id, mmr, rk FROM p$i")
      .mkString(" UNION ALL ")
    "WITH bm AS (SELECT qid, doc_id, score FROM (" + bm25OracleSql + ")), " +
      "uv AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), " +
      "x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS u FROM embeddings), " +
      "cand AS (SELECT bm.qid, bm.doc_id AS id, bm.score AS rel, uv.u AS uv FROM bm JOIN uv ON bm.doc_id = uv.vec_id), " +
      "p1 AS (SELECT qid, id, floor((rel*0.7)*1e9 + 0.5)/1e9 AS mmr, uv, 1 AS rk FROM cand " +
      "QUALIFY row_number() OVER (PARTITION BY qid ORDER BY floor((rel*0.7)*1e9 + 0.5)/1e9 DESC, id) = 1), " +
      "sel1 AS (SELECT qid, id, uv FROM p1), " + steps +
      s" SELECT qid, id AS doc_id, mmr AS mmr_score, CAST(rk AS INTEGER) AS rk FROM ($unionAll) ORDER BY qid, rk"
  }

  /** q_embed_cov oracle: the [[Similarity.embeddingCovariance]] mirror
    * over the first 8 coordinates, generated pair-by-pair — identical
    * 1e-6 coordinate snap, DECIMAL(18,6) moment sums, closed-form double
    * covariance floor-rounded at 1e-9. */
  private val embedCovOracleSql: String = {
    val dims = 8
    val coords = (0 until dims).map(i =>
      s"CAST(floor(CAST(embedding[${i + 1}] AS DOUBLE)*1000000.0 + 0.5)/1000000.0 AS DECIMAL(18,6)) AS c_$i")
    val pairs = for { i <- 0 until dims; j <- i until dims } yield (i, j)
    val sums = (0 until dims).map(i => s"sum(c_$i) AS s_$i") ++
      pairs.map { case (i, j) => s"sum(c_$i*c_$j) AS sp_${i}_$j" }
    val arms = pairs.map { case (i, j) =>
      s"SELECT $i AS i, $j AS j, n, s_$i AS si, s_$j AS sj, sp_${i}_$j AS sp FROM m"
    }
    s"WITH ok AS (SELECT embedding FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) >= $dims), " +
      s"c AS (SELECT ${coords.mkString(", ")} FROM ok), " +
      s"m AS (SELECT count(*) AS n, ${sums.mkString(", ")} FROM c), " +
      s"u AS (${arms.mkString(" UNION ALL ")}) " +
      "SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j, n, " +
      "CASE WHEN n >= 1 AND si IS NOT NULL AND sj IS NOT NULL AND sp IS NOT NULL THEN " +
      "floor((CAST(sp AS DOUBLE)/CAST(n AS DOUBLE) - (CAST(si AS DOUBLE)/CAST(n AS DOUBLE))*(CAST(sj AS DOUBLE)/CAST(n AS DOUBLE)))*1e9 + 0.5)/1e9 " +
      "END AS cov FROM u ORDER BY i, j"
  }

  def oracleSql: Map[String, String] = Map(
    "q_required" ->
      "SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0 ORDER BY doc_id",
    "q_optional" ->
      "SELECT doc_id, CASE WHEN lang IS NULL OR length(lang) = 0 THEN 'und' ELSE lang END AS lang FROM documents ORDER BY doc_id",
    "q_minmax_length" ->
      "SELECT doc_id, text FROM documents WHERE text IS NULL OR (length(text) >= 100 AND length(text) <= 400) ORDER BY doc_id",
    "q_choice" ->
      "SELECT event_id, event_type FROM events WHERE event_type IS NULL OR event_type IN ('signup','purchase','error') ORDER BY event_id",
    "q_empty" ->
      "SELECT doc_id, lang, (lang IS NULL OR length(lang) = 2) AS ok FROM documents ORDER BY doc_id",
    "q_omit" ->
      "SELECT c_custkey, c_name, c_nationkey FROM customer ORDER BY c_custkey",
    "q_type_int" ->
      // NaN guard (DuckDB: NaN = floor(NaN) is TRUE) + Int()'s explicit
      // Long-range guard, so out-of-range doubles drop instead of erroring
      ("SELECT event_id, CAST(value AS BIGINT) AS value_int FROM events WHERE value IS NULL OR " +
        "(NOT isnan(value) AND value = floor(value) AND value >= -9223372036854775808 AND value <= 9223372036854775807) ORDER BY event_id"),
    "q_min" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity IS NULL OR l_quantity >= 5.0 ORDER BY l_orderkey, l_linenumber",
    "q_max" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity IS NULL OR l_quantity <= 45.0 ORDER BY l_orderkey, l_linenumber",
    "q_decimal" ->
      "SELECT l_orderkey, l_linenumber, CAST(CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(12,2)) AS DOUBLE) AS price FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "q_round" ->
      "SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS bucket, COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY bucket",
    "q_date" ->
      "SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1 ORDER BY day",
    "q_date_dayfirst" ->
      // dateutil's swap-on-invalid rule in closed form. bud = 2024's
      // month-day budgets: the d/M read is valid iff a <= bud[b] (Feb 31
      // etc. fail), the M/d read iff a <= 12 (b never exceeds 12 ≤ any
      // budget). Rows where BOTH reads fail drop from .valid on the
      // Spark side — the WHERE mirrors that; CASE branches are ordered
      // so make_date (which THROWS on out-of-range, unlike Spark's
      // try-cascade) only evaluates constructible dates.
      ("WITH d AS (SELECT doc_id, CAST(doc_id % 31 + 1 AS INT) AS a, " +
        "CAST(doc_id % 12 + 1 AS INT) AS b, " +
        "([31,29,31,30,31,30,31,31,30,31,30,31])[CAST(doc_id % 12 + 1 AS INT)] AS bud " +
        "FROM documents WHERE doc_id < 200) " +
        "SELECT doc_id, " +
        "CASE WHEN a <= 12 THEN make_date(2024, a, b) ELSE make_date(2024, b, a) END AS us_read, " +
        "CASE WHEN a <= bud THEN make_date(2024, b, a) ELSE make_date(2024, a, b) END AS eu_read " +
        "FROM d WHERE a <= 12 OR a <= bud ORDER BY doc_id"),
    "q_strip" ->
      "SELECT doc_id, regexp_replace(regexp_replace('  ' || text || ' \t', '^[\\p{C}\\s]+', ''), '[\\p{C}\\s]+$', '') AS stripped FROM documents ORDER BY doc_id",
    "q_casefold" ->
      // lower + explicit sharp-s expansion mirrors ICU full folding for
      // this construction (fixture langs are ASCII; the suffix adds the
      // one full-fold divergence)
      "SELECT doc_id, replace(lower(lang || '-Straße'), 'ß', 'ss') AS folded FROM documents ORDER BY doc_id",
    "q_pii_redact" -> {
      // the pattern strings come FROM Pii.Detectors (one source of
      // truth); DuckDB needs the explicit 'g' flag Java implies
      def lit1(s: String) = "'" + s.replace("'", "''") + "'"
      val syn = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@mail.example.org' || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' call 555-867-5309 now' ELSE '' END || " +
        "CASE WHEN doc_id % 4 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.77' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' acct ' || lpad(CAST((doc_id * 37) % 1000000000 AS VARCHAR), 9, '0') ELSE '' END"
      val red = graft.ops.Pii.Detectors.foldLeft("t") { case (acc, (_, re, repl)) =>
        s"regexp_replace($acc, ${lit1(re)}, ${lit1(repl)}, 'g')"
      }
      val cnts = graft.ops.Pii.Detectors.map { case (name, re, _) =>
        s"CAST(len(regexp_extract_all(t, ${lit1(re)})) AS BIGINT) AS n_$name"
      }.mkString(", ")
      s"WITH s AS (SELECT doc_id, $syn AS t FROM documents WHERE text IS NOT NULL) " +
        s"SELECT doc_id, $red AS redacted, $cnts FROM s ORDER BY doc_id"
    },
    "q_mojibake" ->
      // repair(misdecode(t)) == t for ANY t (misdecode is lossless), and
      // a doc "was corrupted" iff its text has any non-ASCII char — in
      // DuckDB, iff UTF-8 byte length exceeds char length
      ("SELECT doc_id, text AS repaired, strlen(text) > length(text) AS was_corrupted " +
        "FROM documents WHERE text IS NOT NULL ORDER BY doc_id"),
    "q_unicode" ->
      // full Unicode() twin: \r\n and \r -> \n, strip ISO controls (keeping
      // \n \t) and FORMAT chars, THEN NFC -- same order as the kernel
      ("SELECT doc_id, nfc_normalize(regexp_replace(regexp_replace(regexp_replace(text || ' café', " +
        "'\\r\\n', '\\n', 'g'), '\\r', '\\n', 'g'), " +
        "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]|\\p{Cf}', '', 'g')) AS cleaned " +
        "FROM documents ORDER BY doc_id"),
    "q_json" ->
      // WHERE twin of JsonDecode's .valid split: malformed JSON is DROPPED
      // by Spark (json_extract_string would ERROR on it here), and so is
      // valid JSON whose root is not an object (from_json against a struct
      // schema nulls out -> coded rejection)
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events WHERE props IS NULL OR (json_valid(props) AND json_type(props) = 'OBJECT') ORDER BY event_id",
    "q_regex" ->
      "SELECT doc_id, CAST(len(regexp_extract_all(text, '[aeiou]{2}')) AS BIGINT) AS n_matches FROM documents WHERE text IS NULL OR len(regexp_extract_all(text, '[aeiou]{2}')) > 0 ORDER BY doc_id",
    "q_split" ->
      "SELECT doc_id, string_split(text, ' ')[1] AS first_tok, string_split(text, ' ')[-1] AS last_tok FROM documents ORDER BY doc_id",
    "q_maxbytes" ->
      "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents WHERE text IS NULL OR octet_length(encode(text)) <= 256 ORDER BY doc_id",
    "q_base64" ->
      "SELECT doc_id, decode(from_base64(to_base64(encode(text)))) AS decoded FROM documents ORDER BY doc_id",
    "q_bytestring" ->
      "SELECT doc_id, hex(encode(text)) AS b_hex, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents ORDER BY doc_id",
    "q_maxbytes_trunc" ->
      // ASCII-only subset: byte truncation == char truncation, no boundary
      // backoff needed in the mirror
      ("SELECT doc_id, CASE WHEN octet_length(encode(text)) <= 100 THEN text ELSE substr(text, 1, 100) END AS t " +
        "FROM documents WHERE octet_length(encode(text)) = length(text) ORDER BY doc_id"),
    "q_split_keyed" ->
      ("WITH t AS (SELECT doc_id, doc_id % 5 = 0 AS short FROM documents) " +
        "SELECT doc_id, CASE WHEN short THEN NULL ELSE 'a' || doc_id END AS x, " +
        "CASE WHEN short THEN NULL ELSE 'c' || doc_id END AS z, NOT short AS ok " +
        "FROM t ORDER BY doc_id"),
    "q_repeater_map" ->
      // null value → null map values → None-passthrough → ok TRUE; the two
      // derived entries bound value to [20, 400] jointly
      ("SELECT event_id, CASE WHEN value IS NULL THEN TRUE ELSE " +
        "NOT (value < 10 OR value > 400 OR value / 2 < 10 OR value / 2 > 400) END AS ok " +
        "FROM events ORDER BY event_id"),
    "q_uuid" ->
      "SELECT doc_id, lower(printf('%08x-0000-4000-8000-%012x', doc_id, doc_id)) AS uuid FROM documents ORDER BY doc_id",
    "q_ip" ->
      "SELECT doc_id, '10.' || CAST(doc_id % 300 AS VARCHAR) || '.0.1' AS ip FROM documents WHERE doc_id % 300 <= 255 ORDER BY doc_id",
    "q_mapper" ->
      "SELECT * FROM (SELECT 'rec.event_type' AS key, 'not_valid_choice' AS code, COUNT(*) AS n FROM events WHERE event_type IS NOT NULL AND event_type NOT IN ('signup','purchase','error') UNION ALL SELECT 'rec.value' AS key, 'too_small' AS code, COUNT(*) AS n FROM events WHERE value IS NOT NULL AND value < 50.0) t WHERE n > 0 ORDER BY key, code",
    "q_iso" -> {
      // the SAME JDK table feeds both engines, so the membership sets
      // cannot drift
      val codes = graft.filters.Iso.countryCodes.map(c => s"'$c'").mkString(",")
      ("WITH t AS (SELECT doc_id, ['US','de','XX','GB','ZZ','fr'][CAST(doc_id % 6 AS INTEGER) + 1] AS cc0 FROM documents) " +
        s"SELECT doc_id, CASE WHEN upper(cc0) IN ($codes) THEN upper(cc0) END AS cc, " +
        s"upper(cc0) IN ($codes) AS ok FROM t ORDER BY doc_id")
    },
    "q_django" ->
      // slugify mirrored step-for-step (RE2 'g' flag = Java replace-all;
      // the heads are ASCII, so \w/\s/lower agree across engines)
      ("WITH t AS (SELECT doc_id, substr(text, 1, 40) AS head, " +
        "CASE WHEN doc_id % 5 = 0 THEN source || ' bad!' ELSE source END AS src " +
        "FROM documents WHERE text IS NOT NULL) " +
        "SELECT doc_id, " +
        "regexp_replace(regexp_replace(regexp_replace(lower(trim(head)), " +
        "'[^\\w\\s-]', '', 'g'), '[-\\s]+', '-', 'g'), '^[-_]+|[-_]+$', '', 'g') AS slug, " +
        "(src IS NULL OR regexp_matches(src, '^[-a-zA-Z0-9_]+$')) AS src_ok " +
        "FROM t ORDER BY doc_id"),
    "q_mapper_dynamic" ->
      ("SELECT * FROM (" +
        "SELECT 'm.k' AS key, 'missing_key' AS code, COUNT(*) AS n FROM events WHERE event_id % 4 = 3 " +
        "UNION ALL SELECT 'm.k', 'too_short', COUNT(*) FROM events WHERE event_id % 4 <> 3 AND length(CAST(event_id % 150 AS VARCHAR)) < 2 " +
        "UNION ALL SELECT 'm.v', 'missing_key', COUNT(*) FROM events WHERE event_id % 4 = 1 " +
        "UNION ALL SELECT 'm.z', 'extra_key', COUNT(*) FROM events WHERE event_id % 4 = 2" +
        ") t WHERE n > 0 ORDER BY key, code"),
    "q_mapper_variant" ->
      // outcome mirror from the generator columns: the five m5 shapes'
      // typed values, nulled-on-error fields, and pinned-order error
      // key/code strings (declared order qty,tag,score then extras)
      ("SELECT event_id, " +
        "CAST(CASE WHEN event_id % 5 = 0 AND event_id % 100 >= 5 THEN event_id % 100 " +
        "WHEN event_id % 5 = 2 THEN 7 END AS BIGINT) AS qty, " +
        "CASE WHEN event_id % 5 <= 3 THEN 't' || CAST(event_id % 10 AS VARCHAR) END AS tag, " +
        "CAST(CASE event_id % 5 WHEN 0 THEN 12.5 WHEN 1 THEN 3.5 WHEN 2 THEN 1.5 " +
        "WHEN 3 THEN 2.0 ELSE 0.5 END AS DOUBLE) AS score, " +
        "CASE WHEN event_id % 5 = 0 AND event_id % 100 < 5 THEN 'doc.qty' " +
        "WHEN event_id % 5 = 1 THEN 'doc.qty' " +
        "WHEN event_id % 5 = 2 THEN 'doc.x' " +
        "WHEN event_id % 5 = 4 THEN 'doc.qty,doc.tag' ELSE '' END AS err_keys, " +
        "CASE WHEN event_id % 5 = 0 AND event_id % 100 < 5 THEN 'too_small' " +
        "WHEN event_id % 5 = 1 THEN 'invalid_type' " +
        "WHEN event_id % 5 = 2 THEN 'extra_key' " +
        "WHEN event_id % 5 = 4 THEN 'missing_key,too_short' ELSE '' END AS err_codes " +
        "FROM events ORDER BY event_id"),
    "q_repeater" ->
      // null array passes (None-passthrough -> ok TRUE), mirrored explicitly:
      // bare len(list_filter(NULL,..)) = 0 would yield NULL not TRUE
      "SELECT vec_id, CASE WHEN embedding IS NULL THEN TRUE ELSE len(list_filter(embedding, x -> x < -0.25 OR x > 0.25)) = 0 END AS ok FROM embeddings ORDER BY vec_id",
    "q_switch" ->
      "SELECT event_id, CASE WHEN event_type = 'purchase' THEN (value IS NULL OR value >= 10.0) WHEN event_type = 'error' THEN (value IS NULL OR value <= 500.0) ELSE TRUE END AS ok FROM events ORDER BY event_id",
    "q_dedup_exact" ->
      // NULLS FIRST pins DuckDB (default NULLS LAST) to Spark's default
      // ascending order; the compare is positional
      "SELECT DISTINCT lang, source FROM documents ORDER BY lang NULLS FIRST, source NULLS FIRST",
    "q_dedup_units" ->
      ("WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL), " +
        "l AS (SELECT doc_id, unnest(string_split(text, ' ')) AS u, " +
        "unnest(generate_series(1, len(string_split(text, ' ')))) AS pos FROM d), " +
        "el AS (SELECT doc_id, pos, u, row_number() OVER (PARTITION BY u ORDER BY doc_id, pos) AS rk " +
        "FROM l WHERE length(u) >= 4), " +
        "k AS (SELECT doc_id, pos, u FROM el WHERE rk = 1 " +
        "UNION ALL SELECT doc_id, pos, u FROM l WHERE length(u) < 4) " +
        "SELECT doc_id, string_agg(u, ' ' ORDER BY pos) AS text_clean FROM k " +
        "GROUP BY doc_id ORDER BY doc_id"),
    "q_dedup_spans" ->
      // algorithm mirror (q_dedup_units style): same tail construction,
      // same tokenization, window keys as the raw window string (Spark
      // md5s it — identical grouping absent collisions), same global
      // (doc_id, pos) keep-first, same anti-join + ordered reassembly
      ("WITH d0 AS (SELECT doc_id, text || ' sp' || CAST(doc_id % 10 AS VARCHAR) || 'a" +
        " sp' || CAST(doc_id % 10 AS VARCHAR) || 'b sp' || CAST(doc_id % 10 AS VARCHAR) || 'c" +
        " sp' || CAST(doc_id % 10 AS VARCHAR) || 'd sp' || CAST(doc_id % 10 AS VARCHAR) || 'e" +
        " sp' || CAST(doc_id % 10 AS VARCHAR) || 'f sp' || CAST(doc_id % 10 AS VARCHAR) || 'g" +
        " sp' || CAST(doc_id % 10 AS VARCHAR) || 'h' AS t2 " +
        "FROM documents WHERE text IS NOT NULL), " +
        "d AS (SELECT doc_id, list_filter(string_split_regex(t2, '\\s+'), x -> length(x) > 0) AS l FROM d0), " +
        "tk AS (SELECT doc_id, unnest(l) AS tok, unnest(generate_series(1, len(l))) AS pos FROM d), " +
        "wn AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 7)) AS wpos FROM d WHERE len(l) >= 8), " +
        "wk AS (SELECT doc_id, wpos, array_to_string(l[wpos : wpos + 7], ' ') AS wkey FROM wn), " +
        "dup AS (SELECT doc_id, wpos, row_number() OVER (PARTITION BY wkey ORDER BY doc_id, wpos) AS rk FROM wk), " +
        "rem AS (SELECT DISTINCT doc_id, rpos FROM " +
        "(SELECT doc_id, unnest(generate_series(wpos, wpos + 7)) AS rpos FROM dup WHERE rk > 1)), " +
        "kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tk ANTI JOIN rem " +
        "ON tk.doc_id = rem.doc_id AND tk.pos = rem.rpos) " +
        "SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean " +
        "FROM kept GROUP BY doc_id ORDER BY doc_id"),
    "q_url_canon" ->
      // closed-form EXPECTED output (not a parser mirror): lowercased
      // scheme+host, userinfo gone, :80 dropped / :8443 kept, percent
      // escapes normalized (%7e→~, %41→A unreserved-decoded, %2f→%2F
      // hex-uppercased but kept), trailing slash stripped, tracking
      // params dropped + survivors sorted, bare '?' and fragment gone
      ("SELECT doc_id, " +
        "(CASE WHEN doc_id % 2 = 0 THEN 'http://www.example.com' ELSE 'https://api.example.org:8443' END) " +
        "|| '/Path/' || CAST(doc_id % 7 AS VARCHAR) " +
        "|| (CASE WHEN doc_id % 6 = 0 THEN '/~user%2FBA' ELSE '' END) " +
        "|| (CASE WHEN doc_id % 4 = 0 THEN '?a=1&b=2' WHEN doc_id % 4 = 1 THEN '?id=7' ELSE '' END) AS url_canonical, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'www.example.com' ELSE 'api.example.org' END AS host, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'example.com' ELSE 'example.org' END AS domain " +
        "FROM documents ORDER BY doc_id"),
    "q_robots" ->
      // closed-form EXPECTED verdicts: beta's exact graftbot group
      // disallows everything; gamma has no robots.txt so everything is
      // allowed; alpha's star group denies /private/ (except the longer
      // /private/ok Allow) and the $-anchored /*.zip$, and /tmp/t has no
      // matching alpha rule
      ("SELECT doc_id, 'https://' || " +
        "(CASE doc_id % 3 WHEN 0 THEN 'alpha.test' WHEN 1 THEN 'beta.test' ELSE 'gamma.test' END) || " +
        "(CASE doc_id % 5 WHEN 0 THEN '/public/a' WHEN 1 THEN '/private/x' WHEN 2 THEN '/private/ok/y' " +
        "WHEN 3 THEN '/data/file.zip' ELSE '/tmp/t' END) AS url, " +
        "CASE WHEN doc_id % 3 = 1 THEN false WHEN doc_id % 3 = 2 THEN true " +
        "ELSE doc_id % 5 NOT IN (1, 3) END AS allowed " +
        "FROM documents ORDER BY doc_id"),
    "q_url_psl" ->
      // closed-form EXPECTED output for the PSL + IPv6 vectors: suffix
      // rules group ccTLD sites one label deeper than the two-label
      // heuristic; wildcard/exception rules behave per the published
      // grammar; IP hosts have no registrable domain; bracket hosts
      // never split at their colons and obey the default-port drop
      ("SELECT doc_id, " +
        "CASE doc_id % 8 " +
        "WHEN 0 THEN 'https://a.b.example.co.uk/x' " +
        "WHEN 1 THEN 'http://shop.example.com.au/y?z=1' " +
        "WHEN 2 THEN 'https://deep.sub.foo.ck/p' " +
        "WHEN 3 THEN 'https://www.ck/q' " +
        "WHEN 4 THEN 'http://[2001:db8::1]:8080/v6' " +
        "WHEN 5 THEN 'http://[2001:db8::1]/v6' " +
        "WHEN 6 THEN 'https://192.168.0.1/ip' " +
        "ELSE 'https://co.uk/self' END AS url_canonical, " +
        "CASE doc_id % 8 " +
        "WHEN 0 THEN 'a.b.example.co.uk' WHEN 1 THEN 'shop.example.com.au' " +
        "WHEN 2 THEN 'deep.sub.foo.ck' WHEN 3 THEN 'www.ck' " +
        "WHEN 4 THEN '[2001:db8::1]' WHEN 5 THEN '[2001:db8::1]' " +
        "WHEN 6 THEN '192.168.0.1' ELSE 'co.uk' END AS host, " +
        "CASE doc_id % 8 " +
        "WHEN 0 THEN 'example.co.uk' WHEN 1 THEN 'example.com.au' " +
        "WHEN 2 THEN 'sub.foo.ck' WHEN 3 THEN 'www.ck' " +
        "WHEN 4 THEN NULL WHEN 5 THEN NULL WHEN 6 THEN NULL " +
        "ELSE 'co.uk' END AS domain " +
        "FROM documents ORDER BY doc_id"),
    "q_url_blocklist" ->
      // closed form: survivors are exactly the even-doc non-src3 rows
      ("SELECT doc_id, source FROM documents WHERE source IS NOT NULL " +
        "AND doc_id % 2 = 0 AND source <> 'src3' ORDER BY doc_id"),
    "q_html_text" ->
      // closed-form EXPECTED extracted text (not an extractor mirror)
      ("SELECT doc_id, " +
        "CASE doc_id % 5 " +
        "WHEN 0 THEN 'T' || chr(10) || 'Hello' || chr(10) || 'World & friends' " +
        "WHEN 1 THEN 'A B C' " +
        "WHEN 2 THEN 'X1 < 2 & \"raw\"Y AB ©' " +
        "WHEN 3 THEN 'Only this' " +
        "ELSE 'Line1' || chr(10) || 'Line2' || chr(10) || 'Line3 bold &lt;tag&gt;' END " +
        "|| chr(10) || 'uniq' || CAST(doc_id AS VARCHAR) AS text_extracted " +
        "FROM documents ORDER BY doc_id"),
    "q_fuzzy_join" ->
      // exhaustive length-filtered all-pairs — the blocking must shed
      // NOTHING against it (losslessness is the operator's claim)
      ("WITH s AS (SELECT doc_id, substr(text, 1, 16) AS p FROM documents WHERE text IS NOT NULL) " +
        "SELECT a.doc_id AS id_1, b.doc_id AS id_2, CAST(levenshtein(a.p, b.p) AS INTEGER) AS dist " +
        "FROM s a JOIN s b ON a.doc_id < b.doc_id AND abs(length(a.p) - length(b.p)) <= 2 " +
        "AND levenshtein(a.p, b.p) <= 2 ORDER BY id_1, id_2"),
    "q_profile_drift" -> {
      // per-column metric mirror: the same planted after-snapshot, the
      // same exact aggregates, and the same flag rule, one UNION ALL
      // branch per column (generated — the rule lives once below)
      val bCols = Seq(("o_orderkey", "bigint", true), ("o_custkey", "bigint", true),
        ("o_orderstatus", "string", false), ("o_totalprice", "double", true),
        ("o_orderdate", "timestamp_ntz", false), ("o_orderpriority", "string", false))
      val aCols = Seq(("o_orderkey", "bigint", true), ("o_custkey", "string", false),
        ("o_orderstatus", "string", false), ("o_totalprice", "double", true),
        ("o_orderdate", "timestamp_ntz", false), ("o_channel", "string", false))
      def aggSql(src: String, cols: Seq[(String, String, Boolean)]) =
        "SELECT CAST(count(*) AS BIGINT) AS n, " + cols.map { case (c, _, num) =>
          s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_$c, " +
            s"CAST(count(DISTINCT $c) AS BIGINT) AS nd_$c" +
            (if (num) s", CAST(min($c) AS DOUBLE) AS mn_$c, CAST(max($c) AS DOUBLE) AS mx_$c"
             else "")
        }.mkString(", ") + s" FROM $src"
      val bMap = bCols.map(c => c._1 -> c).toMap
      val aMap = aCols.map(c => c._1 -> c).toMap
      val rows = (bCols.map(_._1) ++ aCols.map(_._1)).distinct.sorted.map { c =>
        val b = bMap.get(c); val a = aMap.get(c)
        val status = (b, a) match {
          case (Some(_), None) => "removed"
          case (None, Some(_)) => "added"
          case (Some(x), Some(y)) if x._2 != y._2 => "type_changed"
          case _ => "common"
        }
        val tb = b.map(x => s"'${x._2}'").getOrElse("CAST(NULL AS VARCHAR)")
        val ta = a.map(x => s"'${x._2}'").getOrElse("CAST(NULL AS VARCHAR)")
        val nB = if (b.isDefined) "bp.n" else "CAST(NULL AS BIGINT)"
        val nA = if (a.isDefined) "ap.n" else "CAST(NULL AS BIGINT)"
        val nnB = if (b.isDefined) s"bp.nn_$c" else "CAST(NULL AS BIGINT)"
        val nnA = if (a.isDefined) s"ap.nn_$c" else "CAST(NULL AS BIGINT)"
        val ndB = if (b.isDefined) s"bp.nd_$c" else "CAST(NULL AS BIGINT)"
        val ndA = if (a.isDefined) s"ap.nd_$c" else "CAST(NULL AS BIGINT)"
        val mnB = if (b.exists(_._3)) s"bp.mn_$c" else "CAST(NULL AS DOUBLE)"
        val mxB = if (b.exists(_._3)) s"bp.mx_$c" else "CAST(NULL AS DOUBLE)"
        val mnA = if (a.exists(_._3)) s"ap.mn_$c" else "CAST(NULL AS DOUBLE)"
        val mxA = if (a.exists(_._3)) s"ap.mx_$c" else "CAST(NULL AS DOUBLE)"
        val delta = if (b.isDefined && a.isDefined)
          s"floor((CAST($nnA AS DOUBLE)/$nA - CAST($nnB AS DOUBLE)/$nB) * 1e6 + 0.5)/1e6"
        else "CAST(NULL AS DOUBLE)"
        val drifted = if (status != "common") "TRUE" else
          s"(abs($delta) > 0.01 OR (CASE WHEN least($ndB, $ndA) = 0 " +
            s"THEN greatest($ndB, $ndA) > 0 " +
            s"ELSE CAST(greatest($ndB, $ndA) AS DOUBLE) > CAST(least($ndB, $ndA) AS DOUBLE) * 2.0 END))"
        s"SELECT '$c' AS col_name, '$status' AS status, $tb AS type_before, " +
          s"$ta AS type_after, $nB AS n_before, $nA AS n_after, " +
          s"$nnB AS n_null_before, $nnA AS n_null_after, " +
          s"$delta AS null_rate_delta, $ndB AS distinct_before, $ndA AS distinct_after, " +
          s"$mnB AS min_before, $mxB AS max_before, $mnA AS min_after, $mxA AS max_after, " +
          s"$drifted AS drifted FROM bp, ap"
      }
      "WITH b AS (SELECT * FROM orders), " +
        "a AS (SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS o_custkey, " +
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus, " +
        "o_totalprice * 1.1 AS o_totalprice, o_orderdate, " +
        "CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'app' END AS o_channel " +
        "FROM orders WHERE o_orderkey % 10 <> 0), " +
        s"bp AS (${aggSql("b", bCols)}), ap AS (${aggSql("a", aCols)}) " +
        rows.mkString(" UNION ALL ") + " ORDER BY col_name"
    },
    "q_entity_resolution" ->
      // full mirror: identical key normalization, exhaustive
      // length-filtered levenshtein pairing (the blocking's lossless
      // claim), recursive transitive closure, min-id entity, and
      // per-attribute most-complete-member survivorship (ties by rid)
      ("WITH RECURSIVE c AS (SELECT * FROM customer WHERE c_custkey IS NOT NULL AND c_custkey <= 600), " +
        "r AS (SELECT c_custkey AS rid, 'Entity ' || md5(CAST(c_custkey AS VARCHAR)) AS name, " +
        "c_mktsegment AS segment, CASE WHEN c_custkey % 3 <> 0 THEN c_acctbal END AS bal, " +
        "CAST(NULL AS INTEGER) AS nation FROM c " +
        "UNION ALL SELECT c_custkey + 1000000, " +
        "'entity ' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 31), " +
        "NULL, CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0 END, c_nationkey " +
        "FROM c WHERE c_custkey % 2 = 0), " +
        "k AS (SELECT rid, name, lower(trim(regexp_replace(name, '\\s+', ' ', 'g'))) AS nk, " +
        "segment, bal, nation FROM r), " +
        "p AS (SELECT a.rid AS u, b.rid AS v FROM k a JOIN k b ON a.rid < b.rid " +
        "AND abs(length(a.nk) - length(b.nk)) <= 1 AND levenshtein(a.nk, b.nk) <= 1), " +
        "e AS (SELECT u, v FROM p UNION SELECT v, u FROM p), " +
        "cc(u, v) AS (SELECT u, v FROM e UNION SELECT cc.u, e2.v FROM cc JOIN e e2 ON cc.v = e2.u), " +
        "m AS (SELECT u AS rid, least(u, min(v)) AS rep FROM cc GROUP BY u), " +
        "asg AS (SELECT k.*, coalesce(m.rep, k.rid) AS entity_id, " +
        "(CASE WHEN segment IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN bal IS NOT NULL THEN 1 ELSE 0 END " +
        "+ CASE WHEN nation IS NOT NULL THEN 1 ELSE 0 END) AS comp FROM k LEFT JOIN m USING (rid)) " +
        "SELECT entity_id, count(*) AS n_members, " +
        "(list(name ORDER BY comp DESC, rid) FILTER (WHERE name IS NOT NULL))[1] AS name, " +
        "(list(segment ORDER BY comp DESC, rid) FILTER (WHERE segment IS NOT NULL))[1] AS segment, " +
        "(list(bal ORDER BY comp DESC, rid) FILTER (WHERE bal IS NOT NULL))[1] AS bal, " +
        "(list(nation ORDER BY comp DESC, rid) FILTER (WHERE nation IS NOT NULL))[1] AS nation " +
        "FROM asg GROUP BY entity_id ORDER BY entity_id"),
    "q_quality_score" ->
      ("SELECT doc_id, round(1.0/(1.0 + exp(-(-0.5 + 0.8*least(n_chars/500.0, 2.0) " +
        "+ 0.6*(len(string_split(text, ' '))/100.0) " +
        "- 2.0*(length(regexp_replace(text, '[a-z ]', '', 'g'))/greatest(length(text), 1))))), 6) AS score " +
        "FROM documents WHERE text IS NOT NULL ORDER BY doc_id"),
    "q_logit_fit" ->
      // three unrolled GD iterations, every gradient component and weight
      // snapped to the 1e-9 grid exactly as the engine does — the weights
      // that come out must agree float-for-float at 6dp
      ("WITH d AS (SELECT least(n_chars/500.0, 2.0) AS f1, " +
        "length(regexp_replace(text, '[a-z ]', '', 'g'))/greatest(length(text), 1) AS f2, " +
        "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y FROM documents " +
        "WHERE text IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL), " +
        "nn AS (SELECT count(*) AS n FROM d), " +
        "i1 AS (SELECT floor(sum(0.5 - y)/1e-9 + 0.5)*1e-9 AS g0, " +
        "floor(sum((0.5 - y)*f1)/1e-9 + 0.5)*1e-9 AS g1, floor(sum((0.5 - y)*f2)/1e-9 + 0.5)*1e-9 AS g2 FROM d), " +
        "w1 AS (SELECT floor((0 - 2.0*g0/n)/1e-9 + 0.5)*1e-9 AS b, floor((0 - 2.0*g1/n)/1e-9 + 0.5)*1e-9 AS wa, " +
        "floor((0 - 2.0*g2/n)/1e-9 + 0.5)*1e-9 AS wb FROM i1, nn), " +
        "i2 AS (SELECT floor(sum(1.0/(1.0 + exp(-(b + wa*f1 + wb*f2))) - y)/1e-9 + 0.5)*1e-9 AS g0, " +
        "floor(sum((1.0/(1.0 + exp(-(b + wa*f1 + wb*f2))) - y)*f1)/1e-9 + 0.5)*1e-9 AS g1, " +
        "floor(sum((1.0/(1.0 + exp(-(b + wa*f1 + wb*f2))) - y)*f2)/1e-9 + 0.5)*1e-9 AS g2 FROM d, w1), " +
        "w2 AS (SELECT floor((b - 2.0*g0/n)/1e-9 + 0.5)*1e-9 AS b2, floor((wa - 2.0*g1/n)/1e-9 + 0.5)*1e-9 AS wa2, " +
        "floor((wb - 2.0*g2/n)/1e-9 + 0.5)*1e-9 AS wb2 FROM i2, w1, nn), " +
        "i3 AS (SELECT floor(sum(1.0/(1.0 + exp(-(b2 + wa2*f1 + wb2*f2))) - y)/1e-9 + 0.5)*1e-9 AS g0, " +
        "floor(sum((1.0/(1.0 + exp(-(b2 + wa2*f1 + wb2*f2))) - y)*f1)/1e-9 + 0.5)*1e-9 AS g1, " +
        "floor(sum((1.0/(1.0 + exp(-(b2 + wa2*f1 + wb2*f2))) - y)*f2)/1e-9 + 0.5)*1e-9 AS g2 FROM d, w2), " +
        "w3 AS (SELECT floor((b2 - 2.0*g0/n)/1e-9 + 0.5)*1e-9 AS b3, floor((wa2 - 2.0*g1/n)/1e-9 + 0.5)*1e-9 AS wa3, " +
        "floor((wb2 - 2.0*g2/n)/1e-9 + 0.5)*1e-9 AS wb3 FROM i3, w2, nn) " +
        "SELECT round(b3, 6) AS bias, round(wa3, 6) AS w_1, round(wb3, 6) AS w_2, " +
        "CAST(nn.n AS BIGINT) AS n FROM w3, nn"),
    "q_auc" ->
      // identical tie-corrected Mann–Whitney over the same 6dp scores:
      // per-distinct-score tallies, doubled average ranks (integral), the
      // final ratio floor-rounded on the 1e-9 grid
      ("WITH d AS (SELECT round(1.0/(1.0 + exp(-(-0.5 + 0.8*least(n_chars/500.0, 2.0) " +
        "+ 0.6*(len(string_split(text, ' '))/100.0) " +
        "- 2.0*(length(regexp_replace(text, '[a-z ]', '', 'g'))/greatest(length(text), 1))))), 6) AS s, " +
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents " +
        "WHERE text IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL), " +
        "g AS (SELECT s, count(*) AS cnt, sum(y) AS pos FROM d GROUP BY s), " +
        "r AS (SELECT cnt, pos, coalesce(sum(cnt) OVER (ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)*2 + cnt + 1 AS r2 FROM g), " +
        "a AS (SELECT sum(pos) AS np, sum(cnt - pos) AS nn, sum(pos*r2) AS r2p FROM r) " +
        "SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg, " +
        "CASE WHEN np > 0 AND nn > 0 THEN " +
        "floor((r2p/2.0 - np*(np + 1.0)/2.0)/(np*1.0*nn)*1e9)/1e9 END AS auc FROM a"),
    "q_auc_by_lang" ->
      // the q_auc mirror with every window/aggregate partitioned by lang
      ("WITH d AS (SELECT lang, round(1.0/(1.0 + exp(-(-0.5 + 0.8*least(n_chars/500.0, 2.0) " +
        "+ 0.6*(len(string_split(text, ' '))/100.0) " +
        "- 2.0*(length(regexp_replace(text, '[a-z ]', '', 'g'))/greatest(length(text), 1))))), 6) AS s, " +
        "CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS y FROM documents " +
        "WHERE text IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL), " +
        "g AS (SELECT lang, s, count(*) AS cnt, sum(y) AS pos FROM d GROUP BY lang, s), " +
        "r AS (SELECT lang, cnt, pos, coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)*2 + cnt + 1 AS r2 FROM g), " +
        "a AS (SELECT lang, sum(pos) AS np, sum(cnt - pos) AS nn, sum(pos*r2) AS r2p " +
        "FROM r GROUP BY lang) " +
        "SELECT lang, CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg, " +
        "CASE WHEN np > 0 AND nn > 0 THEN " +
        "floor((r2p/2.0 - np*(np + 1.0)/2.0)/(np*1.0*nn)*1e9)/1e9 END AS auc " +
        "FROM a ORDER BY lang"),
    "q_calibration" ->
      // same bins, same 2^-20 long-sum mean arithmetic, same 1e-6 floors
      ("WITH d AS (SELECT round(1.0/(1.0 + exp(-(-0.5 + 0.8*least(n_chars/500.0, 2.0) " +
        "+ 0.6*(len(string_split(text, ' '))/100.0) " +
        "- 2.0*(length(regexp_replace(text, '[a-z ]', '', 'g'))/greatest(length(text), 1))))), 6) AS s, " +
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents " +
        "WHERE text IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL), " +
        "b AS (SELECT least(CAST(floor(least(greatest(s, 0), 1)*10) AS BIGINT), 9) AS bin, " +
        "CAST(floor(least(greatest(s, 0), 1)*1048576.0 + 0.5) AS BIGINT) AS s20, y FROM d) " +
        "SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos, " +
        "floor(sum(y)*1.0/count(*)*1e6)/1e6 AS pos_rate, " +
        "floor(sum(s20)*1.0/count(*)/1048576.0*1e6)/1e6 AS mean_score " +
        "FROM b GROUP BY bin ORDER BY bin"),
    "q_links" ->
      // closed-form expected rows (not an extractor mirror): the href-less
      // anchor contributes nothing; anchor 0's inner tags/whitespace are
      // already normalized here
      ("WITH l AS (SELECT doc_id, CAST(0 AS INTEGER) AS link_pos, " +
        "'https://ex.org/p' || CAST((doc_id*31+7)%500 AS VARCHAR) AS href, 'to page A' AS anchor FROM documents " +
        "UNION ALL SELECT doc_id, CAST(1 AS INTEGER), 'https://ex.org/p' || CAST((doc_id*31+13)%500 AS VARCHAR), 'B' FROM documents " +
        "UNION ALL SELECT doc_id, CAST(2 AS INTEGER), 'https://ex.org/p' || CAST((doc_id*31+29)%500 AS VARCHAR), 'C' FROM documents WHERE doc_id%3 = 0) " +
        "SELECT doc_id, link_pos, href, anchor FROM l ORDER BY doc_id, link_pos"),
    "q_pagerank" ->
      // three unrolled grid-quantized iterations over the closed-form edge
      // list; quantization makes every iteration's floats identical across
      // engines, so the compare needs no tolerance
      ("WITH e AS (SELECT doc_id AS src, (doc_id*31+7)%500 AS dst FROM documents " +
        "UNION ALL SELECT doc_id, (doc_id*31+13)%500 FROM documents " +
        "UNION ALL SELECT doc_id, (doc_id*31+29)%500 FROM documents WHERE doc_id%3 = 0), " +
        "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)), " +
        "deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1), " +
        "nn AS (SELECT count(*) AS n FROM nodes), " +
        "r0 AS (SELECT node, floor((1.0/nn.n)/1e-12 + 0.5)*1e-12 AS rank FROM nodes CROSS JOIN nn), " +
        "r1 AS (SELECT v.node, floor(((0.15/nn.n) + 0.85*coalesce(c.s, 0))/1e-12 + 0.5)*1e-12 AS rank FROM nodes v CROSS JOIN nn " +
        "LEFT JOIN (SELECT e.dst AS node, sum(r.rank/deg.d) AS s FROM e JOIN r0 r ON e.src = r.node JOIN deg ON e.src = deg.src GROUP BY 1) c ON v.node = c.node), " +
        "r2 AS (SELECT v.node, floor(((0.15/nn.n) + 0.85*coalesce(c.s, 0))/1e-12 + 0.5)*1e-12 AS rank FROM nodes v CROSS JOIN nn " +
        "LEFT JOIN (SELECT e.dst AS node, sum(r.rank/deg.d) AS s FROM e JOIN r1 r ON e.src = r.node JOIN deg ON e.src = deg.src GROUP BY 1) c ON v.node = c.node), " +
        "r3 AS (SELECT v.node, floor(((0.15/nn.n) + 0.85*coalesce(c.s, 0))/1e-12 + 0.5)*1e-12 AS rank FROM nodes v CROSS JOIN nn " +
        "LEFT JOIN (SELECT e.dst AS node, sum(r.rank/deg.d) AS s FROM e JOIN r2 r ON e.src = r.node JOIN deg ON e.src = deg.src GROUP BY 1) c ON v.node = c.node) " +
        "SELECT node, round(rank, 8) AS rank FROM r3 ORDER BY node"),
    "q_degrees" ->
      ("WITH e AS (SELECT doc_id AS src, (doc_id*31+7)%500 AS dst FROM documents " +
        "UNION ALL SELECT doc_id, (doc_id*31+13)%500 FROM documents " +
        "UNION ALL SELECT doc_id, (doc_id*31+29)%500 FROM documents WHERE doc_id%3 = 0), " +
        "o AS (SELECT src AS node, count(*) AS c FROM e GROUP BY 1), " +
        "i AS (SELECT dst AS node, count(*) AS c FROM e GROUP BY 1) " +
        "SELECT coalesce(o.node, i.node) AS node, CAST(coalesce(o.c, 0) AS BIGINT) AS out_deg, " +
        "CAST(coalesce(i.c, 0) AS BIGINT) AS in_deg FROM o FULL JOIN i ON o.node = i.node ORDER BY node"),
    "q_curation_e2e" ->
      // stage-by-stage mirror: blocklist = even ids (closed form);
      // canonical form stated in closed form; URL dedup / boilerplate /
      // unit keep-first / exact dedup mirrored with the same window +
      // unnest patterns as their standalone oracles. Stage 4 reuses the
      // stage-3 (pos, u) rows: old positions are order-isomorphic to the
      // re-split positions, so the keep-first winner is identical.
      ("WITH base AS (SELECT doc_id, source, " +
        "text || CASE WHEN doc_id % 4 = 0 THEN ' uniq' || CAST(doc_id AS VARCHAR) ELSE '' END AS text, " +
        "'https://' || lower(source) || '.example.com/p/' || CAST(doc_id % 200 AS VARCHAR) AS c " +
        "FROM documents WHERE text IS NOT NULL AND source IS NOT NULL AND doc_id % 2 = 0), " +
        "uniq AS (SELECT doc_id, source, text, c FROM " +
        "(SELECT base.*, row_number() OVER (PARTITION BY c ORDER BY doc_id) AS rk FROM base) t WHERE rk = 1), " +
        "l AS (SELECT doc_id, unnest(string_split(text, ' ')) AS u, " +
        "unnest(generate_series(1, len(string_split(text, ' ')))) AS pos FROM uniq), " +
        "f AS (SELECT u FROM l GROUP BY u HAVING COUNT(DISTINCT doc_id) >= 10), " +
        "k AS (SELECT doc_id, pos, u FROM l WHERE u NOT IN (SELECT u FROM f)), " +
        // keep-first runs at minUnitLength=1: length-0 units (consecutive
        // delimiters) are EXEMPT on the Spark side — never deduplicated —
        // so the mirror dedups only non-empty units and passes empties
        // through (current testdata has none; this keeps the mirror
        // faithful if it ever does)
        "kf AS (SELECT doc_id, pos, u, row_number() OVER (PARTITION BY u ORDER BY doc_id, pos) AS rk FROM k WHERE length(u) >= 1), " +
        "ku AS (SELECT doc_id, pos, u FROM kf WHERE rk = 1 " +
        "UNION ALL SELECT doc_id, pos, u FROM k WHERE length(u) < 1), " +
        "r AS (SELECT doc_id, string_agg(u, ' ' ORDER BY pos) AS text_clean FROM ku GROUP BY doc_id), " +
        "x AS (SELECT r.doc_id, u2.c, r.text_clean, " +
        "row_number() OVER (PARTITION BY r.text_clean ORDER BY r.doc_id) AS rk " +
        "FROM r JOIN uniq u2 ON r.doc_id = u2.doc_id) " +
        "SELECT doc_id, c AS url_canonical, 'example.com' AS domain, text_clean " +
        "FROM x WHERE rk = 1 ORDER BY doc_id"),
    "q_url_dedup" ->
      ("WITH t AS (SELECT doc_id, 'https://example.com/item/' || CAST(doc_id % 37 AS VARCHAR) AS c FROM documents), " +
        "r AS (SELECT doc_id, c, row_number() OVER (PARTITION BY c ORDER BY doc_id) AS rk FROM t) " +
        "SELECT doc_id, c AS url_canonical FROM r WHERE rk = 1 ORDER BY doc_id"),
    "q_mixture_e2e" ->
      // stage-by-stage mirror of MixturePipeline.assemble, each CTE the
      // corresponding standalone oracle re-stated: vocab/ll =
      // q_unigram_ll (k=10000), chunking = q_chunk at 64/8 (stride 56),
      // weights = q_temperature_weights over CHUNK strata, stratified
      // keep = q_sample_stratified with the hex threshold COMPUTED from
      // the weight (lower(lpad(to_hex(...))) = Spark's %08x), interleave
      // = q_interleave with per-chunk md5 draws, pack = q_pack_sequences
      // cumsum over the vft order (UNIQUE at every SF — the Spark side
      // raise_errors on a tie)
      ("WITH d AS (SELECT * FROM documents WHERE text IS NOT NULL), " +
        "toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token FROM d), " +
        "t2 AS (SELECT doc_id, token FROM toks WHERE len(token) > 0), " +
        "cnt AS (SELECT token, COUNT(*) AS n FROM t2 GROUP BY token), " +
        "tot AS (SELECT SUM(n) AS total FROM cnt), " +
        "vocab AS (SELECT token, ln(CAST(n AS DOUBLE) / (SELECT CAST(total AS DOUBLE) FROM tot)) AS logp " +
        "FROM cnt ORDER BY n DESC, token LIMIT 10000), " +
        "scored AS (SELECT doc_id, floor(avg(coalesce(v.logp, -20.0)) * 1e6 + 0.5) / 1e6 AS ll " +
        "FROM t2 LEFT JOIN vocab v USING (token) GROUP BY doc_id), " +
        "kept AS (SELECT d.* FROM d JOIN scored USING (doc_id) WHERE ll >= -3.41 AND ll <= -1.0), " +
        "ck AS (SELECT doc_id, lang, CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n FROM kept), " +
        "g AS (SELECT doc_id, lang, n, unnest(generate_series(CAST(0 AS BIGINT), (greatest(n - 64, 0) + 55) // 56)) AS chunk_idx FROM ck), " +
        "chunks AS (SELECT doc_id, lang, chunk_idx, least(64, n - chunk_idx * 56) AS n_tok, " +
        "doc_id * 1048576 + chunk_idx AS chunk_id FROM g), " +
        "w AS (SELECT lang, COUNT(*) AS cn FROM chunks GROUP BY lang), " +
        "wt AS (SELECT lang, floor(pow(CAST(cn AS DOUBLE), 0.7) / SUM(pow(CAST(cn AS DOUBLE), 0.7)) OVER () * 1000000.0 + 0.5) / 1000000.0 AS weight FROM w), " +
        "sampled AS (SELECT c.*, wt.weight FROM chunks c JOIN wt USING (lang) " +
        "WHERE substr(md5('graft:' || chunk_id), 1, 8) < " +
        "lower(lpad(to_hex(CAST(least(floor(least(1.0, 2.0*weight)*4294967296.0+0.5), 4294967295.0) AS UBIGINT)), 8, '0'))), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY substr(md5('graft:' || chunk_id), 1, 8), chunk_id) AS rk " +
        "FROM sampled WHERE weight > 0), " +
        "v AS (SELECT chunk_id, doc_id, chunk_idx, lang, n_tok, " +
        "(CAST(rk AS DOUBLE) * 2.0 - 1.0) / (weight * 2.0) AS vft FROM r) " +
        "SELECT chunk_id, doc_id, chunk_idx, lang, n_tok, vft, " +
        "CAST((SUM(n_tok) OVER (ORDER BY vft ROWS UNBOUNDED PRECEDING) - n_tok) // 256 AS BIGINT) AS seq_id " +
        "FROM v ORDER BY chunk_id"),
    "q_clusters_merge" ->
      // the crafted fixture's merged assignment in closed form: even
      // 8-blocks (doc_id%16 < 8) were bridged -> rep = id - id%8; odd
      // 8-blocks keep the stored 4-block rep; chain nodes 200..205 take
      // rep 200; node 210 attaches to node 3's (bridged, rep 0) cluster
      ("SELECT id, rep FROM (" +
        "SELECT doc_id AS id, CASE WHEN doc_id % 16 < 8 THEN doc_id - doc_id % 8 " +
        "ELSE doc_id - doc_id % 4 END AS rep FROM documents WHERE doc_id < 200 " +
        "UNION ALL SELECT doc_id + 200, CAST(200 AS BIGINT) FROM documents WHERE doc_id < 6 " +
        "UNION ALL SELECT CAST(210 AS BIGINT), CAST(0 AS BIGINT) FROM documents WHERE doc_id = 0" +
        ") ORDER BY id"),
    "q_repetition" ->
      ("WITH t AS (SELECT doc_id, text, concat_ws(chr(10), text, text, 'tail') AS rep FROM documents), " +
        "l AS (SELECT doc_id, list_filter(string_split(rep, chr(10)), x -> length(x) > 0) AS lines, " +
        "list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS toks FROM t) " +
        "SELECT doc_id, " +
        "CASE WHEN len(lines) = 0 THEN 0.0 ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / CAST(len(lines) AS DOUBLE) END AS dup_lines, " +
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS dup_tokens " +
        "FROM l ORDER BY doc_id"),
    "q_contamination" ->
      // shingle base is lower(text) on BOTH sides (lowercasing can change
      // string length for some codepoints)
      ("WITH d AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(lower(text)) - 8, 0) + 2), " +
        "i -> substr(lower(text), CAST(i AS INTEGER), 8))) AS shs FROM documents WHERE doc_id < 50 AND text IS NOT NULL), " +
        "b AS (SELECT DISTINCT s AS sh FROM (SELECT unnest(shs) AS s FROM " +
        "(SELECT list_distinct(list_transform(range(1, greatest(length(lower(text)) - 8, 0) + 2), " +
        "i -> substr(lower(text), CAST(i AS INTEGER), 8))) AS shs FROM documents WHERE doc_id < 3 AND text IS NOT NULL))), " +
        "u AS (SELECT doc_id, unnest(shs) AS sh FROM d) " +
        "SELECT u.doc_id, CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS contamination " +
        "FROM u LEFT JOIN b USING (sh) GROUP BY u.doc_id ORDER BY u.doc_id"),
    "q_jaccard" ->
      ("WITH s AS (SELECT doc_id, list_distinct(list_transform(range(1, length(lower(text)) - 3), " +
        "i -> substr(lower(text), CAST(i AS INTEGER), 5))) AS sh " +
        "FROM documents WHERE doc_id < 30 AND length(text) >= 5) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) AS j " +
        "FROM s a, s b WHERE a.doc_id < b.doc_id ORDER BY id_a, id_b"),
    "q_dedup_clusters" ->
      // connected components via recursive transitive closure (node count
      // is clamped to doc_id < 200, so the closure is bounded); rep = min
      // id reachable from each node, singletons map to themselves
      ("WITH RECURSIVE s AS (SELECT doc_id, list_distinct(list_filter(" +
        "regexp_split_to_array(lower(text), '\\s+'), t -> length(t) > 0)) AS tok " +
        "FROM documents WHERE doc_id < 200 AND text IS NOT NULL), " +
        // empty∪empty guard mirrors Dedup.jaccard's `union=0 → 1.0` (a raw
        // 0/0 division is NULL in DuckDB, which would silently drop a pair
        // of empty-token docs the Spark side merges)
        "p AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM s a, s b WHERE a.doc_id < b.doc_id " +
        "AND (CASE WHEN len(list_distinct(list_concat(a.tok, b.tok))) = 0 THEN 1.0 " +
        "ELSE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) / len(list_distinct(list_concat(a.tok, b.tok))) END) >= 0.9), " +
        "e AS (SELECT ia AS u, ib AS v FROM p UNION SELECT ib, ia FROM p), " +
        "r(u, v) AS (SELECT u, v FROM e UNION SELECT r.u, e2.v FROM r JOIN e e2 ON r.v = e2.u), " +
        "m AS (SELECT u AS doc_id, least(u, min(v)) AS rep FROM r GROUP BY u) " +
        "SELECT s.doc_id, coalesce(m.rep, s.doc_id) AS rep FROM s LEFT JOIN m USING (doc_id) ORDER BY doc_id"),
    "q_dedup_keep_best" ->
      // same recursive closure as q_dedup_clusters; each cluster keeps its
      // max-n_chars member (ties -> min id), singletons keep themselves
      ("WITH RECURSIVE s AS (SELECT doc_id, list_distinct(list_filter(" +
        "regexp_split_to_array(lower(text), '\\s+'), t -> length(t) > 0)) AS tok " +
        "FROM documents WHERE doc_id < 200 AND text IS NOT NULL), " +
        "p AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM s a, s b WHERE a.doc_id < b.doc_id " +
        "AND (CASE WHEN len(list_distinct(list_concat(a.tok, b.tok))) = 0 THEN 1.0 " +
        "ELSE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) / len(list_distinct(list_concat(a.tok, b.tok))) END) >= 0.9), " +
        "e AS (SELECT ia AS u, ib AS v FROM p UNION SELECT ib, ia FROM p), " +
        "r(u, v) AS (SELECT u, v FROM e UNION SELECT r.u, e2.v FROM r JOIN e e2 ON r.v = e2.u), " +
        "m AS (SELECT u AS doc_id, least(u, min(v)) AS rep FROM r GROUP BY u), " +
        "asg AS (SELECT s.doc_id, coalesce(m.rep, s.doc_id) AS rep FROM s LEFT JOIN m USING (doc_id)), " +
        "j AS (SELECT asg.doc_id, asg.rep, d.n_chars FROM asg JOIN documents d USING (doc_id)) " +
        "SELECT doc_id, n_chars FROM (SELECT doc_id, n_chars, " +
        "row_number() OVER (PARTITION BY rep ORDER BY n_chars DESC, doc_id) AS rn FROM j) " +
        "WHERE rn = 1 ORDER BY doc_id"),
    "q_dedup_embedding" -> {
      // the FULL embeddingNearDups path mirrored bitwise (r12 — the last
      // LSH rows-only query with a mirrorable kernel): lshBucketD's
      // hyperplanes are ±1 signs drawn from splitmix64, so the sign
      // matrix REGENERATES here (same formula as Kernels.lshBucketD) and
      // embeds as 4 literal 64-dim planes; each projection is then a
      // left-to-right double dot product (±1 multiplies are exact), which
      // DuckDB's list_dot_product reproduces bit-for-bit (the
      // q_ann_cosine-proven equivalence), so bucket bits, the bucket
      // equi-join, and the cosine verify all mirror exactly.
      def sm64(seed: Long): Long = {
        var z = seed + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      val planes = (0 until 4).map(b => (0 until 64).map(i =>
        if ((sm64(b.toLong * 0x517cc1b7L + i) & 1L) == 0L) "1.0" else "-1.0")
        .mkString("[", ",", "]"))
      val bucket = planes.zipWithIndex.map { case (p, b) =>
        s"(CASE WHEN list_dot_product(vec, $p) >= 0 THEN ${1 << b} ELSE 0 END)"
      }.mkString(" + ")
      "WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings), " +
        s"b AS (SELECT vec_id, vec, $bucket AS bucket FROM v), " +
        "p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b, " +
        "CASE WHEN sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(c.vec, c.vec)) = 0 THEN 0.0 " +
        "ELSE list_dot_product(a.vec, c.vec) / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(c.vec, c.vec))) END AS sim " +
        "FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id) " +
        "SELECT id_a, id_b, sim FROM p WHERE sim >= 0.3 ORDER BY id_a, id_b"
    },
    "q_semdedup" ->
      // full SemDeDup mirror: argmax-cosine cell assignment (ties to the
      // lowest centroid_id, mirroring ivfAssign's max_by), within-cell
      // pairs at >= 0.35, recursive transitive closure, min-id reps,
      // singletons to themselves. Zero-norm cosine pinned to 0.0 exactly
      // like the cosineD kernel.
      ("WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 1000), " +
        "c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8), " +
        "asn AS (SELECT vec_id, cid FROM (" +
        "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        "(CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)) = 0 THEN 0.0 " +
        "ELSE list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) END) DESC, c.cid) AS rk " +
        "FROM e, c) WHERE rk = 1), " +
        "s AS (SELECT asn.vec_id, asn.cid, e.v FROM asn JOIN e USING (vec_id)), " +
        "p AS (SELECT a.vec_id AS ia, b.vec_id AS ib FROM s a JOIN s b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
        "WHERE (CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0 " +
        "ELSE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END) >= 0.35), " +
        "ed AS (SELECT ia AS u, ib AS w FROM p UNION SELECT ib, ia FROM p), " +
        "r(u, w) AS (SELECT u, w FROM ed UNION SELECT r.u, ed2.w FROM r JOIN ed ed2 ON r.w = ed2.u), " +
        "m AS (SELECT u AS vec_id, least(u, min(w)) AS rep FROM r GROUP BY u) " +
        "SELECT e.vec_id, coalesce(m.rep, e.vec_id) AS rep FROM e LEFT JOIN m USING (vec_id) ORDER BY vec_id"),
    "q_ivf_oracle" -> ivfMirrorSql("vec_id < 16"),
    "q_ivf_topk" ->
      // the SAME full IVF mirror, with the centroid set = the 16 ids
      // seedCentroids actually picks at the verify scale, committed as
      // literals (the BPE merge-table precedent: Spark computes the
      // model artifact, the oracle takes it as given). Re-derive with
      //   emb.orderBy(xxhash64($"vec_id"), $"vec_id").limit(16)
      // on sf0.01 embeddings. This upgrades q_ivf_topk from rows-only to
      // a full hash compare; xxhash64 ORDER itself stays covered by
      // SimilaritySpec's seedCentroids determinism tests.
      ivfMirrorSql(s"vec_id IN ($IvfSeedIds)"),
    "q_approx_distinct" ->
      "SELECT COUNT(DISTINCT user_id) AS n FROM events",
    "q_window_events" ->
      "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, COUNT(*) AS n FROM events GROUP BY 1 ORDER BY h",
    "q_session_window" ->
      // gaps-and-islands: new session only when STRICTLY more than the gap
      // since the previous event (Spark merges an event landing exactly on
      // prev+gap — verified in StreamingSpec)
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events), " +
        "m AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > INTERVAL 30 MINUTE " +
        "OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL THEN 1 ELSE 0 END AS new_s FROM e), " +
        "s AS (SELECT user_id, t, SUM(new_s) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT MIN(t) AS session_start, user_id, COUNT(*) AS n FROM s GROUP BY user_id, sid " +
        "ORDER BY user_id NULLS FIRST, session_start NULLS FIRST"),
    "q_stream_session" ->
      // identical gaps-and-islands form as q_session_window: the bounded
      // complete-mode streaming run emits every session, so the streaming
      // state-store assembly must reproduce the batch islands exactly
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events), " +
        "m AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > INTERVAL 30 MINUTE " +
        "OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL THEN 1 ELSE 0 END AS new_s FROM e), " +
        "s AS (SELECT user_id, t, SUM(new_s) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT MIN(t) AS session_start, user_id, COUNT(*) AS n FROM s GROUP BY user_id, sid " +
        "ORDER BY user_id NULLS FIRST, session_start NULLS FIRST"),
    "q_stream_dedup" ->
      // the bounded single-batch streaming run drops nothing at the
      // watermark, so streaming watermark-dedup == DISTINCT over the
      // q_choice-valid rows (see the queries entry for the argument)
      ("SELECT DISTINCT user_id FROM events WHERE event_id IS NOT NULL " +
        "AND (event_type IS NULL OR event_type IN ('signup','purchase','error')) " +
        "ORDER BY user_id NULLS FIRST"),
    "q_quantiles" ->
      "SELECT quantile_cont(l_quantity, 0.25) AS p25, quantile_cont(l_quantity, 0.5) AS p50, quantile_cont(l_quantity, 0.9) AS p90 FROM lineitem",
    "q_mean_pool" ->
      // grid-rounded elements make the group sums exact (order-free); the
      // mean division and 1e-6 rounding then mirror deterministically
      ("WITH e AS (SELECT label, list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) / 1048576.0) AS emb FROM embeddings), " +
        "u AS (SELECT label, t.i AS pos, emb[t.i] AS val FROM e, UNNEST(generate_series(1, len(emb))) AS t(i)), " +
        "s AS (SELECT label, pos, sum(val) AS sv FROM u GROUP BY label, pos), " +
        "nn AS (SELECT label, count(*) AS nrows FROM e GROUP BY label) " +
        "SELECT s.label, CAST(pos AS BIGINT) AS pos, floor(sv / nrows * 1000000.0 + 0.5) / 1000000.0 AS val, nrows AS n " +
        "FROM s JOIN nn ON s.label = nn.label ORDER BY s.label, pos"),
    "q_phrase_flag" ->
      ("SELECT doc_id, len(list_filter(['merge part', 'scan join', 'lorem ipsum'], " +
        "p -> contains(lower(text), p))) > 0 AS flagged FROM documents ORDER BY doc_id"),
    "q_winsorize" ->
      // quantile_cont matches Spark's exact `percentile` interpolation
      // (the q_quantiles precedent); bounds rounded with the shared
      // formula BEFORE clamping on both sides
      ("WITH b AS (SELECT l_returnflag AS g, " +
        "floor(quantile_cont(l_extendedprice, 0.05) * 1000000.0 + 0.5) / 1000000.0 AS lo, " +
        "floor(quantile_cont(l_extendedprice, 0.95) * 1000000.0 + 0.5) / 1000000.0 AS hi " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT l_orderkey, l_linenumber, " +
        "least(greatest(CAST(l_extendedprice AS DOUBLE), lo), hi) AS price_w " +
        "FROM lineitem JOIN b ON l_returnflag IS NOT DISTINCT FROM g " +
        "ORDER BY l_orderkey, l_linenumber"),
    "q_dedup_normalize" ->
      // [^\p{L}\p{Nd}]+ is exactly the kernel's isLetterOrDigit complement
      // (L* + decimal digits); strip_accents is NFD-based like the kernel
      ("SELECT doc_id, trim(regexp_replace(strip_accents(lower(" +
        "concat('Héllo, WORLD!  Café #', doc_id, ': ', upper(substr(text, 1, 40)), ' ñ-ç…ü')" +
        ")), '[^\\p{L}\\p{Nd}]+', ' ', 'g')) AS norm FROM documents ORDER BY doc_id"),
    "q_bpe_tokens" ->
      // generated from the SAME committed merge Seq as the Spark query;
      // DuckDB's replace is greedy-left like Java's, reproducing BPE's
      // leftmost-first overlap resolution exactly
      (s"SELECT doc_id, CAST(coalesce(list_sum(list_transform(" +
        "list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> len(w) > 0), " +
        s"w -> len(string_split(${bpeApplySql("w")}, ' ')))), 0) AS BIGINT) AS n_bpe " +
        "FROM documents ORDER BY doc_id"),
    "q_hash_split" ->
      // lowercase-hex string compare == numeric compare on the first 32
      // hash bits (the q_sample_det pattern), thresholds generated from
      // the same cumulative scan as the Spark side
      (s"SELECT doc_id, CASE WHEN substr(md5('split:' || doc_id), 1, 8) < " +
        s"'${Sampling.fractionThreshold(HashSplitCums(0))}' THEN 'train' " +
        s"WHEN substr(md5('split:' || doc_id), 1, 8) < " +
        s"'${Sampling.fractionThreshold(HashSplitCums(1))}' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents ORDER BY doc_id"),
    "q_split_decontam" ->
      // same md5 draw as q_hash_split, same substr shingling as
      // q_contamination; a train doc sharing any shingle with eval drops
      (s"WITH d AS (SELECT doc_id, lower(text) AS lt, " +
        s"CASE WHEN substr(md5('dc:' || doc_id), 1, 8) < '${Sampling.fractionThreshold(0.9)}' " +
        "THEN 'train' ELSE 'eval' END AS split " +
        "FROM documents WHERE doc_id < 300 AND text IS NOT NULL), " +
        "sh AS (SELECT doc_id, split, unnest(list_distinct(list_transform(" +
        "range(1, greatest(length(lt) - 8, 0) + 2), i -> substr(lt, CAST(i AS INTEGER), 8)))) AS sh FROM d), " +
        "ev AS (SELECT DISTINCT sh FROM sh WHERE split = 'eval'), " +
        "dirty AS (SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (sh) WHERE s.split = 'train') " +
        "SELECT doc_id, split FROM d WHERE split = 'eval' " +
        "OR doc_id NOT IN (SELECT doc_id FROM dirty) ORDER BY doc_id"),
    "q_manifest" -> {
      // 60-bit hex parse unrolled as a Horner chain (DuckDB has no conv());
      // the mod-prime sum is exact integer arithmetic in both engines
      val horner = (1 to 15).map(i =>
          s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1)")
        .reduceLeft((acc, h) => s"($acc * 16 + $h)")
      ("WITH r AS (SELECT doc_id % 13 AS shard, " +
        "md5(concat_ws('|', CAST(doc_id AS VARCHAR), lang, CAST(n_chars AS VARCHAR))) AS m FROM documents), " +
        s"v AS (SELECT shard, CAST($horner AS HUGEINT) AS v FROM r) " +
        "SELECT shard, COUNT(*) AS n_rows, " +
        "CAST(SUM(v) % 2305843009213693951 AS BIGINT) AS checksum " +
        "FROM v GROUP BY shard ORDER BY shard")
    },
    "q_char_entropy" ->
      // list_reduce over a prepended 0.0 accumulator replicates Spark's
      // aggregate() LEFT-FOLD order bitwise; distinct chars sorted on both
      // sides so the partial sums add in one canonical order; ln 2 is a
      // shared literal, not an engine call
      ("WITH b AS (SELECT doc_id, text, " +
        "list_transform(generate_series(1, length(text)), i -> substr(text, i, 1)) AS cs FROM documents) " +
        "SELECT doc_id, CASE WHEN text IS NULL THEN NULL WHEN length(text) = 0 THEN 0.0 ELSE " +
        "floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_sort(list_distinct(cs)), ch -> " +
        "-(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE) / CAST(length(text) AS DOUBLE)) " +
        "* ln(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE) / CAST(length(text) AS DOUBLE)))), (a, b) -> a + b) " +
        "/ 0.6931471805599453) * 1000000.0 + 0.5) / 1000000.0 END AS entropy " +
        "FROM b ORDER BY doc_id"),
    "q_kmv_overlap" ->
      // the sketches are exact below k, so every output equals the true
      // distinct set algebra the oracle computes directly
      ("WITH a AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 3 <> 0), " +
        "b AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 2 = 0), " +
        "u AS (SELECT doc_id FROM a UNION SELECT doc_id FROM b) " +
        "SELECT (SELECT count(*) FROM a) AS n_a, (SELECT count(*) FROM b) AS n_b, " +
        "(SELECT count(*) FROM a JOIN b USING (doc_id)) AS n_intersect, " +
        "(SELECT count(*) FROM u) AS n_union, " +
        "floor(CAST((SELECT count(*) FROM a JOIN b USING (doc_id)) AS DOUBLE) " +
        "/ CAST((SELECT count(*) FROM u) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS jaccard"),
    "q_pct_norm" ->
      // the plain per-stratum rank window the engine's bucketed
      // decomposition must equal bit-for-bit
      ("SELECT doc_id, lang, n_chars, floor(CAST(rn AS DOUBLE)/cnt*1e6)/1e6 AS pct FROM (" +
        "SELECT doc_id, lang, n_chars, " +
        "row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY lang) AS cnt FROM documents " +
        "WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL AND lang IS NOT NULL) " +
        "ORDER BY doc_id"),
    "q_cdc_asof" ->
      // the surviving snapshot one sequence number earlier: %10==0 gone,
      // %10==1 doubled, %10==2 STILL PRESENT (its delete is at seq 2),
      // %10==3 present twice
      ("SELECT o_orderkey, o_orderstatus, o_totalprice FROM (" +
        "SELECT o_orderkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice " +
        "FROM orders WHERE o_orderkey % 10 <> 0 " +
        "UNION ALL " +
        "SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice " +
        "FROM orders WHERE o_orderkey % 10 = 3) ORDER BY o_orderkey"),
    "q_reject_reasons" ->
      // the reasons in closed form: Required fails on the planted %7
      // nulls plus any originally-null/empty value; Max(100) fails on
      // user_id > 100 (nulls skip non-Required filters)
      ("SELECT * FROM (" +
        "SELECT 'event_type' AS field, 'empty' AS code, count(*) AS n FROM events " +
        "WHERE event_id % 7 = 0 OR event_type IS NULL OR event_type = '' " +
        "UNION ALL " +
        "SELECT 'user_id', 'too_big', count(*) FROM events WHERE user_id > 100) " +
        "WHERE n > 0 ORDER BY field, code"),
    "q_fd_violations" ->
      ("WITH p AS (SELECT o_orderkey % 1000 AS k, o_orderstatus AS s, count(*) AS n " +
        "FROM orders GROUP BY 1, 2) " +
        "SELECT k, CAST(count(*) AS BIGINT) AS n_distinct_rhs, " +
        "CAST(sum(n) AS BIGINT) AS n_rows FROM p GROUP BY k " +
        "HAVING count(*) > 1 ORDER BY k"),
    "q_lexical" ->
      // same tokenizer, same type-table aggregate, same 1e-6 floors
      ("WITH t AS (SELECT term, count(*) AS n FROM (" +
        "SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term " +
        "FROM documents WHERE text IS NOT NULL) GROUP BY term) " +
        "SELECT CAST(sum(n) AS BIGINT) AS n_tokens, count(*) AS n_types, " +
        "CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax, " +
        "floor(CAST(count(*) AS DOUBLE)/sum(n)*1e6)/1e6 AS ttr, " +
        "floor(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)/count(*)*1e6)/1e6 AS hapax_ratio " +
        "FROM t"),
    "q_url_templates" ->
      // same synthesized URLs (md5 agrees across engines), same two
      // placeholder regexes (Java∩RE2, 'g' flag for replace-all)
      ("WITH u AS (SELECT source || '.shop.com' AS host, " +
        "CASE WHEN doc_id % 5 = 0 THEN '/item/' || md5(CAST(doc_id AS VARCHAR)) || '/view' " +
        "ELSE '/p/' || CAST(doc_id % 1000 AS VARCHAR) END AS path " +
        "FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL), " +
        "t AS (SELECT host, regexp_replace(regexp_replace(path, '[0-9a-f]{8,}', '{hex}', 'g'), " +
        "'[0-9]+', '{n}', 'g') AS template, path FROM u) " +
        "SELECT host, template, count(*) AS n_urls, " +
        "CAST(count(DISTINCT path) AS BIGINT) AS n_ids " +
        "FROM t GROUP BY 1, 2 ORDER BY host, template"),
    "q_cluster_labels" ->
      // identical tokenization, identical c-TF-IDF left-to-right
      // arithmetic, identical floor-before-rank and term tiebreak
      ("WITH toks AS (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term " +
        "FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL), " +
        "tf AS (SELECT lang, term, count(*) AS tf FROM toks GROUP BY 1, 2), " +
        "tot AS (SELECT lang, sum(tf) AS total FROM tf GROUP BY lang), " +
        "ft AS (SELECT term, sum(tf) AS ft FROM tf GROUP BY term), " +
        "sc AS (SELECT sum(tf)*1.0/count(DISTINCT lang) AS a FROM tf), " +
        "s AS (SELECT tf.lang, tf.term, tf.tf, " +
        "floor(CAST(tf.tf AS DOUBLE)/total * ln(1.0 + a/ft) * 1e6 + 0.5)/1e6 AS score " +
        "FROM tf JOIN tot USING (lang) JOIN ft USING (term), sc) " +
        "SELECT lang, term, tf, score, CAST(row_number() OVER (PARTITION BY lang " +
        "ORDER BY score DESC, term) AS INTEGER) AS rk FROM s " +
        "QUALIFY rk <= 5 ORDER BY lang, rk"),
    "q_null_patterns" ->
      ("WITH p AS (SELECT (CASE WHEN text IS NULL THEN '0' ELSE '1' END) || " +
        "(CASE WHEN lang IS NULL THEN '0' ELSE '1' END) || " +
        "(CASE WHEN source IS NULL THEN '0' ELSE '1' END) || " +
        "(CASE WHEN n_chars IS NULL THEN '0' ELSE '1' END) AS pattern " +
        "FROM documents), " +
        "c AS (SELECT pattern, count(*) AS n FROM p GROUP BY pattern), " +
        "t AS (SELECT sum(n) AS tot FROM c) " +
        "SELECT pattern, n, floor(CAST(n AS DOUBLE)/tot*1e6)/1e6 AS share " +
        "FROM c, t ORDER BY pattern"),
    "q_chi_square" ->
      // identical contingency/margin arithmetic, same grids, same
      // left-to-right expected-count expression
      ("WITH c AS (SELECT lang AS a, source AS b, count(*) AS o FROM documents " +
        "WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2), " +
        "ma AS (SELECT a, sum(o) AS ra FROM c GROUP BY a), " +
        "mb AS (SELECT b, sum(o) AS rb FROM c GROUP BY b), " +
        "t AS (SELECT sum(o) AS n, count(DISTINCT a) AS ka, count(DISTINCT b) AS kb FROM c), " +
        "terms AS (SELECT n, ka, kb, CAST(floor(" +
        "(o - ra*1.0*rb/n)*(o - ra*1.0*rb/n)/(ra*1.0*rb/n)*1e9 + 0.5)/1e9 AS DECIMAL(28,9)) AS tm " +
        "FROM c JOIN ma USING (a) JOIN mb USING (b), t) " +
        "SELECT CAST(n AS BIGINT) AS n, CAST(ka AS BIGINT) AS r_a, CAST(kb AS BIGINT) AS r_b, " +
        "CAST((ka-1)*(kb-1) AS BIGINT) AS dof, " +
        "floor(CAST(sum(tm) AS DOUBLE)*1e6 + 0.5)/1e6 AS chi2, " +
        "CASE WHEN ka > 1 AND kb > 1 THEN " +
        "floor(sqrt(CAST(sum(tm) AS DOUBLE)/(n*least(ka-1, kb-1)))*1e6 + 0.5)/1e6 END AS cramers_v " +
        "FROM terms GROUP BY n, ka, kb"),
    "q_stream_drift" -> {
      // the q_psi mirror over the streaming fixture: baseline = all
      // event values, after = the %3-doubled replay
      val bs = (1 to 9).map(i =>
        s"floor(quantile_cont(v, 0.$i)*1e6+0.5)/1e6 AS b$i").mkString(", ")
      val assign = (1 to 9).map(i =>
        s"(CASE WHEN v > b$i THEN 1 ELSE 0 END)").mkString(" + ")
      "WITH bef AS (SELECT value AS v FROM events WHERE value IS NOT NULL), " +
        "aft AS (SELECT CASE WHEN event_id % 3 = 0 THEN value*2 " +
        "ELSE value END AS v FROM events WHERE value IS NOT NULL), " +
        s"bs AS (SELECT $bs FROM bef), " +
        s"ca AS (SELECT CAST($assign AS BIGINT) AS bin, count(*) AS cnt FROM bef, bs GROUP BY 1), " +
        s"cb AS (SELECT CAST($assign AS BIGINT) AS bin, count(*) AS cnt FROM aft, bs GROUP BY 1), " +
        "spine AS (SELECT unnest(range(0, 10)) AS bin), " +
        "j AS (SELECT bin, CAST(coalesce(ca.cnt, 0) AS BIGINT) AS n_before, " +
        "CAST(coalesce(cb.cnt, 0) AS BIGINT) AS n_after " +
        "FROM spine LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)), " +
        "t AS (SELECT sum(n_before) AS ta, sum(n_after) AS tb FROM j) " +
        "SELECT bin, n_before, n_after, " +
        "floor((n_before+1.0)/(ta+10.0)*1e6)/1e6 AS p_before, " +
        "floor((n_after+1.0)/(tb+10.0)*1e6)/1e6 AS p_after, " +
        "floor(((n_before+1.0)/(ta+10.0) - (n_after+1.0)/(tb+10.0)) " +
        "* ln(((n_before+1.0)/(ta+10.0)) / ((n_after+1.0)/(tb+10.0))) * 1e9 + 0.5)/1e9 AS psi_term " +
        "FROM j, t ORDER BY bin"
    },
    "q_psi" -> {
      // identical decile grid from the BEFORE side (quantile_cont mirrors
      // the engine's exact percentile — the q_quantile_buckets precedent),
      // identical Laplace smoothing and 1e-9 term rounding
      val bs = (1 to 9).map(i =>
        s"floor(quantile_cont(v, 0.$i)*1e6+0.5)/1e6 AS b$i").mkString(", ")
      val assign = (1 to 9).map(i =>
        s"(CASE WHEN v > b$i THEN 1 ELSE 0 END)").mkString(" + ")
      "WITH bef AS (SELECT o_totalprice AS v FROM orders " +
        "WHERE o_totalprice IS NOT NULL AND o_orderkey % 10 <> 0), " +
        "aft AS (SELECT CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice*2 " +
        "ELSE o_totalprice END AS v FROM orders WHERE o_totalprice IS NOT NULL), " +
        s"bs AS (SELECT $bs FROM bef), " +
        s"ca AS (SELECT CAST($assign AS BIGINT) AS bin, count(*) AS cnt FROM bef, bs GROUP BY 1), " +
        s"cb AS (SELECT CAST($assign AS BIGINT) AS bin, count(*) AS cnt FROM aft, bs GROUP BY 1), " +
        "spine AS (SELECT unnest(range(0, 10)) AS bin), " +
        "j AS (SELECT bin, CAST(coalesce(ca.cnt, 0) AS BIGINT) AS n_before, " +
        "CAST(coalesce(cb.cnt, 0) AS BIGINT) AS n_after " +
        "FROM spine LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)), " +
        "t AS (SELECT sum(n_before) AS ta, sum(n_after) AS tb FROM j) " +
        "SELECT bin, n_before, n_after, " +
        "floor((n_before+1.0)/(ta+10.0)*1e6)/1e6 AS p_before, " +
        "floor((n_after+1.0)/(tb+10.0)*1e6)/1e6 AS p_after, " +
        "floor(((n_before+1.0)/(ta+10.0) - (n_after+1.0)/(tb+10.0)) " +
        "* ln(((n_before+1.0)/(ta+10.0)) / ((n_after+1.0)/(tb+10.0))) * 1e9 + 0.5)/1e9 AS psi_term " +
        "FROM j, t ORDER BY bin"
    },
    "q_cms_freq" -> {
      // identical 4×64 count-min in HUGEINT: the same splitmix64-derived
      // (A_i, B_i) as literals, (A·k + B) mod 2^64 then the low 6 bits
      // (width 64 is a power of two, so signed pmod == unsigned residue).
      // A·k fits HUGEINT directly because the fixture's keys are < 2^8;
      // a general mirror would split A 32/32 like q_ngram_jaccard.
      def u(l: Long) = java.lang.Long.toUnsignedString(l)
      val seeds = (0 until 4).map { i =>
        val (a, b) = Sketches.cmsSeeds(i)
        s"($i, CAST('${u(a)}' AS HUGEINT), CAST('${u(b)}' AS HUGEINT))"
      }.mkString(", ")
      val T64 = s"CAST('${BigInt(1) << 64}' AS HUGEINT)"
      "WITH seeds(i, a, b) AS (VALUES " + seeds + "), " +
        "src AS (SELECT user_id AS k FROM events WHERE user_id IS NOT NULL), " +
        s"cms AS (SELECT i, CAST((a*k + b) % $T64 % 64 AS BIGINT) AS bucket, " +
        "count(*) AS cnt FROM src, seeds GROUP BY 1, 2), " +
        "cand AS (SELECT unnest(range(0, 50)) AS key), " +
        s"cb AS (SELECT key, i, CAST((a*key + b) % $T64 % 64 AS BIGINT) AS bucket " +
        "FROM cand, seeds), " +
        "est AS (SELECT key, min(coalesce(cnt, 0)) AS est FROM cb " +
        "LEFT JOIN cms USING (i, bucket) GROUP BY key), " +
        "ex AS (SELECT k AS key, count(*) AS n_exact FROM src WHERE k < 50 GROUP BY k) " +
        "SELECT key AS user_id, CAST(coalesce(n_exact, 0) AS BIGINT) AS n_exact, " +
        "CAST(est AS BIGINT) AS est FROM est LEFT JOIN ex USING (key) ORDER BY user_id"
    },
    "q_text_stats" ->
      "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS n_tokens FROM documents GROUP BY lang ORDER BY lang NULLS FIRST",
    "q_token_count" ->
      ("SELECT doc_id, CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_ws, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_subword " +
        "FROM documents ORDER BY doc_id"),
    "q_bm25_topk" ->
      // full BM25 mirror (k1=1.2, b=0.75, Lucene idf): identical term
      // extraction ([a-z0-9]+ over lower), identical per-term formula,
      // identical 1e-6 floor-rounding BEFORE ranking, doc_id tiebreak
      bm25OracleSql,
    "q_bm25_indexed" ->
      // the indexed path scores IDENTICALLY — one oracle, two plans
      bm25OracleSql,
    "q_confusables" -> {
      // identical unicode-aware translate, mapping strings generated
      // from Confusables.pairs (apostrophe/backslash land in toChars via
      // the fullwidth block — escape for the SQL literal)
      def lit1(s: String) = "'" + s.replace("'", "''") + "'"
      val from = lit1(graft.ops.Confusables.fromChars)
      val to = lit1(graft.ops.Confusables.toChars)
      "WITH d AS (SELECT doc_id, " +
        "(CASE WHEN doc_id % 2 = 0 THEN translate(text, 'ao', 'аο') ELSE text END) || " +
        "(CASE WHEN doc_id % 3 = 0 THEN '　ｈｅｌｌｏ！' ELSE '' END) AS t " +
        "FROM documents WHERE text IS NOT NULL) " +
        s"SELECT doc_id, translate(t, $from, $to) AS skeleton, " +
        s"translate(t, $from, $to) <> t AS spoofed FROM d ORDER BY doc_id"
    },
    "q_tag_keywords" ->
      // per-tag distinct-token intersection over the same [a-z0-9]+
      // token lists; the dictionary folds to lowercase on both sides
      ("WITH d AS (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t " +
        "FROM documents WHERE text IS NOT NULL), " +
        "m AS (" +
        "SELECT doc_id, 'perf' AS tag, CAST(len(list_intersect(t, ['fast', 'slow', 'quick'])) AS BIGINT) AS n_matched FROM d " +
        "UNION ALL SELECT doc_id, 'storage', CAST(len(list_intersect(t, ['table', 'row', 'column'])) AS BIGINT) FROM d " +
        "UNION ALL SELECT doc_id, 'ghost', CAST(len(list_intersect(t, ['zzzqqq'])) AS BIGINT) FROM d) " +
        "SELECT doc_id, tag, n_matched FROM m WHERE n_matched >= 2 ORDER BY doc_id, tag"),
    "q_phrase_search" ->
      // positional scan over the SAME [a-z0-9]+ token lists: count
      // starting positions where every phrase token matches (overlaps
      // count); generate_series(1, n<1) is [] in DuckDB so short docs
      // need no guard here (Spark's sequence() does — see phraseSearch)
      ("WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t " +
        "FROM documents WHERE text IS NOT NULL), " +
        "occ AS (" +
        "SELECT 1 AS pid, doc_id, len(list_filter(generate_series(1, len(t)-2), " +
        "i -> t[i] = 'table' AND t[i+1] = 'value' AND t[i+2] = 'part')) AS n_occ FROM d " +
        "UNION ALL SELECT 2, doc_id, len(list_filter(generate_series(1, len(t)-1), " +
        "i -> t[i] = 'fast' AND t[i+1] = 'join')) FROM d " +
        "UNION ALL SELECT 3, doc_id, len(list_filter(generate_series(1, len(t)-2), " +
        "i -> t[i] = 'spark' AND t[i+1] = 'zz' AND t[i+2] = 'never')) FROM d " +
        "UNION ALL SELECT 4, doc_id, len(list_filter(t, x -> x = 'value')) FROM d) " +
        "SELECT CAST(pid AS BIGINT) AS pid, doc_id, CAST(n_occ AS BIGINT) AS n_occ " +
        "FROM occ WHERE n_occ >= 1 ORDER BY pid, doc_id"),
    "q_shard_assign" ->
      ("SELECT doc_id, CAST(('0x' || substr(md5('graftshard:' || doc_id), 1, 8))::UBIGINT % 16 AS INTEGER) AS shard, " +
        "md5('graftorder:' || doc_id) AS shard_order FROM documents ORDER BY doc_id"),
    "q_quality" ->
      // floor(x*1e6 + 0.5)/1e6 matches qualityScore's rounding exactly:
      // plain double arithmetic, no engine-specific decimal-halfway rule
      ("SELECT doc_id, floor((0.4 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) " +
        "+ 0.4 * (CASE WHEN len(regexp_split_to_array(lower(text), '\\s+')) = 0 THEN 0.0 ELSE " +
        "CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t IN ('the','of','and','a','to','in','is','it','that','for'))) AS DOUBLE) " +
        "/ CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS DOUBLE) END) " +
        "+ 0.2 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0 ELSE " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)) * 1000000.0 + 0.5) / 1000000.0 AS quality " +
        "FROM documents ORDER BY doc_id"),
    "q_readability" ->
      // identical run counts (words/sentences/syllables) and the identical
      // fixed double expression on the 1e-6 grid as TextAnalysis.readability
      ("SELECT doc_id, CAST(wi AS BIGINT) AS words, CAST(ti AS BIGINT) AS sentences, " +
        "CAST(si AS BIGINT) AS syllables, " +
        "floor((206.835 - 1.015 * (CAST(wi AS DOUBLE) / CAST(ti AS DOUBLE)) " +
        "- 84.6 * (CAST(si AS DOUBLE) / CAST(wi AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS flesch, " +
        "floor((0.39 * (CAST(wi AS DOUBLE) / CAST(ti AS DOUBLE)) " +
        "+ 11.8 * (CAST(si AS DOUBLE) / CAST(wi AS DOUBLE)) - 15.59) * 1000000.0 + 0.5) / 1000000.0 AS fk_grade " +
        "FROM (SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]+')) AS wi, " +
        "greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ti, " +
        "greatest(len(regexp_extract_all(text, '[AEIOUYaeiouy]+')), " +
        "len(regexp_extract_all(text, '[A-Za-z]+'))) AS si " +
        "FROM documents WHERE text IS NOT NULL) WHERE wi > 0 ORDER BY doc_id"),
    "q_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id",
    "q_gopher_rules" ->
      // Gopher §A1.1 signals over the synthesized structured text; every
      // fraction uses the cross-engine floor(x*1e6+0.5)/1e6 rounding
      (s"WITH t0 AS (SELECT doc_id, $StructuredDocSql AS t FROM documents), " +
        "t1 AS (SELECT doc_id, t, " +
        "list_filter(regexp_split_to_array(t, '\\s+'), w -> len(w) > 0) AS ws, " +
        "list_filter(regexp_split_to_array(lower(t), '\\s+'), w -> len(w) > 0) AS wl, " +
        "list_filter(regexp_split_to_array(t, chr(10)), l -> len(trim(l)) > 0) AS ls FROM t0), " +
        "t2 AS (SELECT doc_id, len(ws) AS word_count, " +
        "CASE WHEN len(ws) = 0 THEN 0.0 ELSE floor(CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / CAST(len(ws) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS mean_word_len, " +
        "CASE WHEN len(ws) = 0 THEN 0.0 ELSE floor(CAST(len(regexp_extract_all(t, '#|\\.\\.\\.')) AS DOUBLE) / CAST(len(ws) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS symbol_ratio, " +
        "CASE WHEN len(ls) = 0 THEN 0.0 ELSE floor(CAST(len(list_filter(ls, l -> regexp_matches(l, '^\\s*[-•*] '))) AS DOUBLE) / CAST(len(ls) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS bullet_frac, " +
        "CASE WHEN len(ls) = 0 THEN 0.0 ELSE floor(CAST(len(list_filter(ls, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS DOUBLE) / CAST(len(ls) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS ellipsis_frac, " +
        "CASE WHEN len(ws) = 0 THEN 0.0 ELSE floor(CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / CAST(len(ws) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS alpha_frac, " +
        "len(list_intersect(list_distinct(wl), ['the','be','to','of','and','that','have','with'])) AS stop_hits FROM t1) " +
        "SELECT doc_id, word_count, mean_word_len, symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac, stop_hits, " +
        "(word_count >= 50 AND word_count <= 100000 AND mean_word_len BETWEEN 3.0 AND 10.0 AND symbol_ratio <= 0.1 " +
        "AND bullet_frac < 0.9 AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep " +
        "FROM t2 ORDER BY doc_id"),
    "q_c4_clean" ->
      (s"WITH t0 AS (SELECT doc_id, $StructuredDocSql AS t FROM documents), " +
        "t1 AS (SELECT doc_id, t, " +
        "array_to_string(list_filter(regexp_split_to_array(t, chr(10)), l -> " +
        "regexp_matches(trim(l), '[.!?\"]$') " +
        "AND len(list_filter(regexp_split_to_array(trim(l), '\\s+'), w -> len(w) > 0)) >= 5 " +
        "AND NOT regexp_matches(lower(l), 'javascript')), chr(10)) AS cleaned FROM t0) " +
        "SELECT doc_id, cleaned, " +
        "(len(regexp_extract_all(cleaned, '[.!?]')) >= 3 " +
        "AND NOT contains(lower(t), 'lorem ipsum') " +
        "AND NOT contains(t, '{')) AS keep " +
        "FROM t1 ORDER BY doc_id"),
    "q_ngram_repetition" ->
      // struct-max tiebreak: DuckDB compares {'cnt','gram'} structs in field
      // order, exactly like Spark's array_max over struct(cnt, gram)
      ("WITH b AS (SELECT doc_id, text, " +
        "list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> len(w) > 0) AS ws FROM documents), " +
        "g AS (SELECT doc_id, text, " +
        "CASE WHEN len(ws) < 2 THEN [] ELSE list_transform(generate_series(1, len(ws)-1), i -> array_to_string(ws[i:i+1], ' ')) END AS g2, " +
        "CASE WHEN len(ws) < 3 THEN [] ELSE list_transform(generate_series(1, len(ws)-2), i -> array_to_string(ws[i:i+2], ' ')) END AS g3 FROM b), " +
        "m AS (SELECT doc_id, text, g2, g3, " +
        "list_aggregate(list_transform(list_distinct(g2), d -> {'cnt': len(list_filter(g2, x -> x = d)), 'gram': d}), 'max') AS best2, " +
        "list_sum(list_transform(list_distinct(g3), d -> CASE WHEN len(list_filter(g3, x -> x = d)) > 1 THEN len(list_filter(g3, x -> x = d)) * len(d) ELSE 0 END)) AS dup3 FROM g) " +
        "SELECT doc_id, " +
        "CASE WHEN len(g2) = 0 OR length(text) = 0 THEN 0.0 ELSE floor(CAST(best2.cnt AS DOUBLE) * CAST(len(best2.gram) AS DOUBLE) / CAST(length(text) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS top2_frac, " +
        "CASE WHEN len(g3) = 0 OR length(text) = 0 THEN 0.0 ELSE floor(CAST(dup3 AS DOUBLE) / CAST(length(text) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS dup3_frac " +
        "FROM m ORDER BY doc_id"),
    "q_redact" ->
      ("WITH t AS (SELECT doc_id, text || ' contact u' || doc_id || '@mail.example.org or +1 555 01' || doc_id " +
        "|| ' at 10.0.' || (doc_id % 256) || '.7 see https://ex' || doc_id || '.org/a/b?x=1' AS t FROM documents) " +
        "SELECT doc_id, " +
        "regexp_replace(regexp_replace(regexp_replace(t, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\+[0-9]{1,2}[- ][0-9]{3}[- ][0-9]{3,4}[- ]?[0-9]{0,4}', '<PHONE>', 'g'), " +
        "'\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g') AS redacted, " +
        "CAST(len(regexp_extract_all(t, 'https?://[A-Za-z0-9.-]+(/[A-Za-z0-9._~:/?#@!$&()*+,;=%-]*)?')) AS BIGINT) AS n_urls, " +
        "lower(regexp_extract(regexp_extract_all(t, 'https?://[A-Za-z0-9.-]+(/[A-Za-z0-9._~:/?#@!$&()*+,;=%-]*)?')[1], " +
        "'https?://([A-Za-z0-9.-]+)', 1)) AS domain " +
        "FROM t ORDER BY doc_id"),
    "q_lang_id" ->
      ("WITH t AS (SELECT doc_id, text IS NULL AS tnull, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents), " +
        "h AS (SELECT doc_id, tnull, " +
        "len(list_filter(toks, x -> x IN ('der','die','und','in','den','von','zu','das','mit','sich'))) AS h_de, " +
        "len(list_filter(toks, x -> x IN ('the','of','and','a','to','in','is','it','that','for'))) AS h_en, " +
        "len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','los','se','no'))) AS h_es, " +
        "len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','en','un','du','une'))) AS h_fr, " +
        "len(list_filter(toks, x -> x IN ('的','了','在','是','我','有','和','就','不','人'))) AS h_zh FROM t) " +
        "SELECT doc_id, CASE WHEN tnull THEN NULL WHEN greatest(h_de,h_en,h_es,h_fr,h_zh) = 0 THEN 'und' " +
        "ELSE list_sort([{'h': h_de, 'l': 'de'}, {'h': h_en, 'l': 'en'}, {'h': h_es, 'l': 'es'}, " +
        "{'h': h_fr, 'l': 'fr'}, {'h': h_zh, 'l': 'zh'}])[-1].l END AS guess " +
        "FROM h ORDER BY doc_id"),
    "q_ann_cosine" -> annCosineOracleSql,
    "q_simhash" -> {
      // Exact integer mirror of the simhash + rolling-hash kernels
      // (Kernels.simHash / Kernels.rollingHash): DuckDB HUGEINT carries
      // the unsigned 64-bit state, every step reduces mod 2^64 (== Java
      // long wraparound), and the final value converts to signed BIGINT.
      // The 64 per-bit vote sums and the recomposition are generated
      // programmatically below. xor() only ever sees the low 16 bits
      // (token chars are < 2^16), keeping it in BIGINT range.
      val two64 = BigInt(1) << 64
      val two63 = BigInt(1) << 63
      val fnvSeed = BigInt("cbf29ce484222325", 16)
      val bitSums = (0 until 64).map(b =>
        s"SUM(CASE WHEN (h // CAST('${BigInt(1) << b}' AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
      val recompose = (0 until 64).map(b =>
        s"CASE WHEN v$b > 0 THEN CAST('${BigInt(1) << b}' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END").mkString(" + ")
      s"WITH t AS (SELECT doc_id, text, list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS toks " +
        "FROM documents WHERE octet_length(encode(text)) = length(text)), " +
        "th AS (SELECT doc_id, unnest(toks) AS tok FROM t), " +
        s"hh AS (SELECT doc_id, list_reduce(list_prepend(CAST('$fnvSeed' AS HUGEINT), " +
        "list_transform(range(1, length(tok)+1), i -> CAST(unicode(substr(tok, i, 1)) AS HUGEINT))), " +
        "(h, c) -> ((xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) + (h - h % 65536)) * 1099511628211) " +
        s"% CAST('$two64' AS HUGEINT)) AS h FROM th), " +
        s"votes AS (SELECT doc_id, $bitSums FROM hh GROUP BY doc_id), " +
        s"sh AS (SELECT doc_id, $recompose AS sval FROM votes), " +
        "rh AS (SELECT doc_id, list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT), " +
        "list_transform(range(1, length(text)+1), i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))), " +
        s"(h, c) -> (h * 31 + c) % CAST('$two64' AS HUGEINT)) AS rval FROM t) " +
        "SELECT t.doc_id, " +
        s"CAST(CASE WHEN coalesce(sh.sval, 0) >= CAST('$two63' AS HUGEINT) THEN coalesce(sh.sval, 0) - CAST('$two64' AS HUGEINT) ELSE coalesce(sh.sval, 0) END AS BIGINT) AS sh, " +
        s"CAST(CASE WHEN coalesce(rh.rval, 1125899906842597) >= CAST('$two63' AS HUGEINT) THEN coalesce(rh.rval, 1125899906842597) - CAST('$two64' AS HUGEINT) ELSE coalesce(rh.rval, 1125899906842597) END AS BIGINT) AS rh " +
        "FROM t LEFT JOIN sh USING (doc_id) LEFT JOIN rh USING (doc_id) ORDER BY doc_id"
    },
    "q_hamming_pairs" -> {
      // the q_simhash HUGEINT kernel mirror (clamped to doc_id < 300)
      // feeding a brute-force pair grid: banded blocking is LOSSLESS, so
      // the engine's equi-join candidates + bit_count verify must equal
      // the grid exactly
      val two64 = BigInt(1) << 64
      val two63 = BigInt(1) << 63
      val fnvSeed = BigInt("cbf29ce484222325", 16)
      val bitSums = (0 until 64).map(b =>
        s"SUM(CASE WHEN (h // CAST('${BigInt(1) << b}' AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
      val recompose = (0 until 64).map(b =>
        s"CASE WHEN v$b > 0 THEN CAST('${BigInt(1) << b}' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END").mkString(" + ")
      s"WITH t AS (SELECT doc_id, text, list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS toks " +
        "FROM documents WHERE doc_id < 300 AND octet_length(encode(text)) = length(text)), " +
        "th AS (SELECT doc_id, unnest(toks) AS tok FROM t), " +
        s"hh AS (SELECT doc_id, list_reduce(list_prepend(CAST('$fnvSeed' AS HUGEINT), " +
        "list_transform(range(1, length(tok)+1), i -> CAST(unicode(substr(tok, i, 1)) AS HUGEINT))), " +
        "(h, c) -> ((xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) + (h - h % 65536)) * 1099511628211) " +
        s"% CAST('$two64' AS HUGEINT)) AS h FROM th), " +
        s"votes AS (SELECT doc_id, $bitSums FROM hh GROUP BY doc_id), " +
        s"sh0 AS (SELECT doc_id, $recompose AS sval FROM votes), " +
        "s AS (SELECT t.doc_id, " +
        s"CAST(CASE WHEN coalesce(sh0.sval, 0) >= CAST('$two63' AS HUGEINT) THEN coalesce(sh0.sval, 0) - CAST('$two64' AS HUGEINT) ELSE coalesce(sh0.sval, 0) END AS BIGINT) AS sh " +
        "FROM t LEFT JOIN sh0 USING (doc_id)) " +
        "SELECT a.doc_id AS id_1, b.doc_id AS id_2, CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS dist " +
        "FROM s a, s b WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 16 " +
        "ORDER BY id_1, id_2"
    },
    "q_ngram_jaccard" -> {
      // Exact integer mirror of the full guarded ngram-LSH path
      // (Kernels.minhashSigShingles + Dedup.nearDupsBySignature) on the
      // crafted doc_id<40 clamp. Per doc: FNV-1a over each 5-char shingle
      // (HUGEINT mod 2^64, xor on the low 16 bits — chars are ASCII),
      // then for each of 64 hash slots k the SIGNED min over shingles of
      // (A_k*h + B_k) mod 2^64, with A/B the splitmix64-derived constants
      // embedded below as literals. The A*h product is split 32/32 to
      // stay inside HUGEINT (a full 64x64 product can exceed 2^127).
      // Identical-signature groups emit (min-id rep, member) stars at est
      // 1.0; representatives pair up when ANY of the four 16-wide
      // signature slices is equal (band membership == slice equality —
      // the engine's xxhash64 band keys are injective on this clamp) and
      // the position-agreement estimate clears the 0.95 threshold.
      val two64 = BigInt(1) << 64
      val two63 = BigInt(1) << 63
      val fnvSeed = BigInt("cbf29ce484222325", 16)
      def u(l: Long) = java.lang.Long.toUnsignedString(l)
      val aList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 1) | 1L)}' AS HUGEINT)")
        .mkString("[", ", ", "]")
      val bList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 2))}' AS HUGEINT)")
        .mkString("[", ", ", "]")
      val T64 = s"CAST('$two64' AS HUGEINT)"
      val T63 = s"CAST('$two63' AS HUGEINT)"
      s"WITH d AS (SELECT doc_id, '$NgramBase' || ' tag' || CAST(doc_id % 10 AS VARCHAR) || " +
        "' sect' || CAST(doc_id % 5 AS VARCHAR) || ' end' AS lt FROM documents WHERE doc_id < 40), " +
        "sh AS (SELECT doc_id, substr(lt, i, 5) AS g FROM d, unnest(range(1, length(lt) - 3)) AS un(i)), " +
        s"hh AS (SELECT doc_id, list_reduce(list_prepend(CAST('$fnvSeed' AS HUGEINT), " +
        "list_transform(range(1, 6), j -> CAST(unicode(substr(g, j, 1)) AS HUGEINT))), " +
        "(h, c) -> ((xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) + (h - h % 65536)) * 1099511628211) " +
        s"% $T64) AS h FROM sh), " +
        s"ab AS (SELECT k, la[k + 1] AS a, lb[k + 1] AS b FROM (SELECT $aList AS la, $bList AS lb), " +
        "unnest(range(0, 64)) AS t(k)), " +
        s"sv AS (SELECT doc_id, k, MIN(CAST(CASE WHEN v >= $T63 THEN v - $T64 ELSE v END AS BIGINT)) AS sv FROM " +
        "(SELECT hh.doc_id, ab.k, ((ab.a * (hh.h % 4294967296) + " +
        s"((ab.a * (hh.h // 4294967296)) % 4294967296) * 4294967296) % $T64 + ab.b) % $T64 AS v " +
        "FROM hh CROSS JOIN ab) GROUP BY doc_id, k), " +
        "sg AS (SELECT doc_id, list(sv ORDER BY k) AS sig FROM sv GROUP BY doc_id), " +
        "reps AS (SELECT sig, MIN(doc_id) AS rep FROM sg GROUP BY sig), " +
        "stars AS (SELECT r.rep AS id_a, s.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard_est " +
        "FROM sg s JOIN reps r ON s.sig = r.sig WHERE s.doc_id <> r.rep), " +
        "pairs AS (SELECT a.rep AS id_a, b.rep AS id_b, a.sig AS sa, b.sig AS sb " +
        "FROM reps a JOIN reps b ON a.rep < b.rep), " +
        "scored AS (SELECT id_a, id_b, " +
        "CAST(list_sum(list_transform(range(0, 64), i -> CASE WHEN sa[i + 1] = sb[i + 1] THEN 1 ELSE 0 END)) AS DOUBLE) / 64.0 AS jaccard_est, " +
        "list_max(list_transform(range(0, 4), bb -> list_min(list_transform(range(0, 16), " +
        "r -> CASE WHEN sa[bb * 16 + r + 1] = sb[bb * 16 + r + 1] THEN 1 ELSE 0 END)))) AS anyband FROM pairs) " +
        "SELECT id_a, id_b, jaccard_est FROM (SELECT id_a, id_b, jaccard_est FROM stars " +
        "UNION ALL SELECT id_a, id_b, jaccard_est FROM scored WHERE anyband = 1 AND jaccard_est >= 0.95) " +
        "ORDER BY id_a, id_b"
    },
    "q_minhash_oracle" -> {
      // Exact integer mirror of the full guarded WORD-token LSH path
      // (Kernels.minhashSig + Dedup.nearDupsBySignature) on the crafted
      // doc_id<40 clamp: FNV-1a per whitespace token in HUGEINT mod 2^64
      // (the q_dedup_incremental machinery), signed MIN over tokens of
      // (A_k*h + B_k) mod 2^64 per hash slot (32/32-split product),
      // identical-signature groups emit (min-id rep, member) stars at
      // est 1.0, and representatives pair up when ANY of the eight
      // 8-wide signature slices is equal (band membership == slice
      // equality — the engine's xxhash64 band keys are injective on this
      // clamp; no band bucket reaches maxBucket, so sub-splits are all 0)
      // with position-agreement >= 0.9.
      val two64 = BigInt(1) << 64
      val two63 = BigInt(1) << 63
      val fnvSeed = BigInt("cbf29ce484222325", 16)
      def u(l: Long) = java.lang.Long.toUnsignedString(l)
      val aList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 1) | 1L)}' AS HUGEINT)")
        .mkString("[", ", ", "]")
      val bList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 2))}' AS HUGEINT)")
        .mkString("[", ", ", "]")
      val blocks = MinhashSectBlocks.map(b => s"'$b'").mkString("[", ", ", "]")
      val T64 = s"CAST('$two64' AS HUGEINT)"
      val T63 = s"CAST('$two63' AS HUGEINT)"
      s"WITH d AS (SELECT doc_id, '$NgramBase' || ' tag' || CAST(doc_id % 10 AS VARCHAR) || " +
        s"' ' || ($blocks)[CAST(doc_id % 5 AS INT) + 1] || ' end' AS lt FROM documents WHERE doc_id < 40), " +
        "th AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lt, '\\s+'), x -> length(x) > 0)) AS tok FROM d), " +
        s"hh AS (SELECT doc_id, list_reduce(list_prepend(CAST('$fnvSeed' AS HUGEINT), " +
        "list_transform(range(1, length(tok)+1), j -> CAST(unicode(substr(tok, j, 1)) AS HUGEINT))), " +
        "(h, c) -> ((xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) + (h - h % 65536)) * 1099511628211) " +
        s"% $T64) AS h FROM th), " +
        s"ab AS (SELECT k, la[k + 1] AS a, lb[k + 1] AS b FROM (SELECT $aList AS la, $bList AS lb), " +
        "unnest(range(0, 64)) AS t(k)), " +
        s"sv AS (SELECT doc_id, k, MIN(CAST(CASE WHEN v >= $T63 THEN v - $T64 ELSE v END AS BIGINT)) AS sv FROM " +
        "(SELECT hh.doc_id, ab.k, ((ab.a * (hh.h % 4294967296) + " +
        s"((ab.a * (hh.h // 4294967296)) % 4294967296) * 4294967296) % $T64 + ab.b) % $T64 AS v " +
        "FROM hh CROSS JOIN ab) GROUP BY doc_id, k), " +
        "sg AS (SELECT doc_id, list(sv ORDER BY k) AS sig FROM sv GROUP BY doc_id), " +
        "reps AS (SELECT sig, MIN(doc_id) AS rep FROM sg GROUP BY sig), " +
        "stars AS (SELECT r.rep AS id_a, s.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard_est " +
        "FROM sg s JOIN reps r ON s.sig = r.sig WHERE s.doc_id <> r.rep), " +
        "pairs AS (SELECT a.rep AS id_a, b.rep AS id_b, a.sig AS sa, b.sig AS sb " +
        "FROM reps a JOIN reps b ON a.rep < b.rep), " +
        "scored AS (SELECT id_a, id_b, " +
        "CAST(list_sum(list_transform(range(0, 64), i -> CASE WHEN sa[i + 1] = sb[i + 1] THEN 1 ELSE 0 END)) AS DOUBLE) / 64.0 AS jaccard_est, " +
        "list_max(list_transform(range(0, 8), bb -> list_min(list_transform(range(0, 8), " +
        "r -> CASE WHEN sa[bb * 8 + r + 1] = sb[bb * 8 + r + 1] THEN 1 ELSE 0 END)))) AS anyband FROM pairs) " +
        "SELECT id_a, id_b, jaccard_est FROM (SELECT id_a, id_b, jaccard_est FROM stars " +
        "UNION ALL SELECT id_a, id_b, jaccard_est FROM scored WHERE anyband = 1 AND jaccard_est >= 0.9) " +
        "ORDER BY id_a, id_b"
    },
    "q_lsh_recall" -> {
      // truth = all-pairs exact word-set Jaccard ≥ 0.9 on the clamp
      // (RAW case-sensitive tokens — since r16 the audit passes
      // foldCase=false so truth measures the SAME similarity minhashSig
      // hashes; the prefix filter is lossless so all-pairs IS its
      // output); cand = the full guarded LSH path in HUGEINT:
      // identical-sig groups expanded to FULL CLIQUES (the r16
      // star-collapse recall fix) + 8-wide slice-equality band pairs at
      // estimate ≥ 0.9, DISTINCT. One row of counts + floor-rounded
      // ratios, null on zero denominators.
      val two64 = BigInt(1) << 64
      val two63 = BigInt(1) << 63
      val fnvSeed = BigInt("cbf29ce484222325", 16)
      def u(l: Long) = java.lang.Long.toUnsignedString(l)
      val aList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 1) | 1L)}' AS HUGEINT)")
        .mkString("[", ", ", "]")
      val bList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 2))}' AS HUGEINT)")
        .mkString("[", ", ", "]")
      val T64 = s"CAST('$two64' AS HUGEINT)"
      val T63 = s"CAST('$two63' AS HUGEINT)"
      "WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 120 AND text IS NOT NULL " +
        "AND octet_length(encode(text)) = length(text) AND length(trim(text)) > 0), " +
        "sx AS (SELECT doc_id, list_distinct(list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0)) AS tok " +
        "FROM d), sxn AS (SELECT * FROM sx WHERE len(tok) > 0), " +
        "truth AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2 FROM sxn a, sxn b WHERE a.doc_id < b.doc_id AND " +
        "CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) / len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9), " +
        s"th AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0)) AS tk FROM d), " +
        s"hh AS (SELECT doc_id, list_reduce(list_prepend(CAST('$fnvSeed' AS HUGEINT), " +
        "list_transform(range(1, length(tk)+1), j -> CAST(unicode(substr(tk, j, 1)) AS HUGEINT))), " +
        "(h, c) -> ((xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) + (h - h % 65536)) * 1099511628211) " +
        s"% $T64) AS h FROM th), " +
        s"ab AS (SELECT k, la[k + 1] AS a, lb[k + 1] AS b FROM (SELECT $aList AS la, $bList AS lb), " +
        "unnest(range(0, 64)) AS t(k)), " +
        s"sv AS (SELECT doc_id, k, MIN(CAST(CASE WHEN v >= $T63 THEN v - $T64 ELSE v END AS BIGINT)) AS sv FROM " +
        "(SELECT hh.doc_id, ab.k, ((ab.a * (hh.h % 4294967296) + " +
        s"((ab.a * (hh.h // 4294967296)) % 4294967296) * 4294967296) % $T64 + ab.b) % $T64 AS v " +
        "FROM hh CROSS JOIN ab) GROUP BY doc_id, k), " +
        "sg AS (SELECT doc_id, list(sv ORDER BY k) AS sig FROM sv GROUP BY doc_id), " +
        "reps AS (SELECT sig, MIN(doc_id) AS rep FROM sg GROUP BY sig), " +
        "cliq AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sg a JOIN sg b ON a.sig = b.sig AND a.doc_id < b.doc_id), " +
        "pairs AS (SELECT a.rep AS id_a, b.rep AS id_b, a.sig AS sa, b.sig AS sb FROM reps a JOIN reps b ON a.rep < b.rep), " +
        "scored AS (SELECT id_a, id_b, " +
        "CAST(list_sum(list_transform(range(0, 64), i -> CASE WHEN sa[i + 1] = sb[i + 1] THEN 1 ELSE 0 END)) AS DOUBLE) / 64.0 AS je, " +
        "list_max(list_transform(range(0, 8), bb -> list_min(list_transform(range(0, 8), " +
        "r -> CASE WHEN sa[bb * 8 + r + 1] = sb[bb * 8 + r + 1] THEN 1 ELSE 0 END)))) AS anyband FROM pairs), " +
        "cand AS (SELECT DISTINCT id_a, id_b FROM (SELECT id_a, id_b FROM cliq UNION ALL SELECT id_a, id_b FROM scored WHERE anyband = 1 AND je >= 0.9)), " +
        "hits AS (SELECT c.id_a, c.id_b FROM cand c JOIN truth t ON c.id_a = t.id_1 AND c.id_b = t.id_2), " +
        "n AS (SELECT (SELECT COUNT(*) FROM d) AS n_docs, (SELECT COUNT(*) FROM truth) AS n_true, " +
        "(SELECT COUNT(*) FROM cand) AS n_cand, (SELECT COUNT(*) FROM hits) AS n_hits) " +
        "SELECT n_docs, n_true, n_cand, n_hits, " +
        "CASE WHEN n_true > 0 THEN floor(CAST(n_hits AS DOUBLE) / n_true * 1e9 + 0.5) / 1e9 END AS recall, " +
        "CASE WHEN n_cand > 0 THEN floor(CAST(n_hits AS DOUBLE) / n_cand * 1e9 + 0.5) / 1e9 END AS \"precision\" " +
        "FROM n"
    },
    "q_dedup_incremental" -> DedupIncrementalMirrorSql,
    // the streaming form drains the SAME 50-doc batch through ONE
    // AvailableNow micro-batch against the SAME index — by the
    // sequential-replay contract its result is the batch twin's, so the
    // mirror is shared verbatim (StreamingNearDupSpec pins the
    // multi-batch replay equivalence the single-batch oracle can't see)
    "q_stream_neardup" -> DedupIncrementalMirrorSql,
    "q_stream_neardup_multi" -> StreamNearDupMultiMirrorSql,
    "q_asof" ->
      // DuckDB's native ASOF LEFT JOIN is the reference semantics the
      // union-window encoding must reproduce
      ("WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, max(value) AS pv FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) " +
        "SELECT c.event_id, p.pv FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.t >= p.t ORDER BY c.event_id"),
    "q_asof_tolerance" ->
      // no ASOF-with-tolerance in SQL — the correlated latest-fresh-row
      // subquery is the defining form
      ("WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, max(value) AS pv FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) " +
        "SELECT c.event_id, (SELECT p.pv FROM p WHERE p.user_id = c.user_id AND p.t <= c.t " +
        "AND c.t - p.t <= INTERVAL 2 HOUR ORDER BY p.t DESC LIMIT 1) AS pv " +
        "FROM c ORDER BY c.event_id"),
    "q_asof_nearest" ->
      // exact-microsecond distances; at equal distance p.t ASC picks the
      // earlier (= backward) row, matching the engine's tie rule
      ("WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, max(value) AS pv FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) " +
        "SELECT c.event_id, (SELECT p.pv FROM p WHERE p.user_id = c.user_id " +
        "AND c.t IS NOT NULL AND p.t IS NOT NULL " +
        "ORDER BY abs(epoch_us(c.t) - epoch_us(p.t)), p.t ASC LIMIT 1) AS pv " +
        "FROM c ORDER BY c.event_id"),
    "q_funnel" ->
      // iterated earliest-next-step CTEs — the SQL spelling of greedy
      // funnel matching; every step ≥2 bounded by t_1 + 7 days
      ("WITH s1 AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_1 FROM events " +
        "WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_2 FROM events e JOIN s1 ON e.user_id = s1.user_id " +
        "WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s1.t_1 AND CAST(e.ts AS TIMESTAMP) <= s1.t_1 + INTERVAL 7 DAY GROUP BY 1), " +
        "s3 AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_3 FROM events e JOIN s2 ON e.user_id = s2.user_id JOIN s1 ON e.user_id = s1.user_id " +
        "WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t_2 AND CAST(e.ts AS TIMESTAMP) <= s1.t_1 + INTERVAL 7 DAY GROUP BY 1) " +
        "SELECT s1.user_id, CAST(CASE WHEN s3.t_3 IS NOT NULL THEN 3 WHEN s2.t_2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS step_reached, " +
        "s1.t_1, s2.t_2, s3.t_3 FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id LEFT JOIN s3 ON s1.user_id = s3.user_id " +
        "ORDER BY s1.user_id"),
    "q_funnel_counts" ->
      ("WITH s1 AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_1 FROM events " +
        "WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_2 FROM events e JOIN s1 ON e.user_id = s1.user_id " +
        "WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s1.t_1 GROUP BY 1), " +
        "s3 AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_3 FROM events e JOIN s2 ON e.user_id = s2.user_id " +
        "WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t_2 GROUP BY 1) " +
        "SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_type, CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_keys " +
        "UNION ALL SELECT CAST(2 AS INTEGER), 'click', CAST((SELECT count(*) FROM s2) AS BIGINT) " +
        "UNION ALL SELECT CAST(3 AS INTEGER), 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT) ORDER BY step"),
    "q_rolling" ->
      // identical 2^-20 grid snap; ROWS frame of 4 and a 1-day RANGE frame
      // over the truncated epoch second — every aggregate exact on the grid
      ("WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t, floor(value * 1048576.0 + 0.5) / 1048576.0 AS v " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL) " +
        "SELECT event_id, lag(v) OVER (PARTITION BY user_id ORDER BY t, event_id) AS lag_1, " +
        "round(v - lag(v) OVER (PARTITION BY user_id ORDER BY t, event_id), 6) AS delta, " +
        "round(avg(v) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS roll_avg, " +
        "min(v) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS roll_min, " +
        "max(v) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS roll_max, " +
        "CAST(count(*) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(t)) AS BIGINT) " +
        "RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_range " +
        "FROM e ORDER BY event_id"),
    "q_ewma" ->
      // closed-form prefix spelling: y_t = β^rn · Σ_{i≤t} z_i·β^(−rn_i)
      // with z_0 = x_0, z_i = α·x_i — exponents ≤ the per-user row count,
      // safe at oracle scale; the engine's blocked scan must agree to 6dp
      ("WITH e AS (SELECT event_id, user_id, value, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL), " +
        "s AS (SELECT event_id, user_id, rn, power(0.9, -rn) * (CASE WHEN rn = 0 THEN value ELSE 0.1 * value END) AS zb FROM e), " +
        "p AS (SELECT event_id, user_id, rn, sum(zb) OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING) AS pref FROM s) " +
        "SELECT event_id, round(power(0.9, rn) * pref, 6) AS ewma FROM p ORDER BY event_id"),
    "q_binary_sniff" ->
      // closed-form expected formats from the id pattern; byte length =
      // magic length + utf8 octet length of the text
      ("SELECT doc_id, CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' " +
        "WHEN 2 THEN 'gif' WHEN 3 THEN 'wav' ELSE 'unknown' END AS format, " +
        "CAST(CASE doc_id % 5 WHEN 0 THEN 8 WHEN 1 THEN 8 WHEN 2 THEN 6 " +
        "WHEN 3 THEN 12 ELSE 2 END + octet_length(encode(text)) AS BIGINT) AS n_bytes " +
        "FROM documents WHERE text IS NOT NULL ORDER BY doc_id"),
    "q_image_dims" ->
      // the parsed fields in closed form from the id; junk rows null
      ("SELECT doc_id, " +
        "CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'bmp' END AS format, " +
        "CASE WHEN doc_id % 4 <= 2 THEN CAST(doc_id % 300 + 1 AS BIGINT) END AS width, " +
        "CASE WHEN doc_id % 4 <= 2 THEN CAST(doc_id % 200 + 1 AS BIGINT) END AS height " +
        "FROM documents ORDER BY doc_id"),
    "q_image_dhash" ->
      // hand-derived from the generating formulas (see the query's
      // comment): A bit i=y*8+x ⇔ (37(x+1)+11y)%256 > (37x+11y)%256;
      // B ⇔ 255−(53(x+1)+29y)%256 > 255−(53x+29y)%256; bits little-
      // endian into a signed 64-bit. Undecodable payload → NULL.
      ("SELECT * FROM (VALUES " +
        "(CAST(0 AS BIGINT), CAST(-1161964026750582849 AS BIGINT)), " +
        "(CAST(1 AS BIGINT), CAST(2396553285575643152 AS BIGINT)), " +
        "(CAST(2 AS BIGINT), CAST(NULL AS BIGINT))) AS t(img_id, dhash) " +
        "ORDER BY img_id"),
    "q_audio_features" ->
      // closed-form expectations (see the query's comment): every value
      // is an exactly-representable float, so literals suffice
      ("SELECT * FROM (VALUES " +
        "(CAST(0 AS BIGINT), CAST(0.5 AS FLOAT), CAST(0.1875 AS FLOAT), CAST(0.5 AS FLOAT), CAST(0.1875 AS FLOAT)), " +
        "(CAST(1 AS BIGINT), CAST(0.5 AS FLOAT), CAST(0.0 AS FLOAT), CAST(0.5 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "(CAST(2 AS BIGINT), CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "(CAST(3 AS BIGINT), CAST(NULL AS FLOAT), CAST(NULL AS FLOAT), CAST(NULL AS FLOAT), CAST(NULL AS FLOAT))" +
        ") AS t(clip_id, rms_1, zcr_1, rms_2, zcr_2) ORDER BY clip_id"),
    "q_rollup" ->
      ("SELECT o_orderpriority, o_orderstatus, count(*) AS n, " +
        "CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid " +
        "FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus) " +
        "ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST"),
    "q_jsonl_roundtrip" ->
      // the planted malformed shard quarantines; bigint/string fields
      // roundtrip JSON exactly, so valid == the parquet original
      ("SELECT event_id, user_id, event_type FROM events " +
        "ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, event_type NULLS FIRST"),
    "q_csv_roundtrip" ->
      // bigint/string fields roundtrip headerless CSV exactly; the
      // planted type-malformed shard quarantines wholesale
      ("SELECT event_id, user_id, event_type FROM events " +
        "ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, event_type NULLS FIRST"),
    "q_orc_roundtrip" ->
      // all four field types roundtrip ORC exactly; Optional fills null
      // event_type with the default
      ("SELECT event_id, user_id, coalesce(event_type, 'unknown') AS event_type, value " +
        "FROM events ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, " +
        "event_type NULLS FIRST, value NULLS FIRST"),
    "q_avro_roundtrip" ->
      // same contract as the ORC mirror: all four field types roundtrip
      // exactly; Optional fills null event_type with the default
      ("SELECT event_id, user_id, coalesce(event_type, 'unknown') AS event_type, value " +
        "FROM events ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, " +
        "event_type NULLS FIRST, value NULLS FIRST"),
    "q_xml_roundtrip" ->
      // the text roundtrip is exact: longs render losslessly, doubles via
      // shortest-exact decimal, absent elements read back as null
      ("SELECT event_id, user_id, coalesce(event_type, 'unknown') AS event_type, value " +
        "FROM events ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, " +
        "event_type NULLS FIRST, value NULLS FIRST"),
    "q_schema_evolution" ->
      // gen-1 rows resurface with nulls in the added columns; gen-2 rows
      // carry their values — the union, under one total order
      ("SELECT event_id, user_id, CAST(NULL AS VARCHAR) AS event_type, " +
        "CAST(NULL AS DOUBLE) AS value FROM events " +
        "UNION ALL SELECT event_id, user_id, event_type, value FROM events " +
        "ORDER BY event_id NULLS FIRST, user_id NULLS FIRST, " +
        "event_type NULLS FIRST, value NULLS FIRST"),
    "q_benford" -> {
      // per-digit mirror with the expected-frequency literals taken from
      // the SAME Integrity.benfordExpected map
      val expCase = (1 to 9).map(d =>
        s"WHEN $d THEN ${graft.ops.Integrity.benfordExpected(d)}")
        .mkString("CASE digit ", " ", " END")
      ("WITH digits AS (SELECT CAST(substr(CAST(CAST(floor(abs(o_totalprice)*1e6 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit " +
        "FROM orders WHERE o_totalprice IS NOT NULL " +
        "AND CAST(floor(abs(o_totalprice)*1e6 + 0.5) AS BIGINT) > 0), " +
        "c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit), " +
        "a AS (SELECT g.digit, coalesce(c.n, 0) AS n FROM (SELECT CAST(unnest(generate_series(1, 9)) AS INTEGER) AS digit) g LEFT JOIN c USING (digit)), " +
        "f AS (SELECT digit, n, " +
        "CASE WHEN SUM(n) OVER () = 0 THEN 0.0 ELSE floor(CAST(n AS DOUBLE) / SUM(n) OVER () * 1e6 + 0.5) / 1e6 END AS freq, " +
        s"$expCase AS expected FROM a) " +
        "SELECT digit, n, freq, expected, " +
        "floor(AVG(abs(freq - expected)) OVER () * 1e6 + 0.5) / 1e6 AS mad " +
        "FROM f ORDER BY digit")
    },
    "q_lineage" ->
      // fixture closed form (verified at every SF): file order == doc_id
      // order and one constant basename
      ("SELECT doc_id, 'documents.parquet' AS _source_file, " +
        "doc_id AS _source_row FROM documents ORDER BY doc_id"),
    "q_temporal_split" ->
      ("SELECT event_id, CASE WHEN ts IS NULL THEN NULL " +
        "WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train' " +
        "WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 'test' " +
        "ELSE 'embargo' END AS split FROM events " +
        "ORDER BY event_id NULLS FIRST, split NULLS FIRST"),
    "q_fk_orphans" ->
      ("SELECT l_orderkey, l_linenumber FROM (" +
        "SELECT CASE WHEN l_orderkey % 97 = 0 THEN l_orderkey + 1000000000 " +
        "ELSE l_orderkey END AS l_orderkey, l_linenumber FROM lineitem) c " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = c.l_orderkey) " +
        "ORDER BY l_orderkey, l_linenumber"),
    "q_manifest_verify" -> {
      // both manifests regrow from the same generated Horner chain as
      // q_manifest; the tamper pattern mirrors the Spark side exactly
      val horner = (1 to 15).map(i =>
          s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1)")
        .reduceLeft((acc, h) => s"($acc * 16 + $h)")
      def man(alias: String, src: String) =
        s"$alias AS (SELECT shard, COUNT(*) AS n, " +
          s"CAST(SUM(CAST($horner AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS c FROM " +
          s"(SELECT shard, md5(concat_ws('|', CAST(doc_id AS VARCHAR), lang, CAST(n_chars AS VARCHAR))) AS m FROM $src) GROUP BY shard)"
      ("WITH r AS (SELECT doc_id % 13 AS shard, doc_id, lang, n_chars FROM documents), " +
        "tamp AS (SELECT shard, doc_id, lang, " +
        "CASE WHEN doc_id = 5 THEN n_chars + 1 ELSE n_chars END AS n_chars " +
        "FROM r WHERE shard <> 7 AND doc_id <> 3 " +
        "UNION ALL SELECT 99 AS shard, doc_id, lang, n_chars FROM r WHERE doc_id = 1), " +
        man("want", "r") + ", " + man("got", "tamp") + ", " +
        "j AS (SELECT coalesce(want.shard, got.shard) AS shard, " +
        "want.n AS want_rows, got.n AS got_rows, want.c AS want_checksum, got.c AS got_checksum, " +
        "CASE WHEN got.n IS NULL THEN 'missing' WHEN want.n IS NULL THEN 'unexpected' " +
        "WHEN got.n <> want.n THEN 'count_mismatch' " +
        "WHEN got.c <> want.c THEN 'checksum_mismatch' END AS status " +
        "FROM want FULL OUTER JOIN got ON want.shard = got.shard) " +
        "SELECT shard, status, want_rows, got_rows, want_checksum, got_checksum " +
        "FROM j WHERE status IS NOT NULL ORDER BY shard")
    },
    "q_quantile_buckets" ->
      ("WITH b AS (SELECT floor(quantile_cont(n_chars, 0.25) * 1e6 + 0.5) / 1e6 AS b1, " +
        "floor(quantile_cont(n_chars, 0.5) * 1e6 + 0.5) / 1e6 AS b2, " +
        "floor(quantile_cont(n_chars, 0.75) * 1e6 + 0.5) / 1e6 AS b3 FROM documents) " +
        "SELECT doc_id, CAST(CASE WHEN n_chars IS NULL THEN NULL ELSE " +
        "(CASE WHEN n_chars > b1 THEN 1 ELSE 0 END + CASE WHEN n_chars > b2 THEN 1 ELSE 0 END + " +
        "CASE WHEN n_chars > b3 THEN 1 ELSE 0 END) END AS INTEGER) AS bucket " +
        "FROM documents, b ORDER BY doc_id"),
    "q_global_rank" ->
      // the oracle IS the single-window form the operator avoids; equal
      // by construction because (o_totalprice, o_orderkey) totally orders
      ("SELECT o_orderkey, CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn " +
        "FROM orders ORDER BY rn"),
    "q_coverage_cut" ->
      // decimal mass end-to-end (addition-order-free), one double cast at
      // the edge; explicit ROWS frame (RANGE would merge ties)
      ("WITH kw AS (SELECT l_partkey, CAST(COUNT(*) AS DECIMAL(38,6)) AS w " +
        "FROM lineitem GROUP BY 1), " +
        "t AS (SELECT SUM(w) AS tot FROM kw), " +
        "c AS (SELECT l_partkey, w, SUM(w) OVER (ORDER BY w DESC, l_partkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM kw) " +
        "SELECT l_partkey, CAST(w AS DOUBLE) AS weight, CAST(cum AS DOUBLE) AS cum_weight " +
        "FROM c, t WHERE CAST(cum - w AS DOUBLE) < 0.6 * CAST(tot AS DOUBLE) " +
        "ORDER BY l_partkey"),
    "q_select_budget" ->
      // same walk as the operator: (n_chars DESC, doc_id) order, decimal
      // token mass, crossing row kept; explicit ROWS frame
      ("WITH d AS (SELECT doc_id, n_chars, CAST(len(list_filter(" +
        "regexp_split_to_array(text, '\\s+'), t -> length(t) > 0)) AS DECIMAL(38,6)) AS c " +
        "FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL AND n_chars IS NOT NULL), " +
        "w AS (SELECT doc_id, n_chars, c, SUM(c) OVER (ORDER BY n_chars DESC, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d) " +
        "SELECT doc_id, CAST(c AS BIGINT) AS toks, CAST(cum AS DOUBLE) AS cum_cost " +
        "FROM w WHERE CAST(cum - c AS DOUBLE) < 5000.0 ORDER BY doc_id"),
    "q_transitions" ->
      ("WITH o AS (SELECT user_id, event_type, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL) " +
        "SELECT prev AS from_event, event_type AS to_event, COUNT(*) AS n " +
        "FROM o WHERE prev IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2"),
    "q_retention" ->
      ("WITH um AS (SELECT DISTINCT user_id AS u, CAST(year(ts) * 12 + month(ts) AS INTEGER) AS m " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "c AS (SELECT u, MIN(m) AS cm FROM um GROUP BY 1) " +
        "SELECT cm AS cohort_month, m - cm AS offset_m, COUNT(*) AS n_users " +
        "FROM um JOIN c USING (u) GROUP BY 1, 2 ORDER BY 1, 2"),
    "q_corr_matrix" -> {
      // per-pair exact decimal moments then the IDENTICAL fixed double
      // arithmetic (num/den order, sqrt, 1e-9 floor) as the operator
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val selects = for { i <- cs.indices; j <- i until cs.size } yield {
        val (cx, cy) = (cs(i), cs(j))
        // LISTWISE deletion to mirror correlationMatrixComplete: every
        // pair conditions on the same all-columns-non-null row set
        val both = cs.map(c => s"$c IS NOT NULL").mkString(" AND ")
        def D(e: String) = s"CAST($e AS DOUBLE)"
        val num = s"(${D("n")} * ${D("sxy")} - ${D("sx")} * ${D("sy")})"
        val denx = s"(${D("n")} * ${D("sxx")} - ${D("sx")} * ${D("sx")})"
        val deny = s"(${D("n")} * ${D("syy")} - ${D("sy")} * ${D("sy")})"
        s"SELECT '$cx' AS col_x, '$cy' AS col_y, CAST(coalesce(n, 0) AS BIGINT) AS n, " +
          s"CASE WHEN coalesce(${D("n")}, 0) >= 2 AND $denx > 0 AND $deny > 0 " +
          s"THEN floor($num / sqrt($denx * $deny) * 1e9 + 0.5) / 1e9 END AS corr " +
          // left operand DECIMAL(19,6): forces DuckDB's INT128 multiply
          // (int64-width decimal products overflow on this data); the
          // VALUES are identical to the operator's (18,6) grid
          s"FROM (SELECT SUM(CASE WHEN $both THEN 1 END) AS n, " +
          s"SUM(CASE WHEN $both THEN CAST($cx AS DECIMAL(18,6)) END) AS sx, " +
          s"SUM(CASE WHEN $both THEN CAST($cy AS DECIMAL(18,6)) END) AS sy, " +
          s"SUM(CASE WHEN $both THEN CAST($cx AS DECIMAL(19,6)) * CAST($cy AS DECIMAL(12,6)) END) AS sxy, " +
          s"SUM(CASE WHEN $both THEN CAST($cx AS DECIMAL(19,6)) * CAST($cx AS DECIMAL(12,6)) END) AS sxx, " +
          s"SUM(CASE WHEN $both THEN CAST($cy AS DECIMAL(19,6)) * CAST($cy AS DECIMAL(12,6)) END) AS syy " +
          "FROM lineitem)"
      }
      selects.mkString("SELECT col_x, col_y, n, corr FROM (",
        " UNION ALL ", ") ORDER BY col_x, col_y")
    },
    "q_gini" ->
      // identical decomposition: ascending (mass, key) ranks, exact decimal
      // rank-weighted sums, the identical fixed double closed form
      ("WITH m AS (SELECT o_custkey AS k, COUNT(*) AS mm FROM orders GROUP BY 1), " +
        "r AS (SELECT mm, ROW_NUMBER() OVER (ORDER BY mm, k) AS rk FROM m), " +
        "a AS (SELECT COUNT(*) AS n, SUM(CAST(mm AS DECIMAL(19,0))) AS s0, " +
        "SUM(CAST(rk AS DECIMAL(19,0)) * CAST(mm AS DECIMAL(19,0))) AS s1 FROM r) " +
        "SELECT CAST(n AS BIGINT) AS n_keys, CAST(s0 AS BIGINT) AS total, " +
        "CASE WHEN n >= 1 AND s0 > 0 THEN " +
        "floor((2.0 * CAST(s1 AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(s0 AS DOUBLE)) " +
        "/ (CAST(n AS DOUBLE) * CAST(s0 AS DOUBLE)) * 1e9 + 0.5) / 1e9 END AS gini FROM a"),
    "q_wap_publish" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 500 ORDER BY doc_id",
    "q_rollup_refresh" ->
      // recompute over the q_cdc_apply survivor set in closed form;
      // decimal sum, one double cast at the edge
      rollupRefreshOracleSql,
    "q_stream_rollup" ->
      // the streaming foreachBatch maintenance lands on the SAME final
      // rollup — one oracle, batch and streaming plans
      rollupRefreshOracleSql,
    "q_release_e2e" -> {
      // the four proven mirrors chained: token gate, decimal budget walk,
      // md5 shard hash, Horner 60-bit parse + mod-prime checksum
      val horner = (1 to 15).map(i =>
          s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1)")
        .reduceLeft((acc, h) => s"($acc * 16 + $h)")
      ("WITH d AS (SELECT doc_id, lang, n_chars, CAST(len(list_filter(" +
        "regexp_split_to_array(text, '\\s+'), t -> length(t) > 0)) AS DECIMAL(38,6)) AS c " +
        "FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL AND n_chars IS NOT NULL), " +
        "g AS (SELECT * FROM d WHERE CAST(c AS BIGINT) >= 30), " +
        "w AS (SELECT doc_id, lang, n_chars, c, SUM(c) OVER (ORDER BY n_chars DESC, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM g), " +
        "sel AS (SELECT doc_id, lang, n_chars FROM w WHERE CAST(cum - c AS DOUBLE) < 20000.0), " +
        "sh AS (SELECT doc_id, lang, n_chars, " +
        "CAST(('0x' || substr(md5('graftshard:' || doc_id), 1, 8))::UBIGINT % 8 AS INTEGER) AS shard FROM sel), " +
        "r AS (SELECT shard, md5(concat_ws('|', CAST(doc_id AS VARCHAR), lang, CAST(n_chars AS VARCHAR))) AS m FROM sh), " +
        s"v AS (SELECT shard, CAST($horner AS HUGEINT) AS v FROM r) " +
        "SELECT shard, COUNT(*) AS n_rows, CAST(SUM(v) % 2305843009213693951 AS BIGINT) AS checksum " +
        "FROM v GROUP BY shard ORDER BY shard")
    },
    "q_budget_per_lang" ->
      ("WITH d AS (SELECT lang, doc_id, n_chars, CAST(len(list_filter(" +
        "regexp_split_to_array(text, '\\s+'), t -> length(t) > 0)) AS DECIMAL(38,6)) AS c " +
        "FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL AND doc_id IS NOT NULL AND n_chars IS NOT NULL), " +
        "w AS (SELECT lang, doc_id, c, SUM(c) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d) " +
        "SELECT lang, doc_id, CAST(c AS BIGINT) AS toks, CAST(cum AS DOUBLE) AS cum_cost " +
        "FROM w WHERE CAST(cum - c AS DOUBLE) < 2000.0 ORDER BY lang, doc_id"),
    "q_jaccard_join" ->
      // exact all-pairs grid over the clamped id range; same tokenization
      // as q_dedup_clusters (lower, \s+ split, nonempty, set semantics)
      ("WITH s AS (SELECT doc_id, list_distinct(list_filter(" +
        "regexp_split_to_array(lower(text), '\\s+'), t -> length(t) > 0)) AS tok " +
        "FROM documents WHERE doc_id < 200 AND text IS NOT NULL), " +
        "s2 AS (SELECT * FROM s WHERE len(tok) > 0), " +
        "p AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, " +
        "CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(a.tok, b.tok))) AS j " +
        "FROM s2 a, s2 b WHERE a.doc_id < b.doc_id) " +
        "SELECT id_1, id_2, j FROM p WHERE j >= 0.8 ORDER BY id_1, id_2"),
    "q_skew_report" ->
      // BIGINT/BIGINT division is float division in both engines; the
      // 1e-6 floor pins the share, (cnt desc, k) pins the top-10 cut
      ("WITH c AS (SELECT CASE WHEN l_orderkey % 7 = 0 THEN 0 ELSE l_orderkey % 500 END AS k, " +
        "COUNT(*) AS cnt FROM lineitem GROUP BY 1), " +
        "t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM c) " +
        "SELECT k, cnt, floor(cnt / tot * 1e6) / 1e6 AS share " +
        "FROM c, t ORDER BY cnt DESC, k LIMIT 10"),
    "q_integrity" ->
      ("WITH c AS (SELECT CASE WHEN l_orderkey % 97 = 0 THEN NULL " +
        "ELSE l_orderkey END AS k FROM lineitem) " +
        "SELECT (SELECT count(*) FROM c) AS n_rows, " +
        "(SELECT count(DISTINCT k) FROM c) AS n_distinct_keys, " +
        "(SELECT count(*) FROM c WHERE k IS NULL) AS n_null_keys, " +
        "(SELECT count(*) FROM c WHERE k IS NOT NULL AND NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_orderkey = c.k)) AS n_orphans, " +
        "(SELECT count(*) FROM (SELECT k FROM c GROUP BY k HAVING count(*) > 1)) AS n_dup_keys"),
    "q_scd_history" ->
      // the interval table in closed form: seq-1 rows close at 2 exactly
      // when a seq-2 change exists; the %10==2 same-seq race resolves to
      // the delete, so no seq-2 row opens for it
      ("SELECT * FROM (" +
        "SELECT o_orderkey, o_totalprice, " +
        "CAST(1 AS BIGINT) AS valid_from, " +
        "CAST(CASE WHEN o_orderkey % 10 IN (1, 2) THEN 2 END AS BIGINT) AS valid_to, " +
        "o_orderkey % 10 NOT IN (1, 2) AS is_current " +
        "FROM orders WHERE o_orderkey % 10 <= 2 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_totalprice * 2, " +
        "CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true " +
        "FROM orders WHERE o_orderkey % 10 = 1) " +
        "ORDER BY o_orderkey, valid_from"),
    "q_interval_merge" ->
      // identical gaps-and-islands: running max end over strictly-preceding
      // rows, new island on start STRICTLY past it (touch merges), island
      // ordinal by cumulative flag; per-island roll-up
      ("WITH iv AS (SELECT user_id % 50 AS k, " +
        "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s, " +
        "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) + 300 + event_id % 7200 AS e " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL), " +
        "m AS (SELECT k, s, e, max(e) OVER (PARTITION BY k ORDER BY s, e " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv WHERE e >= s), " +
        "g AS (SELECT k, s, e, sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY k ORDER BY s, e ROWS UNBOUNDED PRECEDING) - 1 AS island FROM m) " +
        "SELECT k, CAST(island AS BIGINT) AS island, min(s) AS s, max(e) AS e, " +
        "count(*) AS n_merged FROM g GROUP BY k, island ORDER BY k, island"),
    "q_sessionize" ->
      // the q_session_window island form on FLOORED epoch seconds (the
      // engine's unix_timestamp gap base), keeping per-row session ids;
      // equal-second runs share a session whatever their internal order,
      // so the (sec, event_id) ordering here matches the engine's
      // (ts, event_id)
      ("WITH e AS (SELECT event_id, user_id, " +
        "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "m AS (SELECT user_id, event_id, sec, CASE WHEN lag(sec) OVER " +
        "(PARTITION BY user_id ORDER BY sec, event_id) IS NULL OR " +
        "sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800 " +
        "THEN 1 ELSE 0 END AS new_s FROM e), " +
        "s AS (SELECT user_id, sec, sum(new_s) OVER (PARTITION BY user_id " +
        "ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING) - 1 AS sid FROM m) " +
        "SELECT user_id, CAST(sid AS BIGINT) AS session_id, count(*) AS n_events, " +
        "min(sec) AS t_start, max(sec) AS t_end FROM s " +
        "GROUP BY user_id, sid ORDER BY user_id, session_id"),
    "q_tfidf" ->
      // identical term extraction, smooth idf ln((1+N)/(1+df))+1, identical
      // 1e-6 floor-rounding BEFORE ranking, term-asc tiebreak
      ("WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term " +
        "FROM documents WHERE text IS NOT NULL), " +
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2), " +
        "nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf), " +
        "dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), " +
        "sc AS (SELECT tf.doc_id, tf.term, tf.tf, " +
        "tf.tf * (ln((1.0 + n) / (1.0 + df)) + 1.0) AS raw " +
        "FROM tf JOIN dfreq USING (term) CROSS JOIN nn) " +
        "SELECT doc_id, term, tf, floor(raw * 1000000.0 + 0.5) / 1000000.0 AS tfidf, " +
        "CAST(row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY floor(raw * 1000000.0 + 0.5) / 1000000.0 DESC, term) AS INTEGER) AS rk " +
        "FROM sc QUALIFY rk <= 3 ORDER BY doc_id, rk"),
    "q_compaction_plan" ->
      // offset-bin: bin = (cumulative end offset − own size) div target,
      // rolled up per (group, bin)
      ("WITH inv AS (SELECT o_orderpriority AS grp, o_orderkey AS fname, " +
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS bytes FROM orders " +
        "WHERE o_orderpriority IS NOT NULL AND o_orderkey IS NOT NULL AND o_totalprice > 0), " +
        "o AS (SELECT grp, bytes, sum(bytes) OVER (PARTITION BY grp ORDER BY fname " +
        "ROWS UNBOUNDED PRECEDING) AS endoff FROM inv), " +
        "b AS (SELECT grp, bytes, CAST(floor((endoff - bytes) / 50000000.0) AS BIGINT) AS bin FROM o) " +
        "SELECT grp, bin, count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bytes " +
        "FROM b GROUP BY grp, bin ORDER BY grp, bin"),
    "q_zonemap" ->
      ("SELECT l_orderkey // 1000 AS zone, count(*) AS n_rows, " +
        "CAST(coalesce(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls, " +
        "min(l_extendedprice) AS vmin, max(l_extendedprice) AS vmax " +
        "FROM lineitem GROUP BY zone ORDER BY zone"),
    "q_anchor_profile" ->
      // aggregate the q_links closed-form rows: per-href totals, distinct
      // linking docs, anchor variety, most-frequent anchor (anchor-asc tie)
      ("WITH l AS (SELECT doc_id, 'https://ex.org/p' || CAST((doc_id*31+7)%500 AS VARCHAR) AS href, 'to page A' AS anchor FROM documents " +
        "UNION ALL SELECT doc_id, 'https://ex.org/p' || CAST((doc_id*31+13)%500 AS VARCHAR), 'B' FROM documents " +
        "UNION ALL SELECT doc_id, 'https://ex.org/p' || CAST((doc_id*31+29)%500 AS VARCHAR), 'C' FROM documents WHERE doc_id%3 = 0), " +
        "ba AS (SELECT href, anchor, count(*) AS cnt FROM l GROUP BY 1, 2), " +
        "t AS (SELECT href, anchor, cnt, sum(cnt) OVER (PARTITION BY href) AS n_links, " +
        "count(*) OVER (PARTITION BY href) AS n_anchors, " +
        "row_number() OVER (PARTITION BY href ORDER BY cnt DESC, anchor) AS rk FROM ba), " +
        "d AS (SELECT href, count(DISTINCT doc_id) AS n_docs FROM l GROUP BY 1) " +
        "SELECT t.href, CAST(n_links AS BIGINT) AS n_links, n_docs, n_anchors, " +
        "anchor AS top_anchor, cnt AS top_anchor_n " +
        "FROM t JOIN d ON t.href = d.href WHERE rk = 1 ORDER BY t.href"),
    "q_stream_keystats" ->
      // one microbatch → one emitted row per key with final counts; the
      // invalid predicate restates the synthesized null pattern; SUM cast
      // to BIGINT (DuckDB widens to HUGEINT otherwise — the r6 lesson)
      ("WITH v AS (SELECT CAST(user_id AS VARCHAR) AS key, " +
        "((event_id % 3 = 0 AND user_id % 5 = 0) OR event_id % 11 = 0) AS bad " +
        "FROM events) " +
        "SELECT key, COUNT(*) AS seen, " +
        "CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS invalid, " +
        "(COUNT(*) >= 10 AND SUM(CASE WHEN bad THEN 1 ELSE 0 END) * 1.0 / COUNT(*) >= 0.3) AS alert " +
        "FROM v GROUP BY key ORDER BY key"),
    "q_stream_join" ->
      // single-microbatch stream-stream inner join == the batch self-join
      ("SELECT v.event_id AS view_id, p.event_id AS purchase_id " +
        "FROM events v JOIN events p ON v.event_type = 'view' " +
        "AND p.event_type = 'purchase' AND v.user_id = p.user_id " +
        "AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR " +
        "ORDER BY view_id, purchase_id"),
    "q_dedup_weighted" ->
      ("SELECT min(doc_id) AS doc_id, count(*) AS n_dups, " +
        "CAST(CAST(sum(coalesce(n_chars, 0)) AS DECIMAL(18,1)) AS DOUBLE) AS weight " +
        "FROM documents WHERE text IS NOT NULL " +
        "GROUP BY md5(text) ORDER BY doc_id"),
    "q_impute_median" ->
      ("WITH v AS (SELECT event_id, event_type, " +
        "CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM events), " +
        "m AS (SELECT event_type AS g, floor(quantile_cont(v, 0.5) * 1e6 + 0.5) / 1e6 AS med " +
        "FROM v WHERE v IS NOT NULL GROUP BY 1) " +
        "SELECT event_id, coalesce(v, m.med) AS v_filled FROM v " +
        "LEFT JOIN m ON v.event_type IS NOT DISTINCT FROM m.g ORDER BY event_id"),
    "q_salted_join" ->
      // the salted plan must produce EXACTLY the plain join's rows
      ("SELECT event_id, n_name FROM events JOIN nation " +
        "ON user_id % 5 = n_nationkey ORDER BY event_id"),
    "q_cdc_apply" ->
      // the surviving snapshot in closed form: %10==0 deleted, %10==1
      // price-doubled, %10==2 deleted (U at seq 1 loses to D at seq 2),
      // %10==3 present twice — untouched original + inserted +10M copy
      ("SELECT o_orderkey, o_orderstatus, o_totalprice FROM (" +
        "SELECT o_orderkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice " +
        "FROM orders WHERE o_orderkey % 10 NOT IN (0, 2) " +
        "UNION ALL " +
        "SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice " +
        "FROM orders WHERE o_orderkey % 10 = 3) ORDER BY o_orderkey"),
    "q_snapshot_diff" ->
      // added/removed/changed in closed form; a null n_chars bump stays
      // null and is therefore NOT a change (null-safe compare)
      ("SELECT * FROM (" +
        "SELECT doc_id, 'removed' AS change, n_chars AS n_chars_before, CAST(NULL AS BIGINT) AS n_chars_after " +
        "FROM documents WHERE doc_id % 7 = 0 " +
        "UNION ALL " +
        "SELECT doc_id, 'changed', n_chars, n_chars + 1 " +
        "FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 5 = 0 AND n_chars IS NOT NULL " +
        "UNION ALL " +
        "SELECT doc_id + 10000000, 'added', CAST(NULL AS BIGINT), n_chars " +
        "FROM documents WHERE doc_id % 11 = 0) ORDER BY doc_id"),
    "q_topk_group" ->
      ("SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (" +
        "SELECT o_orderpriority, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_orderpriority " +
        "ORDER BY o_totalprice DESC NULLS LAST, o_orderkey) AS rank FROM orders) " +
        "WHERE rank <= 3 ORDER BY o_orderpriority NULLS FIRST, rank"),
    "q_pivot_counts" ->
      ("SELECT lang, " +
        "CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS n_src1, " +
        "CAST(sum(CASE WHEN source = 'src6' THEN 1 ELSE 0 END) AS BIGINT) AS n_src6, " +
        "CAST(sum(CASE WHEN source = 'src7' THEN 1 ELSE 0 END) AS BIGINT) AS n_src7, " +
        "CAST(sum(CASE WHEN source IS NULL OR source NOT IN ('src1','src6','src7') THEN 1 ELSE 0 END) AS BIGINT) AS n_other " +
        "FROM documents GROUP BY lang ORDER BY lang NULLS FIRST"),
    "q_histogram" ->
      ("WITH c AS (SELECT CAST(floor(l_extendedprice / 3000.0) AS BIGINT) AS bin, count(*) AS n " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL " +
        "AND l_extendedprice >= 0 AND l_extendedprice < 60000 GROUP BY 1) " +
        "SELECT r.range AS bin, r.range * 3000.0 AS lo, (r.range + 1) * 3000.0 AS hi, " +
        "CAST(coalesce(c.n, 0) AS BIGINT) AS n " +
        "FROM range(0, 20) r LEFT JOIN c ON r.range = c.bin ORDER BY bin"),
    "q_mad_outliers" ->
      // modified z-score mirror: quantile_cont medians ≡ Spark's exact
      // interpolated percentile (the q_winsorize-proven equivalence),
      // identical 1e-6 floor-rounds on median, MAD, and score
      ("WITH med AS (SELECT event_type AS g, floor(quantile_cont(value, 0.5) * 1e6 + 0.5) / 1e6 AS m " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1), " +
        "mad AS (SELECT e.event_type AS g, floor(quantile_cont(abs(e.value - med.m), 0.5) * 1e6 + 0.5) / 1e6 AS d " +
        "FROM events e JOIN med ON e.event_type IS NOT DISTINCT FROM med.g " +
        "WHERE e.value IS NOT NULL GROUP BY 1), " +
        "rz AS (SELECT e.event_id, CASE WHEN mad.d > 0 THEN " +
        "floor(0.6745 * (e.value - med.m) / mad.d * 1e6 + 0.5) / 1e6 END AS value_rz " +
        "FROM events e " +
        "LEFT JOIN med ON e.event_type IS NOT DISTINCT FROM med.g " +
        "LEFT JOIN mad ON e.event_type IS NOT DISTINCT FROM mad.g) " +
        "SELECT event_id, value_rz, coalesce(abs(value_rz) > 3.5, false) AS value_outlier " +
        "FROM rz ORDER BY event_id"),
    "q_log_odds" ->
      // identical Dirichlet log-odds arithmetic over the q_kl token split:
      // same tokenization, same α=0.01 prior, same 1e-6 z floor BEFORE the
      // two top-15 rankings, token tiebreak, final (side, token) order
      ("WITH ta AS (SELECT token, count(*) AS y_a FROM (" +
        "SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE lang = 'en' AND text IS NOT NULL) WHERE len(token) > 0 GROUP BY 1), " +
        "tb AS (SELECT token, count(*) AS y_b FROM (" +
        "SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE lang IS DISTINCT FROM 'en' AND text IS NOT NULL) WHERE len(token) > 0 GROUP BY 1), " +
        "v AS (SELECT coalesce(ta.token, tb.token) AS token, " +
        "CAST(coalesce(y_a, 0) AS BIGINT) AS y_a, CAST(coalesce(y_b, 0) AS BIGINT) AS y_b " +
        "FROM ta FULL JOIN tb ON ta.token = tb.token " +
        "WHERE coalesce(y_a, 0) + coalesce(y_b, 0) >= 5), " +
        "t AS (SELECT sum(y_a) AS na, sum(y_b) AS nb, count(*) AS vv FROM v), " +
        "s AS (SELECT token, y_a, y_b, floor(" +
        "(ln((y_a + 0.01)/(na + 0.01*vv - y_a - 0.01)) - ln((y_b + 0.01)/(nb + 0.01*vv - y_b - 0.01))) " +
        "/ sqrt(1.0/(y_a + 0.01) + 1.0/(y_b + 0.01)) * 1e6 + 0.5)/1e6 AS z FROM v, t) " +
        "SELECT * FROM (" +
        "SELECT * FROM (SELECT token, y_a, y_b, z, 'a' AS side FROM s ORDER BY z DESC, token LIMIT 15) " +
        "UNION ALL " +
        "SELECT * FROM (SELECT token, y_a, y_b, z, 'b' AS side FROM s ORDER BY z ASC, token LIMIT 15)) " +
        "ORDER BY side, token"),
    "q_kl_divergence" ->
      // full mirror of corpusDivergence: same tokenization, same shared
      // smoothed top-50 vocab (combined-count desc, token tiebreak), the
      // same 1e-9 floor-round per term summed as DECIMAL (exact,
      // order-free), same 1e-6 final rounds
      ("WITH ta AS (SELECT token, count(*) AS n_a FROM (" +
        "SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE lang = 'en' AND text IS NOT NULL) WHERE len(token) > 0 GROUP BY 1), " +
        "tb AS (SELECT token, count(*) AS n_b FROM (" +
        "SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE lang IS DISTINCT FROM 'en' AND text IS NOT NULL) WHERE len(token) > 0 GROUP BY 1), " +
        "v AS (SELECT coalesce(ta.token, tb.token) AS token, " +
        "coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b " +
        "FROM ta FULL JOIN tb ON ta.token = tb.token " +
        "ORDER BY coalesce(n_a, 0) + coalesce(n_b, 0) DESC, 1 LIMIT 50), " +
        "tot AS (SELECT sum(n_a) AS tta, sum(n_b) AS ttb, count(*) AS vv FROM v), " +
        "terms AS (SELECT vv, " +
        "CAST(floor((n_a+1)/(tta+vv) * ln(((n_a+1)/(tta+vv)) / ((n_b+1)/(ttb+vv))) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9)) AS t_pq, " +
        "CAST(floor((n_b+1)/(ttb+vv) * ln(((n_b+1)/(ttb+vv)) / ((n_a+1)/(tta+vv))) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9)) AS t_qp, " +
        "CAST(floor((n_a+1)/(tta+vv) * ln(((n_a+1)/(tta+vv)) / (((n_a+1)/(tta+vv) + (n_b+1)/(ttb+vv)) / 2)) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9)) AS t_pm, " +
        "CAST(floor((n_b+1)/(ttb+vv) * ln(((n_b+1)/(ttb+vv)) / (((n_a+1)/(tta+vv) + (n_b+1)/(ttb+vv)) / 2)) * 1e9 + 0.5) / 1e9 AS DECIMAL(28,9)) AS t_qm " +
        "FROM v, tot) " +
        "SELECT CAST(vv AS BIGINT) AS n_vocab, " +
        "floor(CAST(sum(t_pq) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS kl_pq, " +
        "floor(CAST(sum(t_qp) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS kl_qp, " +
        "floor(CAST((sum(t_pm) + sum(t_qm)) / 2 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS js " +
        "FROM terms GROUP BY vv"),
    "q_stream_enrich" ->
      // the bounded single-batch stream-static run ≡ the batch join:
      // nothing is stateful or watermark-dropped in an enrichment join,
      // and complete-mode aggregation emits every group
      ("SELECT c_mktsegment, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "GROUP BY 1 ORDER BY 1 NULLS FIRST"),
    "q_range_join" ->
      ("WITH r AS (SELECT o_orderkey AS rid, o_totalprice * 0.5 AS lo, o_totalprice * 0.5 + 1000.0 AS hi " +
        "FROM orders WHERE o_orderkey < 50) " +
        "SELECT l.l_orderkey, l.l_linenumber, r.rid FROM lineitem l JOIN r " +
        "ON l.l_extendedprice >= r.lo AND l.l_extendedprice < r.hi " +
        "ORDER BY l.l_orderkey, l.l_linenumber, r.rid"),
    "q_boilerplate_domain" ->
      ("WITH d AS (SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL), " +
        "l AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS u, " +
        "unnest(generate_series(1, len(string_split(text, ' ')))) AS pos FROM d), " +
        "f AS (SELECT source, u FROM l GROUP BY source, u HAVING COUNT(DISTINCT doc_id) >= 10), " +
        "k AS (SELECT l.doc_id, l.pos, l.u FROM l LEFT JOIN f ON l.source IS NOT DISTINCT FROM f.source AND l.u = f.u WHERE f.u IS NULL) " +
        "SELECT doc_id, string_agg(u, ' ' ORDER BY pos) AS text_clean FROM k GROUP BY doc_id ORDER BY doc_id"),
    "q_boilerplate" ->
      ("WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL), " +
        "th AS (SELECT CAST(ceil(0.6 * COUNT(*)) AS BIGINT) AS v FROM d), " +
        "l AS (SELECT doc_id, unnest(string_split(text, ' ')) AS u, " +
        "unnest(generate_series(1, len(string_split(text, ' ')))) AS pos FROM d), " +
        "f AS (SELECT u FROM l GROUP BY u HAVING COUNT(DISTINCT doc_id) >= (SELECT v FROM th)), " +
        "k AS (SELECT doc_id, pos, u FROM l WHERE u NOT IN (SELECT u FROM f)) " +
        "SELECT doc_id, string_agg(u, ' ' ORDER BY pos) AS text_clean FROM k GROUP BY doc_id ORDER BY doc_id"),
    "q_bloom_incremental" ->
      ("SELECT doc_id FROM documents WHERE doc_id < 50 AND text IS NOT NULL " +
        "AND md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id >= 50 AND text IS NOT NULL) " +
        "ORDER BY doc_id"),
    "q_sample_det" ->
      // 0.25 * 2^32 = 0x40000000; lowercase-hex string compare ==
      // numeric compare on the first 32 hash bits
      "SELECT doc_id FROM documents WHERE substr(md5('graft:' || doc_id), 1, 8) < '40000000' ORDER BY doc_id",
    "q_sample_stratified" ->
      ("SELECT doc_id, lang FROM documents WHERE substr(md5('graft:' || doc_id), 1, 8) < " +
        "CASE WHEN lang = 'en' THEN '80000000' WHEN lang = 'de' THEN '1999999a' ELSE '0ccccccd' END " +
        "ORDER BY doc_id"),
    "q_temperature_weights" ->
      ("WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang), " +
        "p AS (SELECT lang, n, pow(CAST(n AS DOUBLE), 0.7) AS pw FROM c) " +
        "SELECT lang, n, floor(pw / SUM(pw) OVER () * 1000000.0 + 0.5) / 1000000.0 AS weight " +
        "FROM p ORDER BY lang NULLS FIRST"),
    "q_containment_pairs" ->
      // set union size = na+nb-inter exactly (distinct sets), matching
      // Spark's size(array_union); estimator mirrors the left-to-right
      // IEEE op order of Dedup.containmentFromJaccard
      ("WITH d AS (SELECT doc_id, list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)) AS tok " +
        "FROM documents WHERE doc_id < 30 AND text IS NOT NULL), " +
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(len(a.tok) AS DOUBLE) AS na, CAST(len(b.tok) AS DOUBLE) AS nb, " +
        "CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) AS inter " +
        "FROM d a, d b WHERE a.doc_id < b.doc_id), " +
        "j AS (SELECT *, CASE WHEN na + nb - inter = 0 THEN 1.0 ELSE inter / (na + nb - inter) END AS jac FROM p) " +
        "SELECT id_a, id_b, CASE WHEN na = 0 THEN 1.0 ELSE inter / na END AS cont_ab, " +
        "CASE WHEN na = 0.0 THEN 1.0 ELSE jac * (na + nb) / (jac + 1.0) / na END AS cont_est " +
        "FROM j ORDER BY id_a, id_b"),
    "q_dsir" ->
      ("WITH t2 AS (SELECT doc_id, lang, token FROM (SELECT doc_id, lang, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE text IS NOT NULL) WHERE len(token) > 0), " +
        "ct AS (SELECT token, COUNT(*) AS n FROM t2 WHERE lang = 'en' GROUP BY token), " +
        "vt AS (SELECT token, ln(CAST(n AS DOUBLE) / (SELECT CAST(SUM(n) AS DOUBLE) FROM ct)) AS lt FROM ct ORDER BY n DESC, token LIMIT 25), " +
        "cb AS (SELECT token, COUNT(*) AS n FROM t2 GROUP BY token), " +
        "vb AS (SELECT token, ln(CAST(n AS DOUBLE) / (SELECT CAST(SUM(n) AS DOUBLE) FROM cb)) AS lb FROM cb ORDER BY n DESC, token LIMIT 25) " +
        "SELECT doc_id, COUNT(*) AS n_tok, " +
        "floor((avg(coalesce(vt.lt, -20.0)) - avg(coalesce(vb.lb, -20.0))) * 1e6 + 0.5) / 1e6 AS log_ratio " +
        "FROM t2 LEFT JOIN vt USING (token) LEFT JOIN vb USING (token) " +
        "GROUP BY doc_id ORDER BY doc_id"),
    "q_quantized_topk" ->
      // codes as in q_quantize; dots of ≤127² × dim values are exactly
      // representable doubles, so summation order cannot matter
      ("WITH d AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "m AS (SELECT vec_id, v, coalesce(list_max(list_transform(v, x -> abs(x))), 0.0) AS ma FROM d), " +
        "qz AS (SELECT vec_id, CASE WHEN ma > 0 THEN list_transform(v, x -> CAST(greatest(-127.0, least(127.0, floor(x * 127.0 / ma + 0.5))) AS DOUBLE)) " +
        "ELSE list_transform(v, x -> 0.0) END AS q FROM m), " +
        "n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn FROM qz), " +
        "qs AS (SELECT vec_id AS q_id, q AS qv, nn AS qn FROM n WHERE vec_id < 5), " +
        "scored AS (SELECT qs.q_id, n.vec_id AS cand_id, " +
        "CASE WHEN sqrt(qs.qn) * sqrt(n.nn) = 0 THEN 0.0 ELSE list_dot_product(qs.qv, n.q) / (sqrt(qs.qn) * sqrt(n.nn)) END AS sim " +
        "FROM n, qs WHERE n.vec_id <> qs.q_id) " +
        "SELECT q_id, cand_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id) AS INTEGER) AS rk " +
        "FROM scored QUALIFY rk <= 3 ORDER BY q_id, rk"),
    "q_knn_join" ->
      // full probe == brute force: the q_ann_cosine double-accumulation
      // mirror over a left id clamp
      ("WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings), " +
        "l AS (SELECT vec_id AS left_id, vec AS l_vec FROM v WHERE vec_id < 40), " +
        "pairs AS (SELECT l.left_id, v.vec_id AS right_id, " +
        "CASE WHEN sqrt(list_dot_product(l.l_vec, l.l_vec)) * sqrt(list_dot_product(v.vec, v.vec)) = 0 THEN 0.0 " +
        "ELSE list_dot_product(l.l_vec, v.vec) / (sqrt(list_dot_product(l.l_vec, l.l_vec)) * sqrt(list_dot_product(v.vec, v.vec))) END AS sim " +
        "FROM v, l WHERE v.vec_id <> l.left_id) " +
        "SELECT left_id, right_id, sim, CAST(row_number() OVER (PARTITION BY left_id ORDER BY sim DESC, right_id) AS INTEGER) AS rk " +
        "FROM pairs QUALIFY rk <= 3 ORDER BY left_id, rk"),
    "q_pq_topk" ->
      // the codebook regrows from its closed form; every squared-diff
      // term is bit-identical double arithmetic (float widening exact,
      // centroids on the 1/8 grid), floor'd onto a 1e-9 integer grid and
      // summed as BIGINT — order-free, so encode argmin and ADC ranking
      // mirror exactly
      ("WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
        "cb AS (SELECT j.j, i.i, d.d, CAST(((i.i*31 + d.d*7 + j.j*13) % 17) - 8 AS DOUBLE)/8.0 AS c " +
        "FROM generate_series(0,7) j(j) CROSS JOIN generate_series(0,15) i(i) CROSS JOIN generate_series(0,7) d(d)), " +
        "dist AS (SELECT v.vec_id, cb.j, cb.i, " +
        "SUM(CAST(floor((v.e[cb.j*8 + cb.d + 1] - cb.c) * (v.e[cb.j*8 + cb.d + 1] - cb.c) * 1e9) AS BIGINT)) AS d9 " +
        "FROM v CROSS JOIN cb GROUP BY 1, 2, 3), " +
        "code AS (SELECT vec_id, j, i AS code FROM (SELECT vec_id, j, i, " +
        "row_number() OVER (PARTITION BY vec_id, j ORDER BY d9, i) AS rn FROM dist) WHERE rn = 1), " +
        "qd AS (SELECT vec_id AS q_id, j, i, d9 FROM dist WHERE vec_id < 3), " +
        "adc AS (SELECT qd.q_id, c.vec_id AS cand_id, CAST(SUM(qd.d9) AS BIGINT) AS dist9 " +
        "FROM code c JOIN qd ON qd.j = c.j AND qd.i = c.code AND c.vec_id <> qd.q_id " +
        "GROUP BY 1, 2) " +
        "SELECT q_id, cand_id, dist9, CAST(row_number() OVER (PARTITION BY q_id ORDER BY dist9, cand_id) AS INTEGER) AS rk " +
        "FROM adc QUALIFY rk <= 5 ORDER BY q_id, rk"),
    "q_quantize" ->
      // same left-to-right arithmetic as Kernels.quantizeI8D; CAST to
      // DOUBLE first (float32 widening is exact)
      ("WITH d AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "m AS (SELECT vec_id, v, coalesce(list_max(list_transform(v, x -> abs(x))), 0.0) AS ma FROM d) " +
        "SELECT vec_id, ma / 127.0 AS scale, " +
        "array_to_string(CASE WHEN ma > 0 THEN list_transform(v, x -> CAST(greatest(-127.0, least(127.0, floor(x * 127.0 / ma + 0.5))) AS INTEGER)) " +
        "ELSE list_transform(v, x -> 0) END, ',') AS q " +
        "FROM m ORDER BY vec_id"),
    "q_zorder" ->
      // magic-mask bit spread, one CTE per shift step (Kernels.zValue2)
      ("WITH s0 AS (SELECT l_orderkey, l_linenumber, CAST(l_partkey AS BIGINT) & 4294967295 AS x, CAST(l_suppkey AS BIGINT) & 4294967295 AS y FROM lineitem), " +
        "s1 AS (SELECT l_orderkey, l_linenumber, (x | (x << 16)) & 281470681808895 AS x, (y | (y << 16)) & 281470681808895 AS y FROM s0), " +
        "s2 AS (SELECT l_orderkey, l_linenumber, (x | (x << 8)) & 71777214294589695 AS x, (y | (y << 8)) & 71777214294589695 AS y FROM s1), " +
        "s3 AS (SELECT l_orderkey, l_linenumber, (x | (x << 4)) & 1085102592571150095 AS x, (y | (y << 4)) & 1085102592571150095 AS y FROM s2), " +
        "s4 AS (SELECT l_orderkey, l_linenumber, (x | (x << 2)) & 3689348814741910323 AS x, (y | (y << 2)) & 3689348814741910323 AS y FROM s3), " +
        "s5 AS (SELECT l_orderkey, l_linenumber, (x | (x << 1)) & 6148914691236517205 AS x, (y | (y << 1)) & 6148914691236517205 AS y FROM s4) " +
        "SELECT l_orderkey, l_linenumber, x | (y << 1) AS z FROM s5 ORDER BY l_orderkey, l_linenumber"),
    "q_unigram_ll" ->
      ("WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE text IS NOT NULL), " +
        "t2 AS (SELECT doc_id, token FROM toks WHERE len(token) > 0), " +
        "cnt AS (SELECT token, COUNT(*) AS n FROM t2 GROUP BY token), " +
        "tot AS (SELECT SUM(n) AS total FROM cnt), " +
        "vocab AS (SELECT token, ln(CAST(n AS DOUBLE) / (SELECT CAST(total AS DOUBLE) FROM tot)) AS logp " +
        "FROM cnt ORDER BY n DESC, token LIMIT 25) " +
        "SELECT doc_id, COUNT(*) AS n_tok, " +
        "floor(avg(coalesce(v.logp, -20.0)) * 1e6 + 0.5) / 1e6 AS ll " +
        "FROM t2 LEFT JOIN vocab v USING (token) GROUP BY doc_id ORDER BY doc_id"),
    "q_perplexity_buckets" ->
      // q_unigram_ll's scoring mirror + per-lang quantile_cont terciles
      // (the q_quantiles-proven exact-percentile equivalence), identical
      // 1e-6 rounding on both the boundaries and ll, null-safe lang join
      ("WITH toks AS (SELECT doc_id, lang, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE text IS NOT NULL), " +
        "t2 AS (SELECT doc_id, lang, token FROM toks WHERE len(token) > 0), " +
        "cnt AS (SELECT token, COUNT(*) AS n FROM t2 GROUP BY token), " +
        "tot AS (SELECT SUM(n) AS total FROM cnt), " +
        "vocab AS (SELECT token, ln(CAST(n AS DOUBLE) / (SELECT CAST(total AS DOUBLE) FROM tot)) AS logp " +
        "FROM cnt ORDER BY n DESC, token LIMIT 25), " +
        "scored AS (SELECT doc_id, lang, COUNT(*) AS n_tok, " +
        "floor(avg(coalesce(v.logp, -20.0)) * 1e6 + 0.5) / 1e6 AS ll " +
        "FROM t2 LEFT JOIN vocab v USING (token) GROUP BY doc_id, lang), " +
        "b AS (SELECT lang, floor(quantile_cont(ll, CAST(1 AS DOUBLE) / 3) * 1e6 + 0.5) / 1e6 AS p33, " +
        "floor(quantile_cont(ll, CAST(2 AS DOUBLE) / 3) * 1e6 + 0.5) / 1e6 AS p67 FROM scored GROUP BY lang) " +
        "SELECT s.doc_id, s.lang, s.n_tok, s.ll, " +
        "CASE WHEN s.ll >= b.p67 THEN 'head' WHEN s.ll >= b.p33 THEN 'middle' ELSE 'tail' END AS bucket " +
        "FROM scored s JOIN b ON s.lang IS NOT DISTINCT FROM b.lang ORDER BY s.doc_id"),
    "q_bigram_ll" ->
      // full stupid-backoff mirror: identical tokenization, bigram
      // conditional MLE over a per-w1 window total, top-50/top-25 vocab
      // with deterministic tie-breaks, ln(0.4) backoff penalty, -20 OOV,
      // 1e-6 floor-round — no exp anywhere, so the mirror is exact
      ("WITH d AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS a " +
        "FROM documents WHERE text IS NOT NULL), " +
        "pos AS (SELECT doc_id, unnest(generate_series(1, len(a))) AS i, a FROM d WHERE len(a) >= 1), " +
        "tp AS (SELECT doc_id, CASE WHEN i = 1 THEN NULL ELSE a[i-1] END AS w1, a[i] AS w2 FROM pos), " +
        "bc AS (SELECT w1, w2, COUNT(*) AS n FROM tp WHERE w1 IS NOT NULL GROUP BY 1, 2), " +
        "bctx AS (SELECT w1, w2, n, SUM(n) OVER (PARTITION BY w1) AS ctx FROM bc), " +
        "bv AS (SELECT w1, w2, ln(CAST(n AS DOUBLE) / CAST(ctx AS DOUBLE)) AS lb " +
        "FROM bctx ORDER BY n DESC, w1, w2 LIMIT 50), " +
        "uc AS (SELECT w2 AS token, COUNT(*) AS n FROM tp GROUP BY 1), " +
        "ut AS (SELECT SUM(n) AS total FROM uc), " +
        "uv AS (SELECT token, ln(CAST(n AS DOUBLE) / (SELECT CAST(total AS DOUBLE) FROM ut)) AS lu " +
        "FROM uc ORDER BY n DESC, token LIMIT 25) " +
        "SELECT tp.doc_id, COUNT(*) AS n_tok, " +
        "floor(avg(coalesce(bv.lb, CASE WHEN tp.w1 IS NULL THEN coalesce(uv.lu, -20.0) " +
        "ELSE ln(0.4) + coalesce(uv.lu, -20.0) END)) * 1e6 + 0.5) / 1e6 AS ll " +
        "FROM tp LEFT JOIN bv ON tp.w1 = bv.w1 AND tp.w2 = bv.w2 " +
        "LEFT JOIN uv ON tp.w2 = uv.token " +
        "GROUP BY tp.doc_id ORDER BY tp.doc_id"),
    "q_script_mix" ->
      // identical \x{...} character classes in RE2; dominant script =
      // first class in declaration order hitting the max, zero → 'none'
      ("WITH d AS (SELECT doc_id, text || CASE doc_id % 4 WHEN 0 THEN ' дом мир' WHEN 1 THEN ' 漢字文' " +
        "WHEN 2 THEN ' كتاب' ELSE ' かなカナ' END AS t FROM documents), " +
        "c AS (SELECT doc_id, " +
        "CAST(len(regexp_extract_all(t, '[A-Za-z\\x{00C0}-\\x{024F}]')) AS BIGINT) AS n_latin, " +
        "CAST(len(regexp_extract_all(t, '[\\x{0400}-\\x{04FF}]')) AS BIGINT) AS n_cyrillic, " +
        "CAST(len(regexp_extract_all(t, '[\\x{0370}-\\x{03FF}]')) AS BIGINT) AS n_greek, " +
        "CAST(len(regexp_extract_all(t, '[\\x{0600}-\\x{06FF}]')) AS BIGINT) AS n_arabic, " +
        "CAST(len(regexp_extract_all(t, '[\\x{0900}-\\x{097F}]')) AS BIGINT) AS n_devanagari, " +
        "CAST(len(regexp_extract_all(t, '[\\x{4E00}-\\x{9FFF}]')) AS BIGINT) AS n_cjk, " +
        "CAST(len(regexp_extract_all(t, '[\\x{3040}-\\x{30FF}]')) AS BIGINT) AS n_kana, " +
        "CAST(len(regexp_extract_all(t, '[\\x{AC00}-\\x{D7AF}]')) AS BIGINT) AS n_hangul, " +
        "CAST(len(regexp_extract_all(t, '[0-9]')) AS BIGINT) AS n_digit FROM d), " +
        "g AS (SELECT *, greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_devanagari, n_cjk, n_kana, n_hangul, n_digit) AS mx FROM c) " +
        "SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_arabic, n_kana, n_digit, " +
        "CASE WHEN mx = 0 THEN 'none' WHEN n_latin = mx THEN 'latin' WHEN n_cyrillic = mx THEN 'cyrillic' " +
        "WHEN n_greek = mx THEN 'greek' WHEN n_arabic = mx THEN 'arabic' WHEN n_devanagari = mx THEN 'devanagari' " +
        "WHEN n_cjk = mx THEN 'cjk' WHEN n_kana = mx THEN 'kana' WHEN n_hangul = mx THEN 'hangul' ELSE 'digit' END AS script " +
        "FROM g ORDER BY doc_id"),
    "q_collocations" ->
      // exact PMI mirror: same tokenization, same division tree inside
      // the ln, same 1e-6 floor-round before the (pmi, w1, w2) total
      // order, same minCount floor
      ("WITH d AS (SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS a " +
        "FROM documents WHERE text IS NOT NULL), " +
        "pos AS (SELECT unnest(generate_series(1, len(a))) AS i, a FROM d WHERE len(a) >= 1), " +
        "tp AS (SELECT CASE WHEN i = 1 THEN NULL ELSE a[i-1] END AS w1, a[i] AS w2 FROM pos), " +
        "uni AS (SELECT w2 AS token, COUNT(*) AS cu FROM tp GROUP BY 1), " +
        "ut AS (SELECT CAST(SUM(cu) AS DOUBLE) AS t FROM uni), " +
        "bi AS (SELECT w1, w2, COUNT(*) AS n FROM tp WHERE w1 IS NOT NULL GROUP BY 1, 2 HAVING COUNT(*) >= 5), " +
        "bt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t2 FROM tp WHERE w1 IS NOT NULL) " +
        "SELECT bi.w1, bi.w2, bi.n, " +
        "floor(ln((bi.n / bt.t2) / ((u1.cu / ut.t) * (u2.cu / ut.t))) * 1e6 + 0.5) / 1e6 AS pmi " +
        "FROM bi JOIN uni u1 ON bi.w1 = u1.token JOIN uni u2 ON bi.w2 = u2.token " +
        "CROSS JOIN ut CROSS JOIN bt " +
        "ORDER BY pmi DESC, bi.w1, bi.w2 LIMIT 40"),
    "q_kn_bigram" ->
      // KN mirror: max(n−D,0)/ctx + D·nsucc/ctx·(npred/types), the same
      // operand order, then the 1e-6 floor and the (n, w1, w2) total order
      ("WITH d AS (SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS a " +
        "FROM documents WHERE text IS NOT NULL), " +
        "pos AS (SELECT unnest(generate_series(1, len(a) - 1)) AS i, a FROM d WHERE len(a) >= 2), " +
        "bi AS (SELECT a[i] AS w1, a[i+1] AS w2, COUNT(*) AS n FROM pos GROUP BY 1, 2), " +
        "tt AS (SELECT COUNT(*) AS t FROM bi), " +
        "st AS (SELECT w1, w2, n, SUM(n) OVER (PARTITION BY w1) AS ctx, " +
        "COUNT(*) OVER (PARTITION BY w1) AS nsucc, " +
        "COUNT(*) OVER (PARTITION BY w2) AS npred FROM bi) " +
        "SELECT w1, w2, n, floor((greatest(CAST(n AS DOUBLE) - 0.75, 0.0) / ctx " +
        "+ 0.75 * CAST(nsucc AS DOUBLE) / ctx * (CAST(npred AS DOUBLE) / t)) * 1e6 + 0.5) / 1e6 AS p_kn " +
        "FROM st CROSS JOIN tt ORDER BY n DESC, w1, w2 LIMIT 150"),
    "q_chunk" ->
      // stride 24 = 32 − 8; chunk count in exact integer arithmetic with
      // the clamped dividend (greatest 0) so // and div agree
      ("WITH d AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents WHERE text IS NOT NULL), " +
        "c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d), " +
        "g AS (SELECT doc_id, toks, n, unnest(generate_series(CAST(0 AS BIGINT), (greatest(n - 32, 0) + 23) // 24)) AS chunk_idx FROM c) " +
        "SELECT doc_id, chunk_idx, array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') AS chunk_text, " +
        "least(32, n - chunk_idx * 24) AS n_tok FROM g ORDER BY doc_id, chunk_idx"),
    "q_weighted_sample" ->
      // u = (hex32 + 1) / 2^32 as in Sampling.weightedSample; priority =
      // round12(ln(u)/w) — the saturation-free A-Res key; rank desc with
      // doc_id tiebreak
      ("WITH d AS (SELECT doc_id, n_chars, " +
        "(CAST(concat('0x', substr(md5('graft:' || doc_id), 1, 8)) AS UBIGINT) + 1) / 4294967296.0 AS u " +
        "FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0), " +
        "p AS (SELECT doc_id, floor(ln(u) / CAST(n_chars AS DOUBLE) * 1e12 + 0.5) / 1e12 AS priority FROM d) " +
        "SELECT doc_id, priority FROM (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rk FROM p) " +
        "WHERE rk <= 100 ORDER BY doc_id"),
    "q_interleave" ->
      ("WITH w AS (SELECT doc_id, lang, CASE WHEN lang = 'en' THEN 0.6 WHEN lang = 'de' THEN 0.3 ELSE 0.1 END AS wt, " +
        "substr(md5('graft:' || doc_id), 1, 8) AS draw FROM documents), " +
        "r AS (SELECT doc_id, lang, wt, row_number() OVER (PARTITION BY lang ORDER BY draw, doc_id) AS rk FROM w WHERE wt > 0) " +
        "SELECT doc_id, lang, (CAST(rk AS DOUBLE) * 2.0 - 1.0) / (wt * 2.0) AS vft FROM r " +
        "ORDER BY vft, lang NULLS FIRST, doc_id"),
    "q_cap_stratum" ->
      ("SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER " +
        "(PARTITION BY lang ORDER BY substr(md5('graft:' || doc_id), 1, 8), doc_id) AS rk " +
        "FROM documents) t WHERE rk <= 40 ORDER BY doc_id"),
    "q_pack_sequences" ->
      // global window cumsum (fine at 500 rows; the ENGINE runs the
      // scale-safe two-phase form this mirrors)
      // DuckDB sum() widens BIGINT to HUGEINT; the driver hash is
      // dtype-sensitive, so the cumsum must be cast back explicitly.
      ("SELECT doc_id, n_tokens, CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) // 512 AS BIGINT) AS seq_id " +
        "FROM (SELECT doc_id, CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens " +
        "FROM documents WHERE text IS NOT NULL) t ORDER BY doc_id"),
    "q_topk_similar" ->
      ("WITH iv AS (SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000, 0)) AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS q_id, v AS qv FROM iv WHERE vec_id < 10), " +
        "pairs AS (SELECT q.q_id, iv.vec_id AS cand_id, CAST(list_dot_product(q.qv, iv.v) AS BIGINT) AS dot FROM iv, q WHERE iv.vec_id <> q.q_id) " +
        "SELECT q_id, cand_id, dot, CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, cand_id) AS INTEGER) AS rk " +
        "FROM pairs QUALIFY rk <= 5 ORDER BY q_id, rk"),
    // ---- r13: graph structure, hybrid retrieval, drift stats ----------
    "q_triangles" ->
      // id-ordered triangle enumeration over the canonical undirected
      // simple graph — the same triangle set the engine's degree-ordered
      // orientation enumerates (ordering only changes the JOIN SHAPE).
      // The doc_id%4 closing edges (A–B per wedge) de-vacuate the fixture:
      // without them the link graph has zero triangles at every SF.
      (s"WITH e AS ($linkEdgesSql " +
        "UNION ALL SELECT (doc_id*31+7)%500, (doc_id*31+13)%500 FROM documents WHERE doc_id%4 = 0), " +
        "u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e WHERE src <> dst), " +
        "t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM u e1 JOIN u e2 ON e1.b = e2.a " +
        "JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b) " +
        "SELECT node, count(*) AS n_triangles FROM " +
        "(SELECT x AS node FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t) " +
        "GROUP BY 1 ORDER BY node"),
    "q_hits" -> hitsOracleSql,
    "q_rrf_fusion" ->
      // both input rankings restated in full (BM25 = the green
      // q_bm25_topk mirror as a nested subquery; coordination = distinct
      // term-overlap counts), fused with the same snapped 1/(60+rk) sum
      ("WITH bm AS (SELECT qid, doc_id, rk FROM (" + bm25OracleSql + ")), " +
        "dt AS (SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS term " +
        "FROM documents WHERE text IS NOT NULL), " +
        "q(qid, qtext) AS (VALUES (1, 'fast hash join'), (2, 'window group query'), " +
        "(3, 'slow table scan'), (4, 'customer order line part'), (5, 'stream batch data')), " +
        "qt AS (SELECT CAST(qid AS BIGINT) AS qid, unnest(list_distinct(regexp_extract_all(lower(qtext), '[a-z0-9]+'))) AS term FROM q), " +
        "ov AS (SELECT qt.qid, dt.doc_id, count(*) AS n_overlap FROM dt JOIN qt USING (term) GROUP BY 1, 2), " +
        "co AS (SELECT qid, doc_id, CAST(row_number() OVER (PARTITION BY qid ORDER BY n_overlap DESC, doc_id) AS INTEGER) AS rk " +
        "FROM ov QUALIFY rk <= 10), " +
        "u AS (SELECT qid, doc_id, rk FROM bm UNION ALL SELECT qid, doc_id, rk FROM co), " +
        "f AS (SELECT qid, doc_id, floor(sum(1.0/(60.0 + rk))/1e-12 + 0.5)*1e-12 AS rrf_score FROM u GROUP BY 1, 2) " +
        "SELECT qid, doc_id, rrf_score, " +
        "CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rk " +
        "FROM f QUALIFY rk <= 10 ORDER BY qid, rk"),
    "q_ks_test" ->
      // same $100 value grid, BIGINT per-cell counts, double ECDF gap
      // floor-rounded at 1e-9, max picked by (gap DESC, v ASC) LIMIT 1
      ("WITH c AS (SELECT floor(o_totalprice/100.0 + 0.5)*100.0 AS v, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS a, " +
        "CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS b " +
        "FROM orders WHERE o_totalprice IS NOT NULL AND o_orderstatus IN ('F', 'O')), " +
        "g AS (SELECT v, CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM c GROUP BY 1), " +
        "t AS (SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb FROM g), " +
        "d AS (SELECT v, floor(abs(CAST(sum(na) OVER w AS DOUBLE)/CAST(ta AS DOUBLE) - " +
        "CAST(sum(nb) OVER w AS DOUBLE)/CAST(tb AS DOUBLE))*1e9 + 0.5)/1e9 AS gap " +
        "FROM g, t WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)) " +
        "SELECT ta AS n_a, tb AS n_b, gap AS d_stat, v AS at_value FROM d, t " +
        "ORDER BY gap DESC, v LIMIT 1"),
    "q_ks_by_group" ->
      // q_ks_test's mirror with every window partitioned by the stratum;
      // empty-side strata emit null D (none exist in this data, but the
      // guard is mirrored for shape fidelity)
      ("WITH c AS (SELECT o_orderpriority AS g, floor(o_totalprice/100.0 + 0.5)*100.0 AS v, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS a, " +
        "CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS b " +
        "FROM orders WHERE o_totalprice IS NOT NULL AND o_orderstatus IN ('F', 'O')), " +
        "gc AS (SELECT g, v, CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM c GROUP BY 1, 2), " +
        "d AS (SELECT g, v, CAST(sum(na) OVER wa AS BIGINT) AS ta, CAST(sum(nb) OVER wa AS BIGINT) AS tb, " +
        "sum(na) OVER wc AS ca, sum(nb) OVER wc AS cb FROM gc " +
        "WINDOW wa AS (PARTITION BY g), wc AS (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)), " +
        "e AS (SELECT g, v, ta, tb, CASE WHEN ta > 0 AND tb > 0 THEN " +
        "floor(abs(CAST(ca AS DOUBLE)/CAST(ta AS DOUBLE) - CAST(cb AS DOUBLE)/CAST(tb AS DOUBLE))*1e9 + 0.5)/1e9 END AS gap FROM d) " +
        "SELECT g AS o_orderpriority, ta AS n_a, tb AS n_b, gap AS d_stat, " +
        "CASE WHEN gap IS NOT NULL THEN v END AS at_value FROM e " +
        "QUALIFY row_number() OVER (PARTITION BY g ORDER BY gap DESC NULLS LAST, v) = 1 " +
        "ORDER BY o_orderpriority"),
    "q_mutual_info" ->
      // identical per-cell 1e-12 floor-rounded terms summed as DECIMAL;
      // marginal entropies via the same Σ_y p(x,y) = p(x) identity
      ("WITH j AS (SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS nxy FROM lineitem GROUP BY 1, 2), " +
        "c AS (SELECT nxy, sum(nxy) OVER (PARTITION BY x) AS nx, " +
        "sum(nxy) OVER (PARTITION BY y) AS ny, sum(nxy) OVER () AS n FROM j), " +
        "tm AS (SELECT CAST(max(n) AS BIGINT) AS n, count(*) AS n_cells, " +
        "sum(CAST(floor((CAST(nxy AS DOUBLE)/CAST(n AS DOUBLE)) * ln((CAST(nxy AS DOUBLE)/CAST(n AS DOUBLE)) / ((CAST(nx AS DOUBLE)/CAST(n AS DOUBLE))*(CAST(ny AS DOUBLE)/CAST(n AS DOUBLE)))) * 1e12 + 0.5)/1e12 AS DECIMAL(28,12))) AS mi, " +
        "sum(CAST(floor(-1.0 * (CAST(nxy AS DOUBLE)/CAST(n AS DOUBLE)) * ln(CAST(nx AS DOUBLE)/CAST(n AS DOUBLE)) * 1e12 + 0.5)/1e12 AS DECIMAL(28,12))) AS hx, " +
        "sum(CAST(floor(-1.0 * (CAST(nxy AS DOUBLE)/CAST(n AS DOUBLE)) * ln(CAST(ny AS DOUBLE)/CAST(n AS DOUBLE)) * 1e12 + 0.5)/1e12 AS DECIMAL(28,12))) AS hy FROM c) " +
        "SELECT n, n_cells, floor(CAST(mi AS DOUBLE)*1e9 + 0.5)/1e9 AS mi_nats, " +
        "CASE WHEN least(hx, hy) > 0 THEN floor(CAST(mi AS DOUBLE)/CAST(least(hx, hy) AS DOUBLE)*1e9 + 0.5)/1e9 END AS mi_normalized " +
        "FROM tm"),
    "q_cusum" ->
      // prefix-sum-minus-prefix-min closed form of max(0, S+d) in the
      // same DECIMAL(18,6) lane; target snapped at 1e-6 BEFORE the
      // decimal cast so no engine's double→decimal rounding rule fires
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2), " +
        "tg AS (SELECT event_type, floor(avg(n)*1e6 + 0.5)/1e6 AS target FROM daily WHERE day < DATE '2024-01-11' GROUP BY 1), " +
        "d AS (SELECT daily.event_type, day, n, CAST(n AS DECIMAL(18,6)) - CAST(target AS DECIMAL(18,6)) - CAST(1.0 AS DECIMAL(18,6)) AS dev " +
        "FROM daily JOIN tg USING (event_type)), " +
        "cc AS (SELECT event_type, day, n, sum(dev) OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum FROM d), " +
        "m AS (SELECT event_type, day, n, cum, least(min(cum) OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING), CAST(0 AS DECIMAL(18,6))) AS mn FROM cc) " +
        "SELECT event_type, day, n, floor(CAST(cum - mn AS DOUBLE)*1e6 + 0.5)/1e6 AS s_pos, " +
        "(floor(CAST(cum - mn AS DOUBLE)*1e6 + 0.5)/1e6) > 15.0 AS alarm FROM m ORDER BY event_type, day"),
    "q_autocorr" ->
      // identical lag pairing (rows with no partner drop) and the
      // correlationMatrix decimal-moment closed form per (key, lag)
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2), " +
        "l AS (SELECT event_type, n, lag(n, 1) OVER w AS y1, lag(n, 2) OVER w AS y2, lag(n, 3) OVER w AS y3 " +
        "FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)), " +
        "p AS (SELECT event_type, 1 AS lg, n AS x, y1 AS y FROM l WHERE y1 IS NOT NULL " +
        "UNION ALL SELECT event_type, 2, n, y2 FROM l WHERE y2 IS NOT NULL " +
        "UNION ALL SELECT event_type, 3, n, y3 FROM l WHERE y3 IS NOT NULL), " +
        "m AS (SELECT event_type, lg, count(*) AS n, " +
        "sum(CAST(x AS DECIMAL(18,6))) AS sx, sum(CAST(y AS DECIMAL(18,6))) AS sy, " +
        "sum(CAST(x AS DECIMAL(18,6))*CAST(y AS DECIMAL(18,6))) AS sxy, " +
        "sum(CAST(x AS DECIMAL(18,6))*CAST(x AS DECIMAL(18,6))) AS sxx, " +
        "sum(CAST(y AS DECIMAL(18,6))*CAST(y AS DECIMAL(18,6))) AS syy FROM p GROUP BY 1, 2) " +
        "SELECT event_type, CAST(lg AS INTEGER) AS lag, n, " +
        "CASE WHEN n >= 2 AND (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) > 0 " +
        "AND (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)) > 0 THEN " +
        "floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) / " +
        "sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) * " +
        "(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))) * 1e9 + 0.5)/1e9 " +
        "END AS acf FROM m ORDER BY event_type, lag"),
    "q_embed_cov" -> embedCovOracleSql,
    "q_interval_join" ->
      // plain non-equi overlap join at oracle scale — the bin blocking +
      // canonical-bin dedup must be invisible in the pair set
      ("WITH l AS (SELECT o_orderkey AS a_key, CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS DOUBLE) AS lo " +
        "FROM orders WHERE o_orderkey % 97 = 0), " +
        "r AS (SELECT o_orderkey AS b_key, CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS DOUBLE) AS lo " +
        "FROM orders WHERE o_orderkey % 89 = 3) " +
        "SELECT a_key, b_key FROM l JOIN r ON l.lo < r.lo + 3.0 AND r.lo < l.lo + 7.0 " +
        "ORDER BY a_key, b_key"),
    "q_ppr" -> pprOracleSql,
    "q_mmr_rerank" -> mmrOracleSql,
    "q_jaro" ->
      // DuckDB's own jaro_winkler_similarity IS the oracle — the kernel
      // pins its exact conventions (boost > 0.7, prefix ≤ 4, empty → 0,
      // floor-halved transpositions) in KernelPropsSpec
      ("WITH c AS (SELECT c_custkey, 'customer_' || CAST(c_custkey AS VARCHAR) AS s1 FROM customer), " +
        "m AS (SELECT c_custkey, s1, CASE " +
        "WHEN c_custkey % 3 = 0 THEN substr(s1,1,1) || substr(s1,3,1) || substr(s1,2,1) || substr(s1,4,9999) " +
        "WHEN c_custkey % 3 = 1 THEN substr(s1,1,3) || substr(s1,5,9999) " +
        "ELSE s1 END AS s2 FROM c) " +
        "SELECT c_custkey, s1, s2, floor(jaro_winkler_similarity(s1, s2)*1e9 + 0.5)/1e9 AS jw " +
        "FROM m ORDER BY c_custkey"),
    "q_attribution" ->
      // identical IGNORE NULLS last-value window up to the previous row;
      // gap via second-boundary diff ≡ floor(unix) − floor(unix)
      ("WITH e AS (SELECT user_id, ts, event_id, event_type FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "a AS (SELECT user_id, ts, event_type, " +
        "last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) OVER w AS attributed_type, " +
        "last_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS) OVER w AS attributed_ts " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) " +
        "SELECT user_id, ts, attributed_type, attributed_ts, " +
        "CAST(date_diff('second', attributed_ts, ts) AS BIGINT) AS gap_seconds " +
        "FROM a WHERE event_type = 'purchase' ORDER BY user_id, ts"),
    // ---- r14: attribution variants, rank tests, agreement, resampling --
    "q_attribution_first" ->
      // the q_attribution window with first_value — the gap is the same
      // second-boundary diff (== the engine's date_trunc interval diff)
      ("WITH e AS (SELECT user_id, ts, event_id, event_type FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "a AS (SELECT user_id, ts, event_type, " +
        "first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) OVER w AS attributed_type, " +
        "first_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS) OVER w AS attributed_ts " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) " +
        "SELECT user_id, ts, attributed_type, attributed_ts, " +
        "CAST(date_diff('second', attributed_ts, ts) AS BIGINT) AS gap_seconds " +
        "FROM a WHERE event_type = 'purchase' ORDER BY user_id, ts"),
    "q_attribution_position" ->
      // journey index = running count of PRIOR conversions; per-journey
      // touch rank/count windows; exact-double 40/20/40 weight arithmetic
      ("WITH e AS (SELECT user_id, ts, event_id, event_type FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL), " +
        "j AS (SELECT *, coalesce(CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) + 1 AS journey FROM e), " +
        "t AS (SELECT user_id, journey, ts AS touch_ts, event_type AS touch_type, " +
        "row_number() OVER (PARTITION BY user_id, journey ORDER BY ts, event_id) AS rn, " +
        "count(*) OVER (PARTITION BY user_id, journey) AS cnt " +
        "FROM j WHERE event_type <> 'purchase'), " +
        "c AS (SELECT user_id, journey, ts AS conv_ts FROM j WHERE event_type = 'purchase') " +
        "SELECT c.user_id, c.conv_ts, t.touch_ts, t.touch_type, " +
        "CASE WHEN t.cnt = 1 THEN CAST(1.0 AS DOUBLE) WHEN t.cnt = 2 THEN CAST(0.5 AS DOUBLE) " +
        "WHEN t.rn = 1 OR t.rn = t.cnt THEN CAST(0.4 AS DOUBLE) " +
        "ELSE 0.2 / CAST(t.cnt - 2 AS DOUBLE) END AS weight " +
        "FROM c JOIN t ON c.user_id = t.user_id AND c.journey = t.journey " +
        "ORDER BY c.user_id, conv_ts, touch_ts"),
    "q_mannwhitney" ->
      // exact-integer rank sums on the $100 grid (2×avg-rank stays
      // integral, summed as DECIMAL(38,0)); z in double with the standard
      // tie-corrected variance, identical operation order, 1e-9 floor
      ("WITH c AS (SELECT floor(o_totalprice/100.0 + 0.5)*100.0 AS v, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS a, " +
        "CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS b " +
        "FROM orders WHERE o_totalprice IS NOT NULL AND o_orderstatus IN ('F', 'O')), " +
        "g AS (SELECT v, CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb, " +
        "CAST(sum(a) + sum(b) AS BIGINT) AS t FROM c GROUP BY 1), " +
        "r AS (SELECT *, coalesce(CAST(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb FROM g), " +
        "s AS (SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b, " +
        "CAST(sum(CAST(na AS DECIMAL(38,0)) * CAST(2*cb + t + 1 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ra2, " +
        "CAST(sum(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ties FROM r) " +
        "SELECT n_a, n_b, " +
        "CAST(ra2 - CAST(n_a AS DECIMAL(38,0)) * CAST(n_a + 1 AS DECIMAL(38,0)) AS DOUBLE)/2.0 AS u_stat, " +
        "CASE WHEN n_a > 0 AND n_b > 0 AND " +
        "CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)/12.0 * ((CAST(n_a + n_b AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE)/(CAST(n_a + n_b AS DOUBLE)*(CAST(n_a + n_b AS DOUBLE) - 1.0))) > 0 THEN " +
        "floor((CAST(ra2 - CAST(n_a AS DECIMAL(38,0)) * CAST(n_a + 1 AS DECIMAL(38,0)) AS DOUBLE)/2.0 - CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)/2.0) / " +
        "sqrt(CAST(n_a AS DOUBLE)*CAST(n_b AS DOUBLE)/12.0 * ((CAST(n_a + n_b AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE)/(CAST(n_a + n_b AS DOUBLE)*(CAST(n_a + n_b AS DOUBLE) - 1.0)))) * 1e9 + 0.5)/1e9 END AS z " +
        "FROM s"),
    "q_bh_fdr" ->
      // identical p synthesis, total-order rank, 1e-12-floored step
      // thresholds, suffix-max step-up
      ("WITH h AS (SELECT doc_id AS hyp_id, CAST((doc_id*37)%97 AS DOUBLE)/97.0 AS p " +
        "FROM documents WHERE doc_id < 60), " +
        "r AS (SELECT hyp_id, p, CAST(row_number() OVER (ORDER BY p, hyp_id) AS INTEGER) AS rank, " +
        "count(*) OVER () AS m FROM h), " +
        "t AS (SELECT hyp_id, p, rank, floor(CAST(rank AS DOUBLE)/CAST(m AS DOUBLE)*0.2*1e12 + 0.5)/1e12 AS threshold FROM r) " +
        "SELECT hyp_id, p, rank, threshold, " +
        "max(CASE WHEN p <= threshold THEN 1 ELSE 0 END) OVER (ORDER BY rank DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS rejected " +
        "FROM t ORDER BY rank"),
    "q_kappa" ->
      // marginals joined on the label (NOT diagonal cells — a label both
      // raters use but never agree on still feeds p_e); double math over
      // exact counts, 1e-9 floors at each published quantity
      ("WITH rt AS (SELECT lang AS r1, CASE WHEN doc_id % 7 = 0 THEN source ELSE lang END AS r2 FROM documents), " +
        "rr AS (SELECT r1, r2 FROM rt WHERE r1 IS NOT NULL AND r2 IS NOT NULL), " +
        "m1 AS (SELECT r1 AS c, count(*) AS n1 FROM rr GROUP BY 1), " +
        "m2 AS (SELECT r2 AS c, count(*) AS n2 FROM rr GROUP BY 1), " +
        "pe AS (SELECT coalesce(CAST(sum(CAST(n1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0))) AS DECIMAL(38,0)), CAST(0 AS DECIMAL(38,0))) AS pe_num FROM m1 JOIN m2 USING (c)), " +
        "ob AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(coalesce(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS agree FROM rr) " +
        "SELECT n, floor(CAST(agree AS DOUBLE)/CAST(n AS DOUBLE)*1e9 + 0.5)/1e9 AS p_o, " +
        "floor(CAST(pe_num AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))*1e9 + 0.5)/1e9 AS p_e, " +
        "CASE WHEN n > 0 AND floor(CAST(pe_num AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))*1e9 + 0.5)/1e9 < 1.0 THEN " +
        "floor((floor(CAST(agree AS DOUBLE)/CAST(n AS DOUBLE)*1e9 + 0.5)/1e9 - floor(CAST(pe_num AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))*1e9 + 0.5)/1e9) / " +
        "(1.0 - floor(CAST(pe_num AS DOUBLE)/(CAST(n AS DOUBLE)*CAST(n AS DOUBLE))*1e9 + 0.5)/1e9) * 1e9 + 0.5)/1e9 END AS kappa " +
        "FROM ob CROSS JOIN pe"),
    "q_locf" ->
      // the IGNORE NULLS running last-value window, identical ordering
      ("WITH e AS (SELECT event_id, user_id, ts, " +
        "CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS value FROM events) " +
        "SELECT event_id, user_id, ts, " +
        "last_value(value IGNORE NULLS) OVER w AS value, " +
        "(value IS NULL AND last_value(value IGNORE NULLS) OVER w IS NOT NULL) AS was_filled " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_id"),
    "q_resample_daily" ->
      // per-(user, day) close by the day's final (ts, event_id), per-user
      // daily span grid, ASOF fill — DuckDB's native ASOF JOIN is the
      // reference semantics for the union-window LOCF encoding
      ("WITH o AS (SELECT user_id, ts, event_id, value FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL), " +
        "cl AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts DESC, event_id DESC) AS rn FROM o) WHERE rn = 1), " +
        "sp AS (SELECT user_id, CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM o GROUP BY 1), " +
        "g AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM sp) " +
        "SELECT g.user_id, g.day, cl.value FROM g ASOF JOIN cl " +
        "ON g.user_id = cl.user_id AND g.day >= cl.day ORDER BY g.user_id, g.day"),
    "q_label_prop" -> labelPropOracleSql,
    "q_assoc_rules" ->
      // the q_frequent_pairs mirror emitting BOTH rule directions with
      // confidence = n_pair/n_ante at the same 1e-9 floor
      ("WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem " +
        "WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL AND l_orderkey % 2 = 0), " +
        "nb AS (SELECT count(DISTINCT b) AS n FROM it), " +
        "ic AS (SELECT i, count(*) AS c FROM it GROUP BY 1), " +
        "p AS (SELECT a.i AS ia, b.i AS ib, count(*) AS np FROM it a JOIN it b " +
        "ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "fp AS (SELECT ia, ib, np, ca.c AS na, cb.c AS nbc, " +
        "floor(CAST(np AS DOUBLE)*CAST(nb.n AS DOUBLE)/(CAST(ca.c AS DOUBLE)*CAST(cb.c AS DOUBLE))*1e9 + 0.5)/1e9 AS lift " +
        "FROM p JOIN ic ca ON ia = ca.i JOIN ic cb ON ib = cb.i CROSS JOIN nb), " +
        "ru AS (SELECT ia AS antecedent, ib AS consequent, np AS n_pair, na AS n_ante, lift FROM fp " +
        "UNION ALL SELECT ib, ia, np, nbc, lift FROM fp) " +
        "SELECT antecedent, consequent, n_pair, n_ante, " +
        "floor(CAST(n_pair AS DOUBLE)/CAST(n_ante AS DOUBLE)*1e9 + 0.5)/1e9 AS confidence, lift " +
        "FROM ru WHERE floor(CAST(n_pair AS DOUBLE)/CAST(n_ante AS DOUBLE)*1e9 + 0.5)/1e9 >= 0.05 " +
        "ORDER BY antecedent, consequent"),
    "q_kfold" ->
      // the q_hash_split pattern with 4 generated thresholds from the
      // identical cumulative scan (fold:salt, string-hex compare)
      (s"SELECT doc_id, CASE " +
        (0 until 4).map(i =>
          s"WHEN substr(md5('fold:' || doc_id), 1, 8) < " +
            s"'${Sampling.fractionThreshold(KFoldCums(i))}' THEN '$i' ").mkString +
        "ELSE '4' END AS fold FROM documents ORDER BY doc_id"),
    "q_wilcoxon" ->
      // the MW exact-integer rank machinery over |d| cells of paired
      // integer half-month counts; W+ = exact-half double, z 1e-9
      ("WITH p AS (SELECT user_id, CAST(sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS h1, " +
        "CAST(sum(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS BIGINT) AS h2 " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1), " +
        "dd AS (SELECT floor((CAST(h2 AS DOUBLE) - CAST(h1 AS DOUBLE))/1.0 + 0.5)*1.0 AS d FROM p " +
        "WHERE h1 IS NOT NULL AND h2 IS NOT NULL), " +
        "c AS (SELECT abs(d) AS ad, CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS np, " +
        "CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn, " +
        "CAST(count(*) AS BIGINT) AS t FROM dd WHERE d <> 0 GROUP BY 1), " +
        "r AS (SELECT *, coalesce(CAST(sum(t) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb FROM c), " +
        "s AS (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS n, " +
        "CAST(sum(CAST(np AS DECIMAL(38,0)) * CAST(2*cb + t + 1 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS w2, " +
        "CAST(sum(CAST(t AS DECIMAL(38,0))*CAST(t AS DECIMAL(38,0))*CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ties FROM r) " +
        "SELECT n, CASE WHEN n > 0 THEN CAST(w2 AS DOUBLE)/2.0 END AS w_plus, " +
        "CASE WHEN n > 0 AND CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1.0)*(2.0*CAST(n AS DOUBLE)+1.0)/24.0 - CAST(ties AS DOUBLE)/48.0 > 0 THEN " +
        "floor((CAST(w2 AS DOUBLE)/2.0 - CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1.0)/4.0) / " +
        "sqrt(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)+1.0)*(2.0*CAST(n AS DOUBLE)+1.0)/24.0 - CAST(ties AS DOUBLE)/48.0)*1e9 + 0.5)/1e9 END AS z " +
        "FROM s"),
    "q_cohens_d" ->
      // two-pass mean-shifted decimal moments (the fitOLS2 discipline):
      // snapped decimal-sum means, centered DECIMAL(19,6) squares (the
      // int128 lane), pooled sd in double, 1e-6 floors
      ("WITH base AS (SELECT floor(value*1e6 + 0.5)/1e6 AS v, " +
        "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a, " +
        "CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b " +
        "FROM events WHERE value IS NOT NULL AND event_type IN ('click', 'view')), " +
        "mn AS (SELECT CAST(coalesce(sum(a), 0) AS BIGINT) AS n_a, CAST(coalesce(sum(b), 0) AS BIGINT) AS n_b, " +
        "floor(CAST(sum(CASE WHEN a = 1 THEN CAST(v AS DECIMAL(19,6)) END) AS DOUBLE) / " +
        "CAST(CASE WHEN coalesce(sum(a), 0) > 0 THEN coalesce(sum(a), 0) END AS DOUBLE)*1e6 + 0.5)/1e6 AS ma, " +
        "floor(CAST(sum(CASE WHEN b = 1 THEN CAST(v AS DECIMAL(19,6)) END) AS DOUBLE) / " +
        "CAST(CASE WHEN coalesce(sum(b), 0) > 0 THEN coalesce(sum(b), 0) END AS DOUBLE)*1e6 + 0.5)/1e6 AS mb FROM base), " +
        "ct AS (SELECT n_a, n_b, ma, mb, " +
        "CASE WHEN a = 1 THEN CAST(floor((v - ma)*1e6 + 0.5)/1e6 AS DECIMAL(19,6)) END AS ca, " +
        "CASE WHEN b = 1 THEN CAST(floor((v - mb)*1e6 + 0.5)/1e6 AS DECIMAL(19,6)) END AS cb " +
        "FROM base, mn), " +
        "m AS (SELECT n_a, n_b, ma, mb, sum(ca*ca) AS saa, sum(cb*cb) AS sbb FROM ct GROUP BY 1, 2, 3, 4) " +
        "SELECT n_a, n_b, ma AS mean_a, mb AS mean_b, " +
        "CASE WHEN n_a >= 2 AND n_b >= 2 AND " +
        "(CAST(saa AS DOUBLE) + CAST(sbb AS DOUBLE))/CAST(CASE WHEN n_a + n_b > 2 THEN n_a + n_b - 2 END AS DOUBLE) > 0 THEN " +
        "floor((ma - mb)/sqrt((CAST(saa AS DOUBLE) + CAST(sbb AS DOUBLE))/CAST(CASE WHEN n_a + n_b > 2 THEN n_a + n_b - 2 END AS DOUBLE))*1e6 + 0.5)/1e6 END AS d " +
        "FROM m"),
    "q_kcore" -> kCoreOracleSql,
    "q_zipf" ->
      // the q_unigram_ll tokenization mirror feeding the fitOLS2-style
      // centered decimal-moment regression (1e-6 snapped ln values,
      // snapped decimal-sum means, DECIMAL(19,6) centered moments —
      // the int128 lane)
      ("WITH toks AS (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE text IS NOT NULL), " +
        "t2 AS (SELECT token FROM toks WHERE len(token) > 0), " +
        "cnt AS (SELECT token, COUNT(*) AS n FROM t2 GROUP BY token), " +
        "rk AS (SELECT floor(ln(CAST(row_number() OVER (ORDER BY n DESC, token) AS DOUBLE))*1e6 + 0.5)/1e6 AS x, " +
        "floor(ln(CAST(n AS DOUBLE))*1e6 + 0.5)/1e6 AS y " +
        "FROM cnt ORDER BY n DESC, token LIMIT 100), " +
        "mn AS (SELECT floor(CAST(sum(CAST(x AS DECIMAL(19,6))) AS DOUBLE)/CAST(count(*) AS DOUBLE)*1e6 + 0.5)/1e6 AS mx, " +
        "floor(CAST(sum(CAST(y AS DECIMAL(19,6))) AS DOUBLE)/CAST(count(*) AS DOUBLE)*1e6 + 0.5)/1e6 AS my, " +
        "CAST(count(*) AS BIGINT) AS k FROM rk), " +
        "sh AS (SELECT k, mx, my, CAST(floor((x - mx)*1e6 + 0.5)/1e6 AS DECIMAL(19,6)) AS cx, " +
        "CAST(floor((y - my)*1e6 + 0.5)/1e6 AS DECIMAL(19,6)) AS cy FROM rk, mn), " +
        "m AS (SELECT k, mx, my, CAST(sum(cx*cx) AS DOUBLE) AS sxx, " +
        "CAST(sum(cx*cy) AS DOUBLE) AS sxy, CAST(sum(cy*cy) AS DOUBLE) AS syy " +
        "FROM sh GROUP BY 1, 2, 3) " +
        "SELECT k AS n_tokens_ranked, " +
        "CASE WHEN k >= 3 AND sxx > 0 THEN floor((sxy/sxx)*1e6 + 0.5)/1e6 END AS slope, " +
        "CASE WHEN k >= 3 AND sxx > 0 THEN floor((my - (sxy/sxx)*mx)*1e6 + 0.5)/1e6 END AS intercept, " +
        "CASE WHEN k >= 3 AND sxx > 0 AND syy > 0 THEN floor((1.0 - (syy - (sxy/sxx)*sxy)/syy)*1e6 + 0.5)/1e6 END AS r2 " +
        "FROM m"),
    "q_cube" ->
      // standard-SQL GROUPING bitmask disambiguates real-null dims from
      // subtotal rows; cents-snapped DECIMAL mass cast at the boundary
      ("SELECT o_orderpriority, o_orderstatus, " +
        "CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS grouping_id, " +
        "count(*) AS n, " +
        "CAST(sum(CAST(floor(o_totalprice*1e6 + 0.5)/1e6 AS DECIMAL(28,6))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus) " +
        "ORDER BY grouping_id, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST"),
    "q_pop" ->
      // months-since-epoch integer bucketing (the retention convention),
      // exact DECIMAL totals, delta in decimal cast once, 1e-9 pct floor
      ("WITH m AS (SELECT (year(o_orderdate)*12 + month(o_orderdate) - 1 - 12*1970) AS mi, " +
        "count(*) AS n, sum(CAST(floor(o_totalprice*1e6 + 0.5)/1e6 AS DECIMAL(28,6))) AS t " +
        "FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1), " +
        "l AS (SELECT *, lag(t) OVER (ORDER BY mi) AS p FROM m) " +
        "SELECT CAST(DATE '1970-01-01' + to_months(CAST(mi AS INTEGER)) AS DATE) AS month, " +
        "n, CAST(t AS DOUBLE) AS total, CAST(p AS DOUBLE) AS prev_total, " +
        "CAST(t - p AS DOUBLE) AS delta, " +
        "CASE WHEN p IS NOT NULL AND p <> 0 THEN floor((CAST(t - p AS DOUBLE)/CAST(p AS DOUBLE))*1e9 + 0.5)/1e9 END AS pct_change " +
        "FROM l ORDER BY month"),
    "q_sla" ->
      // quantile_cont ≡ the engine's percentile-over-array (one buffer,
      // same interpolation); 1e-9 floors
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "floor(quantile_cont(value, 0.5)*1e9 + 0.5)/1e9 AS p50, " +
        "floor(quantile_cont(value, 0.9)*1e9 + 0.5)/1e9 AS p90, " +
        "floor(quantile_cont(value, 0.99)*1e9 + 0.5)/1e9 AS p99 " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1 ORDER BY event_type"),
    "q_ann_recall" ->
      // both sides are existing proven mirrors (IVF at nprobe=2, the
      // q_ann_cosine brute force); recall = exact-count division
      (s"WITH ap AS (SELECT q_id, cand_id FROM (${ivfMirrorSql("vec_id < 16", nprobe = 2)})), " +
        s"ex AS (SELECT q_id, cand_id FROM ($annCosineOracleSql)) " +
        "SELECT ex.q_id, CAST(count(*) AS BIGINT) AS n_exact, " +
        "CAST(coalesce(sum(CASE WHEN ap.cand_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit, " +
        "CAST(coalesce(sum(CASE WHEN ap.cand_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall " +
        "FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.cand_id = ap.cand_id " +
        "GROUP BY 1 ORDER BY ex.q_id"),
    "q_theil_sen" ->
      // median-of-pairwise-slopes with 1e-9 pre-snap; quantile_cont ≡
      // Spark percentile (the established interpolation parity)
      ("WITH daily AS (SELECT event_type AS k, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS v " +
        "FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "p AS (SELECT a.k, floor((b.v - a.v)/CAST(date_diff('day', a.day, b.day) AS DOUBLE)*1e9 + 0.5)/1e9 AS s " +
        "FROM daily a JOIN daily b ON a.k = b.k AND a.day < b.day), " +
        "f AS (SELECT k, CAST(count(*) AS BIGINT) AS n_pairs, " +
        "floor(quantile_cont(s, 0.5)*1e9 + 0.5)/1e9 AS slope FROM p GROUP BY 1), " +
        "r AS (SELECT d.k, f.n_pairs, f.slope, " +
        "floor((d.v - f.slope*CAST(date_diff('day', DATE '1970-01-01', d.day) AS DOUBLE))*1e9 + 0.5)/1e9 AS res " +
        "FROM daily d JOIN f ON d.k = f.k) " +
        "SELECT k AS event_type, CAST(count(*) AS BIGINT) AS n_points, n_pairs, slope, " +
        "floor(quantile_cont(res, 0.5)*1e9 + 0.5)/1e9 AS intercept " +
        "FROM r GROUP BY 1, n_pairs, slope ORDER BY event_type"),
    "q_isotonic" ->
      // the minimax identity iso(i) = max_{j≤i} min_{k≥i} mean(j..k)
      // over prefix sums — bins² grid, suffix-min + group-max windows;
      // every mean is an exact-count division (0/1 labels sum exactly)
      ("WITH d AS (SELECT CAST((doc_id*13)%100 AS DOUBLE)/100.0 AS s, " +
        "CASE WHEN (doc_id*7)%100 < (doc_id*13)%100 THEN 1.0 ELSE 0.0 END AS y FROM documents), " +
        "b AS (SELECT CAST(least(floor(s*10), 9) AS INTEGER) AS bin, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(y) AS DOUBLE) AS sy FROM d WHERE s IS NOT NULL AND y IS NOT NULL AND s >= 0 AND s <= 1 GROUP BY 1), " +
        "p AS (SELECT bin, n, sy, CAST(sum(n) OVER wo AS BIGINT) AS cn, CAST(sum(sy) OVER wo AS DOUBLE) AS cy FROM b " +
        "WINDOW wo AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)), " +
        "g AS (SELECT j.bin AS j, k.bin AS k, " +
        "(k.cy - (j.cy - j.sy)) / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS a " +
        "FROM p j JOIN p k ON j.bin <= k.bin), " +
        "m AS (SELECT j, k AS i, min(a) OVER (PARTITION BY j ORDER BY k DESC ROWS UNBOUNDED PRECEDING) AS mji FROM g), " +
        "iso AS (SELECT i, max(mji) AS iso_raw FROM m GROUP BY 1) " +
        "SELECT b.bin, b.n, b.sy / CAST(b.n AS DOUBLE) AS rate, " +
        "floor(iso.iso_raw*1e9 + 0.5)/1e9 AS iso_rate " +
        "FROM b JOIN iso ON b.bin = iso.i ORDER BY bin"),
    "q_holt" ->
      // the exact snapped fold replayed via list_reduce with a [l,b]
      // list accumulator; (1.0 - 0.5)/(1.0 - 0.3) written as runtime
      // subtractions so both engines fold the identical double
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS v " +
        "FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "s AS (SELECT event_type, list(v ORDER BY day) AS ys FROM daily GROUP BY 1 HAVING count(*) >= 2), " +
        "f AS (SELECT event_type, CAST(len(ys) AS BIGINT) AS n, " +
        "list_reduce(list_prepend([floor(ys[1]/1e-12 + 0.5)*1e-12, floor((ys[2]-ys[1])/1e-12 + 0.5)*1e-12]::DOUBLE[], " +
        "list_transform(ys[2:], y -> [y, 0.0]::DOUBLE[])), " +
        "(acc, y) -> [floor((0.5*y[1] + (1.0 - 0.5)*(acc[1] + acc[2]))/1e-12 + 0.5)*1e-12, " +
        "floor((0.3*(floor((0.5*y[1] + (1.0 - 0.5)*(acc[1] + acc[2]))/1e-12 + 0.5)*1e-12 - acc[1]) + (1.0 - 0.3)*acc[2])/1e-12 + 0.5)*1e-12]::DOUBLE[]) AS st " +
        "FROM s) " +
        "SELECT event_type, n, st[1] AS level, st[2] AS trend, " +
        "floor((st[1] + 7.0*st[2])/1e-12 + 0.5)*1e-12 AS forecast " +
        "FROM f ORDER BY event_type"),
    "q_seasonal" ->
      // 1e-6-snapped DECIMAL window sums (window summation ORDER is
      // engine-internal — exact decimal sums are the only stable form),
      // phase means re-centered by the key mean, 1e-9 floors
      ("WITH daily AS (SELECT event_type AS k, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n " +
        "FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "b AS (SELECT k, day, n, CAST(floor(CAST(n AS DOUBLE)*1e6 + 0.5)/1e6 AS DECIMAL(28,6)) AS v6, " +
        "row_number() OVER (PARTITION BY k ORDER BY day) AS idx FROM daily), " +
        "t AS (SELECT *, CASE WHEN count(v6) OVER w = 7 THEN " +
        "floor((CAST(sum(v6) OVER w AS DOUBLE)/7.0)*1e9 + 0.5)/1e9 END AS trend, " +
        "(idx - 1) % 7 AS phase FROM b " +
        "WINDOW w AS (PARTITION BY k ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
        "dd AS (SELECT *, CAST(floor((CAST(v6 AS DOUBLE) - trend)*1e9 + 0.5)/1e9 AS DECIMAL(28,9)) AS d FROM t), " +
        "mm AS (SELECT *, CAST(sum(d) OVER (PARTITION BY k, phase) AS DOUBLE)/CAST(count(d) OVER (PARTITION BY k, phase) AS DOUBLE) AS pm, " +
        "CAST(sum(d) OVER (PARTITION BY k) AS DOUBLE)/CAST(count(d) OVER (PARTITION BY k) AS DOUBLE) AS gm FROM dd) " +
        "SELECT k AS event_type, day, n, trend, " +
        "CASE WHEN pm IS NOT NULL AND gm IS NOT NULL THEN floor((pm - gm)*1e9 + 0.5)/1e9 END AS seasonal, " +
        "CASE WHEN trend IS NOT NULL AND pm IS NOT NULL AND gm IS NOT NULL THEN " +
        "floor((CAST(v6 AS DOUBLE) - trend - floor((pm - gm)*1e9 + 0.5)/1e9)*1e9 + 0.5)/1e9 END AS resid " +
        "FROM mm ORDER BY event_type, day"),
    "q_wilson" ->
      // (1.96*1.96) as a runtime product on both sides; identical
      // center/half operation order, 1e-9 floors on the three outputs
      ("WITH g AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS k " +
        "FROM orders GROUP BY 1), " +
        "e AS (SELECT o_orderpriority, n, k, CAST(k AS DOUBLE)/CAST(n AS DOUBLE) AS p, " +
        "1.0 + (1.96*1.96)/CAST(n AS DOUBLE) AS denom, " +
        "(CAST(k AS DOUBLE)/CAST(n AS DOUBLE) + (1.96*1.96)/(2.0*CAST(n AS DOUBLE))) / (1.0 + (1.96*1.96)/CAST(n AS DOUBLE)) AS center, " +
        "1.96 * sqrt(CAST(k AS DOUBLE)/CAST(n AS DOUBLE)*(1.0 - CAST(k AS DOUBLE)/CAST(n AS DOUBLE))/CAST(n AS DOUBLE) + " +
        "(1.96*1.96)/(4.0*CAST(n AS DOUBLE)*CAST(n AS DOUBLE))) / (1.0 + (1.96*1.96)/CAST(n AS DOUBLE)) AS half FROM g) " +
        "SELECT o_orderpriority, n, k, floor(p*1e9 + 0.5)/1e9 AS rate, " +
        "floor((center - half)*1e9 + 0.5)/1e9 AS lo, " +
        "floor((center + half)*1e9 + 0.5)/1e9 AS hi " +
        "FROM e ORDER BY o_orderpriority"),
    "q_prop_ztest" ->
      // pooled-variance two-proportion z; null-safe success predicate
      ("WITH c AS (SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a, " +
        "CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b, " +
        "CASE WHEN value >= 50 THEN 1 ELSE 0 END AS s " +
        "FROM events WHERE event_type IN ('click', 'view')), " +
        "g AS (SELECT CAST(coalesce(sum(a), 0) AS BIGINT) AS n_a, CAST(coalesce(sum(a*s), 0) AS BIGINT) AS k_a, " +
        "CAST(coalesce(sum(b), 0) AS BIGINT) AS n_b, CAST(coalesce(sum(b*s), 0) AS BIGINT) AS k_b FROM c), " +
        "e AS (SELECT *, CAST(k_a AS DOUBLE)/CAST(n_a AS DOUBLE) AS pa, CAST(k_b AS DOUBLE)/CAST(n_b AS DOUBLE) AS pb, " +
        "CAST(k_a + k_b AS DOUBLE)/CAST(n_a + n_b AS DOUBLE) AS pool FROM g) " +
        "SELECT n_a, k_a, n_b, k_b, " +
        "CASE WHEN n_a > 0 THEN floor(pa*1e9 + 0.5)/1e9 END AS rate_a, " +
        "CASE WHEN n_b > 0 THEN floor(pb*1e9 + 0.5)/1e9 END AS rate_b, " +
        "CASE WHEN n_a > 0 AND n_b > 0 AND pool > 0 AND pool < 1 THEN " +
        "floor((pa - pb)/sqrt(pool*(1.0 - pool)*(1.0/CAST(n_a AS DOUBLE) + 1.0/CAST(n_b AS DOUBLE)))*1e9 + 0.5)/1e9 END AS z " +
        "FROM e"),
    "q_rfm" ->
      // cents-snapped DECIMAL spend, data-anchored recency, three ntile(5)
      // windows each on a TOTAL order (key tiebreak)
      ("WITH o AS (SELECT o_custkey, o_orderdate, " +
        "CAST(floor(o_totalprice*100 + 0.5)/100 AS DECIMAL(18,2)) AS spend " +
        "FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL), " +
        "an AS (SELECT CAST(max(o_orderdate) AS DATE) AS anchor FROM o), " +
        "k AS (SELECT o_custkey, CAST(date_diff('day', CAST(max(o_orderdate) AS DATE), an.anchor) AS BIGINT) AS recency_days, " +
        "count(*) AS frequency, sum(spend) AS monetary FROM o CROSS JOIN an GROUP BY 1, an.anchor) " +
        "SELECT o_custkey, recency_days, frequency, CAST(monetary AS DOUBLE) AS monetary, " +
        "CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS INTEGER) AS r, " +
        "CAST(ntile(5) OVER (ORDER BY frequency ASC, o_custkey) AS INTEGER) AS f, " +
        "CAST(ntile(5) OVER (ORDER BY monetary ASC NULLS FIRST, o_custkey) AS INTEGER) AS m " +
        "FROM k ORDER BY o_custkey"),
    "q_ols" -> {
      // mirror of the SHIFTED-data Cramer solve: snapped decimal-sum
      // means, near-centered moments (no catastrophic determinant
      // cancellation — the construct that made raw-moment coefficients
      // flip in the 9th decimal across engines), identical operand order,
      // outputs on the 1e-6 grid. Products go through DECIMAL(19,6) —
      // width > 18 forces DuckDB's int128 lane (int64 products overflow).
      def D(c: String) = s"CAST($c AS DOUBLE)"
      def det3(a: String, b: String, c: String, p: String, q: String,
               r: String, u: String, v: String, w: String) =
        s"($a*($q*$w - $r*$v) - $b*($p*$w - $r*$u) + $c*($p*$v - $q*$u))"
      val (n, s1, s2, sy) = (D("n"), D("s1"), D("s2"), D("sy"))
      val (s11, s12, s22) = (D("s11"), D("s12"), D("s22"))
      val (s1y, s2y, syy) = (D("s1y"), D("s2y"), D("syy"))
      val dA = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
      val d0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
      val d1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)
      val d2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)
      val b0 = s"($d0/$dA + my - $d1/$dA*m1 - $d2/$dA*m2)"
      val sse = s"($syy - $d0/$dA*$sy - $d1/$dA*$s1y - $d2/$dA*$s2y)"
      val sst = s"($syy - $sy*$sy/$n)"
      val ok = "n >= 3 AND s1 IS NOT NULL AND s2 IS NOT NULL AND sy IS NOT NULL " +
        "AND s11 IS NOT NULL AND s12 IS NOT NULL AND s22 IS NOT NULL " +
        "AND s1y IS NOT NULL AND s2y IS NOT NULL AND syy IS NOT NULL " +
        s"AND abs($dA) > 1e-9"
      def r6(e: String) = s"floor(($e)*1e6 + 0.5)/1e6"
      def snap6(e: String) = s"floor(($e)*1e6 + 0.5)/1e6"
      def meanOf(e: String) =
        snap6(s"CAST(sum(CAST(${snap6(e)} AS DECIMAL(18,6))) AS DOUBLE)/count(*)")
      "WITH li AS (SELECT " + snap6("l_extendedprice") + " AS y, " +
        snap6("l_quantity") + " AS x1, " + snap6("l_discount") + " AS x2 " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL AND l_discount IS NOT NULL), " +
        "mn AS (SELECT " + meanOf("x1") + " AS m1, " + meanOf("x2") + " AS m2, " +
        meanOf("y") + " AS my FROM li), " +
        "sh AS (SELECT " +
        s"CAST(${snap6("x1 - m1")} AS DECIMAL(19,6)) AS c1, " +
        s"CAST(${snap6("x2 - m2")} AS DECIMAL(19,6)) AS c2, " +
        s"CAST(${snap6("y - my")} AS DECIMAL(19,6)) AS cy, m1, m2, my FROM li, mn), " +
        "m AS (SELECT m1, m2, my, count(*) AS n, " +
        "sum(c1) AS s1, sum(c2) AS s2, sum(cy) AS sy, " +
        "sum(c1*c1) AS s11, sum(c1*c2) AS s12, sum(c2*c2) AS s22, " +
        "sum(c1*cy) AS s1y, sum(c2*cy) AS s2y, sum(cy*cy) AS syy " +
        "FROM sh GROUP BY 1, 2, 3) " +
        s"SELECT n, CASE WHEN $ok THEN ${r6(b0)} END AS b0, " +
        s"CASE WHEN $ok THEN ${r6(s"$d1/$dA")} END AS b1, " +
        s"CASE WHEN $ok THEN ${r6(s"$d2/$dA")} END AS b2, " +
        s"CASE WHEN ($ok) AND $sst > 0 THEN ${r6(s"1.0 - $sse/$sst")} END AS r2 FROM m"
    },
    "q_kaplan_meier" ->
      // identical at-risk arithmetic over the unfiltered cumulative,
      // identical 1e-12-floored ln terms decimal-summed, survival on the
      // 1e-9 grid; the exhausted-risk flag mirrors the exact-zero pin
      ("WITH s AS (SELECT user_id, min(ts) AS f, max(ts) AS l FROM events GROUP BY 1), " +
        "subj AS (SELECT CAST(date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) AS DOUBLE) AS dur, " +
        "CASE WHEN user_id % 4 <> 0 THEN 1 ELSE 0 END AS ev FROM s), " +
        "perT AS (SELECT dur AS t, CAST(sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_events, count(*) AS n_total FROM subj GROUP BY 1), " +
        "ar AS (SELECT t, n_events, CAST((SELECT sum(n_total) FROM perT) - coalesce(sum(n_total) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk FROM perT), " +
        "e AS (SELECT t, n_risk, n_events, " +
        "max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END) OVER w AS dead, " +
        "sum(CASE WHEN n_events < n_risk THEN CAST(floor(ln(1.0 - CAST(n_events AS DOUBLE)/CAST(n_risk AS DOUBLE))*1e12 + 0.5)/1e12 AS DECIMAL(28,12)) ELSE CAST(0 AS DECIMAL(28,12)) END) OVER w AS lnsum " +
        "FROM ar WHERE n_events > 0 WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)) " +
        "SELECT t, n_risk, n_events, CASE WHEN dead = 1 THEN 0.0 ELSE floor(exp(CAST(lnsum AS DOUBLE))*1e9 + 0.5)/1e9 END AS survival FROM e ORDER BY t"),
    "q_geo_join" -> {
      // haversine restated with radians as x/180*pi() — the exact JDK
      // Math.toRadians operand order Spark's radians() compiles to —
      // and the same sin/cos/asin/sqrt structure; 1e-6 floor-round
      // absorbs sub-ulp libm drift; blocking must be invisible
      def rad(x: String) = s"(($x)/180*pi())"
      val d =
        s"(2*CAST(6371.0088 AS DOUBLE))*asin(sqrt(" +
          s"sin(${rad("lat2 - lat")}/2)*sin(${rad("lat2 - lat")}/2) + " +
          s"cos(${rad("lat")})*cos(${rad("lat2")})*" +
          s"sin(${rad("lon2 - lon")}/2)*sin(${rad("lon2 - lon")}/2)))"
      "WITH c AS (SELECT c_custkey, CAST(30.0 AS DOUBLE) + CAST((c_custkey*37) % 2500 AS DOUBLE)/100.0 AS lat, " +
        "CAST(-10.0 AS DOUBLE) + CAST((c_custkey*73) % 2000 AS DOUBLE)/100.0 AS lon FROM customer), " +
        "s AS (SELECT s_suppkey, CAST(30.0 AS DOUBLE) + CAST((s_suppkey*41) % 2500 AS DOUBLE)/100.0 AS lat2, " +
        "CAST(-10.0 AS DOUBLE) + CAST((s_suppkey*79) % 2000 AS DOUBLE)/100.0 AS lon2 FROM supplier), " +
        s"p AS (SELECT c_custkey, s_suppkey, floor(($d)*1e6 + 0.5)/1e6 AS distance_km FROM c, s) " +
        "SELECT c_custkey, s_suppkey, distance_km FROM p WHERE distance_km <= 100.0 " +
        "ORDER BY c_custkey, s_suppkey"
    },
    "q_cidr_lookup" -> {
      // identical strict-octet regex + base-256 fold on both sides; LPM
      // stated as the masked-equality join with max-len QUALIFY — the
      // prefix-expansion blocking must be invisible in the result
      val oct = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[0-9][0-9]?)"
      val full = s"^$oct\\.$oct\\.$oct\\.$oct$$"
      def ipLong(e: String): String =
        s"CASE WHEN regexp_matches($e, '$full') THEN " +
          s"CAST(string_split($e, '.')[1] AS BIGINT)*16777216 + " +
          s"CAST(string_split($e, '.')[2] AS BIGINT)*65536 + " +
          s"CAST(string_split($e, '.')[3] AS BIGINT)*256 + " +
          s"CAST(string_split($e, '.')[4] AS BIGINT) END"
      "WITH ev AS (SELECT event_id, CASE WHEN event_id % 11 = 0 THEN '999.1.2.3' " +
        "WHEN event_id % 5 = 0 THEN '172.16.' || CAST(user_id % 16 AS VARCHAR) || '.' || CAST(event_id % 256 AS VARCHAR) " +
        "ELSE '10.' || CAST(user_id % 256 AS VARCHAR) || '.' || CAST((user_id * 7) % 256 AS VARCHAR) || '.' || CAST(event_id % 256 AS VARCHAR) END AS ip FROM events), " +
        "dim(cidr, zone) AS (VALUES ('10.0.0.0/8', 'corp'), ('10.3.21.0/24', 'rack3'), ('10.77.5.9/16', 'dc77'), ('172.16.0.0/12', 'guest')), " +
        "d AS (SELECT cidr, zone, CAST(regexp_extract(cidr, '/([0-9]{1,2})$', 1) AS INT) AS len, " +
        ipLong("regexp_extract(cidr, '^(.*)/[0-9]{1,2}$', 1)") + " AS net0 FROM dim), " +
        "dc AS (SELECT cidr, zone, len, net0 - (net0 % CAST(power(2, 32 - len) AS BIGINT)) AS net FROM d WHERE len BETWEEN 0 AND 32 AND net0 IS NOT NULL), " +
        "ipl AS (SELECT event_id, ip, " + ipLong("ip") + " AS v FROM ev), " +
        "m AS (SELECT i.event_id, dc.cidr, dc.zone, dc.len FROM ipl i JOIN dc " +
        "ON i.v IS NOT NULL AND i.v - (i.v % CAST(power(2, 32 - dc.len) AS BIGINT)) = dc.net), " +
        "b AS (SELECT event_id, cidr, zone FROM m QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY len DESC) = 1) " +
        "SELECT e.event_id, e.ip, b.cidr, b.zone FROM ev e LEFT JOIN b USING (event_id) ORDER BY e.event_id"
    },
    "q_frequent_pairs" ->
      // presence semantics (DISTINCT first), canonical a < b pairs,
      // HAVING the same support gate, lift in double floor-rounded 1e-9
      ("WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem " +
        "WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL), " +
        "nb AS (SELECT count(DISTINCT b) AS n FROM it), " +
        "ic AS (SELECT i, count(*) AS c FROM it GROUP BY 1), " +
        "p AS (SELECT a.i AS ia, b.i AS ib, count(*) AS np FROM it a JOIN it b " +
        "ON a.b = b.b AND a.i < b.i GROUP BY 1, 2 HAVING count(*) >= 2) " +
        "SELECT ia AS item_a, ib AS item_b, np AS n_pair, ca.c AS n_a, cb.c AS n_b, " +
        "floor(CAST(np AS DOUBLE)*CAST(nb.n AS DOUBLE)/(CAST(ca.c AS DOUBLE)*CAST(cb.c AS DOUBLE))*1e9 + 0.5)/1e9 AS lift " +
        "FROM p JOIN ic ca ON ia = ca.i JOIN ic cb ON ib = cb.i CROSS JOIN nb " +
        "ORDER BY item_a, item_b"),
    "q_skyline" ->
      // the SPEC form: quadratic NOT-EXISTS dominance (maximize price,
      // minimize date, one strict) — deliberately NOT the engine's
      // decomposition, so the oracle checks semantics, not structure
      ("SELECT o_orderkey, o_orderdate, o_totalprice FROM orders a " +
        "WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL AND NOT EXISTS (" +
        "SELECT 1 FROM orders b WHERE b.o_totalprice >= a.o_totalprice " +
        "AND b.o_orderdate <= a.o_orderdate " +
        "AND (b.o_totalprice > a.o_totalprice OR b.o_orderdate < a.o_orderdate)) " +
        "ORDER BY o_orderkey")
  )

  /** Timed-ONLY bench entries (r10 verdict ask #5): surfaces with no
    * DuckDB-oracle form that still deserve a per-round wall-clock row.
    * `Bench` runs `queries ++ benchExtra`; `Verify`/correctness runs
    * `queries` alone — these rows are covered by ScalaTest instead
    * (MultimodalSpec, LayoutSpec, OpsSpec). */
  def benchExtra: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_minhash" -> ((s, dir) => {
      // corpus-scale word-token LSH timing series (rows-only until r15,
      // now a bench-only entry — the path's correctness home is the
      // oracle-checked q_minhash_oracle clamp, plus the sf0.01 content
      // pin in RowsOnlyPinSpec that keeps the HOT-BUCKET GUARD honest:
      // this 31-word-vocabulary corpus is pathologically self-similar,
      // so the guard actually fires here, which no bounded clamp can
      // mirror in SQL). Recall target: bandsForThreshold(64, 0.9) = 8
      // bands (S-curve (1/8)^(1/8) ≈ 0.77 ≤ 0.9); the exhaustive join
      // would yield ~987k pairs at sf0.1, the guarded path ~25k that
      // keep every clique CONNECTED for cluster-level dedup.
      Dedup.minhashNearDups(T(s, dir, "documents"), "doc_id", "text",
        numHashes = 64, threshold = 0.9)
        .orderBy("id_a", "id_b")
    }),
    "b_deflate_ratio" -> ((s, dir) => {
      // compression-ratio quality gate under timing: whole-corpus deflate
      // (level 6) + the standard keep-band filter. No SQL engine can
      // replay deflate, so correctness lives in KernelPropsSpec's
      // invariants; this row keeps the wall-clock series
      T(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.expressions.native.deflateRatio(col("text")).as("ratio"))
        .filter(col("ratio") >= 0.25 && col("ratio") <= 0.95)
    }),
    "b_dedup_ngram_full" -> ((s, dir) => {
      // full-corpus char-shingle LSH — the former q_dedup_ngram body; its
      // correctness home is now the oracle-checked q_ngram_jaccard clamp,
      // and this keeps the full-corpus timing series going round-over-round
      Dedup.ngramNearDups(T(s, dir, "documents"), "doc_id", "text",
        ngram = 5, numHashes = 64, threshold = 0.95)
    }),
    "b_hashed_score" -> ((s, dir) => {
      // fastText-style hashed-bigram scoring wall-clock: a 2^14-bucket
      // deterministic weight table through the map-only aggregate fold
      // (murmur3 bucketing isn't SQL-portable, so its correctness home is
      // ClassifierSpec's engine-hash closed form; this keeps a timing row)
      val weights = Array.tabulate(1 << 14)(i => ((i * 2654435761L >>> 18) % 17).toDouble / 8.0 - 1.0)
      graft.ops.Classifier.hashedNgramScore(
        T(s, dir, "documents").filter(col("text").isNotNull),
        "text", weights, bias = -0.2)
        .filter(col("score") > 0.5)
    }),
    "b_multimodal_decode" -> ((s, _) => {
      // REAL ImageIO decode under timing: 256 deterministic in-process
      // PNGs (seeded pixel pattern, ~64x48) through header decode + a
      // histogram-feature extraction + a join — the executor-side batch
      // plumbing MultimodalSpec pins functionally, now with a wall-clock
      // row (decode work dominates; generation is driver-side and tiny)
      val imgs = (0 until 256).map { i =>
        val img = new java.awt.image.BufferedImage(
          64, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 48) {
          var x = 0
          while (x < 64) { img.setRGB(x, y, (x * 31 + y * 17 + i * 101) & 0xffffff); x += 1 }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        org.apache.spark.sql.Row(i.toLong, bos.toByteArray)
      }
      val df = s.createDataFrame(s.sparkContext.parallelize(imgs, 32),
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, payload BINARY"))
      graft.ops.Multimodal.withImageMeta(df, "payload")
        .join(graft.ops.Multimodal.imageHistogramFeatures(df, "payload", bins = 8)
          .select(col("id"), col("features")), Seq("id"))
        .select(col("id"), col("image_meta.width").as("w"), col("features"))
    }),
    "b_audio_decode" -> ((s, _) => {
      // REAL javax.sound WAV decode under timing: 256 in-process PCM
      // tones (seeded freq/amp) through header decode + windowed
      // RMS/ZCR feature extraction + a join — the audio counterpart of
      // b_multimodal_decode
      val wavs = (0 until 256).map { i =>
        val sr = 8000f
        val n = 4000
        val freq = 200.0 + (i % 17) * 50.0
        val amp = 0.2 + (i % 5) * 0.15
        val fmt = new javax.sound.sampled.AudioFormat(sr, 16, 1, true, false)
        val data = new Array[Byte](n * 2)
        var j = 0
        while (j < n) {
          val v = (amp * math.sin(2 * math.Pi * freq * j / sr) * 32767).toInt.toShort
          data(2 * j) = (v & 0xff).toByte
          data(2 * j + 1) = ((v >> 8) & 0xff).toByte
          j += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(data), fmt, n),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        org.apache.spark.sql.Row(i.toLong, bos.toByteArray)
      }
      val df = s.createDataFrame(s.sparkContext.parallelize(wavs, 32),
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, payload BINARY"))
      graft.ops.Multimodal.withAudioMeta(df, "payload")
        .join(graft.ops.Multimodal.audioFeatures(df, "payload", windows = 8)
          .select(col("id"), col("features")), Seq("id"))
        .select(col("id"), col("audio_meta.duration_s").as("dur"), col("features"))
    }),
    "b_image_neardup" -> ((s, _) => {
      // perceptual dedup under timing: 128 base images + a resized copy
      // of each (the dHash-stable transform) -> imageNearDups must pair
      // every (base, copy) through decode + banding + popcount verify
      def png(w: Int, h: Int, seed: Int): Array[Byte] = {
        // seed-dependent 2-D sinusoid FREQUENCIES — dHash is gradient-
        // based, so distinct images must differ in gradient structure,
        // not just constant offsets
        val fx = 1.0 + (seed % 11) * 0.7
        val fy = 0.5 + (seed % 13) * 0.9
        val ph = seed * 0.37
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = (128 + 120 * math.sin(
              fx * x * 2 * math.Pi / w + fy * y * 2 * math.Pi / h + ph)).toInt
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val rows = (0 until 128).flatMap { i =>
        Seq(org.apache.spark.sql.Row(2L * i, png(64, 48, i)),
          org.apache.spark.sql.Row(2L * i + 1, png(128, 96, i)))
      }
      val df = s.createDataFrame(s.sparkContext.parallelize(rows, 32),
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, payload BINARY"))
      graft.ops.Multimodal.imageNearDups(df, "id", "payload", maxDist = 10)
    }),
    "b_layout_bucketed" -> ((s, dir) => {
      // bucketed write + SHUFFLE-FREE bucketed join read-back: both sides
      // bucketed on the join key with the same bucket count, so the timed
      // read plan contains no Exchange (LayoutSpec plan-asserts this
      // property; here it gets a wall-clock row). Tables land in the
      // session warehouse and are overwritten per pass.
      Layout.writeBucketed(T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice")),
        "bench_orders_bucketed", 8, Seq("o_orderkey"))
      Layout.writeBucketed(T(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice")),
        "bench_lineitem_bucketed", 8, Seq("o_orderkey"))
      s.table("bench_lineitem_bucketed")
        .join(s.table("bench_orders_bucketed"), Seq("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_extendedprice")).as("rev"), max(col("o_totalprice")).as("tp"))
    }),
    "b_layout_rangesorted" -> ((s, dir) => {
      // range-sorted write (disjoint per-file min/max) + a range-predicate
      // read-back that prunes at file/row-group granularity — the timed
      // 1-D layout row next to bucketing's join row
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_rangesorted").getAbsolutePath
      graft.ops.Layout.writeRangeSorted(
        T(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice")),
        tmp, numFiles = 8, Seq("l_orderkey"))
      s.read.parquet(tmp)
        .filter(col("l_orderkey").between(1000, 2000))
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("rev"))
    })
  )
}
