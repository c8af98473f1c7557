package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The composed two-pass pipeline ([[TwoPassCuration]]): end-to-end
  * duplication invariance — re-crawling every page 10× (fresh, larger
  * doc_ids, same URLs and content) must curate to the IDENTICAL document
  * set — plus the per-stage effects visible across the seam. */
class TwoPassCurationSpec extends SparkSuite {
  import spark.implicits._

  // synthetic 3-domain crawl: per-domain nav boilerplate on every page,
  // planted near-dup page pairs, one blocked domain, and under-length
  // junk the quality gate must drop. Content tokens are NAMESPACED by
  // (domain, block) — the same technique as the MinHash recall spec — so
  // distinct blocks share ZERO tokens (cross-pair Jaccard 0) while the
  // odd doc of each pair appends ONE token to its even twin's body line
  // (within-pair Jaccard = 60/61 ≈ 0.984 — far enough above the 0.9
  // threshold that the 64-hash signature ESTIMATE, which must also clear
  // 0.9 in the verification step, has a safe margin on every pair).
  // The survivor set is therefore exactly predictable: one (min-id, i.e.
  // even) doc per planted pair.
  private def crawl(copies: Int): DataFrame = {
    val base = (0 until 3).flatMap { d =>
      (0 until 40).map { i =>
        val id = (d * 40 + i).toLong
        val url = s"https://www.site$d.co.uk/p/$i"
        val nav = s"site$d home about contact navigation bar for every page of this domain"
        val b = i / 2
        val body = (0 until 60).map(k => s"d${d}b${b}w$k").mkString(" ")
        // one appended token, SAME line: a distinct unit (so corpus-wide
        // unit keep-first dedup does not eat it) that is a near-dup
        val text = if (i % 2 == 1) s"$nav\n$body d${d}b${b}x" else s"$nav\n$body"
        (id, url, text)
      }
    } ++ (0 until 20).map { j =>
      val id = (200 + j).toLong
      (id, s"https://tracker.bad-site.com/x/$j",
        s"blocked domain content $j that would otherwise pass every gate with room to spare")
    } ++ (0 until 10).map { j =>
      val id = (300 + j).toLong
      (id, s"https://www.site0.co.uk/junk/$j", "x")
    }
    // re-crawl copies: SAME url + text, fresh larger ids — the survivor
    // set must not notice them (min-id wins every stage)
    val all = (0 until copies).flatMap { k =>
      base.map { case (id, u, t) => (id + 1000L * k, u, t) }
    }
    all.toDF("doc_id", "url", "text")
  }

  private def run(df: DataFrame): Map[Long, String] =
    TwoPassCuration.curate(df, Seq("bad-site.com"))
      .select("doc_id", "text").as[(Long, String)].collect().toMap

  test("10× re-crawl duplication curates to the IDENTICAL document set") {
    val once = run(crawl(1))
    val tenX = run(crawl(10))
    assert(once.nonEmpty, "pipeline curated everything away")
    assert(tenX == once,
      s"duplication changed the curated set: 1×=${once.keySet.toSeq.sorted} " +
        s"10×=${tenX.keySet.toSeq.sorted}")
  }

  test("each stage's effect is visible across the seam") {
    val out = TwoPassCuration.curate(crawl(1), Seq("bad-site.com"))
    val ids = out.select("doc_id").as[Long].collect().toSet
    // blocklist: no bad-site docs survive
    assert(ids.forall(id => id < 200 || id >= 300), s"blocked ids leaked: $ids")
    // quality/length gate: junk docs gone
    assert(ids.forall(_ < 300), "under-length junk survived")
    // boilerplate: the nav line is stripped from every surviving text
    val navLeaks = out.filter(col("text").contains("navigation bar")).count()
    assert(navLeaks == 0, s"$navLeaks docs still carry the domain nav line")
    // near-dup dedup: each planted pair collapses to its min-id (even)
    // member and nothing else is lost — the survivor set is EXACTLY the
    // 60 even content ids (cross-pair Jaccard is 0 by construction, so
    // any extra loss means spurious merging; any extra survivor means a
    // missed pair)
    val expected = (0 until 120 by 2).map(_.toLong).toSet
    assert(ids == expected,
      s"survivors != planted distinct-content set: missing=${expected -- ids} " +
        s"extra=${ids -- expected}")
    // PSL domain survives to the output surface
    val domains = out.select("domain").distinct().as[String].collect().toSet
    assert(domains.subsetOf(Set("site0.co.uk", "site1.co.uk", "site2.co.uk")),
      s"unexpected domains: $domains")
  }

  test("deterministic under repartitioning") {
    val a = run(crawl(1))
    val b = run(crawl(1).repartition(17))
    assert(a == b)
  }
}
