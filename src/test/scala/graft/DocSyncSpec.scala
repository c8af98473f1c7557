package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Audit-chain sync gate (r14 verdict ask): every query the driver
  * checks (= every `SparkEntry.queries` key) must be cited somewhere in
  * COVERAGE.md, so SURVEY → COVERAGE → CORRECTNESS closes over the whole
  * surface — a green query no COVERAGE row claims is an audit gap
  * (q_audio_features and q_reject_reasons in r14). Runs off the
  * committed files; sbt executes from the repo root. */
class DocSyncSpec extends AnyFunSuite {

  test("every SparkEntry query key is cited in COVERAGE.md") {
    val cov = java.nio.file.Files.readString(
      java.nio.file.Path.of("COVERAGE.md"))
    val missing = SparkEntry.queries.keys.toSeq.sorted.filterNot(cov.contains)
    assert(missing.isEmpty,
      s"COVERAGE.md cites no row for: ${missing.mkString(", ")}")
  }

  test("every oracleSql key has a matching queries entry") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracle SQL without a query: $dangling")
  }

  test("GraftSession.scala is the only session builder under src/") {
    // split so this file does not match its own search
    val needle = "SparkSession" + ".builder"
    val files = java.nio.file.Files.walk(java.nio.file.Path.of("src"))
    val builders =
      try files.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .filter(p => new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.ISO_8859_1).contains(needle))
        .map(_.toString).toSeq.sorted
      finally files.close()
    assert(builders == Seq("src/main/scala/graft/GraftSession.scala"),
      s"build sessions with GraftSession.local, not in: ${builders.mkString(", ")}")
  }
}
