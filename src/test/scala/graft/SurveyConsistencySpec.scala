package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §2 ↔ SparkEntry registry consistency — the 1:1 cross-check the
  * round judge performs by hand, automated so drift fails the suite instead
  * of surfacing at judging time:
  *
  *  - every **bold** §2 checklist key must be a driver-gated query (a bold
  *    key with no registry entry is a coverage claim with no evidence);
  *  - every registry key must be documented somewhere in §2 (an entry the
  *    survey never mentions is inventory the judge can't find);
  *  - every oracle key must have a query (an orphan oracle is dead weight
  *    the driver would still try to run).
  */
class SurveyConsistencySpec extends AnyFunSuite {

  private lazy val sec2: String = {
    val txt = Files.readString(Paths.get("SURVEY.md"))
    val afterS2 = txt.split("## §2 ", 2)
    assert(afterS2.length == 2, "SURVEY.md lost its §2 header")
    afterS2(1).split("## §3 ", 2)(0)
  }

  /** The optimization ledgers, OPTIMIZATION_r*.md, oldest first. */
  private lazy val ledgers: Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val docs = Files.list(Paths.get(".")).iterator().asScala
      .filter(_.getFileName.toString.matches("OPTIMIZATION_r\\d+\\.md"))
      .toSeq.sortBy(_.getFileName.toString)
    assert(docs.nonEmpty, "no OPTIMIZATION_r*.md ledgers found")
    docs
  }

  private def mentioned(key: String): Boolean =
    ("(?<![a-z0-9_])" + java.util.regex.Pattern.quote(key) + "(?![a-z0-9_])").r
      .findFirstIn(sec2).isDefined

  test("every bold SURVEY §2 key is a driver-gated registry query") {
    val bold = "- \\[x\\] \\*\\*([a-z0-9_]+)\\*\\*".r
      .findAllMatchIn(sec2).map(_.group(1)).toSet
    assert(bold.nonEmpty, "no bold keys parsed — regex or format drift")
    val phantom = bold.diff(SparkEntry.queries.keySet)
    assert(phantom.isEmpty,
      s"SURVEY claims driver-gated coverage with no registry entry: " +
        s"${phantom.toSeq.sorted.mkString(", ")}")
  }

  test("every registry query is documented in SURVEY §2") {
    val undocumented = SparkEntry.queries.keySet.filterNot(mentioned)
    assert(undocumented.isEmpty,
      s"registry entries the survey never mentions: " +
        s"${undocumented.toSeq.sorted.mkString(", ")}")
  }

  test("no driver-gated query silently disappears: the registry covers " +
    "the committed manifest") {
    // round 8 lost 57 suites without any artifact noticing (ADVICE r8) —
    // the manifest pins the suite list, so a vanishing entry fails HERE,
    // in-repo, before any driver run. Intentional removals must edit
    // scripts/registry_manifest.txt in the same commit (a reviewed,
    // diffable act instead of a silent absence).
    val manifest = Files.readAllLines(Paths.get("scripts/registry_manifest.txt"))
    import scala.jdk.CollectionConverters._
    val pinned = manifest.asScala.map(_.trim).filter(_.nonEmpty).toSet
    assert(pinned.size > 200, s"manifest suspiciously small: ${pinned.size}")
    val gone = pinned.diff(SparkEntry.queries.keySet)
    assert(gone.isEmpty,
      s"queries vanished from the registry (update the manifest if " +
        s"intentional): ${gone.toSeq.sorted.mkString(", ")}")
    val unpinned = SparkEntry.queries.keySet.diff(pinned)
    assert(unpinned.isEmpty,
      s"new queries not yet pinned — add to scripts/registry_manifest.txt: " +
        s"${unpinned.toSeq.sorted.mkString(", ")}")
  }

  test("the latest §8 outcome section's headline counts match the " +
    "registry (VERDICT r15 #7 — §8n shipped 296/36 while the artifacts " +
    "said 297/37; prose must not drift from the manifest again)") {
    val txt = Files.readString(Paths.get("SURVEY.md"))
    val line = "Registry: (\\d+) entries \\((\\d+) oracled \\+ (\\d+) rows-only\\)\\.".r
    val m = line.findFirstMatchIn(txt).getOrElse(
      fail("no 'Registry: N entries (X oracled + Y rows-only).' line — " +
        "each round's §8 outcome section must carry one"))
    // the FIRST match is the newest outcome section (they stack newest-first)
    val (total, oracled, rowsOnly) =
      (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt)
    assert(total == SparkEntry.queries.size,
      s"§8 says $total entries; registry has ${SparkEntry.queries.size}")
    assert(oracled == SparkEntry.oracleSql.size,
      s"§8 says $oracled oracled; oracleSql has ${SparkEntry.oracleSql.size}")
    assert(rowsOnly == SparkEntry.queries.size - SparkEntry.oracleSql.size,
      s"§8 says $rowsOnly rows-only; actual is " +
        s"${SparkEntry.queries.size - SparkEntry.oracleSql.size}")
  }

  test("§8 outcome claims that BASELINE 'has/carries/records' something " +
    "resolve to recorded BASELINE content (VERDICT r16 #1/#4 — round 16 " +
    "shipped two sentences citing tables that were never committed: the " +
    "q9 SHJ suite-subset table and the re-pinned q18 decade walls)") {
    val survey = Files.readString(Paths.get("SURVEY.md"))
    val baseline = Files.readString(Paths.get("BASELINE.md"))
    // outcome sections stack newest-first; enforce the newest TWO (the
    // round being written plus the round just judged — older sections
    // predate the convention and their numbers live in superseded tables)
    val sections = "(?s)## §8[a-z]+ Round-\\d+ outcome.*?(?=## §8|\\z)".r
      .findAllIn(survey).toSeq.take(2)
    assert(sections.nonEmpty, "no §8 outcome sections parsed")
    // numbered items: "1. **...**" up to the next numbered item
    val items = sections.flatMap(
      "(?sm)^\\d+\\. .*?(?=^\\d+\\. |\\z)".r.findAllIn(_))
    val claims = items.filter(
      "BASELINE r\\d+ (has|carries|records|keeps|pins)".r
        .findFirstIn(_).isDefined)
    def recorded(num: String): Boolean =
      ("(?<![\\d.])" + java.util.regex.Pattern.quote(num) + "(?![\\d.])").r
        .findFirstIn(baseline).isDefined
    claims.foreach { item =>
      // every wall-clock number the claim cites ("29.5 s", "~40 s") must
      // appear in BASELINE — un-recorded numbers are exactly what
      // BASELINE exists to prevent
      val walls = "(\\d+(?:\\.\\d+)?)(?=\\s?s\\b)".r
        .findAllMatchIn(item).map(_.group(1)).toSeq.distinct
      val missing = walls.filterNot(recorded)
      assert(missing.isEmpty,
        s"§8 claims BASELINE records walls ${missing.mkString(", ")}s but " +
          s"BASELINE.md has no such number — commit the table or retract " +
          s"the sentence. Item:\n${item.take(400)}")
      // ...and every backticked conf fragment (`k=v`) must appear too
      val confs = "`([^`]*=[^`]*)`".r.findAllMatchIn(item)
        .map(_.group(1)).toSeq.distinct
      val missingConfs = confs.filterNot(baseline.contains)
      assert(missingConfs.isEmpty,
        s"§8 claims BASELINE records an experiment on " +
          s"${missingConfs.mkString(", ")} but BASELINE.md never mentions " +
          s"it. Item:\n${item.take(400)}")
    }
    assert(claims.nonEmpty || sections.forall(
      !_.contains("BASELINE r")), "claim parser found nothing — format drift?")
  }

  test("OPTIMIZATION_r*.md: every cited plans/ file is committed and no " +
    "placeholder marker survives (VERDICT r17 #4 — round 17 shipped a " +
    "literal ALTERNATED-RUNS-PLACEHOLDER and cited after-plan dumps that " +
    "were never committed; this is the §8 artifact-claims discipline " +
    "extended to the optimization ledgers)") {
    ledgers.foreach { doc =>
      val txt = Files.readString(doc)
      assert(!txt.contains("PLACEHOLDER"),
        s"$doc still contains a placeholder marker — run the promised " +
          "measurement or retract the promise")
      // plan citations, brace sets expanded: plans/rN/x_{before,after}.txt
      val cites = "plans/r\\d+/[A-Za-z0-9_]+(?:\\{[A-Za-z0-9_,]+\\})?" +
        "[A-Za-z0-9_]*\\.txt"
      cites.r.findAllIn(txt).toSeq.distinct.foreach { cite =>
        val expanded: Seq[String] =
          "\\{([A-Za-z0-9_,]+)\\}".r.findFirstMatchIn(cite) match {
            case Some(m) => m.group(1).split(",").toSeq
              .map(alt => cite.substring(0, m.start) + alt +
                cite.substring(m.end))
            case None => Seq(cite)
          }
        val missing = expanded.filterNot(p => Files.exists(Paths.get(p)))
        assert(missing.isEmpty,
          s"$doc cites ${missing.mkString(", ")} but no such file is " +
            "committed — dump the plan (graft.Audit plans --out) or correct the citation")
      }
    }
  }

  test("OPTIMIZATION_r*.md: every cited ledger or bench artifact " +
    "(OPTIMIZATION_r*.md, BENCH_*.json, PERF_*.json) is committed — " +
    "round 17's ledger pointed at an OPTIMIZATION_r18.md never written") {
    val artifact =
      "OPTIMIZATION_r\\d+\\.md|(?:BENCH|PERF)_[A-Za-z0-9_]+\\.json".r
    ledgers.foreach { doc =>
      val missing = artifact.findAllIn(Files.readString(doc)).toSeq.distinct
        .filterNot(f => Files.exists(Paths.get(f)))
      assert(missing.isEmpty,
        s"$doc cites ${missing.mkString(", ")} but no such file is " +
          "committed — write it or cite what exists")
    }
  }

  test("every oracle key has a query; oracle SQL is non-empty") {
    val orphans = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(orphans.isEmpty,
      s"oracle entries with no query: ${orphans.toSeq.sorted.mkString(", ")}")
    val empty = SparkEntry.oracleSql.collect { case (k, v) if v.trim.isEmpty => k }
    assert(empty.isEmpty, s"empty oracle SQL: ${empty.mkString(", ")}")
  }
}
