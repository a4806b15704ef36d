package graft

import org.scalatest.funsuite.AnyFunSuite

/** Process-invariant guards that have historically drifted:
  *   - every inventory query must carry a DuckDB oracle (round 10 shipped
  *     d75 without one — the driver reported err:no_oracle, the only
  *     non-green row of the round);
  *   - SURVEY.md §8 and README.md state the inventory size (the judge
  *     audits SURVEY as the blueprint; both said "126" for two rounds
  *     after the count hit 133);
  *   - every class the run recipes name still exists (deleted mains kept
  *     their `runMain` recipes in four docs);
  *   - hand-placed `broadcast(` hints and `Caches.ephemeral` persists in
  *     src/main do not grow unnoticed (ROADMAP aim 2: each must pay for
  *     itself), counted as `grep -o` counts them.
  */
class DocsSpec extends AnyFunSuite {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("SURVEY.md and README.md state the real inventory count") {
    val n = SparkEntry.queries.size
    val survey = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    assert(survey.contains(s"Inventory: $n oracle-checked"),
      s"SURVEY.md must say 'Inventory: $n oracle-checked queries'")
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")), "UTF-8")
    assert(readme.contains(s"($n queries"),
      s"README.md must say '($n queries, all matching ...'")
  }

  test("every graft class named in README, SURVEY, tools/*.md and the verify skill exists") {
    val tools = new java.io.File("tools").listFiles().map(_.getPath).filter(_.endsWith(".md"))
    val docs = Seq("README.md", "SURVEY.md", ".claude/skills/verify/SKILL.md") ++ tools
    val Name = """\bgraft(?:\.[a-z]\w*)*\.[A-Z]\w*""".r
    val cited = docs.flatMap { d =>
      val text = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(d)), "UTF-8")
      Name.findAllIn(text).map(_ -> d)
    }.distinct
    assert(cited.map(_._1).contains("graft.App"), s"no class citations found in $docs")
    val missing = cited.filter { case (n, _) =>
      scala.util.Try(Class.forName(n, false, getClass.getClassLoader)).isFailure
    }
    assert(missing.isEmpty, s"docs name classes that do not exist: ${missing.mkString(", ")}")
  }

  test("broadcast hints and ephemeral persists stay within their budget") {
    // Lower a budget when a hint or a persist goes; a new one raises it in
    // its own change, with the measurement that justifies it.
    val budget = Map("broadcast(" -> 124, "Caches.ephemeral" -> 78)
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    budget.foreach { case (needle, max) =>
      val n = sources.map(java.util.regex.Pattern.quote(needle).r.findAllMatchIn(_).size).sum
      assert(n <= max, s"src/main has $n occurrences of '$needle', over its budget of $max")
    }
  }
}
