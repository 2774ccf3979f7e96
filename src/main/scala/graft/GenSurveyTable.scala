package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Dev tool: emit SURVEY.md §2.R2 — the machine-generated index of every
  * registered query, by family — from `Registry.families` plus a source scan
  * for each definition site. The hand-maintained §2.R1 prose table keeps the
  * design narrative; this table is the exhaustive query→family→file:line
  * mapping. RegistrySpec asserts that SURVEY.md's generated block equals
  * [[table]] over the current sources, so `sbt test` fails on any stale row,
  * line number included. Run from the repository root:
  * `sbt 'runMain graft.GenSurveyTable'`. */
object GenSurveyTable {

  val Start = "<!-- GENERATED:REGISTRY-TABLE START (runMain graft.GenSurveyTable) -->"
  val End = "<!-- GENERATED:REGISTRY-TABLE END -->"

  val QueryDir: Path = Paths.get("src/main/scala/graft/queries")

  /** Every line of every query source under `root`, as (repo-relative file,
    * 1-based line, text), files in name order. */
  def sources(root: Path): Seq[(String, Int, String)] = {
    val files = Files.list(root.resolve(QueryDir)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.getFileName.toString)
    files.flatMap { f =>
      val rel = QueryDir.resolve(f.getFileName).toString
      Files.readAllLines(f).asScala.toSeq.zipWithIndex.map { case (l, i) => (rel, i + 1, l) }
    }
  }

  /** The generated block's body: one row per registered query, in
    * `Registry.families` order, located in `lines`. */
  def table(lines: Seq[(String, Int, String)]): String = {
    def locate(q: String): String = {
      val quoted = "\"" + q + "\""
      // prefer the QueryDef(...) registration; fall back to any literal
      lines.collectFirst { case (f, i, l) if l.contains("QueryDef(" + quoted) => s"`$f:$i`" }
        .orElse(lines.collectFirst { case (f, i, l) if l.contains(quoted) => s"`$f:$i`" })
        .getOrElse("`???`")
    }
    val rows = Registry.families.flatMap { case (family, defs) =>
      defs.map { q =>
        val check = (if (q.oracle.isDefined) "oracle" else "rows-only") +
          (if (q.benchSkip) ", benchSkip" else "")
        s"| `${q.name}` | $family | ${q.doc.replace("|", "\\|")} | ${locate(q.name)} | $check |"
      }
    }
    (Seq(
      s"${rows.size} registered queries (generated from `Registry.families` — do not hand-edit).",
      "",
      "| query | family | doc | registered at | check |",
      "|---|---|---|---|---|") ++ rows).mkString("\n")
  }

  /** The text between the markers of `survey`, as [[main]] writes it. */
  def block(survey: String): Option[String] = {
    val si = survey.indexOf(Start); val ei = survey.indexOf(End)
    if (si < 0 || ei <= si) None else Some(survey.substring(si + Start.length, ei).trim)
  }

  def main(args: Array[String]): Unit = {
    val root = Paths.get("")
    val rendered = table(sources(root))
    val survey = root.resolve("SURVEY.md")
    val content = new String(Files.readAllBytes(survey), "UTF-8")
    val si = content.indexOf(Start); val ei = content.indexOf(End)
    require(si >= 0 && ei > si, "SURVEY.md generated-table markers missing")
    val out = content.substring(0, si + Start.length) + "\n\n" + rendered + "\n\n" +
      content.substring(ei)
    Files.write(survey, out.getBytes("UTF-8"))
    println(s"[gensurvey] wrote ${Registry.all.size} rows to SURVEY.md §2.R2")
  }
}
