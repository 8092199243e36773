package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The committed-artifact lifecycle has one home: `Artifacts.Layout`
  * (plus the `maintainAll` sweep) in Artifacts.scala. This spec reads
  * the main sources — no Spark — and fails when a lifecycle primitive
  * is called from anywhere else, so no module can grow a private copy
  * of the snapshot publish, the compact + vacuum upkeep or the id and
  * suite takedowns again. Sinks.scala, where the primitives live, is
  * exempt; the one listed exception is the tokenizer bundle's snapshot,
  * whose upkeep is a retrain rather than a layout step.
  */
class LifecycleGuardSpec extends AnyFunSuite {

  private val primitives: Seq[(String, String)] = Seq(
    "ArtifactSnapshot.commit" -> """ArtifactSnapshot\s*\.\s*commit\s*\(""",
    "VersionedTable.compact" -> """\bcompact\s*\(""",
    "VersionedTable.vacuumVersioned" -> """\bvacuumVersioned\s*\(""",
    "Takedown.retractIds" -> """\bretractIds\s*\(""",
    "Takedown.retractSuite" -> """\bretractSuite\s*\(""")

  /** (file name, primitive) -> allowed call count. */
  private val allowed: Map[(String, String), Int] = Map(
    ("Artifacts.scala", "ArtifactSnapshot.commit") -> 1,
    ("Artifacts.scala", "VersionedTable.compact") -> 1,
    ("Artifacts.scala", "VersionedTable.vacuumVersioned") -> 1,
    ("Artifacts.scala", "Takedown.retractIds") -> 1,
    ("Artifacts.scala", "Takedown.retractSuite") -> 1,
    ("TextOps.scala", "ArtifactSnapshot.commit") -> 1)

  /** Source text with string literals, then comments, blanked, so
    * prose naming a primitive never counts as a call (strings first: a
    * string holding a comment opener must not start a comment). */
  private def code(p: Path): String =
    Files.readString(p)
      .replaceAll("\"\"\"(?s).*?\"\"\"", "\"\"")
      .replaceAll(""""(?:\\.|[^"\\\n])*"""", "\"\"")
      .replaceAll("""(?s)/\*.*?\*/""", "")
      .replaceAll("""//[^\n]*""", "")

  private lazy val mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), "main sources not present")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
  }

  /** (file name, primitive) -> calls found, definitions excluded. */
  private lazy val calls: Map[(String, String), Int] =
    (for {
      p <- mainSources if p.getFileName.toString != "Sinks.scala"
      text = code(p)
      (name, re) <- primitives
      n = s"""(?<!def )$re""".r.findAllMatchIn(text).size if n > 0
    } yield (p.getFileName.toString, name) -> n).toMap

  test("lifecycle primitives are called only from Artifacts.scala (and the tokenizer bundle's snapshot)") {
    val strays = calls.filter { case (k, n) => allowed.get(k).forall(_ < n) }
    assert(strays.isEmpty,
      "a lifecycle primitive is called outside Artifacts.Layout — add the step " +
        s"to the layout instead: ${strays.toSeq.sorted.mkString(", ")}")
  }

  test("each lifecycle step has exactly one call site in Artifacts.scala") {
    for ((name, _) <- primitives)
      assert(calls.get(("Artifacts.scala", name)).contains(1),
        s"$name must be called exactly once in Artifacts.scala: ${calls.get(("Artifacts.scala", name))}")
  }
}
