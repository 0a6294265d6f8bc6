package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The engine is what its entry points reach. The roots are
  * [[SparkEntry]], every object with a `def main`, and every `graft`
  * name the perfbench harness references. From them the walk follows
  * name references file by file: a file is reached once a reached file
  * names something it declares. Every `src/main` file must be reached,
  * or be on [[ReachabilitySpec.Allowlist]] with its reason; an
  * allowlisted file that becomes reached fails too, so the list cannot
  * go stale.
  */
class ReachabilitySpec extends SparkSpec {
  import ReachabilitySpec._

  /** `graft` names the perfbench sources reference, by import or path. */
  private def perfbenchNames: Set[String] = {
    val files = Files.list(Paths.get("perfbench/src")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "no perfbench sources")
    val code = files.map(p => SparkSpec.stripComments(new String(Files.readAllBytes(p), "UTF-8")))
    code.flatMap(GraftPath.findAllIn(_).flatMap(Ident.findAllIn)).toSet - "graft"
  }

  private def roots = perfbenchNames + "SparkEntry"

  test("every src/main file is reached from an entry point or allowlisted with a reason") {
    val files = mainSources.map(_._1)
    assert(files.distinct.size == files.size, "the walk keys files by name")
    assert(Allowlist.values.forall(_.trim.nonEmpty))
    assert(violations(mainSources, roots).isEmpty, violations(mainSources, roots))
  }

  test("the walk flags an object that nothing references") {
    val orphan = "OrphanProbe.scala" ->
      "package graft\n\nobject OrphanProbe {\n  def answer: Int = 42\n}\n"
    assert(violations(mainSources :+ orphan, roots) ==
      Seq("OrphanProbe.scala: no entry point reaches it"))
  }

  test("an allowlisted file that becomes reached fails the spec") {
    val caller = "TiffProbe.scala" -> ("package graft\n\nobject TiffProbe {\n" +
      "  def main(args: Array[String]): Unit =\n" +
      "    println(graft.sources.TiffMeta.extract(Array.emptyByteArray))\n}\n")
    assert(violations(mainSources :+ caller, roots) ==
      Seq("TiffMeta.scala: allowlisted but reached; remove it from the allowlist"))
  }

  test("a package object is reached through its members' names") {
    val (_, pkg) = mainSources.find(_._1 == "package.scala").get
    assert(declares(pkg) == Set("moneySum", "cents", "fromCents"))
    assert(reached(mainSources, roots)("package.scala"))
  }
}

object ReachabilitySpec {

  /** Files kept although no entry point reaches them, each with why. */
  val Allowlist: Map[String, String] = Map(
    "TiffMeta.scala" -> ("the only OME-TIFF and SCN-TIFF metadata reader (S6, S9); " +
      "no ingest fixture holds a TIFF yet"),
    "SciBinaryMeta.scala" -> ("the only CZI and imzML metadata reader (S7, S8); " +
      "no ingest fixture holds either format yet"),
    "Xlsx.scala" -> "the only Excel reader (S13); no ingest fixture holds a workbook yet",
  )

  private val Ident = """\b[A-Za-z_]\w*\b""".r
  private val GraftPath = """\bgraft\.[\w.]*(?:\{[^}]*\})?""".r
  private val Main = """\bdef main\(""".r
  private val TopLevel =
    """(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(?:class|trait|object)\s+(\w+)""".r
  private val PackageObject = """(?m)^package object \w+""".r
  private val PackageMember =
    """(?m)^  (?:(?:final|implicit|override|private(?:\[\w+\])?)\s+)*(?:def|val|lazy val|var)\s+(\w+)""".r

  /** The names other files reach a file by: its top-level classes,
    * traits and objects; for a package object, its members, which are
    * imported by name (the package's own name is every import's prefix).
    */
  def declares(code: String): Set[String] = {
    val decl = if (PackageObject.findFirstIn(code).isDefined) PackageMember else TopLevel
    decl.findAllMatchIn(code).map(_.group(1)).toSet
  }

  /** Files reached from the roots: the files with a `def main` and the
    * files declaring a root name, closed under name reference.
    */
  def reached(sources: Seq[(String, String)], rootNames: Set[String]): Set[String] = {
    val declared = sources.map { case (f, code) => f -> declares(code) }.toMap
    val tokens = sources.map { case (f, code) => f -> Ident.findAllIn(code).toSet }.toMap
    var seen = sources.collect { case (f, code)
      if Main.findFirstIn(code).isDefined || declared(f).exists(rootNames) => f }.toSet
    var frontier = seen
    while (frontier.nonEmpty) {
      val refs = frontier.flatMap(tokens)
      frontier = declared.collect { case (f, names) if !seen(f) && names.exists(refs) => f }.toSet
      seen ++= frontier
    }
    seen
  }

  /** One message per file that breaks the contract, unreached files first. */
  def violations(sources: Seq[(String, String)], rootNames: Set[String]): Seq[String] = {
    val seen = reached(sources, rootNames)
    val files = sources.map(_._1)
    files.filterNot(f => seen(f) || Allowlist.contains(f))
      .map(f => s"$f: no entry point reaches it") ++
    Allowlist.keys.toSeq.sorted.collect {
      case f if seen(f) => s"$f: allowlisted but reached; remove it from the allowlist"
      case f if !files.contains(f) => s"$f: allowlisted but not a src/main file"
    }
  }
}
