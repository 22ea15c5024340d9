package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A main file stays only if an entry point reaches it. The walk is
  * file-level: each top-level `object`, `class` and `trait` name maps
  * to the file that declares it, and a file reaches every file whose
  * name appears in its code. Comments are stripped first, so a
  * `[[link]]` or a prose mention keeps nothing alive; string
  * literals stay, because a class loaded by name is named in one.
  */
object ReachabilitySpec {

  /** Entry points, each with the reason it is one. */
  val roots: Seq[(String, String)] = Seq(
    "Main" -> "the CDC daemon; its Registry names every source and sink",
    "SparkEntry" -> "the gate queries and their oracle SQL",
    "Verify" -> "the correctness dump main",
    "Bench" -> "the benchmark main",
    "Measure" -> "the single-query timing main that tools/bench_pin.py re-runs",
    "CurateMain" -> "the curation main that ModelLifecycleSpec runs",
    "ChecksumMain" -> "the table-diff main that ChecksumMainSpec runs",
    "CurationSoakMain" -> "the curation soak main behind SCALE.md's sf1 soak rows",
    "GraftExtensions" -> "loaded by name through spark.sql.extensions")

  /** Classes Spark loads by name from `META-INF/services`. */
  def serviceRoots(resources: Path): Seq[String] =
    Files.list(resources.resolve("META-INF/services")).iterator().asScala
      .toSeq.flatMap { f =>
        Files.readAllLines(f).asScala.map(_.trim)
          .filter(l => l.nonEmpty && !l.startsWith("#"))
          .map(_.split('.').last)
      }

  /** `src` with every comment blanked; string and character literals
    * are kept, so a `//` inside a URL is not a comment. */
  def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < n) {
      if (at("//")) {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        }
        out.append(' ')
      } else if (at("\"\"\"")) {
        val close = src.indexOf("\"\"\"", i + 3)
        var j = if (close < 0) n else close + 3
        while (j < n && src.charAt(j) == '"') j += 1
        out.append(src.substring(i, j))
        i = j
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out.append(src.substring(i, j))
        i = j
      } else if (src.charAt(i) == '\'' && i + 2 < n &&
          (src.charAt(i + 1) == '\\' || src.charAt(i + 2) == '\'')) {
        val close = src.indexOf('\'', i + 2)
        val j = if (close < 0) n else close + 1
        out.append(src.substring(i, j))
        i = j
      } else {
        out.append(src.charAt(i))
        i += 1
      }
    }
    out.toString
  }

  private val TopLevel =
    ("""(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*""" +
      """(?:object|class|trait)\s+(\w+)""").r
  private val Ident = """[A-Za-z_][A-Za-z0-9_]*""".r

  /** Files (keys of `sources`) that no root reaches. Fails loudly on
    * a root that no file declares. */
  def unreached(sources: Map[String, String], rootNames: Seq[String]): Set[String] = {
    val code = sources.map { case (f, s) => f -> stripComments(s) }
    val declaredIn: Map[String, Set[String]] = code.toSeq
      .flatMap { case (f, s) => TopLevel.findAllMatchIn(s).map(_.group(1) -> f) }
      .groupBy(_._1).map { case (name, fs) => name -> fs.map(_._2).toSet }
    val missing = rootNames.filterNot(declaredIn.contains)
    require(missing.isEmpty, s"no file declares root(s) ${missing.mkString(", ")}")
    val seen = scala.collection.mutable.Set[String]()
    var frontier = rootNames.flatMap(declaredIn).toSet
    while (frontier.nonEmpty) {
      seen ++= frontier
      frontier = frontier.flatMap { f =>
        Ident.findAllIn(code(f)).toSet.flatMap((name: String) =>
          declaredIn.getOrElse(name, Set.empty[String]))
      } -- seen
    }
    code.keySet -- seen
  }
}

class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  test("every file under src/main/scala is reachable from an entry point") {
    val main = Paths.get("src/main/scala")
    val sources = Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => main.relativize(p).toString ->
        new String(Files.readAllBytes(p), "UTF-8"))
      .toMap
    assert(sources.size > 100, s"expected the main tree, found ${sources.size} files")
    val services = serviceRoots(Paths.get("src/main/resources"))
    assert(services.nonEmpty, "expected the DataSourceRegister services")
    val orphans = unreached(sources, roots.map(_._1) ++ services)
    assert(orphans.isEmpty,
      s"main files no entry point reaches (wire or delete them):\n  " +
        orphans.toSeq.sorted.mkString("\n  "))
  }

  test("the walk flags an orphan file even when a reached file names it in a comment") {
    val sources = Map(
      "A.scala" ->
        """package p
          |/** Runs [[B]]; [[C]] used to run here. */
          |object A { def main(a: Array[String]): Unit = B.run("http://x") } // C too
          |""".stripMargin,
      "B.scala" ->
        """package p
          |object B {
          |  /* C.run() was /* nested */ here */
          |  def run(u: String): Unit = println('"')
          |}
          |""".stripMargin,
      "C.scala" ->
        """package p
          |object C { def run(): Unit = A.main(Array.empty) }
          |""".stripMargin)
    assert(unreached(sources, Seq("A")) == Set("C.scala"))
    assert(unreached(sources, Seq("C")) == Set.empty)
    intercept[IllegalArgumentException](unreached(sources, Seq("D")))
  }
}
