package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source hygiene over `src/main/scala`: the engine writes no shared state
  * outside `Tables.configure` and reads no env var outside its driver
  * mains. A regex pass over the sources with comments stripped; no Spark.
  */
class HygieneSpec extends AnyFunSuite {

  private val drivers = Set("Bench.scala", "Verify.scala", "Profile.scala")

  /** (path, source with comments blanked, line breaks kept). */
  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).map { p =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      val blank = (m: scala.util.matching.Regex.Match) =>
        java.util.regex.Matcher.quoteReplacement(
          m.matched.replaceAll("[^\n]", " "))
      p.toString -> """//[^\n]*""".r.replaceAllIn(
        """(?s)/\*.*?\*/""".r.replaceAllIn(src, blank), blank)
    }.toList
    finally walk.close()
  }

  private def line(src: String, at: Int) = src.take(at).count(_ == '\n') + 1

  private def inConfigure(path: String, src: String, at: Int): Boolean =
    path.endsWith("graft/Tables.scala") &&
      """def\s+(\w+)""".r.findAllMatchIn(src.take(at)).toSeq.lastOption
        .exists(_.group(1) == "configure")

  private def offenders(pattern: String)(
      allowed: (String, String, scala.util.matching.Regex.Match) => Boolean)
      : Seq[String] =
    for {
      (path, src) <- sources
      m <- pattern.r.findAllMatchIn(src).toSeq
      if !allowed(path, src, m)
    } yield s"$path:${line(src, m.start)}: ${m.matched.trim}"

  test("session conf is written only in Tables.configure or on a session the code created") {
    assert(sources.size > 10)
    val bad = offenders(
        """(\w*)\s*\.\s*conf\s*\.\s*(set|unset)\s*\(|setConf\s*\(|setCheckpointDir\s*\(""") {
      (path, src, m) =>
        val created = """val\s+(\w+)\s*=\s*[\w.]*newSession\s*\(\s*\)""".r
          .findAllMatchIn(src).map(_.group(1)).toSet
        inConfigure(path, src, m.start) ||
          (m.group(1) != null && created.contains(m.group(1)))
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("env vars are read only by the Bench/Verify/Profile mains") {
    val bad = offenders("""sys\s*\.\s*env\b|System\s*\.\s*getenv""") {
      (path, _, _) => drivers(Paths.get(path).getFileName.toString)
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("JVM system properties (java.io.tmpdir included) are written only in Tables.configure") {
    val bad = offenders(
        """System\s*\.\s*(setProperty|clearProperty)\s*\([^)]*""") {
      (path, src, m) => inConfigure(path, src, m.start)
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
