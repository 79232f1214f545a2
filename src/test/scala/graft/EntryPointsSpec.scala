package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The mains' shared plumbing: one session factory, one JSON escaper. */
class EntryPointsSpec extends AnyFunSuite {

  /** Every src/main Scala file with its comments blanked out; comments
    * become blank lines, so line numbers stay true. */
  private def mainSources: List[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .map(p => p.toString -> comment.replaceAllIn(Files.readString(p),
        m => "\n" * m.matched.count(_ == '\n')))
  }

  test("no src/main file but Engine.scala builds a SparkSession") {
    // Source-level lint in the style of TablesSpec's table-read ban:
    // every main goes through Engine.session, so cores, shuffle
    // partitions and log level are set in one place.
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val offenders = mainSources
      .filterNot(_._1.endsWith("graft/Engine.scala"))
      .flatMap { case (p, src) =>
        builder.findAllMatchIn(src).map { m =>
          s"$p:${src.substring(0, m.start).count(_ == '\n') + 1}"
        }
      }
    assert(offenders.isEmpty,
      s"\nSparkSession built outside Engine (use Engine.session):\n  " +
        offenders.mkString("\n  "))
  }

  test("every SQL function GraftExtensions registers is called from src/main") {
    // A registered name that no query calls is dead surface: the kernel
    // behind it is reached, if at all, through a Column bridge.
    val (ext, rest) = mainSources.partition(_._1.endsWith("graft/plans/MinHash.scala"))
    val names = """FunctionIdentifier\(\s*"(\w+)"""".r
      .findAllMatchIn(ext.map(_._2).mkString).map(_.group(1)).toList
    assert(names.nonEmpty)
    val uncalled = names.filterNot { n =>
      val call = s"""(?<![\\w.])$n\\(""".r
      rest.exists { case (_, src) => call.findFirstIn(src).nonEmpty }
    }
    assert(uncalled.isEmpty,
      s"\nregistered in GraftExtensions but called from no src/main file:\n  " +
        uncalled.mkString("\n  "))
  }

  test("oracle_sql.json parses back to exactly SparkEntry.oracleSql") {
    import scala.jdk.CollectionConverters._
    val dir = Engine.tempDir("graft_verify")
    Verify.writeOracleJson(dir)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Paths.get(dir, "oracle_sql.json").toFile, classOf[java.util.Map[String, String]])
      .asScala.toMap
    assert(parsed == SparkEntry.oracleSql)
    assert(SparkEntry.oracleSql.values.exists(_.contains('\n')))
    assert(SparkEntry.oracleSql.values.exists(_.contains('"')))
  }

  test("every control character survives the escaper") {
    val s = "tab\there, cr\r, nl\n, quote \", backslash \\, bell \u0007"
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Bench.jsonString(s), classOf[String])
    assert(back == s)
  }
}
