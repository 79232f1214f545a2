package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The mains' shared plumbing: one session factory, one JSON escaper. */
class EntryPointsSpec extends AnyFunSuite {

  test("no src/main file but Engine.scala builds a SparkSession") {
    // Source-level lint in the style of TablesSpec's table-read ban:
    // every main goes through Engine.session, so cores, shuffle
    // partitions and log level are set in one place.
    import scala.jdk.CollectionConverters._
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val offenders = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.toString.endsWith("graft/Engine.scala"))
      .flatMap { p =>
        // comments become blank lines, so line numbers stay true
        val src = comment.replaceAllIn(Files.readString(p),
          m => "\n" * m.matched.count(_ == '\n'))
        builder.findAllMatchIn(src).map { m =>
          s"$p:${src.substring(0, m.start).count(_ == '\n') + 1}"
        }
      }.toList
    assert(offenders.isEmpty,
      s"\nSparkSession built outside Engine (use Engine.session):\n  " +
        offenders.mkString("\n  "))
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
