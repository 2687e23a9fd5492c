package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The program's entry surfaces: sessions are built in one place, and
  * `oracle_sql.json` survives any SQL text. */
class EntrySurfaceSpec extends AnyFunSuite {

  test("sessions are built on a code line only in GraftSession") {
    val builder = "SparkSession" + ".builder" // split, so this file holds no site
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val all = files(new java.io.File("src/main/scala"))
    assert(all.exists(_.getName == "GraftSession.scala"))
    val sites = for {
      f <- all if f.getName != "GraftSession.scala"
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      code = line.trim
      if !Seq("*", "/*", "//").exists(code.startsWith)
      if code.contains(builder)
    } yield s"${f.getPath}:${i + 1}"
    assert(sites.isEmpty, "build sessions through GraftSession.local/run")
  }

  test("oracleSqlJson escapes quote, backslash and control chars losslessly") {
    val sql = Map(
      "q\"uoted" -> "SELECT '\"a\"' AS x",
      "back\\slash" -> "SELECT 'C:\\dir\\' AS p",
      "controls" -> "SELECT\t1\r\nFROM t WHERE c = '\u0001'")
    val parsed = new ObjectMapper()
      .readValue(SparkEntry.oracleSqlJson(sql), classOf[java.util.Map[String, String]])
      .asScala.toMap
    assert(parsed == sql)
  }
}
