package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source law for "one way to build a session": every main takes its
  * session from [[Session.builder]], so a second builder chain (and the
  * config drift that came with each copy) fails here instead of in a
  * benchmark that ran under a different session than it reports.
  */
class SessionSpec extends AnyFunSuite {

  test("only Session.scala and Smoke.scala in src/main call SparkSession.builder()") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repo root: ${main.toAbsolutePath}")
    val st = Files.walk(main)
    val builders = try st.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder()"))
      .map(_.getFileName.toString).toSet
    finally st.close()
    assert(builders == Set("Session.scala", "Smoke.scala"), builders)
  }
}
