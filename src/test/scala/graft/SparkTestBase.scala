package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkTestBase {
  lazy val session: SparkSession = Engine.local(4, "graft-test")

  /** Fixture directory of scale factor `sf` (e.g. "0.001"), as listed in
    * TESTDATA.md at the repo root. */
  def fixtureDir(sf: String): String = {
    val row = ("""\|\s*""" + java.util.regex.Pattern.quote(sf) +
      """\s*\|\s*`([^`]+)`""").r
    val src = scala.io.Source.fromFile("TESTDATA.md", "UTF-8")
    try src.getLines().flatMap(row.findPrefixMatchOf(_)).nextOption()
      .map(_.group(1).stripSuffix("/"))
      .getOrElse(sys.error(s"no sf$sf row in TESTDATA.md"))
    finally src.close()
  }
}
