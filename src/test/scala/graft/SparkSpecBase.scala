package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite; cheap after the first). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  override def afterAll(): Unit = {
    // keep the session alive across suites (shared singleton)
    super.afterAll()
  }
}
