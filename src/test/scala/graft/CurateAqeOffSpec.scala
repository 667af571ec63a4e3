package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[streaming.Ingest.curateBatch]] must not depend on adaptive query
  * execution: without AQE the analyzer sees the drop-list anti-joins as
  * written, and a checkpointed drop list that kept the batch's own `id`
  * attribute made the base-build turn fail with "Conflicting
  * attributes". Two turns on a session with AQE off must admit exactly
  * what they admit with AQE on.
  */
class CurateAqeOffSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  import CurateTurnFixture._

  private def admittedIds(s: SparkSession): Set[Long] = {
    val model = trainModel(s)
    val (idx, adm, nov) = (tmp("graft-aqe-idx"), tmp("graft-aqe-adm") + "/t",
      tmp("graft-aqe-nov"))
    (0 to 1).foreach(i => turn(s, i, model, idx, adm, nov))
    streaming.Ingest.admitted(s, adm).select(col("doc_id")).collect().map(_.getLong(0)).toSet
  }

  test("two curate turns without AQE admit the same ids as with AQE") {
    val off = spark.newSession()
    off.conf.set("spark.sql.adaptive.enabled", "false")
    val withoutAqe = admittedIds(off)
    assert(withoutAqe.nonEmpty)
    assert(withoutAqe === admittedIds(spark))
  }
}
