package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine's session carries only Spark's own settings: every
  * behaviour it used to switch by a `spark.graft.*` key is now fixed.
  */
class SessionsSpec extends AnyFunSuite with SparkTestBase {

  test("a Sessions.local session carries no spark.graft.* key") {
    val keys = spark.conf.getAll.keys ++
      spark.sparkContext.getConf.getAll.map(_._1)
    assert(keys.filter(_.startsWith("spark.graft.")).isEmpty)
  }
}
