package graft

import graft.tools.DevConf
import org.scalatest.funsuite.AnyFunSuite

class DevConfSpec extends AnyFunSuite {

  test("DevConf.parse splits at the first '=' and names a malformed entry") {
    assert(DevConf.parse(Seq("a.b=1", "c=x=y", "d="), "argument") ==
      Seq("a.b" -> "1", "c" -> "x=y", "d" -> ""))
    val e = intercept[IllegalArgumentException] {
      DevConf.parse(Seq("a=1", "spark.sql.shuffle.partitions"),
        "SPARK_GRAFT_CONF")
    }
    assert(e.getMessage ==
      "SPARK_GRAFT_CONF entry 'spark.sql.shuffle.partitions' is not key=value")
  }
}
