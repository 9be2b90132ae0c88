package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("envTag: every SPARK_GRAFT_* variable that is set, sorted by name") {
    assert(Bench.envTag(Map("PATH" -> "/bin")) == "")
    assert(Bench.envTag(Map(
      "SPARK_GRAFT_CPUS" -> "4",
      "SPARK_DRIVER_MEM" -> "8g",
      "SPARK_GRAFT_BC_BYTES" -> "0",
      "SPARK_GRAFT_NO_TMPFS" -> "1")) ==
      "@SPARK_GRAFT_BC_BYTES=0,SPARK_GRAFT_CPUS=4,SPARK_GRAFT_NO_TMPFS=1")
    // a knob no list names still splits the merge
    assert(Bench.envTag(Map("SPARK_GRAFT_SOME_NEW_KNOB" -> "2")) == "@SPARK_GRAFT_SOME_NEW_KNOB=2")
  }

  test("envTag hashes a value that would blur the separators") {
    val conf = "spark.sql.shuffle.partitions=8;spark.x=1"
    val tag = Bench.envTag(Map("SPARK_GRAFT_CONF" -> conf))
    assert(tag == "@SPARK_GRAFT_CONF=#" + conf.hashCode.toHexString)
    assert(Bench.envTag(Map("SPARK_GRAFT_CONF" -> "a=1,b=2")) !=
      Bench.envTag(Map("SPARK_GRAFT_CONF" -> "a=1", "SPARK_GRAFT_B" -> "2")))
  }
}
