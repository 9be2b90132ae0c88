package graft

import java.nio.file.{Files, Paths}

/** The gate's failure-visibility contract: a throwing entry must leave an
  * explicit `._error` marker (and report failure), never silently shrink
  * the output set — the regression class that hid four broken streaming
  * entries behind an apparently-green round-9 gate. */
class VerifySpec extends SparkSpec {

  test("a throwing entry writes an _error marker; a working one writes parquet") {
    val out = Files.createTempDirectory("graft_verify_spec").toString
    val boom = (_: org.apache.spark.sql.SparkSession, _: String) =>
      throw new IllegalStateException("deliberate gate failure")
    assert(!Verify.runEntry(spark, "x99_broken", boom, sfDir, out))
    val marker = Paths.get(s"$out/x99_broken._error")
    assert(Files.exists(marker), "failed entry must leave an _error marker")
    val msg = Files.readString(marker)
    assert(msg.contains("IllegalStateException") && msg.contains("deliberate"),
      s"marker must carry class + message, got: $msg")

    val ok = (s: org.apache.spark.sql.SparkSession, _: String) => {
      import s.implicits._
      Seq((1L, "a")).toDF("id", "v")
    }
    assert(Verify.runEntry(spark, "x98_ok", ok, sfDir, out))
    val wroteParquet = scala.util.Using.resource(Files.list(Paths.get(s"$out/x98_ok"))) {
      _.anyMatch(_.toString.endsWith(".parquet"))
    }
    assert(wroteParquet, "successful entry must write its parquet result")
    assert(!Files.exists(Paths.get(s"$out/x98_ok._error")))
  }

  test("oracle_sql.json escapes a quote, backslash, tab, newline and \\u0001 so Jackson reads them back") {
    val sql = "SELECT \"a\\b\"\tFROM t\nWHERE x = '\u0001'"
    val json = Verify.oracleJson(Map("x97_escape" -> sql))
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[java.util.Map[String, String]])
    assert(back.get("x97_escape") == sql, s"round trip changed the string: $json")
  }

  test("no two modules register the same entry name; every oracle key has a query") {
    // SparkEntry.queries is a ++ of per-module Maps: a name collision
    // would silently DROP the earlier module's entry from the gate —
    // the shrunken-but-green failure class the _error markers exist to
    // prevent, except with no marker at all. Compare against the sum of
    // module inventory sizes so a collision fails loudly here.
    val modules: Seq[(String, Map[String, _])] = Seq(
      "Relational" -> graft.operators.Relational.queries,
      "TextOps" -> graft.operators.TextOps.queries,
      "TextSim" -> graft.operators.TextSim.queries,
      "Similarity" -> graft.operators.Similarity.queries,
      "ArrayQueries" -> graft.array.ArrayQueries.queries,
      "DelayedQueries" -> graft.delayed.DelayedQueries.queries,
      "Apply" -> graft.operators.Apply.queries,
      "Generators" -> graft.sources.Generators.queries,
      "Predict" -> graft.ml.Predict.queries,
      "Cluster" -> graft.ml.Cluster.queries,
      "IterativeQueries" -> graft.core.IterativeQueries.queries,
      "MultiModal" -> graft.operators.MultiModal.queries,
      "FileFormats" -> graft.sources.FileFormats.queries,
      "Streams" -> graft.streaming.Streams.queries)
    val all = modules.flatMap { case (m, q) => q.keys.map(_ -> m) }
    val dupes = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dupes.isEmpty,
      s"entry names registered by multiple modules: " +
      dupes.map { case (k, ms) => s"$k (${ms.map(_._2).mkString(", ")})" }.mkString("; "))
    assert(SparkEntry.queries.size == all.size,
      "SparkEntry.queries lost entries in the module merge")
    // an oracle without a query would be dead SQL the gate never checks
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL with no matching query: $orphans")
  }

  test("an entry emitting a non-scalar column fails its gate row with a clear message") {
    // q59's round-10 failure class: an ARRAY cell crashes the driver's
    // pandas compare AFTER the gate wrote green-looking parquet. The
    // schema lint must turn that into the entry's own loud _error row.
    val out = Files.createTempDirectory("graft_verify_spec_arr").toString
    val arrayOut = (s: org.apache.spark.sql.SparkSession, _: String) => {
      import s.implicits._
      Seq((1L, Seq("a", "b"))).toDF("id", "types")
    }
    assert(!Verify.runEntry(spark, "x97_array", arrayOut, sfDir, out))
    val msg = Files.readString(Paths.get(s"$out/x97_array._error"))
    assert(msg.contains("non-scalar") && msg.contains("types"),
      s"marker must name the offending column and the lint, got: $msg")
  }
}
