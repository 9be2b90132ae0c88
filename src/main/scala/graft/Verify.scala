package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.core.EntryMetrics.jstr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** One gate entry: result parquet on success; on ANY throw, an explicit
    * `<name>._error` marker (exception class + message) — a thrown entry
    * must NOT silently vanish from the gate, or a regression reads as a
    * shrunken-but-green entry count (exactly what hid the round-9
    * streaming breaks). Returns success. */
  private[graft] def runEntry(spark: SparkSession, name: String,
                              fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                              sfDir: String, outDir: String): Boolean =
    try {
      val df = fn(spark, sfDir)
      assertScalarSchema(name, df)
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      e.printStackTrace()
      Files.writeString(Paths.get(s"$outDir/$name._error"),
        s"${e.getClass.getName}: ${e.getMessage}\n")
      false
    }

  /** Gate outputs must be driver-hashable: the compare harness sorts and
    * hashes cell values in pandas, and an ARRAY/MAP/STRUCT cell crashes
    * its column sort (`unhashable type: 'numpy.ndarray'` — q59's
    * round-10 `err`, which left that entry unverified for a full round).
    * Reject nested top-level types here so a non-scalar entry fails its
    * own gate row with a clear message instead of poisoning the compare. */
  private[graft] def assertScalarSchema(name: String,
                                        df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val bad = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
                f.dataType.isInstanceOf[MapType] ||
                f.dataType.isInstanceOf[StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"entry $name emits non-scalar top-level columns (${bad.mkString(", ")}): " +
      "the driver's pandas compare cannot sort/hash nested cells — " +
      "canonicalize to a scalar first, e.g. array_join(sort_array(...), '|')")
  }

  /** The oracle SQL map as one JSON object. Every control char is escaped
    * (by [[EntryMetrics.jstr]]): a tab or CR left raw in an oracle string
    * would make the compare harness's json.load fail. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    sql.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated entry names — local iteration only
    // (the driver always invokes with exactly <sfDir> <outDir>).
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    val spark = graft.core.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    var failed = 0
    selected.foreach { case (name, fn) =>
      if (!runEntry(spark, name, fn, sfDir, outDir)) failed += 1
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    if (failed > 0)
      System.err.println(s"[verify] $failed of ${selected.size} entries FAILED (see *_error markers)")
    spark.stop()
  }
}
