package graft.core

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish testdata (see TESTDATA.md).
  *
  * All operators take the scale-factor directory as a parameter so the same
  * plan runs at sf0.001 (smoke), sf0.01 (correctness) and sf0.1 (bench) —
  * and, unchanged, against a 100 TB warehouse path on a real cluster:
  * nothing here hard-codes partition counts or collects to the driver.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Inferred schemas per session, by (path, length, modification time). */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[(String, Long, Long), StructType]]())

  /** The schema Spark infers for the parquet file at `path`, inferred
    * once per session and version of the file. Inference runs a one-task
    * job on every `read.parquet`; a read given the schema runs none. The
    * key holds the session (its confs shape the inferred types, e.g.
    * `parquet.nanosAsLong`) and the file's length and modification time,
    * so a rewritten file is inferred again. */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
    schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
      .computeIfAbsent((st.getPath.toString, st.getLen, st.getModificationTime),
        _ => spark.read.parquet(path).schema)
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** Normalizes an `events`-shaped frame's `ts` to `TimestampType`,
    * whichever encoding the fixture was written with:
    *  - TIMESTAMP(NANOS) read under `spark.sql.legacy.parquet.nanosAsLong`
    *    arrives as nanos-since-epoch LongType → converted via integer-domain
    *    `div 1000` (nanos exceed double's 53-bit exact range, so `/ 1000.0`
    *    would mis-truncate ~1 in 8 timestamps by 1 µs vs DuckDB);
    *  - timestamp[us] with isAdjustedToUTC=false arrives as TIMESTAMP_NTZ
    *    → cast to TIMESTAMP; the session timezone is pinned to UTC
    *    (GraftSession), so the cast is value-preserving and exact.
    * Works on batch and streaming frames alike (both branches are plain
    * projections), so the streaming sources reuse it on their declared
    * schemas instead of re-deriving private checks.
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{timestamp_micros, expr, col}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"$colName div 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(apply(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
