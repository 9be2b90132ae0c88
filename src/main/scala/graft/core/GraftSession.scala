package graft.core

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so Verify / Bench / tests share one
  * scale-aware configuration.
  *
  *  - shuffle.partitions defaults to the local core count (32 on the
  *    harness); on a real cluster AQE coalesces post-shuffle partitions
  *    anyway (`spark.sql.adaptive.enabled=true`).
  *  - AQE on: runtime re-planning (skew joins, dynamic coalescing) is
  *    the 100 TB insurance policy for every shuffle in this library.
  *  - `parquet.nanosAsLong`: the driver's `events` table carries
  *    TIMESTAMP(NANOS) which Spark's vectorized reader refuses; we read
  *    it as long and convert in Tables.events.
  */
object GraftSession {
  def builder(master: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(graft.plans.GraftExtensions.register)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // static conf, default 100: the ~92-entry gate generates >100
      // distinct codegen classes, so by the time Bench re-runs an entry
      // its class was evicted and Janino recompiles (~1-9 s first-rep tail
      // on a12/e04/ml04 — BENCH_NOTES.md). 2000 entries ≈ tens of MB of
      // class metadata, far below heap; eviction noise disappears.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // RDD-side block algebra (DMatrix multiply/tsqr) shuffles 8-80 MB
      // double-array payloads; Java serialization moves them at a few
      // hundred MB/s and dominated the flagship GEMM wall time. Kryo
      // writes primitive arrays at memcpy speed. DataFrame paths are
      // unaffected (Tungsten rows have their own serializer).
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryoserializer.buffer.max", "256m")
      // tmpfs scratch for shuffle/spill when available: the flagship
      // GEMM writes ~2 GB compressed shuffle per pass, and /tmp's
      // virtio disk stalled shuffle writes for minutes under load
      // (measured 6 MB/s/task); worst case here is a few GB against
      // 126 GB of tmpfs. On a real cluster this maps to the standard
      // local-SSD spark.local.dir provisioning.
      .config("spark.local.dir", scratchDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")

  /** Shuffle/spill scratch location. tmpfs is chosen only when /dev/shm
    * actually has room for the flagship shuffles (containers commonly cap
    * it at 64 MB, where a multi-GB shuffle would ENOSPC with no
    * fallback); SPARK_GRAFT_NO_TMPFS=1 opts out regardless. */
  private[graft] def scratchDir: String = {
    val shm = new java.io.File("/dev/shm")
    val minBytes = 8L << 30 // 8 GiB headroom: ~2 GB/pass compressed shuffle + spill + crash debris
    if (sys.env.contains("SPARK_GRAFT_NO_TMPFS") || !shm.isDirectory ||
        shm.getUsableSpace < minBytes)
      System.getProperty("java.io.tmpdir")
    else "/dev/shm/graft-scratch"
  }

  /** Breeze/netlib static initialization is forced once, single-threaded,
    * before any parallel linalg tasks: 32 tasks racing the netlib
    * InstanceBuilder class init intermittently deadlocked treeAggregate
    * stages in local mode. */
  lazy val breezeWarm: Unit = {
    import breeze.linalg.{DenseMatrix, qr, svd, cholesky}
    val m = DenseMatrix.tabulate(4, 3)((i, j) => (i * 3 + j + 1).toDouble)
    qr.reduced(m); svd.reduced(m)
    cholesky(m.t * m + DenseMatrix.eye[Double](3) * 100.0)
    ()
  }

  /** Best-effort reaper for crash debris in the tmpfs scratch dir:
    * Spark removes its blockmgr/spark-* dirs on clean shutdown, but a
    * killed JVM leaves them pinned in RAM (tmpfs). Liveness is judged by
    * the NEWEST mtime anywhere under the entry — tmpfs directory mtime
    * does not tick when nested files are written, so a long-running job's
    * top-level dir can look hours old while its shuffle files are seconds
    * old. Only trees whose newest file is older than 3 h are removed. */
  private def sweepStaleScratch(root: java.io.File): Unit =
    try {
      val cutoff = System.currentTimeMillis() - 3L * 3600 * 1000
      def newestMtime(f: java.io.File): Long =
        Option(f.listFiles()).getOrElse(Array.empty)
          .foldLeft(f.lastModified())((m, k) => math.max(m, newestMtime(k)))
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(newestMtime(_) < cutoff)
        .foreach { d =>
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete(): Unit
          }
          rm(d)
        }
    } catch { case _: Exception => () }

  /** Runs `body` with the session conf `key` set to `value`, then puts the
    * prior value back, or unsets `key` if it was unset before — also
    * when `body` throws. */
  def withConf[T](s: SparkSession, kv: (String, String))(body: => T): T = {
    val (key, value) = kv
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  /** Local session sized from SPARK_GRAFT_CPUS (default 32, matching the
    * harness). SPARK_GRAFT_CONF="k=v;k=v" applies LAST, so a drive can
    * flip runtime knobs (spark.sql.adaptive.enabled=false,
    * spark.sql.shuffle.partitions=N, …) without code changes — this is
    * how the config-robustness gates in BENCH_NOTES are produced, and
    * the deployment escape hatch for cluster-specific tuning. */
  def local(): SparkSession = {
    sweepStaleScratch(new java.io.File("/dev/shm/graft-scratch"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = builder(s"local[$cpus]", cpus)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => b.config(k.trim, v.trim)
        case _ => ()
      }
    })
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    breezeWarm
    s
  }
}
