package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import graft.core.GraftSession

/** One benchmark run in one JVM: set up, warm up, then closed-loop timed
  * passes over the workload's request mix for at least `--seconds` and
  * at least `--min-timed` passes.
  * Writes everything it observed to `<out>/raw.json`; run.py computes
  * the metrics and checks the oracle-checked outputs.
  *
  *   perfbench.Main --workload dag|linalg --seed N --seconds S
  *                  --trace 0|1 --warm W --min-timed T --data DIR --out DIR
  */
object Main {
  final case class RequestRec(pass: Int, name: String, start: Double, end: Double,
                              error: Option[String], out: Option[String])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val warm = args("warm").toInt
    val minTimed = args("min-timed").toInt
    val (dataDir, outDir) = (args("data"), args("out"))
    val rec = new Recorder(args("trace") == "1")

    val sessionStart = rec.nowMs
    val spark = GraftSession.local()
    val sessionEnd = rec.nowMs
    println(f"[perfbench] session ${(sessionEnd - sessionStart) / 1e3}%.3f s")
    rec.attach(spark)
    val wl: Workload = workload match {
      case "dag" => new DagWorkload(spark, rec, seed, dataDir, outDir)
      case "linalg" => new LinalgWorkload(spark, rec, seed, dataDir, outDir)
    }

    println(f"[perfbench] workload set-up ${(rec.nowMs - sessionEnd) / 1e3}%.3f s")
    val requests = ArrayBuffer[RequestRec]()
    val passes = ArrayBuffer[String]()
    def pass(index: Int, timed: Boolean): Unit = {
      val before = rec.jvm()
      val start = rec.nowMs
      rec.span("pass") {
        wl.order(index).foreach { r =>
          val t0 = rec.nowMs
          var out: Option[String] = None
          val error = rec.span("request") {
            try { out = r.run(index); None }
            catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
          }
          requests += RequestRec(index, r.name, t0, rec.nowMs, error, out)
          println(f"[perfbench] pass $index ${r.name} ${(rec.nowMs - t0) / 1e3}%.3f s ${error.getOrElse("")}")
        }
      }
      val end = rec.nowMs
      val after = rec.jvm()
      val heap = rec.liveHeapMb()
      passes += s"""{"index":$index,"timed":$timed,"start":$start,"end":$end,""" +
        s""""gc_ms":${after.gcMs - before.gcMs},"gc_count":${after.gcCount - before.gcCount},""" +
        s""""jit_ms":${after.jitMs - before.jitMs},"cpu_ms":${after.cpuMs - before.cpuMs},""" +
        s""""steal_ms":${after.stealMs - before.stealMs},"live_heap_mb":$heap}"""
    }

    (0 until warm).foreach(pass(_, timed = false))
    val setupEnd = rec.nowMs
    var index = warm
    while (index < warm + minTimed || rec.nowMs - setupEnd < seconds * 1e3) {
      pass(index, timed = true)
      index += 1
    }
    rec.drain(spark)

    val reqJson = requests.map { r =>
      s"""{"pass":${r.pass},"name":${Json.str(r.name)},"start":${r.start},"end":${r.end},""" +
      s""""error":${r.error.fold("null")(Json.str)},"out":${r.out.fold("null")(Json.str)}}"""
    }
    val oracles = wl.oracles.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
    val json = rec.json(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "traced" -> rec.traced.toString,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime.toString,
      "session_start_ms" -> sessionStart.toString,
      "session_end_ms" -> sessionEnd.toString,
      "setup_end_ms" -> setupEnd.toString,
      "counts" -> (s"""{"delayed.nodes":${if (workload == "dag") DagWorkload.Nodes else 0},""" +
        s""""delayed.futures":${if (workload == "dag") DagWorkload.Futures else 0},""" +
        s""""array.gemm_flops":${if (workload == "linalg") LinalgWorkload.GemmFlops else 0}}"""),
      "passes" -> passes.mkString("[", ",", "]"),
      "requests" -> reqJson.mkString("[", ",", "]"),
      "oracles" -> oracles.mkString("{", ",", "}")))
    Files.writeString(Paths.get(outDir, "raw.json"), json)
    spark.stop()
    sys.exit(0)
  }
}
