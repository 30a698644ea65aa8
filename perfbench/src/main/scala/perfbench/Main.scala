package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file>`.
  *
  * Writes a JSON result (counts, metrics, context) to the result file;
  * `run.py` adds the oracle check of the catalog and prints the final line.
  */
object Main {
  val cores = 4

  def main(args: Array[String]): Unit = {
    require(args.length == 6, "usage: Main <workload> <seed> <seconds> <trace> <work> <result>")
    val Array(workload, seedS, secondsS, traceS, work, resultFile) = args
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val c0 = System.nanoTime()
    val calibPre = calib()
    val calibMs = (System.nanoTime() - c0) / 1e6
    val spark = graft.Sessions.local(cores, s"perfbench-$workload",
      extra = Map("spark.sql.warehouse.dir" -> s"$work/warehouse"))
    val sessionS = (System.currentTimeMillis - jvmStart - calibMs) / 1000.0

    val r = new Run(spark, work, seedS.toLong, secondsS.toInt, traceS == "1")
    // a traced run reports every per-layer metric: those of layers this
    // workload does not run read 0, its own ones must be measured
    if (r.trace) benchmarkNames("per_layer").filterNot(Workloads.measures(workload, _))
      .foreach(n => r.layer(n) = 0.0)
    try {
      workload match {
        case "tail_small_batches" => Workloads.tail(r)
        case "serve_reads" => Workloads.reads(r)
        case "catalog_sf" => Workloads.catalog(r)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.fail(s"workload threw $e", 1)
    }
    r.e2e.get("setup_s").foreach(s => r.e2e("setup_s") = s + sessionS)
    r.e2e("live_heap_mb") = liveHeapMb()
    r.context("session_s") = sessionS

    if (r.trace) {
      val jobs = r.t.jobs.spans
      Layers.all.foreach { l =>
        r.layer(s"self_ms.$l") =
          Stats.unionMs(jobs.filter(_.layer == l).map(_.interval)).toDouble
      }
      r.t.spans.find(_.name == "gen.write").foreach(s => r.layer("gen.s") = (s.end - s.start) / 1000.0)
      val pinned = r.t.jobs.unattributed
      r.layer("trace.unattributed_jobs") = pinned.toDouble
      if (pinned > 0) r.problems += s"$pinned traced jobs kept a pinned call site: no layer"
      r.t.writeSpans(Paths.get(work, "spans.jsonl"))
    }
    r.t.stop()
    spark.stop()
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    if (r.trace) r.layer("jvm.gc_ms") = gcMs.toDouble
    r.context("peak_rss_mb") = peakRssMb()
    val calibPost = calib()

    r.context ++= Seq("workload" -> workload, "seed" -> r.seed, "seconds" -> r.seconds,
      "trace" -> r.trace, "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_cores" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "calib_mhps_per_thread" -> Map("pre" -> calibPre, "post" -> calibPost),
      "jvm_gc_ms" -> gcMs, "problems" -> r.problems.toList)
    val result = Map(
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> (if (r.trace) r.layer else r.e2e),
      "context" -> r.context)
    Files.writeString(Paths.get(resultFile), Json.write(result))
  }

  /** Host calibration: M SHA-256 hashes/s per thread, all cores busy. */
  def calib(): Double = graft.tools.ScalingBench.calibrate(cores, 500L) / cores / 1e6

  /** Heap in use after full collections: what the run retains. */
  def liveHeapMb(): Double = {
    // Spark's context cleaner drops broadcast blocks only after a
    // collection finds them unreachable, so collect, let it run, collect
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Metric names of one section of BENCHMARK.json (the run's directory). */
  def benchmarkNames(section: String): Seq[String] = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get("BENCHMARK.json")))
    n.get(section).elements.asScala.map(_.get("name").asText).toSeq
  }
}
