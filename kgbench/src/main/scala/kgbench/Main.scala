package kgbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The KG-pipeline benchmark.
  *
  *   kgbench.Main --workload <crawl-bulk|dup-link> --seed <n>
  *                --seconds <s> --trace <0|1> --work <dir>
  *                [--class-archive <file the JVM was started with>]
  *
  * Runs the engine in-process on `local[nproc]`, over inputs generated from
  * the seed and written as parquet before anything is timed. It checks the
  * outputs, then prints as its last stdout line one JSON object
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. A failed check
  * exits non-zero without a result line. Run it through `kgbench/run.py`,
  * which builds the engine and this benchmark first.
  */
object Main {

  /** `classArchive`: the JVM class-data archive the run was started with,
    * "" for none. */
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
                        classArchive: String = "")

  /** Timed region counters shared by the workloads. */
  final class Region(heap: HeapPeak) {
    private var mark = Map.empty[Long, Long]
    private var process0, wall0 = 0L
    var cpuNs, processNs, wallNs = 0L
    def start(): Unit = {
      heap.reset(); heap.armed = true
      mark = Cpu.mark(); process0 = Cpu.processNs; wall0 = System.nanoTime()
    }
    def stop(): Unit = {
      wallNs += System.nanoTime() - wall0
      cpuNs += Cpu.javaSince(mark); processNs += Cpu.processNs - process0
      heap.armed = false
    }
  }

  /** What a workload hands back: end-to-end and per-layer metrics plus the
    * page accounting the result line reports. */
  final case class Outcome(endToEnd: Map[String, Double], perLayer: Map[String, Double],
                           attempted: Long, failed: Long, detail: Map[String, Any])

  /** The gated end-to-end metrics. Wall-clock figures (pages per second,
    * set-up wall seconds) are printed in the detail line only: on a 4-core
    * VM whose hypervisor steals CPU in phases of minutes their spread over
    * ten seeds was 0.26-0.34 and their medians moved 26 % between two sets,
    * beyond the largest bound a metric may have. CPU time excludes the
    * stolen time, so cpu_ms_per_page carries the per-page cost and setup_s
    * is the set-up's CPU seconds (session creation plus [[Boot.build]]),
    * both counted on the Java threads ([[Cpu]]). */
  val Units: Map[String, String] = Map(
    "cpu_ms_per_page" -> "ms", "setup_s" -> "s", "peak_heap_mb" -> "MiB")

  val Workloads: Map[String, Workload] = Seq(CrawlBulk, DupLink).map(w => w.name -> w).toMap

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(m.getOrElse("work", ".bench_build/work")).toAbsolutePath,
      m.getOrElse("class-archive", ""))
  }

  def session(a: Args): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder().master(s"local[$n]").appName("kgbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      // list partitioned outputs in-process: the checks read 64-bucket
      // tables, and a Spark listing job per read costs more than the listing
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    require(a.seconds >= 1, "--seconds must be >= 1")
    deleteTree(a.work)
    Files.createDirectories(a.work)
    val heap = new HeapPeak
    val cal0 = graft.Bench.calibrate(CalibrationIters)
    val (t0, c0) = (System.nanoTime(), Cpu.mark())
    val spark = session(a)
    val sessionS = ((System.nanoTime() - t0) / 1e9, Cpu.javaSince(c0) / 1e9)
    val out = try Batch.run(workload, spark, a, sessionS, heap) finally spark.stop()
    val cal1 = graft.Bench.calibrate(CalibrationIters)
    val host = Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / GroupListener.Mb,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "calibrate_iters" -> CalibrationIters, "calibrate_before_s" -> cal0,
      "calibrate_after_s" -> cal1, "vm_info" -> System.getProperty("java.vm.info"),
      "class_archive" -> a.classArchive)
    println("detail " + Json.render(Map("workload" -> a.workload, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace, "host" -> host) ++ out.detail))
    val metrics =
      if (a.trace) out.perLayer.map { case (k, v) => k -> Map("value" -> v, "unit" -> PerLayer.unit(k)) }
      else out.endToEnd.map { case (k, v) => k -> Map("value" -> v, "unit" -> Units(k)) }
    println(Json.render(mutable.LinkedHashMap("correct" -> true, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> scala.collection.immutable.TreeMap(metrics.toSeq: _*))))
  }

  /** A shorter run of `graft.Bench.calibrate`'s probe, before and after. */
  val CalibrationIters: Long = 100000000L

  private val started = System.nanoTime()
  def elapsedS: Double = (System.nanoTime() - started) / 1e9
  /** Progress on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"kgbench $elapsedS%7.1fs $msg")

  def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}
