package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, a working
  * directory inside the checkout and the measurement window.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Int,
                     cores: Int, work: Path) {
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

/** A workload's raw record: the end-to-end samples it measured, its
  * operation counts and its correctness checks. Metrics are derived from
  * this by `run.py`.
  */
final case class Outcome(attempted: Long, failed: Long, checks: Seq[(String, Boolean, String)],
                         setup: Map[String, Any], samples: Map[String, Any])

/** One benchmark process: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <file>`. Writes one JSON record to
  * `--out`; `run.py` turns it into the metrics line.
  */
object Main {
  private val workloads: Map[String, Ctx => Outcome] = Map(
    "cdc_stream" -> CdcStream.run,
    "corpus_gate" -> CorpusGate.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    val load0 = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyUs = Clock.nowUs

    val events = new SparkEvents
    if (trace) events.register(spark)
    val tracer = new Tracer(trace, spark.sparkContext)
    val outcome = run(Ctx(spark, tracer, seed, seconds, cores, work))
    if (trace) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

    val record = Map(
      "workload" -> workload,
      "seed" -> seed,
      "seconds" -> seconds,
      "trace" -> trace,
      "env" -> Map(
        "nproc" -> cores,
        "load_start" -> load0,
        "load_end" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "jvm_start_us" -> ManagementFactory.getRuntimeMXBean.getStartTime * 1000L,
        "session_ready_us" -> sessionReadyUs,
        "spark" -> spark.version),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "checks" -> outcome.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "setup" -> outcome.setup,
      "samples" -> outcome.samples,
      "trace_data" -> (if (!trace) Map.empty else Map(
        "spans" -> tracer.recorded,
        "jobs" -> events.jobs.asScala.toSeq.sortBy(_.jobId),
        "stages" -> events.stages.asScala.toSeq,
        "plans" -> events.plans.asScala.toSeq,
        "progress" -> events.progress.asScala.toSeq.sortBy(_.batchId))))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(opts("out")), record)
    spark.stop()
  }

  /** JVM time spent in GC and in JIT compilation since it was opened: the
    * share of the measured window the workload did not get.
    */
  final class Window {
    private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    private val gc0 = gcMs
    private val jit0 = jitMs
    def samples: Map[String, Double] =
      Map("gc_s" -> (gcMs - gc0) / 1000.0, "jit_s" -> (jitMs - jit0) / 1000.0)
  }

  /** Storage memory in use across the block managers: cached and
    * checkpointed blocks the workload still holds.
    */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (mx, free) => mx - free }.sum

  def timedS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
