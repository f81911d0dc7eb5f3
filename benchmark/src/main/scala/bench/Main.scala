package bench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its inputs' seed, how long to
  * measure, the core count, and the run's private directory. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    cores: Int, work: Path, dataDir: String)

/** One workload: set up once (repeating what is cheap to repeat), then
  * one measured section per call. */
trait Workload {
  /** `setup_once_s` and `setup_reps_s` (seconds per repetition). */
  def setup(): Map[String, Any]
  /** The measured section: samples, counts and verification results. */
  def measure(traced: Boolean): Map[String, Any]
  def close(): Unit = ()
}

/** One benchmark run in this JVM: build the session, set the workload up,
  * run its measured section, and write the raw run record as JSON for
  * `run.py`, which turns it into metrics. A traced run measures twice,
  * untraced and then traced, so it can report tracing's own overhead.
  *
  * Usage: `bench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cores <n> --work <dir> --data <dir> --out <file>`
  * or `bench.Main --train --cores <n> --work <dir> --data <dir>` (every
  * workload briefly, to archive the classes they load), or
  * `bench.Main --dump-oracle <file>` (the mix's DuckDB oracle SQL). */
object Main {

  /** Repetitions of the cheap part of each workload's set-up; `setup_s`
    * takes their median. */
  val SetupReps = 3

  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  @volatile private var live: Option[SparkCounters] = None
  /** The listener of the traced section in progress, if any. */
  def counters: Option[SparkCounters] = live

  /** Run one measured section; a traced one also records spans, and the
    * engine counters it accumulated (the `spark.*` per-layer metrics). */
  private def section(ctx: Ctx, w: Workload,
      traced: Boolean): Map[String, Any] = {
    val sc = ctx.spark.sparkContext
    org.apache.spark.BenchBus.drain(sc)
    Trace.reset()
    val c = if (traced) Some(new SparkCounters) else None
    c.foreach(sc.addSparkListener)
    live = c
    Trace.enabled = traced
    val gc0 = SparkCounters.gcSeconds()
    val (wall, rec) = timed(w.measure(traced))
    Trace.enabled = false
    val gc = SparkCounters.gcSeconds() - gc0
    org.apache.spark.BenchBus.drain(sc)
    live = None
    c.foreach(sc.removeSparkListener)
    val spark = c.map { k =>
      val s = k.snapshot()
      Map("jobs" -> s("jobs").toDouble, "tasks" -> s("tasks").toDouble,
        "shuffle_write_bytes" -> s("shuffle_write_bytes").toDouble,
        "spill_bytes" -> s("spill_bytes").toDouble,
        "executor_cpu_s" -> s("cpu_ns") / 1e9, "gc_s" -> gc,
        "busy_share" -> s("run_ns") / 1e9 / (wall * ctx.cores))
    }.getOrElse(Map.empty[String, Double])
    rec ++ Map("wall_s" -> wall, "spark" -> spark)
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing argument $k")
    args(i + 1)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("clxetlspark-benchmark")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.ui.retainedExecutions", "8")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def peakRssMib(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--dump-oracle")) {
      val sql = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(args(1)), Json.render(
        AnalyticsMix.Mix.map(q => q -> sql(q)).toMap))
      return
    }
    val cores = arg(args, "--cores").toInt
    val work = Paths.get(arg(args, "--work"))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    def workload(name: String, ctx: Ctx): Workload = name match {
      case "kline_sync" => new KlineSyncLoad(ctx)
      case "kline_stream" => new KlineStreamLoad(ctx)
      case "analytics_mix" => new AnalyticsMix(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    if (args.headOption.contains("--train")) {
      // a short pass over every workload, so the JVM can archive the
      // classes they load (class-data sharing for the timed runs)
      Seq("kline_sync", "kline_stream", "analytics_mix").foreach { n =>
        val w = workload(n, Ctx(spark, 1L, 1.0, cores, work.resolve(n),
          arg(args, "--data")))
        try w.setup() finally w.close()
      }
      spark.stop()
      return
    }
    val name = arg(args, "--workload")
    val ctx = Ctx(spark, arg(args, "--seed").toLong,
      arg(args, "--seconds").toDouble, cores, work, arg(args, "--data"))
    val w = workload(name, ctx)
    val record = try {
      val setup = w.setup()
      val untraced = section(ctx, w, traced = false)
      val traced =
        if (arg(args, "--trace") == "1") Map("traced" -> section(ctx, w, true))
        else Map.empty
      setup ++ Map("untraced" -> untraced) ++ traced
    } finally w.close()
    val env = Map(
      "nproc" -> cores,
      "jvm" -> (System.getProperty("java.vm.name") + " " +
        System.getProperty("java.runtime.version")),
      "spark_version" -> spark.version,
      "spark_conf" -> Seq("spark.master", "spark.sql.shuffle.partitions",
        "spark.default.parallelism", "spark.sql.adaptive.enabled",
        "spark.sql.session.timeZone", "spark.driver.memory")
        .map(k => k -> spark.conf.getOption(k).getOrElse("(default)")).toMap)
    spark.stop()
    Files.writeString(Paths.get(arg(args, "--out")), Json.render(record ++
      Map("workload" -> name, "session_s" -> sessionS,
        "peak_rss_mib" -> peakRssMib(), "env" -> env)))
  }
}
