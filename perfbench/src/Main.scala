package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  * {{{
  * perfbench.Main --workload <backfill|steady> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <file> [--tiny]
  * }}}
  *
  * Writes the raw record of the run (set-up times, every timed operation,
  * check failures, memory and byte counts) to `--out` as one JSON object,
  * and with `--trace 1` the span/job/filesystem trace to `<out>.trace`.
  * Metrics are derived from these files by `perfbench/analysis.py`.
  */
object Main {
  /** Renders the result and trace records (Scala maps and sequences). */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    val out = opts("out")
    val profile = Profile.of(workload, seconds, args.contains("--tiny"))

    val builder = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .appName("perfbench")
      // as EtlMain.main configures its session
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep every scratch file inside the work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced)
      builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val recorder = if (traced) {
        val fsClass = org.apache.hadoop.fs.FileSystem
          .get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
          .getClass
        require(fsClass == classOf[CountingLocalFileSystem],
          s"counting filesystem not installed: $fsClass")
        Some(Trace.start(spark.sparkContext))
      } else None

      val life = new Lifecycle(spark, work, seed, profile)
      val t0 = System.nanoTime()
      life.run()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

      val ops = life.ops.map { o =>
        (Seq("id" -> o.id, "kind" -> o.kind, "phase" -> o.phase, "start" -> o.start,
          "end" -> o.end, "ok" -> o.ok, "units" -> o.units) ++ o.info).toMap
      }
      val result = json.writeValueAsString((Seq(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "trace" -> traced, "cores" -> Runtime.getRuntime.availableProcessors(),
        "profile" -> profile.productElementNames.zip(profile.productIterator).toMap,
        "setup_s" -> life.setupSeconds, "lifecycle_s" -> wall,
        "attempted" -> life.attempted, "failed" -> life.failed,
        "failures" -> life.failures, "rss_mb" -> peakRssMb(), "ops" -> ops) ++
        life.extra).toMap)
      Files.writeString(Paths.get(out), result)
      recorder.foreach(r => TraceWriter.write(s"$out.trace", r))
    } finally spark.stop()
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
