package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark (see perfbench/README.md).
  *
  *   PerfBench <workload> <seed> <seconds> <trace 0|1> <workDir> <cores> <mode>
  *
  * `mode` is `measure`, `record` (curation rows and digests for the
  * oracle check) or `inputs` (a description of the generated inputs).
  * Writes `<workDir>/result.json`: the metrics of the run, how many
  * operations were attempted and failed, and the checks it made. With
  * trace 1 it also writes `<workDir>/trace/{spans,stages,executions}.json`.
  */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      workDir: String, cores: Int, mode: String)

  /** What a workload hands back to the harness. */
  final class Outcome {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, Boolean, String)]
    /** Order-independent digests of query results, by query. */
    val digests = mutable.LinkedHashMap.empty[String, String]
    val queryRuns = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
    /** Every sample behind a reported median, for the result file. */
    val series = mutable.LinkedHashMap.empty[String, Seq[Double]]
    var attempted = 0L
    var failed = 0L
    /** Records a check. `program` checks are of the engine's outputs and
      * decide `correct`; the others check the measurement itself.
      */
    def check(name: String, ok: Boolean, detail: => String = "", program: Boolean = true): Boolean = {
      checks += ((name, program, ok, if (ok) "" else detail))
      ok
    }
  }

  /** Timed runs a measurement makes at least; `job_s` is their median.
    * The first is still a little slow, so four keep it off the median.
    */
  val MinReps = 4

  /** How many times a run repeats its set-up; `setup_s` is the median. */
  val SetupReps = 3

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", math.max(a.cores, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (16L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1L << 20).toString)
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val origin = System.nanoTime()

  /** Progress line in the JVM log. */
  def progress(msg: String): Unit = println(f"[perfbench ${secondsSince(origin)}%7.2f s] $msg")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  def rmrf(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(c => rmrf(c.getPath))
    f.delete()
  }

  /** Bytes of the data files under `path` (checksum side files excluded). */
  def dataBytes(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(c => dataBytes(c.getPath)).sum
    else if (f.getName.startsWith(".") || f.getName.endsWith(".crc")) 0L
    else f.length()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** VmHWM of this process in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Repeats `body` until `seconds` have passed and at least `MinReps`
    * runs are done; returns every run's seconds.
    */
  def repeatFor(seconds: Double)(body: Int => Double): Seq[Double] = {
    val out = Seq.newBuilder[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinReps || secondsSince(t0) < seconds) {
      out += body(i)
      i += 1
    }
    out.result()
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1", argv(4), argv(5).toInt,
      argv.lift(6).getOrElse("measure"))
    new File(if (a.trace) s"${a.workDir}/trace" else a.workDir).mkdirs()
    if (a.mode == "inputs") {
      write(s"${a.workDir}/result.json", Json.obj("inputs" -> Inputs.describe(a.workload, a.seed)) + "\n")
      return
    }
    val tracer = new Tracer(s"${a.workload}-${a.seed}")
    val (spark, sessionS) = timed(session(a))
    progress(f"session started in $sessionS%.2f s")
    val out = new Outcome
    try {
      a.workload match {
        case "curation_heavy" if a.mode == "record" => new CurationRun(spark, a, tracer).record(out)
        case "extract_articles"     => new Extraction(spark, a, tracer).run(sessionS, out)
        case "curation_heavy"       => new CurationRun(spark, a, tracer).run(sessionS, out)
        case w                      => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (!a.trace && a.mode == "measure") out.metrics("peak_rss_mb") = peakRssMb()
    } finally spark.stop()
    if (a.trace) write(s"${a.workDir}/trace/spans.json", tracer.json)
    val result = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "checks" -> out.checks.map { case (n, p, ok, d) =>
        RawJson(Json.obj("name" -> n, "program" -> p, "ok" -> ok, "detail" -> d))
      }.toSeq,
      "digests" -> out.digests.toMap,
      "query_runs" -> out.queryRuns.toMap,
      "series" -> out.series.toMap,
      "metrics" -> out.metrics.toMap)
    write(s"${a.workDir}/result.json", result + "\n")
  }

  def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
}
