package graft.perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.SparkEntry
import graft.ops.HashFamily
import PerfBench._

/** The curation_heavy workload: shingle-staging and connected-components
  * queries of `SparkEntry.queries`, back to back in one session, each to
  * a `noop` sink, in the production hash family.
  *
  * The warm-up pass computes an order-independent digest of each query's
  * rows instead; the runner compares it with the digest recorded from a
  * run whose rows matched the query's DuckDB oracle (`record`).
  */
final class CurationRun(spark: SparkSession, a: Args, tracer: Tracer) {
  import spark.implicits._

  private val dir = s"${a.workDir}/cur"

  private def generate(): Unit =
    spark.createDataset(Corpus.permutedDocuments(Corpus.CurationDocs, a.seed).toSeq).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def query(q: String): DataFrame = SparkEntry.queries(q)(spark, dir)

  /** One query to `sink`; a throw is a failed operation. */
  private def runQuery(q: String, out: Outcome)(sink: DataFrame => Unit): Double = timed {
    out.attempted += 1
    out.queryRuns(q) += 1
    try sink(query(q))
    catch {
      case NonFatal(e) =>
        out.failed += 1
        out.check(s"$q runs", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }._2

  private def sequence(out: Outcome): Seq[Double] = {
    val s = Metrics.Queries.map(q => runQuery(q, out)(noop))
    progress(s"queries: ${s.map(x => f"$x%.2f").mkString(" ")} s")
    s
  }

  /** Bytes the ops persist themselves (t20 stages its dedup verdicts as a
    * parquet table under the JVM temp dir).
    */
  private def stagedBytes: Long =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft-staging")).map(f => dataBytes(f.getPath)).sum

  def run(sessionS: Double, out: Outcome): Unit = {
    val gens = (1 to (if (a.trace) 1 else SetupReps)).map(_ => timed(generate())._2)
    // warm-up: a pass that digests each query's rows for the check, then
    // one timed-style pass; planning and codegen of these large plans are
    // still getting faster for several passes after the first
    val (_, warmS) = timed {
      Metrics.Queries.foreach(q => runQuery(q, out)(df => out.digests(q) = CurationRun.digest(df)))
      sequence(out)
    }
    progress(f"warm-up passes done in $warmS%.2f s")
    val textBytes = Corpus.documents(Corpus.CurationDocs).map(_.text.getBytes("UTF-8").length.toLong).sum
    if (!a.trace) {
      val times = repeatFor(a.seconds)(_ => sequence(out).sum)
      val jobS = Stats.median(times)
      out.series ++= Seq("generate_s" -> gens, "job_s" -> times)
      out.metrics ++= Seq(
        "setup_s" -> (sessionS + Stats.median(gens) + warmS),
        "job_s" -> jobS,
        "docs_per_s" -> Corpus.CurationDocs / jobS,
        "html_mb_per_s" -> textBytes / 1e6 / jobS,
        "written_bytes_per_html_byte" -> stagedBytes.toDouble / textBytes)
    } else traced(out)
  }

  /** Each query's rows in both hash families, the oracle SQL and the
    * digests, for the runner to check the oracle-mode rows in DuckDB and
    * record the production-mode digests.
    */
  def record(out: Outcome): Unit = {
    generate()
    Seq(HashFamily.Xx64, HashFamily.Md5Mirror).foreach { fam =>
      spark.conf.set(HashFamily.ConfKey, fam.name)
      Metrics.Queries.foreach { q =>
        val path = s"$dir/results/${fam.name}/$q"
        query(q).write.mode("overwrite").parquet(path)
        out.digests(s"${fam.name}/$q") = CurationRun.digest(spark.read.parquet(path))
      }
    }
    spark.conf.unset(HashFamily.ConfKey)
    PerfBench.write(s"$dir/oracles.json",
      Json.obj(Metrics.Queries.map(q => q -> SparkEntry.oracleSql(q)): _*) + "\n")
  }

  private def traced(out: Outcome): Unit = {
    val before = sequence(out).sum
    val prof = new StageProfiler
    spark.sparkContext.addSparkListener(prof)
    val perQuery = tracer.span("job") {
      Metrics.Queries.map { q =>
        prof.clear(spark)
        val s = tracer.span(s"ops.$q")(runQuery(q, out)(noop))
        (q, s, prof.snapshot(spark))
      }
    }
    spark.sparkContext.removeSparkListener(prof)
    // untraced passes on both sides of the traced one, so the JIT's
    // continued warming does not count as tracing overhead
    val plainS = (before + sequence(out).sum) / 2
    PerfBench.write(s"${a.workDir}/trace/stages.json", perQuery.flatMap { case (q, _, st) =>
      st.map(s => s"""{"query": ${Json.str(q)}, "stage": ${s.json}}""")
    }.mkString("[\n", ",\n", "\n]\n"))

    val tasks = perQuery.flatMap(_._3).flatMap(_.tasks)
    out.metrics ++= Metrics.zeros(Metrics.Kernel ++ Metrics.Spark)
    perQuery.foreach { case (q, s, st) =>
      val slowest = st.sortBy(-_.wallS).headOption
      out.metrics ++= Seq(
        s"ops.${q}_s" -> s,
        s"ops.$q.shuffle_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble,
        s"ops.$q.spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
        s"ops.$q.task_skew" -> slowest.map(_.skew).getOrElse(0.0),
        s"ops.$q.stages" -> st.size.toDouble)
    }
    out.metrics ++= Seq(
      "ops.gc_frac" -> tasks.map(_.gcMs).sum / math.max(tasks.map(_.runMs).sum, 1L).toDouble,
      "trace.overhead_frac" -> (perQuery.map(_._2).sum / plainS - 1.0))
  }
}

object CurationRun {
  /** Order-independent digest of a query's rows: row count and the sum of
    * a hash over the columns in name order, doubles rounded to 9 places.
    */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map { c =>
      df.schema(c).dataType match {
        case DoubleType | FloatType => round(col(c), 9)
        case _                      => col(c)
      }
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }
}
