package graft

/** r07 auxiliary micro-bench (guide §1.4): time SparkEntry queries with the
  * noop sink in ONE warm JVM/session. `Bench.scala` is FROZEN for the
  * driver's measurement; this separate main exists only for the
  * optimization round's before/after evidence (OPTIMIZATION_r07.md). It
  * runs in [[Bench.session]] (same master, shuffle-partition and split
  * sizing) and mirrors Bench's per-query methodology
  * (1 warmup + N timed runs, noop sink, driver GC outside the timed
  * window, median reported).
  *
  * Usage: `sbt "runMain graft.BenchExtra [query ...]"` — no args times
  * every declared query. Env:
  *   SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS     core count (default 32)
  *   GRAFT_BENCHX_REPS    timed runs per query (default 3)
  *   GRAFT_BENCHX_PLANS   when set, writes <dir>/<query>.txt with
  *                        explain("formatted") before timing
  * Prints one JSON line: {"queries":{name:median,...},"runs":{...}}.
  */
object BenchExtra {

  private def f(d: Double) =
    BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("GRAFT_BENCHX_REPS", "3").toInt
    val plansDir = sys.env.get("GRAFT_BENCHX_PLANS")
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Bench.session(cpus.toInt)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      plansDir.foreach { dir =>
        new java.io.File(dir).mkdirs()
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/$name.txt"), plan)
      }
      spark.sparkContext.setJobDescription(s"benchx:$name")
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        System.gc()
        t
      }
      once() // warmup: identical plan, steady-state codegen/JIT
      out(name) = Vector.fill(reps)(once())
      System.err.println(f"BENCHX $name%-28s ${out(name).map(v => f"$v%.3f").mkString(" ")}")
    }
    val qs = out.map { case (k, v) => s""""$k":${f(median(v))}""" }.mkString(",")
    val rs = out.map { case (k, v) =>
      s""""$k":${v.map(f).mkString("[", ",", "]")}""" }.mkString(",")
    println(s"""{"sf":"$sfDir","cpus":$cpus,"queries":{$qs},"runs":{$rs}}""")
    spark.stop()
  }
}
