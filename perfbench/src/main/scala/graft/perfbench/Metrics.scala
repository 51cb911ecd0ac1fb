package graft.perfbench

/** Per-layer metric names, grouped by the layer they describe. A traced
  * run prints every one of them; a layer its workload does not run
  * reports 0.
  */
object Metrics {
  val Queries = Seq("t20_curation_funnel", "t26_dup_components")

  val Kernel: Seq[String] =
    Seq("kernel.clean_us") ++ KernelProfile.Phases.map(p => s"kernel.${p}_share") ++
      Seq("kernel.threads_docs_per_s", "kernel.row_us.p50", "kernel.row_us.p999",
        "kernel.error_rows", "kernel.sizecap_rows")

  val Spark: Seq[String] = Seq("spark.scan_s", "spark.kernel_stage_s", "spark.write_stage_s",
    "spark.lineage_s", "spark.resume_s", "spark.residual_share", "spark.cpu_frac",
    "spark.gc_frac", "spark.deser_frac", "spark.shuffle_write_bytes_per_html_byte",
    "spark.input_bytes", "spark.output_bytes", "spark.task_skew", "spark.tasks",
    "spark.failed_tasks", "spark.resume_redone_frac")

  val Ops: Seq[String] = Queries.flatMap(q => Seq(s"ops.${q}_s", s"ops.$q.shuffle_bytes",
    s"ops.$q.spill_bytes", s"ops.$q.task_skew", s"ops.$q.stages")) :+ "ops.gc_frac"

  def zeros(names: Seq[String]): Seq[(String, Double)] = names.map(_ -> 0.0)
}
