package perfbench

/** The benchmark's metric vocabulary and the summary statistics every
  * figure goes through. Names and units here are the contract that
  * BENCHMARK.json lists and later changes claim gains against.
  */
object Metrics {
  final case class Def(name: String, unit: String, better: String)

  val NamePattern = "[A-Za-z0-9_.-]+"

  /** Figures a user of the engine sees. Every workload reports all of
    * them: a "request" is a read the user waits on and an "append" is
    * an operation that leaves durable output (see README.md here). */
  val EndToEnd: Seq[Def] = Seq(
    Def("setup_s", "s", "lower"),
    Def("wall_s", "s", "lower"),
    Def("request_p50_ms", "ms", "lower"),
    Def("request_tail_ms", "ms", "lower"),
    Def("append_p50_ms", "ms", "lower"),
    Def("append_tail_ms", "ms", "lower"),
    Def("records_per_s", "1/s", "higher"),
    Def("stored_bytes_per_input_byte", "ratio", "lower"),
    Def("peak_rss_mb", "MB", "lower"))

  private def ms(n: String) = Def(n, "ms", "lower")
  private def count(n: String) = Def(n, "count", "lower")
  private def bytes(n: String) = Def(n, "bytes", "lower")

  /** Layers a unit of work spends time in, from the benchmark's own
    * spans: engine modules it calls (`f1`, `operators`, `store`, whose
    * spans include the streaming sinks it drives), `bench` for its own
    * driver code and `spark` for time under a running job. The batch
    * `ext` layer runs in set-up and is timed by its operation spans. */
  val Layers: Seq[String] = Seq("bench", "f1", "operators", "store", "spark")

  /** Per-layer figures of the traced run. Counts and times are per
    * unit of work (a session walk, a batch job, an ingest round);
    * `*_ms` of a named operation is the median of its spans. */
  val PerLayer: Seq[Def] = Seq(
    count("spark.jobs"), count("spark.stages"), count("spark.tasks"),
    ms("spark.plan_analysis_ms"), ms("spark.plan_optimization_ms"),
    ms("spark.plan_physical_ms"), ms("spark.executor_run_ms"),
    Def("spark.parallel_efficiency", "ratio", "higher"),
    bytes("spark.shuffle_write_bytes"), bytes("spark.shuffle_read_bytes"),
    bytes("spark.spill_bytes"), ms("spark.gc_ms"), bytes("sources.input_bytes"),
    count("spark.persisted_rdds_left"), bytes("spark.storage_bytes_peak"),
    ms("f1.catalog_ms"), ms("f1.session_cold_ms"), ms("f1.session_warm_ms"),
    ms("f1.grid_ms"), ms("f1.avg_matrix_ms"), ms("f1.chart_ms"),
    ms("operators.telemetry_ms"), count("operators.asof_rows"),
    ms("ext.release_ms"), ms("ext.kmeans_fit_ms"),
    ms("ext.semantic_dedup_ms"), count("ext.dedup.candidate_pairs"),
    count("ext.dedup.verified_pairs"),
    Def("ext.dedup.candidate_yield", "ratio", "higher"),
    Def("ext.ann.recall_at_10", "ratio", "higher"),
    ms("store.release_drop_ms"), ms("store.signature_append_ms"),
    ms("store.retrieval_append_ms"), ms("store.vector_append_ms"),
    count("streaming.batches"), ms("streaming.trigger_ms"),
    ms("streaming.add_batch_ms"), ms("streaming.wal_commit_ms"),
    ms("streaming.query_planning_ms"), bytes("sources.fs_bytes_read"),
    ms("store.bm25_query_ms"),
    ms("store.ann_query_ms"), ms("store.sig_probe_ms"),
    count("sources.files_live"), ms("store.compact_ms"), ms("store.vacuum_ms"),
    count("store.generations_live"), bytes("sources.fs_bytes_written"),
    ms("host.calibration_ms"),
    Def("trace.overhead_s", "s", "lower"),
    Def("stress.f1_plan_job_share", "ratio", "higher"),
    Def("stress.release_executor_share", "ratio", "higher"),
    Def("stress.store_action_share", "ratio", "higher")) ++
    Layers.map(l => ms(s"self.${l}_ms"))

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, but
    * never below the p90: (value, percentile, samples, samples beyond).
    * Below 100 samples that percentile would fall under the p90, so the
    * p90 is reported instead, interpolated between its two neighbouring
    * samples (fewer than ten lie beyond it; the output says so). The
    * interpolation keeps one slow outlier from setting the figure the
    * way the maximum of a few samples would. */
  final case class Tail(value: Double, percentile: Double, n: Int, beyond: Int)

  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n < 100) {
      val pos = 0.9 * (n - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, n - 1)
      val v = s(lo) + (pos - lo) * (s(hi) - s(lo))
      Tail(v, 90.0, n, s.count(_ > v))
    } else Tail(s(n - 11), 100.0 * (n - 10) / n, n, 10)
  }

  /** The last stdout line the benchmark contract asks for. */
  def resultJson(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(Def, Double)]): String = {
    metrics.foreach { case (d, v) =>
      require(d.name.matches(NamePattern), s"bad metric name ${d.name}")
      require(d.unit.nonEmpty, s"metric ${d.name} has no unit")
      require(!v.isNaN && !v.isInfinite, s"metric ${d.name} is $v")
    }
    val ms = metrics.map { case (d, v) =>
      s""""${d.name}": {"value": ${num(v)}, "unit": "${d.unit}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  /** Full precision, never scientific-notation surprises for JSON. */
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
}
