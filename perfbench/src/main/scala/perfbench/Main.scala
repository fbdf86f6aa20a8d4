package perfbench

import scala.collection.mutable.ArrayBuffer


/** A benchmark workload. Set-up is [[land]] (generate and write the
  * inputs, repeated so its median is steady) then [[prepare]] (base
  * state and one warm pass); the measured phase repeats [[unit]]. */
trait Workload {
  def land(rep: Int): Unit
  def prepare(): Unit
  /** One unit of work; returns the input records it covered. */
  def unit(u: Int): Long
  /** Units every run completes, however long they take. */
  def minUnits: Int
  /** End-of-run checks on state the units left behind. */
  def finish(): Unit
  def storedBytesPerInputByte: Double
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`
  *
  * Runs one workload on a local Spark session with one core per two
  * CPUs (task threads, the client thread, JIT and GC then do not
  * oversubscribe the host; requests mostly run one task at a time)
  * and prints, as its last stdout line, the result object: end-to-end
  * figures with `--trace 0`, per-layer figures with `--trace 1`.
  */
object Main {
  val Workloads: Seq[String] = Seq("f1_drilldown", "store_ingest")
  val LandReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.mkString(", ")}, got '$workload'")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    // everything the run writes stays under the checkout's build directory
    val root = java.nio.file.Paths.get(".bench_build").toAbsolutePath
    val work = root.resolve(s"work/$workload-${ProcessHandle.current().pid()}")
    val code = try {
      val out = run(workload, seed, seconds, trace, root, work)
      println(out)
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally Host.deleteTree(work)
    sys.exit(code)
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
          root: java.nio.file.Path, work: java.nio.file.Path): String = {
    // half the CPUs: at one core per CPU the run-to-run spread of the
    // same work was up to twice as wide, at the same unit times
    val cores = math.max(1, Runtime.getRuntime.availableProcessors / 2)
    val calStart = Host.calibrationMs()
    val (spark, sessionS) = time(graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tracer = new Tracer(spark)
      val r = new Run(spark, work, seed, tracer)
      val wl: Workload = workload match {
        case "f1_drilldown" => new F1Drilldown(r)
        case "store_ingest" => new StoreIngest(r)
      }
      // a traced run also records the set-up's layer calls
      if (trace) tracer.start()
      val landS = (0 until LandReps).map { rep =>
        val s = time(wl.land(rep))._2
        System.err.println(f"[perfbench] landed inputs ($rep) in $s%.3f s")
        s
      }
      val (_, prepS) = time(wl.prepare())
      System.err.println(f"[perfbench] prepared in $prepS%.3f s")
      val setupS = sessionS + Metrics.median(landS) + prepS

      // measured phase; a traced run traces every second unit, so each
      // traced unit sits between two untraced ones
      r.measuring = true
      val walls = ArrayBuffer.empty[(Double, Boolean)]
      var records = 0L
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var u = 0
      val need = if (trace) math.max(3, wl.minUnits) else wl.minUnits
      while (u < need || elapsed < seconds) {
        val traced = trace && u % 2 == 1
        if (traced) tracer.start() else tracer.stop()
        val (n, s) = time(tracer.span("bench.unit", unit = u)(wl.unit(u)))
        records += n
        walls += ((s, traced))
        System.err.println(f"[perfbench] unit $u in $s%.3f s${if (traced) " (traced)" else ""}")
        u += 1
      }
      r.measuring = false
      if (trace) tracer.start()
      tracer.span("bench.finish")(wl.finish())
      tracer.stop()
      val calEnd = Host.calibrationMs()

      val requests = r.durations("request")
      val appends = r.durations("append")
      val (rt, at) = (Metrics.tail(requests), Metrics.tail(appends))
      val e2e = Seq(
        "setup_s" -> setupS,
        "wall_s" -> Metrics.median(walls.map(_._1).toSeq),
        "request_p50_ms" -> Metrics.median(requests),
        "request_tail_ms" -> rt.value,
        "append_p50_ms" -> Metrics.median(appends),
        "append_tail_ms" -> at.value,
        "records_per_s" -> records / walls.map(_._1).sum,
        "stored_bytes_per_input_byte" -> wl.storedBytesPerInputByte,
        "peak_rss_mb" -> Host.peakRssMb())
      val failedRatio = r.failed.toDouble / math.max(1L, r.attempted)

      // human-readable record before the result line
      println(f"[perfbench] $workload seed=$seed units=${walls.size} cores=$cores " +
        f"session=${sessionS}%.3fs land=${landS.map(x => f"$x%.3f").mkString("/")}s prepare=${prepS}%.3fs")
      e2e.foreach { case (k, v) => println(f"[perfbench]   $k%-30s $v%.4f") }
      println(f"[perfbench]   request tail = p${rt.percentile}%.1f of ${rt.n} samples " +
        f"(${rt.beyond} beyond); append tail = p${at.percentile}%.1f of ${at.n} samples (${at.beyond} beyond)")
      println(f"[perfbench]   failed_ops_ratio = $failedRatio%.4f (${r.failed}/${r.attempted}); " +
        f"host.calibration_ms start=$calStart%.2f end=$calEnd%.2f")
      r.ops.groupBy(o => (o.kind, o.name)).toSeq.sortBy(_._1).foreach { case ((k, n), os) =>
        val ms = os.map(_.ms).toSeq
        println(f"[perfbench]   $k%-8s $n%-28s n=${os.size}%4d p50=${Metrics.median(ms)}%10.1f " +
          f"min=${ms.min}%10.1f max=${ms.max}%10.1f ms")
      }
      r.failures.take(20).foreach(f => println(s"[perfbench]   FAILED $f"))

      val metrics: Seq[(Metrics.Def, Double)] =
        if (!trace) Metrics.EndToEnd.map(d => d -> e2e.toMap.apply(d.name))
        else {
          val tracedUnits = walls.zipWithIndex.collect { case ((s, true), i) => i -> s }.toMap
          val untraced = walls.filterNot(_._2).map(_._1).toSeq
          val file = root.resolve(s"traces/$workload-seed$seed.json")
          val layers = tracer.report(tracedUnits, cores)
          val nUnits = walls.size.toDouble
          val extra = r.counts.map { case (k, v) => k -> v / nUnits } ++ r.gauges ++ Map(
            "host.calibration_ms" -> Metrics.median(Seq(calStart, calEnd)),
            "trace.overhead_s" -> (Metrics.median(tracedUnits.values.toSeq) -
              Metrics.median(untraced)))
          val all = layers ++ extra
          tracer.write(file, all)
          println(s"[perfbench] trace written to $file")
          val out = Metrics.PerLayer.map(d => d -> all.getOrElse(d.name, 0.0))
          out.foreach { case (d, v) => println(f"[perfbench]   ${d.name}%-32s $v%14.3f ${d.unit}") }
          out
        }
      Metrics.resultJson(r.failed == 0, r.attempted, r.failed, metrics)
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
  }
}
