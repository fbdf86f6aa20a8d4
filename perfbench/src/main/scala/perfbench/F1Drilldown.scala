package perfbench

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._

import graft.f1.{ChartSink, F1Dashboard, F1Session}
import F1Season._

/** `f1_drilldown`: one analyst in a closed loop, as in the reference's
  * single-user dashboard, over a one-weekend season. Each unit walks
  * the qualifying session (the one every request applies to): the two catalog
  * dropdowns, the session's fastest laps (cold, filling the
  * F1Session cache), the comparison chart written to disk, the
  * qualifying grid, the compound matrix, the fastest laps again (warm),
  * and two laps' telemetry with track position, each also rendered to
  * a chart file; then `release()`. Every request touches
  * little data, so driver-side planning, per-job cost and the session
  * cache decide latency.
  */
final class F1Drilldown(run: Run) extends Workload {
  private val spark = run.spark
  import spark.implicits._

  private val season = F1Season(run.seed, numMeetings = 1)
  private var dir = ""
  private var inputBytes = 0L
  private var chartBytes = 0L
  private var sessionsWalked = 0

  /** Two walks per run: the request median and the tail (the p90 of
    * sixteen requests, which falls between the middle two of the four
    * telemetry requests) then rest on more than one walk. */
  val minUnits = 2

  def land(rep: Int): Unit = {
    dir = run.dir(s"season-$rep")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    val ss = season.sessions
    val plans = ss.flatMap(season.lapPlans)
    write(season.meetings.toDF(), "meetings")
    write(ss.toDF(), "sessions")
    write(ss.flatMap(season.drivers).toDF(), "drivers")
    write(plans.map(season.lapRow).toDF(), "laps")
    write(ss.flatMap(season.stints).toDF(), "stints")
    write(ss.flatMap(season.pits).toDF(), "pit")
    // telemetry rows are generated where they are written
    val gen = season
    val byLap = spark.sparkContext.parallelize(plans, 8)
    write(byLap.flatMap(gen.carOf).toDF(), "car_data")
    write(byLap.flatMap(gen.locationOf).toDF(), "location")
    inputBytes = Host.treeBytes(dir)
  }

  /** The qualifying session exercises every request (the grid too). */
  private val qualifying = season.sessions.find(_.session_type == "Qualifying").get

  /** One walk warms every code path. */
  def prepare(): Unit = walk(qualifying)

  def unit(u: Int): Long = walk(qualifying)

  def finish(): Unit = ()

  def storedBytesPerInputByte: Double =
    chartBytes.toDouble / (inputBytes.toDouble / season.sessions.size * sessionsWalked)

  private def walk(s: Session): Long = {
    val meeting = season.meetings.find(_.meeting_key == s.meeting_key).get
    val laps = season.laps(s)
    val drivers = season.drivers(s)
    val acronym = drivers.map(d => d.driver_number -> d.name_acronym).toMap
    val quali = s.session_type == "Qualifying"
    var records = laps.size.toLong

    run.op("request", "f1.catalog")(
      F1Dashboard.weekends(spark, Year, dir).collect()) { rows =>
      Checks.sameSet("weekends", rows.map(r => (r.getString(0), r.getLong(1))),
        season.meetings.map(m => (m.meeting_official_name, m.meeting_key)))
    }
    run.op("request", "f1.catalog")(
      F1Dashboard.sessionsInWeekend(spark, meeting.meeting_key, dir).collect()) { rows =>
      Checks.sameSet("sessions", rows.map(r => (r.getString(0), r.getLong(1))),
        season.sessions.filter(_.meeting_key == meeting.meeting_key)
          .map(x => (x.session_name, x.session_key)))
    }

    val session = new F1Session(spark, s.session_key, dir)
    try {
      val fastest = F1Truth.fastest(laps)
      def checkFastest(rows: Array[Row]): Seq[String] = Checks.sameSet("fastest laps",
        rows.map(r => (r.getAs[Long]("driver_number"),
          (r.getAs[Long]("lap_number"), r.getAs[Double]("actual_lap_time")))),
        fastest.toSeq)
      run.op("request", "f1.session_cold")(session.fastestLaps.collect())(checkFastest)

      val expectedBars =
        if (quali) F1Truth.grid(laps, micros(s.date_start)).map(_._2)
        else F1Truth.fastestOrder(laps)
      val chart = run.dir(s"charts/${s.session_key}.svg")
      val svg = run.op("append", "f1.chart") {
        val svg = ChartSink.comparisonSvg(session.comparisonFrame,
          s"Circuit ${s.circuit_short_name} - ${s.session_name} fastest lap times", quali)
        ChartSink.writeSvg(java.nio.file.Paths.get(chart), svg)
        svg
      } { svg => Checks.sameSeq("chart bars", Checks.svgTicks(svg), expectedBars.map(acronym)) }
      chartBytes += svg.length

      if (quali)
        run.op("request", "f1.grid")(session.qualifyingGrid
          .select("grid_position", "driver_number").collect()) { rows =>
          Checks.sameSeq("grid", rows.map(r => (r.getInt(0), r.getLong(1))).toSeq,
            F1Truth.grid(laps, micros(s.date_start)))
        }

      run.op("request", "f1.avg_matrix")(session.avgLapMatrix(Compounds).collect()) { rows =>
        val got = rows.map(r => (r.getAs[Long]("driver_number"),
          Compounds.flatMap(c => Option(r.getAs[java.lang.Double](c)).map(v => c -> v.doubleValue)).toMap))
        Checks.sameSeqApprox("compound matrix", got.toSeq,
          F1Truth.matrix(laps, season.stints(s), drivers))
      }

      run.op("request", "f1.session_warm")(session.fastestLaps.collect())(checkFastest)

      // Two laps' telemetry per walk, so the tail rests on four samples.
      // Each is a timed lap that does not leave the pit lane, of a driver
      // with the most laps (in qualifying, one who reaches Q3): every seed
      // asks for telemetry of the same shape.
      val r = rng(run.seed, 50, s.session_key)
      val lapsOf = laps.groupBy(_.driver_number).map { case (d, ls) => d -> ls.size }
      val candidates = laps.filter(l => F1Truth.lapTime(l).isDefined &&
        lapsOf(l.driver_number) == lapsOf.values.max && !l.is_pit_out_lap.contains(true))
      val first = r.nextInt(candidates.size)
      val second = (first + 1 + r.nextInt(candidates.size - 1)) % candidates.size
      for (l <- Seq(candidates(first), candidates(second))) {
        val truth = F1Truth.telemetry(season, s, l.driver_number, l.lap_number)
        val rows = run.op("request", "operators.telemetry")(
          session.lapTelemetry(l.driver_number, l.lap_number)
            .select(col("date"), col("speed"), col("x"), col("y"), col("z"),
              col("seconds_from_lap_start")).collect()) { rows =>
          Checks.sameSeq("telemetry", rows.map(r => (micros(r.getTimestamp(0)),
            r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq,
            truth) ++
          Checks.all("seconds from lap start", rows.toSeq)(r =>
            math.abs(r.getDouble(5) - (micros(r.getTimestamp(0)) - micros(l.date_start)) / 1e6) < 1e-9)
        }
        records += rows.length
        run.count("operators.asof_rows", rows.length)
        val tchart = run.dir(s"charts/${s.session_key}-${l.driver_number}-${l.lap_number}.svg")
        val tsvg = run.op("append", "f1.telemetry_chart") {
          val svg = ChartSink.telemetrySvg(session.lapTelemetry(l.driver_number, l.lap_number),
            s"${acronym(l.driver_number)} lap ${l.lap_number}")
          ChartSink.writeSvg(java.nio.file.Paths.get(tchart), svg)
          svg
        } { svg => Checks.equal("telemetry chart points",
          "class=\"speed\" points=\"([^\"]*)\"".r.findFirstMatchIn(svg)
            .map(_.group(1).split(' ').length).getOrElse(0), truth.size) }
        chartBytes += tsvg.length
      }
    } finally session.release()
    sessionsWalked += 1
    records
  }
}
