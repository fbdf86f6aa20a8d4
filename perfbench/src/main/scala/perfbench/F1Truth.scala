package perfbench

import F1Season._

/** Ground truth for the drill-down, computed in plain Scala from the
  * generator's own rows — never from the engine's output. Each method
  * restates one reference rule (the file:line each engine operator
  * cites) directly over the generated data.
  */
object F1Truth {
  /** actual_lap_time = bround(s1 + s2 + s3, 3), NULL if a sector is. */
  def lapTime(l: Lap): Option[Double] =
    for (a <- l.duration_sector_1; b <- l.duration_sector_2; c <- l.duration_sector_3)
      yield BigDecimal(a + b + c).setScale(3, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  private def startUs(l: Lap): Long = micros(l.date_start)

  /** Fastest lap per driver: argmin (time, date_start), timeless laps skipped. */
  def fastest(laps: Seq[Lap]): Map[Long, (Long, Double)] =
    laps.flatMap(l => lapTime(l).map(t => (l, t))).groupBy(_._1.driver_number)
      .map { case (d, ls) =>
        val (l, t) = ls.minBy { case (l, t) => (t, startUs(l)) }
        d -> ((l.lap_number, t))
      }

  /** Drivers in fastest-lap bar order. */
  def fastestOrder(laps: Seq[Lap]): Seq[Long] = {
    val best = laps.flatMap(l => lapTime(l).map(t => (l, t))).groupBy(_._1.driver_number)
      .map { case (d, ls) => d -> ls.minBy { case (l, t) => (t, startUs(l)) } }
    best.toSeq.sortBy { case (_, (l, t)) => (t, startUs(l)) }.map(_._1)
  }

  /** Qualifying grid: phases by the 18+7 / 15+8 minute rule, pit-out
    * laps dropped, per-phase best lap, Q3 ranks 1-10, the five slowest
    * of Q2 and of Q1 filling 11-15 and 16-20 in ascending order. */
  def grid(laps: Seq[Lap], sessionStart: Long): Seq[(Int, Long)] = {
    val q2 = sessionStart + (25 * 60 * 1e6).toLong
    val q3 = q2 + (23 * 60 * 1e6).toLong
    def phase(l: Lap) = { val t = startUs(l); if (t < q2) "Q1" else if (t < q3) "Q2" else "Q3" }
    // NULL times sort last ascending (first descending), then date_start
    def asc(l: Lap) = (lapTime(l).isEmpty, lapTime(l).getOrElse(0.0), startUs(l))
    val best = laps.filterNot(_.is_pit_out_lap.contains(true))
      .groupBy(l => (phase(l), l.driver_number)).values
      .map(ls => ls.minBy(asc)).toSeq
    def ranked(p: String) = best.filter(phase(_) == p).sortBy(asc)
    val q3Rows = ranked("Q3").zipWithIndex.map { case (l, i) => (i + 1, l.driver_number) }
    def bottom(p: String, base: Int) = {
      val r = ranked(p)
      r.zipWithIndex.collect { case (l, i) if r.size - i <= 5 =>
        (base - (r.size - i), l.driver_number) }
    }
    (q3Rows ++ bottom("Q2", 16) ++ bottom("Q1", 21)).sortBy(_._1)
  }

  /** The stint compound of each lap: backward as-of on lap_start, NULL
    * past the stint's lap_end. */
  def compoundOf(laps: Seq[Lap], stints: Seq[Stint]): Map[(Long, Long), Option[String]] = {
    val byDriver = stints.groupBy(_.driver_number)
    laps.map { l =>
      val c = byDriver.getOrElse(l.driver_number, Nil)
        .filter(_.lap_start <= l.lap_number).maxByOption(_.lap_start)
        .filter(_.lap_end >= l.lap_number).flatMap(_.compound)
      (l.driver_number, l.lap_number) -> c
    }.toMap
  }

  /** The drivers × compounds average-lap matrix, in its sort order
    * (best MEDIUM average first, NULL last, then acronym). */
  def matrix(laps: Seq[Lap], stints: Seq[Stint], drivers: Seq[Driver])
      : Seq[(Long, Map[String, Double])] = {
    val comp = compoundOf(laps, stints)
    val acr = drivers.map(d => d.driver_number -> d.name_acronym).toMap
    val rows = for {
      l <- laps; t <- lapTime(l); c <- comp((l.driver_number, l.lap_number))
      if c != "TEST_UNKNOWN" && c != "UNKNOWN"
    } yield (l.driver_number, c, t)
    val avg = rows.groupBy(r => (r._1, r._2)).map { case (k, v) =>
      val sum = v.map(r => BigDecimal(r._3).setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum
      k -> sum.toDouble / v.size
    }
    val perDriver = avg.groupBy(_._1._1).map { case (d, m) =>
      d -> m.map { case ((_, c), a) => c -> a } }
    perDriver.toSeq.sortBy { case (d, m) =>
      (m.get("MEDIUM").isEmpty, m.getOrElse("MEDIUM", 0.0), acr(d)) }
  }

  /** One lap's telemetry joined to the nearest track position (ties go
    * to the earlier sample): (date µs, speed, x, y, z). */
  def telemetry(season: F1Season, s: Session, driver: Long, lap: Long)
      : Seq[(Long, Double, Double, Double, Double)] = {
    val plans = season.lapPlans(s).filter(_.driver_number == driver)
    val p = plans.find(_.lap_number == lap).get
    val end = p.startMicros + ((p.durationMicros / 1e6) * 1e6).toLong
    val near = plans.filter(q => math.abs(q.lap_number - lap) <= 2)
    val car = near.filter(q => math.abs(q.lap_number - lap) <= 1).flatMap(season.carOf)
      .filter { c => val t = micros(c.date); t >= p.startMicros && t <= end }
    val loc = near.flatMap(season.locationOf).map(l => (micros(l.date), l)).sortBy(_._1)
    car.map { c =>
      val t = micros(c.date)
      val (_, l) = loc.minBy { case (u, _) => (math.abs(u - t), u) }
      (t, c.speed, l.x, l.y, l.z)
    }.sortBy(_._1)
  }
}
