package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

/** A seeded, F1-shaped season in plain Scala: meetings, three sessions
  * per weekend, 20 drivers, laps with sector times, stints, pit stops,
  * and car/location telemetry (see [[SamplePeriodMicros]]). Every row is a pure
  * function of (seed, keys), so the benchmark writes the tables with
  * Spark and recomputes any slice of them here for the ground truth.
  */
object F1Season {
  final case class Meeting(meeting_key: Long, year: Int,
                           meeting_official_name: String)
  final case class Session(session_key: Long, meeting_key: Long,
                           session_name: String, session_type: String,
                           circuit_short_name: String, date_start: Timestamp,
                           date_end: Timestamp)
  final case class Driver(session_key: Long, driver_number: Long,
                          name_acronym: String, team_colour: String,
                          driver_color: String)
  final case class Lap(session_key: Long, driver_number: Long,
                       lap_number: Long, date_start: Timestamp,
                       duration_sector_1: Option[Double],
                       duration_sector_2: Option[Double],
                       duration_sector_3: Option[Double],
                       lap_duration: Option[Double],
                       is_pit_out_lap: Option[Boolean])
  final case class Stint(session_key: Long, driver_number: Long,
                         stint_number: Long, lap_start: Long, lap_end: Long,
                         compound: Option[String],
                         tyre_age_at_start: Option[Long])
  final case class Pit(session_key: Long, meeting_key: Long,
                       driver_number: Long, date: Timestamp,
                       pit_duration: Double, lap_number: Long)
  final case class Car(session_key: Long, driver_number: Long, date: Timestamp,
                       speed: Double, throttle: Double, brake: Double,
                       n_gear: Long, rpm: Long)
  final case class Location(session_key: Long, driver_number: Long,
                            date: Timestamp, x: Double, y: Double, z: Double)

  val Compounds: Seq[String] = Seq("SOFT", "MEDIUM", "HARD", "INTERMEDIATE", "WET")
  val Year = 2024
  val DriversPerSession = 20
  /** Telemetry sampling period. OpenF1 records ~3.7 Hz; this season
    * records 1.25 Hz (the rate of the repository's own location
    * fixture), because the engine's nearest as-of join grows with the
    * square of a (session, driver) partition and one lap request at
    * 3.7 Hz takes tens of seconds. */
  val SamplePeriodMicros = 800000L
  val SprintLaps = 8

  private val GrandPrix = Seq("Bahrain", "Saudi Arabian", "Australian",
    "Japanese", "Chinese", "Miami", "Emilia Romagna", "Monaco", "Canadian",
    "Spanish", "Austrian", "British", "Hungarian", "Belgian", "Dutch",
    "Italian")
  private val Circuits = Seq("Sakhir", "Jeddah", "Melbourne", "Suzuka",
    "Shanghai", "Miami", "Imola", "Monte Carlo", "Montreal", "Catalunya",
    "Spielberg", "Silverstone", "Hungaroring", "Spa", "Zandvoort", "Monza")

  def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Stable per-key random stream: the same (seed, keys) always yields
    * the same draws, independent of generation order. */
  def rng(seed: Long, keys: Long*): SplittableRandom =
    new SplittableRandom(keys.foldLeft(seed * 0x9E3779B97F4A7C15L + 17L)(
      (h, k) => java.lang.Long.rotateLeft(h ^ (k * 0xBF58476D1CE4E5B9L), 27)
        * 0x94D049BB133111EBL + 0x632BE59BD9L))

  /** One lap's timing as generated (before it becomes a [[Lap]] row). */
  final case class LapPlan(session_key: Long, driver_number: Long,
                           lap_number: Long, startMicros: Long,
                           durationMicros: Long, pitOut: Boolean,
                           sectors: Seq[Option[Double]])
}

final case class F1Season(seed: Long, numMeetings: Int) {
  import F1Season._

  val meetings: Seq[Meeting] = {
    val order = shuffled(GrandPrix.indices, rng(seed, 1))
    (0 until numMeetings).map(m => Meeting(1000L + m, Year,
      s"FORMULA 1 ${GrandPrix(order(m)).toUpperCase} GRAND PRIX $Year"))
  }

  private def circuitOf(m: Int): String =
    Circuits(shuffled(GrandPrix.indices, rng(seed, 1))(m))

  /** Base lap time of a circuit, in seconds. Kept within 2 s across
    * seeds: the telemetry volume of a session follows it. */
  private def basePace(m: Int): Double = 84.0 + rng(seed, 2, m).nextInt(2000) / 1000.0

  private def weekendStart(m: Int): Long =
    micros(Timestamp.from(java.time.Instant.parse(s"$Year-03-01T00:00:00Z"))) + m * 14L * 86400L * 1000000L

  // A sprint weekend: Friday practice and qualifying, Saturday sprint.
  private val Kinds = Seq(
    ("Practice 1", "Practice", 11.5, 60L),
    ("Qualifying", "Qualifying", 15.0, 60L),
    ("Sprint", "Race", 35.0, 30L))

  val sessions: Seq[Session] = for {
    m <- 0 until numMeetings
    ((name, kind, hours, minutes), k) <- Kinds.zipWithIndex
  } yield {
    val start = weekendStart(m) + (hours * 3600e6).toLong
    Session(9000L + 10L * m + k, 1000L + m, name, kind, circuitOf(m),
      ts(start), ts(start + minutes * 60000000L))
  }

  private def meetingIndex(s: Session): Int = (s.meeting_key - 1000L).toInt

  /** The 2024 grid's car numbers and acronyms, fastest team first.
    * The running order is fixed (a quarter second per place, plus up
    * to 0.2 s of seeded noise), so every seed sends the same drivers
    * to Q2 and Q3 and the telemetry partitions have the same sizes;
    * the seed moves lap times, sectors, stints and samples. */
  val driverNumbers: Seq[Long] = Seq(1L, 11L, 16L, 55L, 4L, 81L, 44L, 63L, 14L,
    18L, 10L, 31L, 23L, 2L, 22L, 3L, 77L, 24L, 20L, 27L)
  private val acronyms: Map[Long, String] = driverNumbers.zip(Seq("VER", "PER",
    "LEC", "SAI", "NOR", "PIA", "HAM", "RUS", "ALO", "STR", "GAS", "OCO", "ALB",
    "SAR", "TSU", "RIC", "BOT", "ZHO", "MAG", "HUL")).toMap
  private def pace(d: Long): Double =
    driverNumbers.indexOf(d) * 0.25 + rng(seed, 5, d).nextInt(200) / 1000.0

  def drivers(s: Session): Seq[Driver] = driverNumbers.map { d =>
    val c = f"#${rng(seed, 6, d).nextInt(1 << 24)}%06X"
    Driver(s.session_key, d, acronyms(d), c.drop(1), if (d % 7 == 0) "Unknown" else c)
  }

  private def sectorsOf(s: Session, d: Long, lap: Long, total: Double,
                        mayBeNull: Boolean): Seq[Option[Double]] = {
    val r = rng(seed, 7, s.session_key, d, lap)
    val a = math.round(total * (0.30 + r.nextInt(40) / 1000.0) * 1000) / 1000.0
    val b = math.round(total * (0.36 + r.nextInt(40) / 1000.0) * 1000) / 1000.0
    val c = math.round((total - a - b) * 1000) / 1000.0
    val nullAt = if (mayBeNull && r.nextInt(100) < 4) r.nextInt(3) else -1
    Seq(a, b, c).zipWithIndex.map { case (v, i) => if (i == nullAt) None else Some(v) }
  }

  private def lapTime(s: Session, d: Long, lap: Long, pitOut: Boolean): Double = {
    val r = rng(seed, 8, s.session_key, d, lap)
    val fuel = if (s.session_type == "Race") -0.05 * lap else 0.0
    basePace(meetingIndex(s)) + pace(d) + fuel + r.nextInt(400) / 1000.0 +
      (if (pitOut) 9.0 else 0.0)
  }

  /** A driver's consecutive laps from `start`; lap 1 of each run leaves
    * the pit lane. The last two laps of a run never lose a sector, so
    * every qualifying phase has a valid timed lap per driver. */
  private def run(s: Session, d: Long, firstLap: Long, laps: Int,
                  start: Long, fromPit: Boolean = true): Seq[LapPlan] = {
    var t = start
    (0 until laps).map { i =>
      val lap = firstLap + i
      val pitOut = i == 0 && fromPit
      val total = lapTime(s, d, lap, pitOut)
      val secs = sectorsOf(s, d, lap, total, mayBeNull = i < laps - 2)
      val dur = (math.round(total * 1000) * 1000L)
      val p = LapPlan(s.session_key, d, lap, t, dur, pitOut, secs)
      t += dur
      p
    }
  }

  private def bestOf(plans: Seq[LapPlan]): Double =
    plans.filter(p => !p.pitOut && p.sectors.forall(_.isDefined))
      .map(p => p.sectors.flatten.sum).min

  /** Every lap of a session. Qualifying runs Q1 with all drivers, then
    * the 15 fastest in Q2 and the 10 fastest of those in Q3, with each
    * phase's laps inside the reference's 25 / 48 minute boundaries. */
  def lapPlans(s: Session): Seq[LapPlan] = {
    val t0 = micros(s.date_start)
    val minute = 60000000L
    def stagger(d: Long) = driverNumbers.indexOf(d) * 9000000L
    s.session_type match {
      case "Qualifying" =>
        val q1 = driverNumbers.map(d => d -> run(s, d, 1, 3, t0 + 2 * minute + stagger(d)))
        val in2 = q1.sortBy { case (d, p) => (bestOf(p), d) }.take(15).map(_._1)
        val q2 = in2.map(d => d -> run(s, d, 4, 3, t0 + 27 * minute + stagger(d)))
        val in3 = q2.sortBy { case (d, p) => (bestOf(p), d) }.take(10).map(_._1)
        val q3 = in3.map(d => d -> run(s, d, 7, 3, t0 + 50 * minute + stagger(d)))
        (q1 ++ q2 ++ q3).flatMap(_._2)
      case "Practice" =>
        driverNumbers.flatMap { d =>
          (0 until 2).flatMap(k =>
            run(s, d, 1 + 4 * k, 4, t0 + (3 + 25 * k) * minute + stagger(d)))
        }
      case _ =>
        driverNumbers.flatMap { d =>
          val stop = 3 + rng(seed, 9, s.session_key, d).nextInt(3)
          val first = run(s, d, 1, stop, t0 + 5 * minute + stagger(d) / 30,
            fromPit = false)
          val pitExit = first.last.startMicros + first.last.durationMicros + 22000000L
          first ++ run(s, d, 1 + stop, SprintLaps - stop, pitExit)
        }
    }
  }

  def laps(s: Session): Seq[Lap] = lapPlans(s).map(lapRow)

  def lapRow(p: LapPlan): Lap = Lap(p.session_key, p.driver_number,
    p.lap_number, ts(p.startMicros), p.sectors(0), p.sectors(1), p.sectors(2),
    Some(p.durationMicros / 1e6), Some(p.pitOut))

  /** One stint per run; a few stints end a lap early, leaving a lap
    * outside every stint (its compound is NULL after the as-of join). */
  def stints(s: Session): Seq[Stint] = {
    val plans = lapPlans(s)
    plans.groupBy(_.driver_number).toSeq.sortBy(_._1).flatMap { case (d, ps) =>
      val runStarts = ps.filter(p => p.pitOut || p.lap_number == 1)
        .map(_.lap_number).distinct.sorted
      val lastLap = ps.map(_.lap_number).max
      runStarts.zipWithIndex.map { case (ls, i) =>
        val r = rng(seed, 10, s.session_key, d, ls)
        val le = if (i + 1 < runStarts.size) runStarts(i + 1) - 1 else lastLap
        val short = r.nextInt(10) == 0 && le > ls
        val compound = s.session_type match {
          case "Qualifying" => "SOFT"
          case _ => Compounds(r.nextInt(3))
        }
        Stint(s.session_key, d, i + 1L, ls, if (short) le - 1 else le,
          if (r.nextInt(40) == 0) None else Some(compound),
          Some(r.nextInt(4).toLong))
      }
    }
  }

  def pits(s: Session): Seq[Pit] = lapPlans(s).filter(p => p.pitOut && p.lap_number > 1)
    .map(p => Pit(p.session_key, s.meeting_key, p.driver_number,
      ts(p.startMicros - 22000000L),
      20.0 + rng(seed, 11, p.session_key, p.driver_number, p.lap_number).nextInt(5000) / 1000.0,
      p.lap_number - 1))

  /** Car telemetry of one lap: one sample per period with jitter,
    * strictly inside [lap start, lap end). */
  def carOf(p: LapPlan): Seq[Car] = {
    val r = rng(seed, 12, p.session_key, p.driver_number, p.lap_number)
    samples(p, r, phase = 0L).map { t =>
      val x = (t - p.startMicros) / 1e6
      val v = 80.0 + 240.0 * math.abs(math.sin(x / 7.0 + p.driver_number))
      Car(p.session_key, p.driver_number, ts(t), math.round(v * 10) / 10.0,
        if (v > 150) 100.0 else math.round(v / 3.0).toDouble,
        if (v < 110) 100.0 else 0.0, 1L + (v / 45).toLong, 9000L + (v * 40).toLong)
    }
  }

  /** Track position of one lap, sampled at the same rate but out of
    * phase with [[carOf]], so the nearest as-of join has to arbitrate. */
  def locationOf(p: LapPlan): Seq[Location] = {
    val r = rng(seed, 13, p.session_key, p.driver_number, p.lap_number)
    samples(p, r, phase = SamplePeriodMicros / 2).map { t =>
      val a = (t - p.startMicros).toDouble / p.durationMicros * 2 * math.Pi
      Location(p.session_key, p.driver_number, ts(t),
        math.round(4000 * math.cos(a)).toDouble,
        math.round(2500 * math.sin(2 * a)).toDouble,
        math.round(50 * math.sin(a)).toDouble)
    }
  }

  private def samples(p: LapPlan, r: SplittableRandom, phase: Long): Seq[Long] = {
    val out = Vector.newBuilder[Long]
    var t = p.startMicros + phase + r.nextLong(20000L)
    while (t < p.startMicros + p.durationMicros) {
      out += t
      t += SamplePeriodMicros - 25000L + r.nextLong(50000L)
    }
    out.result()
  }

  private def shuffled[A](xs: Seq[A], r: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
}
