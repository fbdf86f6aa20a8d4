package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks, in plain Scala (no Spark session):
  * seeded inputs, the metric vocabulary, that every ground-truth check
  * catches a wrong answer, and that spans nest with non-negative self
  * time. Run with `sbt test` in this directory. */
class PerfbenchSpec extends AnyFunSuite {

  // --- generators -------------------------------------------------

  private def season(seed: Long) = {
    val s = F1Season(seed, numMeetings = 1)
    val sessions = s.sessions
    (s.meetings, sessions, sessions.flatMap(s.drivers), sessions.flatMap(s.laps),
      sessions.flatMap(s.stints), sessions.flatMap(s.pits),
      sessions.flatMap(s.lapPlans).take(40).flatMap(p => s.carOf(p) ++ s.locationOf(p)))
  }

  test("the same seed gives identical F1 inputs, another seed different ones") {
    assert(season(7) == season(7))
    assert(season(7) != season(8))
  }

  test("the same seed gives identical corpus, drop and vector inputs, another seed different ones") {
    def corpus(seed: Long) = {
      val g = Corpus(seed)
      val r = g.release(300, 0L)
      (r, g.drop(0, r), g.drop(1, r), g.vectors(200, 8, 5000000L))
    }
    assert(corpus(7) == corpus(7))
    assert(corpus(7) != corpus(8))
  }

  test("planted corpus structure is what the ground truth says") {
    val g = Corpus(3)
    val r = g.release(400, 0L)
    val byId = r.docs.map(d => d.doc_id -> d).toMap
    val all = StoreTruth.index(r.docs)
    // random documents are never near-duplicates; planted copies are
    val near = for (d <- all; (o, _) <- StoreTruth.nearDups(all, byId(d.id).text) if o < d.id)
      yield d.id
    assert(near.toSet == r.near ++ r.exact)
    assert(r.url.forall(id => r.docs.count(d =>
      Corpus.canonical(d.url) == Corpus.canonical(byId(id).url)) == 2))
    assert(Corpus.canonical("HTTPS://www.site3.example/p/12//?utm_source=feed") ==
      "https://site3.example/p/12")
    val d0 = g.drop(0, r)
    assert(d0.docs.map(_.doc_id).distinct.size == d0.docs.size)
    assert(d0.docs.map(_.doc_id).toSet.intersect(r.docs.map(_.doc_id).toSet).isEmpty)
  }

  test("every re-crawl planted in a drop names a page the base corpus holds") {
    // seed 807 once re-crawled a base re-crawl, stacking a second `www.`
    for (seed <- Seq(3L, 807L)) {
      val g = Corpus(seed)
      val base = g.release(StoreIngest.BaseDocs, 0L)
      val pages = base.docs.map(d => Corpus.canonical(d.url)).toSet
      for (day <- 0 until 4) {
        val d = g.drop(day, base)
        assert(d.url.size == 2)
        assert(d.docs.filter(x => d.url(x.doc_id)).forall(x => pages(Corpus.canonical(x.url))),
          s"seed $seed day $day")
      }
    }
  }

  // --- metric vocabulary ------------------------------------------

  test("every metric name matches [A-Za-z0-9_.-]+, is unique and carries a unit") {
    val all = Metrics.EndToEnd ++ Metrics.PerLayer
    all.foreach { d =>
      assert(d.name.matches(Metrics.NamePattern), d.name)
      assert(d.name.length <= 64, d.name)
      assert(d.unit.matches("[A-Za-z0-9_/%.-]{1,16}"), d.unit)
      assert(Set("lower", "higher")(d.better), d.name)
    }
    assert(all.map(_.name).distinct.size == all.size)
    assert(Metrics.EndToEnd.exists(d => d.name == "setup_s" && d.unit == "s"))
  }

  test("BENCHMARK.json lists exactly the workloads and metrics the benchmark prints") {
    import scala.jdk.CollectionConverters._
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def defs(key: String) = json.get(key).elements().asScala.toSeq.map(n =>
      Metrics.Def(n.get("name").asText, n.get("unit").asText, n.get("better").asText))
    assert(defs("end_to_end") == Metrics.EndToEnd)
    assert(defs("per_layer") == Metrics.PerLayer)
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Main.Workloads)
  }

  test("the result line carries every metric with its unit and rejects bad values") {
    val line = Metrics.resultJson(correct = true, 3, 0,
      Metrics.EndToEnd.map(d => d -> 1.25))
    Metrics.EndToEnd.foreach(d =>
      assert(line.contains(s""""${d.name}": {"value": 1.25, "unit": "${d.unit}"}""")))
    assert(line.startsWith("""{"correct": true, "attempted": 3, "failed": 0, "metrics": {"""))
    intercept[IllegalArgumentException](Metrics.resultJson(true, 1, 0,
      Seq(Metrics.Def("bad name", "ms", "lower") -> 1.0)))
    intercept[IllegalArgumentException](Metrics.resultJson(true, 1, 0,
      Seq(Metrics.EndToEnd.head -> Double.NaN)))
  }

  test("the tail is the highest percentile with ten samples beyond it, at least the p90") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Metrics.tail(xs)
    assert(t.value == 90.0 && t.beyond == 10 && t.percentile == 90.0)
    assert(xs.count(_ > t.value) == 10)
    val many = Metrics.tail((1 to 200).map(_.toDouble))
    assert(many.value == 190.0 && many.beyond == 10 && many.percentile == 95.0)
    val few = Metrics.tail(Seq(3.0, 1.0, 2.0))
    assert(math.abs(few.value - 2.8) < 1e-12 && few.percentile == 90.0 && few.beyond == 1)
    // one outlier among few samples does not set the figure
    val outlier = Metrics.tail(Seq.fill(15)(1.0) :+ 100.0)
    assert(math.abs(outlier.value - 1.0) < 1e-12)
  }

  // --- ground-truth checks catch wrong answers ---------------------

  private val s = F1Season(11, numMeetings = 1)
  private val quali = s.sessions.find(_.session_type == "Qualifying").get
  private val laps = s.laps(quali)

  test("a wrong fastest lap, grid, chart order or matrix value is caught") {
    val fastest = F1Truth.fastest(laps).toSeq
    assert(Checks.sameSet("fastest", fastest, fastest).isEmpty)
    val (d, (lap, t)) = fastest.head
    assert(Checks.sameSet("fastest", (d, (lap + 1, t)) +: fastest.tail, fastest).nonEmpty)

    val grid = F1Truth.grid(laps, F1Season.micros(quali.date_start))
    assert(grid.map(_._1) == (1 to 20))
    val swapped = grid.updated(0, (1, grid(1)._2)).updated(1, (2, grid(0)._2))
    assert(Checks.sameSeq("grid", swapped, grid).nonEmpty)

    val bars = grid.map(_._2.toString)
    val svg = bars.map(b => s"""<text class="tick" x="1">$b</text>""").mkString
    assert(Checks.sameSeq("bars", Checks.svgTicks(svg), bars).isEmpty)
    assert(Checks.sameSeq("bars", Checks.svgTicks(svg).reverse, bars).nonEmpty)

    val m = F1Truth.matrix(laps, s.stints(quali), s.drivers(quali))
    assert(Checks.sameSeqApprox("matrix", m, m).isEmpty)
    val (k, row) = m.head
    val (c, v) = row.head
    assert(Checks.sameSeqApprox("matrix", (k, row.updated(c, v + 1e-3)) +: m.tail, m).nonEmpty)
  }

  test("a wrong nearest track position is caught") {
    val l = laps.find(x => F1Truth.lapTime(x).isDefined).get
    val t = F1Truth.telemetry(s, quali, l.driver_number, l.lap_number)
    assert(t.nonEmpty)
    assert(Checks.sameSeq("telemetry", t, t).isEmpty)
    val (us, speed, x, y, z) = t.head
    assert(Checks.sameSeq("telemetry", (us, speed, x + 1, y, z) +: t.tail, t).nonEmpty)
  }

  test("a wrong release disposition, missing or duplicated document is caught") {
    val ids = Seq(1L, 2L, 3L, 4L)
    val planted = Map("url" -> Set(2L), "exact" -> Set(3L))
    def rows(xs: (Long, String)*) = xs.map { case (i, d) => Row(i, d) }.toArray
    val good = rows(1L -> "kept", 2L -> "url", 3L -> "exact", 4L -> "quality_review")
    assert(StoreIngest.ledgerProblems("l", good, ids, planted).isEmpty)
    assert(StoreIngest.ledgerProblems("l",
      rows(1L -> "kept", 2L -> "kept", 3L -> "exact", 4L -> "kept"), ids, planted).nonEmpty)
    assert(StoreIngest.ledgerProblems("l", good.take(3), ids, planted).nonEmpty)
    assert(StoreIngest.ledgerProblems("l", good :+ Row(4L, "kept"), ids, planted).nonEmpty)
    assert(StoreIngest.ledgerProblems("l",
      rows(1L -> "near", 2L -> "url", 3L -> "exact", 4L -> "kept"), ids, planted).nonEmpty)
  }

  test("wrong BM25, phrase, near-dup and semantic-dedup answers are caught") {
    val g = Corpus(5)
    val docs = StoreTruth.index(g.release(200, 0L).docs)
    val q = docs.head.toks.filterNot(graft.ext.TextOps.stopwords.contains).distinct.take(3)
    val bm = StoreTruth.bm25(docs, q, 10)
    assert(bm.exists(_._1 == docs.head.id))
    assert(Checks.sameSeq("bm25", bm.reverse, bm).nonEmpty)
    assert(Checks.sameSeq("bm25", bm.map { case (d, sc) => (d, sc + 1) }, bm).nonEmpty)

    val ph = StoreTruth.phrase(docs, docs.head.toks(0), docs.head.toks(1), 10)
    assert(ph.exists(_._1 == docs.head.id))
    assert(Checks.sameSeq("phrase", ph.map { case (d, c) => (d, c + 1) }, ph).nonEmpty)

    val probe = docs.head.toks.mkString(" ") + " extra"
    val nd = StoreTruth.nearDups(docs, probe)
    assert(nd.exists(_._1 == docs.head.id))
    assert(Checks.sameSet("sig", nd.map(_._1).toSeq :+ 999L, nd.map(_._1).toSeq).nonEmpty)

    val pairs = Set((1L, 10L), (2L, 20L))
    val ok = Seq(1L -> 1L, 10L -> 1L, 2L -> 2L, 20L -> 2L, 3L -> 3L)
    assert(StoreIngest.semanticProblems(ok, pairs).isEmpty)
    assert(StoreIngest.semanticProblems(ok.updated(4, 3L -> 1L), pairs).nonEmpty)
    assert(StoreIngest.semanticProblems(Seq(1L -> 1L, 10L -> 10L, 2L -> 2L, 20L -> 20L), pairs)
      .nonEmpty)
    assert(Checks.atLeast("recall", 0.4, 0.5).nonEmpty)
  }

  // --- spans --------------------------------------------------------

  test("spans nest, and every self time is non-negative") {
    val rec = new SpanRecorder { on = true }
    rec.span("bench.unit", unit = 0) {
      rec.span("f1.catalog")(Thread.sleep(3))
      rec.span("f1.chart") {
        rec.span("operators.telemetry")(Thread.sleep(2))
        Thread.sleep(1)
      }
    }
    val byId = rec.spans.map(x => x.id -> x).toMap
    val root = rec.spans.find(_.name == "bench.unit").get
    assert(root.parent == -1)
    rec.spans.filter(_.parent >= 0).foreach { c =>
      val p = byId(c.parent)
      assert(p.startMs <= c.startMs && c.endMs <= p.endMs, s"${c.name} inside ${p.name}")
      assert(c.unit == 0)
    }
    assert(byId(rec.spans.find(_.name == "operators.telemetry").get.parent).name == "f1.chart")
    val children = rec.spans.toSeq.groupBy(_.parent)
    rec.spans.foreach(x => assert(Trace.selfMs(x, children.getOrElse(x.id, Nil)) >= 0, x.name))
    val tel = rec.spans.find(_.name == "operators.telemetry").get
    assert(rec.spanAt((tel.startMs + tel.endMs) / 2) == tel.id)
    assert(rec.spanAt(root.endMs + 1) == -1)
  }

  test("interval union counts overlapping job time once") {
    assert(Trace.unionMs(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
    assert(Trace.unionMs(Nil) == 0.0)
  }
}
