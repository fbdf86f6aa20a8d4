package perfbench

import java.util.SplittableRandom

/** A seeded web-text corpus with planted structure, in plain Scala.
  *
  * Four languages of word salad over small per-language vocabularies
  * (so language id has something to tell apart), urls,
  * and 64-dim embeddings drawn around planted cluster centres. The
  * generator plants, on disjoint origin documents: url re-crawls
  * (same canonical url, new text), exact copies (same text, new url),
  * near copies (one appended word, Jaccard ~0.97 on word 3-shingles),
  * and benchmark contamination (a benchmark document quoting a 9-word
  * run of the target). Random documents share no 3-shingle set above
  * Jaccard 0.5 and no 5-gram with the benchmark, so each planted set
  * is exactly what a correct release must drop.
  */
object Corpus {
  final case class Doc(doc_id: Long, text: String, url: String, lang: String,
                       source: String, embedding: Seq[Float])
  final case class BenchDoc(doc_id: Long, text: String)
  final case class Vec(vec_id: Long, embedding: Seq[Float])

  val Langs: Seq[String] = Seq("en", "de", "fr", "es")
  val Dim = 64
  val Clusters = 24
  private val Syllables = Map(
    "en" -> Seq("th", "ing", "er", "an", "st", "ow", "ea", "ck", "sh", "ly"),
    "de" -> Seq("sch", "ei", "en", "ung", "ch", "au", "ge", "ll", "tz", "ie"),
    "fr" -> Seq("eau", "ou", "ai", "que", "on", "re", "ll", "ie", "eu", "ts"),
    "es" -> Seq("os", "ci", "ar", "ad", "ue", "nt", "as", "ll", "ez", "ia"))
  private val Stops = graft.ext.TextOps.stopwords

  /** The canonical form [[graft.ext.UrlOps.normalize]] gives the urls
    * this generator writes: lower-case host, no `www.`, no trailing
    * slash, no tracking parameters. */
  def canonicalUrl(site: Int, id: Long): String = s"https://site$site.example/p/$id"

  /** [[graft.ext.UrlOps.normalize]] restated for the url shapes this
    * generator writes: lower-case scheme and host, no `www.`, no
    * query (only tracking parameters are ever added), no trailing slashes. */
  def canonical(url: String): String = {
    val noQuery = url.takeWhile(_ != '?').replaceAll("/+$", "")
    val i = noQuery.indexOf("://")
    val (host, path) = noQuery.drop(i + 3).span(_ != '/')
    s"${noQuery.take(i).toLowerCase}://${host.toLowerCase.stripPrefix("www.")}$path"
  }

  def rng(seed: Long, keys: Long*): SplittableRandom = F1Season.rng(seed, keys: _*)

  def shingles(text: String, n: Int = 3): Set[Seq[String]] = {
    val t = text.split(" ").toSeq
    if (t.size < n) Set.empty else t.sliding(n).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = (x intersect y).size
    val union = x.size + y.size - inter
    if (union == 0) Double.NaN else inter.toDouble / union
  }

  final case class Release(docs: Seq[Doc], bench: Seq[BenchDoc],
                           url: Set[Long], exact: Set[Long], near: Set[Long],
                           contaminated: Set[Long])

  final case class Drop(docs: Seq[Doc], url: Set[Long], exact: Set[Long],
                        contaminated: Set[Long])

  final case class Vectors(vecs: Seq[Vec], queries: Seq[Vec],
                           dupPairs: Set[(Long, Long)])
}

/** One generator per seed. `idBase` keeps every generated id range
  * disjoint (the stores' caller contract: appended ids are new). */
final case class Corpus(seed: Long) {
  import Corpus._

  private val vocab: Map[String, IndexedSeq[String]] = Langs.zipWithIndex.map {
    case (l, li) =>
      val r = rng(seed, 100, li)
      val syl = Syllables(l)
      val words = scala.collection.mutable.LinkedHashSet.empty[String]
      while (words.size < 150)
        words += (0 until 2 + r.nextInt(2)).map(_ => syl(r.nextInt(syl.size))).mkString
      l -> words.toIndexedSeq
  }.toMap

  /** Stop words at 12%, content words uniform over the language's
    * vocabulary: flat enough that no two random documents share a
    * 5-gram run or a third of their 3-shingles. */
  private def word(r: SplittableRandom, lang: String): String =
    if (r.nextInt(100) < 12) Stops(r.nextInt(Stops.size))
    else vocab(lang)(r.nextInt(vocab(lang).size))

  def text(r: SplittableRandom, lang: String, n: Int): String =
    (0 until n).map(_ => word(r, lang)).mkString(" ")

  private val centres: IndexedSeq[Array[Double]] = (0 until Clusters).map { c =>
    val r = rng(seed, 200, c)
    val v = Array.fill(Dim)(r.nextDouble() * 2 - 1)
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / norm)
  }

  /** An embedding near planted cluster `c`. */
  def embedding(r: SplittableRandom, c: Int, noise: Double = 0.09): Seq[Float] =
    centres(c).map(x => (x + gaussian(r) * noise).toFloat).toSeq

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller, one draw
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** A fresh document: 30–120 words, except ~6% short ones (<30 words)
    * that the quality gate drops. */
  def doc(id: Long): Doc = {
    val r = rng(seed, 300, id)
    val lang = Langs(r.nextInt(Langs.size))
    val n = if (r.nextInt(100) < 6) 8 + r.nextInt(20) else 30 + r.nextInt(90)
    Doc(id, text(r, lang, n), canonicalUrl(r.nextInt(40), id), lang,
      s"src${r.nextInt(5)}", embedding(r, r.nextInt(Clusters)))
  }

  /** The same page fetched again under a messy spelling of its url. */
  def recrawl(origin: Doc, id: Long): Doc = {
    val r = rng(seed, 301, id)
    val u = origin.url.replace("https://", if (r.nextBoolean()) "HTTPS://www." else "https://WWW.")
    val messy = r.nextInt(3) match {
      case 0 => u + "/"
      case 1 => u + "?utm_source=feed"
      case _ => u + "/?fbclid=x" + id
    }
    doc(id).copy(url = messy)
  }

  def exactCopy(origin: Doc, id: Long): Doc =
    doc(id).copy(text = origin.text, lang = origin.lang)

  def nearCopy(origin: Doc, id: Long): Doc = {
    val r = rng(seed, 302, id)
    doc(id).copy(text = origin.text + " " + word(r, origin.lang), lang = origin.lang)
  }

  /** A benchmark document quoting a 9-word run of `target`: 5 shared
    * 5-grams, above the release's 3-overlap threshold. */
  def quoting(target: Doc, id: Long): BenchDoc = {
    val r = rng(seed, 303, id)
    val t = target.text.split(" ")
    val at = r.nextInt(t.length - 9)
    BenchDoc(id, text(r, "en", 12) + " " + t.slice(at, at + 9).mkString(" ") +
      " " + text(r, "en", 12))
  }

  /** A release input: fresh documents plus every planted kind, on
    * disjoint origins, with copies numbered above their origins. */
  def release(n: Int, idBase: Long, planted: Double = 0.03): Release = {
    val fresh = (0 until n).map(i => doc(idBase + i))
    // origins: long enough to quote and to shingle
    val eligible = fresh.filter(_.text.split(" ").length >= 30)
    val r = rng(seed, 304, idBase)
    val k = math.max(1, (n * planted).toInt)
    val origins = shuffle(eligible, r).take(4 * k).grouped(k).toIndexedSeq
    var next = idBase + n
    def id(): Long = { next += 1; next }
    val urlD = origins(0).map(o => recrawl(o, id()))
    val exactD = origins(1).map(o => exactCopy(o, id()))
    val nearD = origins(2).map(o => nearCopy(o, id()))
    val bench = origins(3).map(o => quoting(o, id())) ++
      (0 until k).map(i => { val j = id(); BenchDoc(j, text(rng(seed, 305, j), "en", 30)) })
    Release(fresh ++ urlD ++ exactD ++ nearD, bench,
      urlD.map(_.doc_id).toSet, exactD.map(_.doc_id).toSet,
      nearD.map(_.doc_id).toSet, origins(3).map(_.doc_id).toSet)
  }

  /** One daily drop for the persisted stores: `fresh` new documents,
    * plus two re-crawls of known urls, two exact copies of known texts
    * and two documents quoting a benchmark document — the dispositions
    * the incremental release must give them are planted. */
  def drop(day: Int, base: Release, fresh: Int = 40): Drop = {
    val idBase = 1000000L * (day + 1)
    val r = rng(seed, 306, day)
    val known = base.docs.filter(_.text.split(" ").length >= 30).toIndexedSeq
    def pick() = known(r.nextInt(known.size))
    // a re-crawl of a base re-crawl would stack a second messy spelling
    // (`WWW.www.`) that no longer names the same page
    def pickCanonical() = Iterator.continually(pick()).find(d => !base.url(d.doc_id)).get
    val docs = (0 until fresh).map(i => doc(idBase + i))
    val url = (0 until 2).map(i => recrawl(pickCanonical(), idBase + fresh + i))
    val exact = (0 until 2).map(i => exactCopy(pick(), idBase + fresh + 2 + i))
    val quoted = (0 until 2).map { i =>
      val id = idBase + fresh + 4 + i
      val b = base.bench(r.nextInt(base.bench.size)).text.split(" ")
      val at = r.nextInt(b.length - 9)
      doc(id).copy(text = text(rng(seed, 307, id), "en", 30) + " " +
        b.slice(at, at + 9).mkString(" "))
    }
    Drop(docs ++ url ++ exact ++ quoted, url.map(_.doc_id).toSet,
      exact.map(_.doc_id).toSet, quoted.map(_.doc_id).toSet)
  }

  /** Embeddings for semantic dedup: `n` vectors around the planted
    * centres, ~2% of them planted duplicates (a copy plus tiny noise),
    * and `q` held-out queries. */
  def vectors(n: Int, q: Int, idBase: Long): Vectors = {
    val base = (0 until n).map { i =>
      val r = rng(seed, 400, idBase + i)
      Vec(idBase + i, embedding(r, r.nextInt(Clusters)))
    }
    val origins = shuffle(base, rng(seed, 401, idBase)).take(n / 50)
    val dups = origins.zipWithIndex.map { case (v, i) =>
      val r = rng(seed, 402, idBase + n + i)
      Vec(idBase + n + i, v.embedding.map(x => (x + gaussian(r) * 0.002).toFloat))
    }
    val queries = (0 until q).map { i =>
      val r = rng(seed, 403, idBase + i)
      Vec(idBase + 2L * n + i, embedding(r, r.nextInt(Clusters)))
    }
    Vectors(base ++ dups, queries,
      origins.zip(dups).map { case (o, d) => (o.vec_id, d.vec_id) }.toSet)
  }

  def shuffle[A](xs: Seq[A], r: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toIndexedSeq.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
}
