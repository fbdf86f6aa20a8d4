package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext._
import graft.streaming.StreamingOps

/** `store_ingest`: one client in a closed loop over persisted stores.
  *
  * Set-up is the batch side: the corpus release (`CorpusRelease.run`
  * with its dedup cascade, decontamination and quality routing) over a
  * seeded base corpus, the release, signature and BM25 (positional)
  * stores, the k-means coarse quantizer and residual PQ codebook of the
  * IVF-PQ store, generation chains on all four, and four streaming
  * sinks. A traced run's set-up also audits LSH near-dup candidates
  * and runs semantic dedup over planted embedding duplicates.
  *
  * Each round lands one seeded daily drop as a file; the release sink
  * runs the incremental release and folds the drop into the release
  * store, and the signature, retrieval and vector sinks append it. The
  * round then reads the newest generation: BM25, phrase, ANN and
  * signature probes. After the last round the release store is
  * compacted and all four are vacuumed to two generations. Per-action
  * overhead, manifest commits and fragmentation decide the figures.
  */
final class StoreIngest(run: Run) extends Workload {
  import StoreIngest._
  private val spark = run.spark
  import spark.implicits._

  private val g = Corpus(run.seed)
  private val base = g.release(BaseDocs, 0L)
  private val semantic = g.vectors(SemanticVectors, 0, 5000000L)
  private var dir = ""
  private def stores = s"$dir/stores"
  private def rel = s"$stores/release"
  private def sig = s"$stores/sig"
  private def ret = s"$stores/retrieval"
  private def vec = s"$stores/vector"
  private def drops = s"$dir/drops"

  private val streams = ArrayBuffer.empty[StreamingQuery]
  private val ledgers = scala.collection.concurrent.TrieMap.empty[Long, Array[Row]]
  private val stored = ArrayBuffer.empty[Corpus.Doc]
  private var indexed: Seq[StoreTruth.Indexed] = Nil
  private var inputBytes = 0L
  private var rounds = 0

  /** Two rounds per run: the append and wall figures then rest on two
    * drops and the request figures on eight reads, not on one round. */
  val minUnits = 2

  def land(rep: Int): Unit = {
    dir = run.dir(s"ingest-$rep")
    base.docs.toDF().write.mode(SaveMode.Overwrite).parquet(s"$dir/base.parquet")
    base.bench.toDF().write.mode(SaveMode.Overwrite).parquet(s"$dir/bench.parquet")
    semantic.vecs.toDF().write.mode(SaveMode.Overwrite).parquet(s"$dir/semantic.parquet")
    inputBytes = Host.treeBytes(s"$dir/base.parquet")
  }

  def prepare(): Unit = {
    val docs = spark.read.parquet(s"$dir/base.parquet")
    val bench = spark.read.parquet(s"$dir/bench.parquet")
    val text = docs.select("doc_id", "text")

    val bundle = run.op("setup", "ext.release") {
      val b = CorpusRelease.run(docs.select("doc_id", "text", "url", "lang", "source"),
        bench, maxBucketSize = 64)
      (b, b.ledger.collect())
    } { case (_, rows) => ledgerProblems("release ledger", rows, base.docs.map(_.doc_id),
      Map("url" -> base.url, "exact" -> base.exact, "near" -> base.near,
        "contaminated" -> base.contaminated)) }._1

    // the near-dup audit and semantic dedup feed only per-layer figures,
    // so only the traced run's set-up spends time on them
    if (run.tracer.enabled) probeDedup(text)

    run.op("setup", "store.build") {
      ReleaseStore.build(docs, bundle.ledger, rel)
      StoreMaintenance.enableStoreGenerations("release", rel)
      SignatureStore.build(text, "doc_id", "text", sig)
      StoreMaintenance.enableStoreGenerations("sig", sig)
      RetrievalIndexStore.build(text, "doc_id", "text", ret, tokBuckets = 16,
        positional = true)
      StoreMaintenance.enableStoreGenerations("retrieval", ret)
    }(_ => Nil)

    val emb = docs.select("doc_id", "embedding")
    val cents = run.op("setup", "ext.kmeans_fit") {
      val fit = KMeans.fit(emb, "doc_id", "embedding", k = Cells, numSub = 1,
        subDim = Corpus.Dim, iters = 3).localCheckpoint()
      (fit.filter(col("dim_id") === 0).agg(sum("n_members")).head().getLong(0),
        KMeans.codebook(fit).select(col("cid").as("doc_id"), col("vector").as("embedding"))
          .localCheckpoint())
    } { case (members, _) => Checks.equal("k-means members", members, base.docs.size.toLong) }._2
    run.op("setup", "ext.pq_fit") {
      val res = Similarity.ivfResiduals(emb, cents, "doc_id", "embedding")
        .select(col("neighbor_id").as("doc_id"), col("__rv").as("embedding"))
      val cb = KMeans.codebook(KMeans.fit(res, "doc_id", "embedding", k = 16,
        numSub = PqSub, subDim = Corpus.Dim / PqSub, iters = 2))
        .select(col("cid").as("doc_id"), col("vector").as("embedding"))
      VectorIndexStore.build(emb, "doc_id", "embedding", vec, cents, cb,
        numSub = PqSub, subDim = Corpus.Dim / PqSub, cellBuckets = 16)
      StoreMaintenance.enableStoreGenerations("vector", vec)
    }(_ => Nil)

    stored ++= base.docs
    indexed = StoreTruth.index(stored.toSeq)
    // one source directory per sink: the drop lands in each just before
    // that sink is driven, so each store's commit is timed on its own
    def src(sink: String) = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$drops/$sink"))
      spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$drops/$sink")
    }
    def ck(n: String) = s"$dir/checkpoints/$n"
    streams += StreamingOps.runReleaseSink(
      src(Sinks(0)).select("doc_id", "text", "url", "lang", "source"),
      rel, bench, ck("release"), maxBucketSize = 64,
      onBatch = (b, id) => ledgers(id) = b.ledger.collect())
    streams += StreamingOps.runSigIngestSink(src(Sinks(1)).select("doc_id", "text"),
      sig, "doc_id", "text", ck("sig"))
    streams += StreamingOps.runRetrievalIngestSink(src(Sinks(2)).select("doc_id", "text"),
      ret, "doc_id", "text", ck("retrieval"))
    streams += StreamingOps.runVectorIngestSink(src(Sinks(3)).select("doc_id", "embedding"),
      vec, "doc_id", "embedding", ck("vector"))
  }

  /** LSH candidates against verified near-dup pairs over the base
    * corpus, and semantic dedup over planted embedding duplicates. */
  private def probeDedup(text: DataFrame): Unit = {
    val all = StoreTruth.index(base.docs)
    val byId = base.docs.map(d => d.doc_id -> d.text).toMap
    run.op("setup", "ext.dedup_audit") {
      (Dedup.lshCandidates(Dedup.nativeBands(text, "doc_id", "text"), "doc_id").count(),
        Dedup.nearDupPairs(text, "doc_id", "text").collect())
    } { case (cands, pairs) =>
      val want = for (d <- all; (o, _) <- StoreTruth.nearDups(all, byId(d.id)) if o < d.id)
        yield (o, d.id)
      run.gauges("ext.dedup.candidate_pairs") = cands.toDouble
      run.gauges("ext.dedup.verified_pairs") = pairs.length.toDouble
      run.gauges("ext.dedup.candidate_yield") = pairs.length / math.max(1.0, cands.toDouble)
      Checks.sameSet("near-dup pairs", pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq, want) ++
        Checks.all("near-dup jaccard", pairs.toSeq)(r =>
          Checks.close(r.getDouble(2), Corpus.jaccard(byId(r.getLong(0)), byId(r.getLong(1)))))
    }
    run.op("setup", "ext.semantic_dedup") {
      Dedup.semanticDedup(spark.read.parquet(s"$dir/semantic.parquet"), "vec_id",
        "embedding", Corpus.Dim, k = 8, iters = 3, minCosine = 0.99)
        .select("vec_id", "component").collect()
    } { rows => semanticProblems(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq,
      semantic.dupPairs) }
  }

  def unit(u: Int): Long = {
    val d = g.drop(rounds, base)
    val batch = rounds.toLong
    run.op("append", "bench.drop") {
      val file = stageDrop(d.docs, rounds)
      streams.zip(Sinks).foreach { case (q, sink) =>
        java.nio.file.Files.copy(file, java.nio.file.Paths.get(s"$drops/$sink")
          .resolve(file.getFileName))
        run.tracer.span(s"store.$sink")(q.processAllAvailable())
      }
      ledgers.getOrElse(batch, Array.empty[Row])
    } { rows => ledgerProblems(s"drop $batch ledger", rows, d.docs.map(_.doc_id),
      Map("url" -> d.url, "exact" -> d.exact, "near" -> Set.empty[Long],
        "contaminated" -> d.contaminated)) }
    stored ++= d.docs
    indexed = StoreTruth.index(stored.toSeq)
    rounds += 1
    reads(u)
    d.docs.size
  }

  private def reads(u: Int): Unit = {
    val r = Corpus.rng(run.seed, 600, u)
    def someDoc() = {
      val long = indexed.filter(_.toks.size >= 30)
      long(r.nextInt(long.size))
    }
    val terms = (0 until 2).map { i =>
      (i.toLong, someDoc().toks.filterNot(graft.ext.TextOps.stopwords.contains).distinct.take(3))
    }
    run.op("request", "store.bm25_query")(RetrievalIndexStore.query(spark, ret,
      terms.toDF("query_id", "terms"), "query_id", "terms", k = 10).collect()) { rows =>
      terms.flatMap { case (q, ts) =>
        Checks.sameSeq(s"bm25 query $q", rows.filter(_.getLong(0) == q).sortBy(_.getInt(2))
          .map(x => (x.getLong(1), x.getLong(3))).toSeq, StoreTruth.bm25(indexed, ts, 10))
      }
    }

    val pairs = (0 until 2).map { i =>
      val t = someDoc().toks
      val at = r.nextInt(t.size - 1)
      (i.toLong, t(at), t(at + 1))
    }
    run.op("request", "store.phrase_query")(RetrievalIndexStore.phraseQuery(spark, ret,
      pairs.toDF("query_id", "t1", "t2"), "query_id", "t1", "t2", k = 10).collect()) { rows =>
      pairs.flatMap { case (q, a, b) =>
        Checks.sameSeq(s"phrase query $q", rows.filter(_.getLong(0) == q).sortBy(_.getLong(2))
          .map(x => (x.getLong(1), x.getLong(3))).toSeq, StoreTruth.phrase(indexed, a, b, 10))
      }
    }

    val qs = (0 until 4).map(i => (9000000000L + i,
      g.embedding(Corpus.rng(run.seed, 601, u, i), r.nextInt(Corpus.Clusters))))
    run.op("request", "store.ann_query")(VectorIndexStore.query(spark, vec,
      qs.toDF("doc_id", "embedding"), "doc_id", "embedding", k = 10, nprobe = 4).collect()) { rows =>
      val ids = indexed.map(_.id).toSet
      val recall = qs.map { case (q, v) =>
        val got = rows.filter(_.getLong(0) == q).map(_.getLong(1)).toSet
        (got intersect StoreTruth.nearest(indexed, v.map(_.toDouble).toIndexedSeq, 10).toSet).size / 10.0
      }
      val mean = recall.sum / recall.size
      if (run.measuring) run.gauges("ext.ann.recall_at_10") = mean
      Checks.equal("ann results per query", rows.groupBy(_.getLong(0)).map(_._2.length).toSet, Set(10)) ++
        Checks.all("ann neighbour ids", rows.toSeq)(x => ids(x.getLong(1))) ++
        // IVF-PQ is approximate (recall is the guard figure); the floor
        // only catches answers no better than chance
        Checks.atLeast("ann recall@10", mean, 0.2)
    }

    val probes = (0 until 3).map { i =>
      val id = 9100000000L + 10L * u + i
      if (i < 2) { val o = someDoc(); (id, o.toks.mkString(" ") + " " + o.toks.head) }
      else (id, g.doc(id).text)
    }
    run.op("request", "store.sig_probe")(SignatureStore.ingest(spark, sig,
      probes.toDF("doc_id", "text"), "doc_id", "text").collect()) { rows =>
      val want = probes.flatMap { case (id, t) =>
        StoreTruth.nearDups(indexed, t).map { case (o, j) => (id, o, j) } }
      Checks.sameSet("signature probe pairs", rows.map(x => (x.getLong(0), x.getLong(1))).toSeq,
        want.map(w => (w._1, w._2))) ++
        Checks.all("signature probe jaccard", rows.toSeq)(x =>
          want.exists(w => w._1 == x.getLong(0) && w._2 == x.getLong(1) && Checks.close(x.getDouble(2), w._3)))
    }
  }

  /** Writes the drop as one parquet file outside every source directory. */
  private def stageDrop(docs: Seq[Corpus.Doc], day: Int): java.nio.file.Path = {
    val staging = s"$dir/staging/$day"
    docs.toDF().coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(staging))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    inputBytes += java.nio.file.Files.size(part)
    java.nio.file.Files.move(part, java.nio.file.Paths.get(f"$dir/staging/drop-$day%05d.parquet"))
  }

  /** End-of-run maintenance, then the exactly-once checks on what the
    * stores hold. Compaction rewrites the release store (the store the
    * daily loop folds into); the vacuum retires superseded generations
    * of all four. */
  def finish(): Unit = {
    run.op("maintenance", "store.compact")(StoreMaintenance.compactReleaseStore(spark, rel)) {
      reports => Checks.all("compaction keeps rows", reports)(r => r.rowsAfter == r.rowsBefore ||
        r.artifact.contains("urls") || r.artifact.contains("hashes"))
    }
    run.op("maintenance", "store.vacuum") {
      Seq("release" -> rel, "sig" -> sig, "retrieval" -> ret, "vector" -> vec)
        .foreach { case (k, p) => StoreMaintenance.vacuumStore(k, p, keepGens = 2) }
    }(_ => Nil)
    val n = stored.size.toLong
    def read(store: String, artifact: String): DataFrame =
      StoreSnapshots.reader(spark, store)(s"$store/$artifact")
    run.verify("exactly-once rows per store") {
      Checks.equal("retrieval documents",
        read(ret, "stats.parquet").agg(sum("n_docs")).head().getLong(0), n) ++
        Checks.equal("vector codes", read(vec, "codes.parquet").count(), n) ++
        Checks.equal("signature sets", read(sig, "sets.parquet").count(), n) ++
        Checks.equal("release urls", read(rel, "urls.parquet").distinct().count(),
          stored.map(d => Corpus.canonical(d.url)).distinct.size.toLong) ++
        Checks.equal("release hashes", read(rel, "hashes.parquet").distinct().count(),
          stored.map(_.text).distinct.size.toLong)
    }
    val artifacts = Seq(s"$rel/sig/bands.parquet", s"$rel/sig/sets.parquet",
      s"$rel/urls.parquet", s"$rel/hashes.parquet", s"$sig/bands.parquet",
      s"$sig/sets.parquet", s"$ret/postings.parquet", s"$ret/df.parquet",
      s"$ret/stats.parquet", s"$ret/positions.parquet", s"$vec/codes.parquet")
    run.gauges("sources.files_live") =
      artifacts.flatMap(StoreGenerations.currentFiles).map(_.size).sum.toDouble
    run.gauges("store.generations_live") = artifacts.map { a =>
      val m = java.nio.file.Paths.get(a, "_manifests")
      if (!java.nio.file.Files.isDirectory(m)) 0L
      else java.nio.file.Files.list(m).filter(_.getFileName.toString.startsWith("gen=")).count()
    }.sum.toDouble
    streams.foreach(_.stop())
  }

  def storedBytesPerInputByte: Double = Host.treeBytes(stores).toDouble / inputBytes
}

object StoreIngest {
  val BaseDocs = 600
  val SemanticVectors = 600
  val Cells = 16
  val PqSub = 8
  /** Every document exactly once, each planted disposition exactly on
    * its planted set, every other document in a quality outcome. */
  def ledgerProblems(what: String, rows: Array[Row], ids: Seq[Long],
                     planted: Map[String, Set[Long]]): Seq[String] = {
    val got = rows.map(r => r.getLong(0) -> r.getString(1)).toSeq
    Checks.sameSet(s"$what documents", got.map(_._1), ids) ++
      planted.toSeq.flatMap { case (disp, want) =>
        Checks.sameSet(s"$what '$disp'", got.filter(_._2 == disp).map(_._1), want.toSeq) } ++
      Checks.all(s"$what other dispositions", got.filterNot(x => planted.contains(x._2)))(x =>
        Set("kept", "quality_drop", "quality_review")(x._2))
  }

  /** Planted duplicate vectors share a component (at least 90%: a pair
    * split across k-means cells is a documented miss), and nothing
    * else is merged: (vector, component) rows against (origin, copy). */
  def semanticProblems(rows: Seq[(Long, Long)], pairs: Set[(Long, Long)]): Seq[String] = {
    val comp = rows.toMap
    val found = pairs.count { case (a, b) => comp.get(a) == comp.get(b) }
    Checks.atLeast("semantic dedup pair recall", found.toDouble / pairs.size, 0.9) ++
      Checks.all("semantic dedup merges", rows.filter { case (id, c) => id != c })(x =>
        pairs.contains((x._2, x._1)))
  }

  /** The four streaming sinks, in the order a drop is driven through them. */
  val Sinks: Seq[String] = Seq("release_drop", "signature_append",
    "retrieval_append", "vector_append")
}
