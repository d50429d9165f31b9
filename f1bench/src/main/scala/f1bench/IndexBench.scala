package f1bench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.Dashboard
import graft.operators.{AnnIndexStore, LexIndexStore, Similarity}
import graft.sinks.ManifestMergeEngine

/** Seeded documents and embeddings in the shape of the sf0.1 `documents`
  * (id, ~55-token text, lang, source) and `embeddings` (id, 64-d vector,
  * one of 10 labels) tables. Generated, not read, so a run needs nothing
  * outside its checkout; the text draws from a Zipf-distributed vocabulary
  * of 2,000 words, so postings lists vary in length as in real text. Every
  * row carries `created_at`, its ingest time in event time, which the
  * stores keep as metadata.
  */
final class Corpus(seed: Long) {
  import Corpus._
  private val rnd = new scala.util.Random(seed)
  // vectors lie near an 8-dimensional subspace of the 64-d space, as
  // embeddings of real text do, so nearest neighbours are well defined
  private val basis = Array.fill(Latent, Dim)(rnd.nextGaussian())
  private val centers = Array.fill(Labels, Latent)(rnd.nextGaussian() * 2.0)
  private var nDocs = 0L
  private var nVecs = 0L
  private var nQueries = 0L

  def docs(n: Int): Seq[Row] = Seq.fill(n) {
    val id = nDocs
    nDocs += 1
    val text = Seq.fill(10 + rnd.nextInt(90))(Vocab(zipf())).mkString(" ")
    Row(id, text, Langs(rnd.nextInt(Langs.length)), s"src${rnd.nextInt(20)}",
      java.sql.Timestamp.from(Capture.Epoch.plusMillis(id * 200)))
  }

  def vectors(n: Int): Seq[Row] = Seq.fill(n) {
    val id = nVecs
    nVecs += 1
    val label = rnd.nextInt(Labels)
    Row(id, near(label), label, java.sql.Timestamp.from(Capture.Epoch.plusMillis(id * 500)))
  }

  /** Keyword queries of 2-3 mid-frequency words. */
  def textQueries(n: Int): Seq[Row] = Seq.fill(n) {
    nQueries += 1
    Row(nQueries, Seq.fill(2 + rnd.nextInt(2))(Vocab(20 + rnd.nextInt(480))).mkString(" "))
  }

  /** Query vectors near a label's centre, with ids no corpus row has. */
  def vectorQueries(n: Int): Seq[Row] = Seq.fill(n) {
    nQueries += 1
    Row(QueryIdBase + nQueries, near(rnd.nextInt(Labels)))
  }

  private def near(label: Int): Seq[Double] = {
    val z = centers(label).map(_ + rnd.nextGaussian())
    (0 until Dim).map(d => (0 until Latent).map(k => z(k) * basis(k)(d)).sum +
      rnd.nextGaussian() * 0.05)
  }

  private def zipf(): Int = {
    val u = rnd.nextDouble() * Cumulative.last
    val i = java.util.Arrays.binarySearch(Cumulative, u)
    math.min(Vocab.length - 1, if (i >= 0) i else -i - 1)
  }
}

object Corpus {
  val Dim = 64
  val Labels = 10
  val Latent = 8
  val QueryIdBase = 1000000000L
  private val Langs = IndexedSeq("en", "en", "en", "de", "fr", "es", "zh")
  private val Syllables = IndexedSeq("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve",
    "da", "ge", "hu", "ji", "bo", "fa", "ze", "xu", "wy", "qo", "ca")
  /** 2,000 distinct words of two to three syllables. */
  val Vocab: IndexedSeq[String] = (0 until 2000).map { i =>
    val a = Syllables(i % 20); val b = Syllables((i / 20) % 20); val c = i / 400
    if (c == 0) a + b else a + b + Syllables(c)
  }
  private val Cumulative: Array[Double] =
    Vocab.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("created_at", TimestampType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(DoubleType, containsNull = false)),
    StructField("label", IntegerType), StructField("created_at", TimestampType)))
  val TextQuerySchema: StructType = StructType(Seq(
    StructField("qid", LongType, nullable = false), StructField("qtext", StringType)))
  val VecQuerySchema: StructType = StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("q_vec", ArrayType(DoubleType, containsNull = false))))
}

/** index_serve: a bm25 store and an IVF-PQ store grow between rounds of
  * searches, the session model of interactive top-k search over a growing
  * store. Set-up times the stores' bulk build (after a throwaway build that
  * warms the JVM). Each round grows both stores by a seeded increment, then
  * one closed-loop client searches each store in turn and polls the stores'
  * dashboard panel. A run times one round per 6 s of `--seconds` (at least
  * one), after one warm-up round.
  */
object IndexBench {
  val InitialDocs = 5000
  val InitialVectors = 2000
  val GrowDocs = 250
  val GrowVectors = 100
  val QueriesPerSearch = 4
  val PanelPolls = 2
  /** Exact re-ranking shortlist per query: 5% of the initial vectors. */
  val Rerank = 100

  def serve(env: Env): Unit = {
    val a = env.args
    env.startSession(env.cores)
    val spark = env.spark
    val corpus = new Corpus(a.seed)
    val lexPath = env.dir("index/lex")
    val annPath = env.dir("index/ann")
    // the engines the stores use by default, passed explicitly so the
    // benchmark can read the stores' tables through the same seam
    val lexEngine = new ManifestMergeEngine(gcEvery = 16)
    val annEngine = new ManifestMergeEngine(gcEvery = 16)
    val allDocs = collection.mutable.ArrayBuffer.empty[Row]
    val allVecs = collection.mutable.ArrayBuffer.empty[Row]
    def frame(rows: Seq[Row], schema: StructType): DataFrame =
      spark.createDataFrame(rows.asJava, schema)

    // every increment is drawn up front, so the parity check's fresh build
    // over all documents can run during set-up
    val rounds = math.max(1, a.seconds / 6)
    val docs0 = corpus.docs(InitialDocs)
    val vecs0 = corpus.vectors(InitialVectors)
    val increments = IndexedSeq.fill(1 + rounds * (if (a.trace) 2 else 1))(
      (corpus.docs(GrowDocs), corpus.vectors(GrowVectors)))
    allDocs ++= docs0
    allVecs ++= vecs0
    // both stores built from scratch: the index backfill
    def build(docs: Seq[Row], vecs: Seq[Row], lex: String, ann: String,
        lexE: ManifestMergeEngine, annE: ManifestMergeEngine): Unit = {
      val d = frame(docs, Corpus.DocSchema)
      LexIndexStore.build(spark, lex, d, "doc_id", "text", engine = lexE,
        metadata = Some(d.select("doc_id", "lang", "created_at")))
      val v = frame(vecs, Corpus.VecSchema)
      val ivf = Similarity.buildIvf(v, "vec_id", "embedding", k = 16, iters = 2)
      val pq = Similarity.buildPq(v, "vec_id", "embedding", m = 32, k = 16, iters = 2)
      AnnIndexStore.save(spark, ann, ivf, pq, annE,
        metadata = Some(v.select("vec_id", "label", "created_at")))
      spark.catalog.clearCache()
    }
    // a throwaway build over a tenth of the data warms the JIT and the code
    // generator, so the timed build measures the stores, not a cold JVM
    build(docs0.take(InitialDocs / 10), vecs0.take(InitialVectors / 10), env.dir("index/warm_lex"),
      env.dir("index/warm_ann"), new ManifestMergeEngine(), new ManifestMergeEngine())
    Disk.delete(a.tmp.resolve("index/warm_lex"))
    Disk.delete(a.tmp.resolve("index/warm_ann"))
    val buildStart = Clock.nowMs
    build(docs0, vecs0, lexPath, annPath, lexEngine, annEngine)
    val buildMs = Clock.nowMs - buildStart

    final case class Round(lag: Double, grows: Seq[Double], searches: Seq[Double],
        polls: Seq[Double])

    var next = 0
    def round(): Option[Round] = {
      val due = Clock.nowMs
      val (docs, vecs) = increments(next)
      next += 1
      allDocs ++= docs
      allVecs ++= vecs
      val d = frame(docs, Corpus.DocSchema)
      val v = frame(vecs, Corpus.VecSchema)
      val lexGrow = env.attempt("lex.grow", "operators")(LexIndexStore.addDocuments(spark,
        lexPath, d, "doc_id", "text", lexEngine, Some(d.select("doc_id", "lang", "created_at"))))
      val annGrow = env.attempt("ann.grow", "operators")(AnnIndexStore.addVectors(spark,
        annPath, v.select("vec_id", "embedding"), "vec_id", "embedding", annEngine,
        Some(v.select("vec_id", "label", "created_at"))))
      val lag = Clock.nowMs - due
      val polls = collection.mutable.ArrayBuffer.empty[Double]
      def panel(): Unit =
        env.attempt("poll", "analytics")(storePanel(env, lexEngine, lexPath, annEngine, annPath,
          allDocs.size * 200L)).foreach { case (counts, ms) =>
          polls += ms
          env.report.check("store_panel_counts",
            counts == Map("lex_docs" -> allDocs.size.toLong, "ann_vectors" -> allVecs.size.toLong),
            s"panel saw $counts after ${allDocs.size} docs and ${allVecs.size} vectors")
        }
      val searches = collection.mutable.ArrayBuffer.empty[Double]
      val tq = frame(corpus.textQueries(QueriesPerSearch), Corpus.TextQuerySchema)
      env.attempt("lex.search", "operators")(LexIndexStore.searchTopK(spark, lexPath, tq,
        "qid", "qtext", k = 10, engine = lexEngine).collect()).foreach(searches += _._2)
      val vq = frame(corpus.vectorQueries(QueriesPerSearch), Corpus.VecQuerySchema)
      val t0 = Clock.nowMs
      env.attempt("ann.load", "operators")(AnnIndexStore.load(spark, annPath, annEngine))
        .foreach { case (idx, _) =>
          env.attempt("ann.search", "operators")(AnnIndexStore.searchTopK(idx, vq, "vec_id",
            "embedding", "q_id", "q_vec", k = 5, rerank = Rerank).collect())
            .foreach(_ => searches += Clock.nowMs - t0)
        }
      (1 to PanelPolls).foreach(_ => panel())
      for (l <- lexGrow; g <- annGrow)
        yield Round(lag, Seq(l._2, g._2), searches.toSeq, polls.toSeq)
    }

    env.phase("build")
    // warm-up: the first grow, searches and poll of the session, beside the
    // parity check's fresh bm25 build over every document of the run
    val lexFresh = env.dir("index/lex_fresh")
    val freshEngine = new ManifestMergeEngine(gcEvery = 16)
    val freshBuild = scala.concurrent.Future {
      val all = frame(docs0 ++ increments.flatMap(_._1), Corpus.DocSchema)
      LexIndexStore.build(spark, lexFresh, all, "doc_id", "text", engine = freshEngine,
        metadata = Some(all.select("doc_id", "lang", "created_at")))
    }(scala.concurrent.ExecutionContext.global)
    round()
    scala.concurrent.Await.result(freshBuild, scala.concurrent.duration.Duration.Inf)
    env.report.metric("setup_s", (Clock.nowMs - env.processStartMs) / 1000.0, "s")

    def timedRounds(): Seq[Round] = (1 to rounds).flatMap(_ => round())
    def searchP50(rs: Seq[Round]) = Stats.median(rs.flatMap(_.searches))
    // a traced run traces the rounds an untraced run measures: the first ones
    val counters = if (a.trace) Some(env.traceOn()) else None
    val before = counters.map(_.snapshot)
    val tracedStart = Clock.nowMs
    val first = timedRounds()
    env.traceOff()
    counters match {
      case None =>
        val r = env.report
        r.latency("ingest_lag", first.map(_.lag))
        r.latency("poll", first.flatMap(_.polls))
        r.latency("search", first.flatMap(_.searches))
        r.metric("grow_p50_ms", Stats.median(first.flatMap(_.grows)), "ms")
        r.metric("backfill_lines_per_s", (InitialDocs + InitialVectors) / (buildMs / 1000.0),
          "lines/s")
      case Some(c) =>
        F1Bench.sparkLayer(env, c, before.get)
        val spans = env.tracer.spans.filter(_.startMs >= tracedStart)
        def layer(prefix: String, op: String): Unit = {
          val s = spans.filter(_.name == s"$prefix.$op")
          env.report.metric(s"$prefix.${op}_ms_p50",
            if (s.isEmpty) 0.0 else Stats.median(s.map(_.ms)), "ms")
          if (op != "load")
            env.report.metric(s"$prefix.${op}_jobs",
              c.jobsOf(s.map(_.id).toSet).toDouble / math.max(1, s.size), "count")
        }
        layer("lex", "grow"); layer("lex", "search")
        layer("ann", "load"); layer("ann", "grow"); layer("ann", "search")
        val polls = spans.filter(_.name == "poll").map(_.id).toSet
        env.report.metric("analytics.poll_jobs",
          c.jobsOf(polls).toDouble / math.max(1, polls.size), "count")
        env.report.metric("analytics.poll_files_read",
          (lexEngine.read(spark, s"$lexPath/doclens").toSeq.map(_.inputFiles.length).sum +
            AnnIndexStore.load(spark, annPath, annEngine).ivf.assigned.inputFiles.length).toDouble,
          "count")
        // the same rounds untraced; they run second, on a warmer JIT, so the
        // share is an upper bound on the overhead
        env.report.metric("trace.overhead_share", searchP50(first) / searchP50(timedRounds()) - 1.0,
          "ratio")
    }
    env.report.metric("lex.store_files", Disk.filesUnder(Path.of(lexPath)).toDouble, "count")
    env.report.metric("ann.store_files", Disk.filesUnder(Path.of(annPath)).toDouble, "count")
    val inputBytes = allDocs.map(_.getString(1).getBytes("UTF-8").length.toLong).sum +
      allVecs.size.toLong * Corpus.Dim * 8
    env.report.metric("space_amp",
      (Disk.bytesUnder(Path.of(lexPath)) + Disk.bytesUnder(Path.of(annPath))).toDouble / inputBytes, "ratio")

    require(allDocs.size == InitialDocs + increments.size * GrowDocs, "every increment was added")
    checkLexicalParity(env, lexPath, lexEngine, lexFresh, freshEngine, corpus)
    checkRecall(env, annPath, annEngine, frame(allVecs.toSeq, Corpus.VecSchema), corpus)
    env.report.metric("gen.late_ms_max", env.lateMs, "ms")
  }

  /** The stores' dashboard panel: `Dashboard.allStats` over the bm25
    * store's per-document table and the ANN store's vectors, read through
    * the stores' engines. Rows per store.
    */
  private def storePanel(env: Env, lexEngine: ManifestMergeEngine, lexPath: String,
      annEngine: ManifestMergeEngine, annPath: String, nowOffsetMs: Long): Map[String, Long] = {
    val doclens = lexEngine.read(env.spark, s"$lexPath/doclens")
      .getOrElse(throw new IllegalStateException("bm25 store has no doclens table"))
    val vectors = AnnIndexStore.load(env.spark, annPath, annEngine).ivf.assigned
    val now = lit(java.sql.Timestamp.from(Capture.Epoch.plusMillis(nowOffsetMs)))
    Dashboard.allStats(Seq(("lex_docs", doclens, "created_at"),
      ("ann_vectors", vectors, "created_at")), now)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** bm25 results on the grown store equal those of a fresh build over the
    * same documents.
    */
  private def checkLexicalParity(env: Env, lexPath: String, engine: ManifestMergeEngine,
      fresh: String, freshEngine: ManifestMergeEngine, corpus: Corpus): Unit = {
    val spark = env.spark
    val q = spark.createDataFrame(corpus.textQueries(16).asJava, Corpus.TextQuerySchema)
    def rows(path: String, e: ManifestMergeEngine) =
      LexIndexStore.searchTopK(spark, path, q, "qid", "qtext", k = 10, engine = e)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val grown = rows(lexPath, engine)
    val built = rows(fresh, freshEngine)
    env.report.check("bm25_grown_equals_fresh_build", grown == built && grown.nonEmpty,
      s"grown store returned ${grown.size} rows, fresh build ${built.size}; first difference " +
        grown.zipAll(built, Nil, Nil).find { case (x, y) => x != y }.toString)
  }

  /** ANN recall@5 against brute force over every stored vector stays at or
    * above the 0.7 floor the program's own tests pin.
    */
  private def checkRecall(env: Env, annPath: String, engine: ManifestMergeEngine,
      vecs: DataFrame, corpus: Corpus): Unit = {
    val spark = env.spark
    val q = spark.createDataFrame(corpus.vectorQueries(20).asJava, Corpus.VecQuerySchema)
    def pairs(df: DataFrame) = df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = pairs(AnnIndexStore.searchTopK(AnnIndexStore.load(spark, annPath, engine), q,
      "vec_id", "embedding", "q_id", "q_vec", k = 5, rerank = Rerank))
    val brute = pairs(Similarity.bruteForceTopK(vecs.select("vec_id", "embedding"), q,
      "vec_id", "embedding", "q_id", "q_vec", 5))
    val recall = (ann & brute).size.toDouble / math.max(1, brute.size)
    env.report.note(f"ann recall@5 = $recall%.3f over ${brute.size} brute-force pairs")
    env.report.check("ann_recall_at_5", recall >= 0.7, f"recall@5 = $recall%.3f < 0.7")
  }
}
