package graftbench

import scala.collection.mutable

import graft.operators.{Ann, CascadeConfig, Curation, Dedup, MultiStageSearch}
import graft.sources.IndexStore
import graft.streaming.CascadeServe
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

object Inputs {
  def writeDocs(spark: SparkSession, docs: Seq[Gen.Doc], path: String): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.emb)).toDF("doc_id", "text", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
  def writeTexts(spark: SparkSession, docs: Seq[Gen.Doc], path: String): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
  def queryFrame(spark: SparkSession, qs: Seq[Gen.Query]): DataFrame = {
    import spark.implicits._
    qs.map(q => (q.qid, q.text, q.vec.toSeq)).toDF("qid", "qtext", "qvec")
  }
  def digest(lines: Iterable[String]): String =
    Gen.sha256(lines.mkString("\n").getBytes("UTF-8")).take(16)
}

/** The reference's per-request path: one client, closed loop, one
  * `MultiStageSearch.search` plus a collect of the top-5 per op, over a
  * 5,000-doc corpus. No query repeats. */
final class ServeSingle(a: Args, t: Tracer) extends Workload {
  val setupReps = 7
  val CorpusN = 5000
  val DigestOps = 20
  val WarmOps = 3 * Gen.MixBlock / 2
  val minOps = 5 * Gen.MixBlock
  private val corpusPath = s"${a.workDir}/in/corpus"
  private var search: MultiStageSearch = null
  private val answers = mutable.ArrayBuffer.empty[(Gen.Query, Seq[Row])]
  private val rows = mutable.ArrayBuffer.empty[Double]
  private var identity = Seq.empty[String]

  private def q(stream: String, i: Int) = Gen.query(a.seed, stream, i, CorpusN)
  private def qv(x: Gen.Query) = typedLit(x.vec.toSeq)
  private def gatedRows(s: MultiStageSearch, x: Gen.Query, gated: Boolean) =
    (if (gated) s.searchGated(x.text, qv(x)) else s.search(x.text, qv(x)))
      .select(col("rank"), col("doc_id"), col("stage_rank"),
        round(col("dist"), 6).as("dist"), col("score")).collect().toSeq

  def prepare(spark: SparkSession): Unit =
    Inputs.writeDocs(spark, Gen.servingCorpus(a.seed, CorpusN), corpusPath)

  def setup(spark: SparkSession): Unit =
    search = new MultiStageSearch(spark.read.parquet(corpusPath), "doc_id", "text", "embedding")

  /** The first blocks of queries run slower while the JIT compiles the
    * search path, so 30 queries are warm-up. */
  def warmup(spark: SparkSession): Unit =
    (0 until WarmOps).foreach(i => gatedRows(search, q("warm", i), gated = i == 0))

  def op(spark: SparkSession, i: Int): Long = {
    val x = q("timed", i)
    val df = t.span("cascade.search")(search.search(x.text, qv(x)))
    val got = t.span("cascade.rerank")(df.select("doc_id", "rank", "score").collect())
    if (t.active) rows += got.length
    answers += x -> got.toSeq
    1
  }

  /** Every response has ≤5 rows ranked 1..n, blank queries get none and
    * other queries at least one; on a seeded sample of the window's
    * queries the adaptive `search` equals the declarative `searchGated`
    * row for row (c1's contract). */
  def check(spark: SparkSession): Seq[(Option[Int], String)] = {
    val bad = answers.zipWithIndex.flatMap { case ((x, got), i) =>
      val ranks = got.map(_.getInt(1))
      val blank = x.kind == "blank"
      val err =
        if (got.length > 5) Some(s"${got.length} rows > 5")
        else if (ranks != (1 to ranks.size)) Some(s"ranks $ranks")
        else if (blank && got.nonEmpty) Some(s"blank query answered ${got.length} rows")
        else if (!blank && got.isEmpty) Some("no rows")
        else None
      err.map(e => i -> s"qid ${x.qid}: $e")
    }
    val sample = answers.map(_._1).filter(_.kind != "blank").take(2)
    val split = sample.filter { x =>
      val adaptive = gatedRows(search, x, gated = false)
      identity :+= s"${x.qid} ${adaptive.mkString(";")}"
      adaptive != gatedRows(search, x, gated = true)
    }
    bad.map { case (i, e) => (Some(i), e) }.toSeq ++
      split.map(x => (Some(x.qid.toInt), s"qid ${x.qid}: search != searchGated"))
  }

  def digest: String = Inputs.digest(answers.take(DigestOps).flatMap { case (x, got) =>
    got.map(r => s"${x.qid} ${r.getInt(1)} ${r.getLong(0)} ${"%.6f".formatLocal(java.util.Locale.ROOT, r.getDouble(2))}")
  } ++ identity)
  def work: Map[String, Seq[Double]] = Map("cascade.search.rows" -> rows.toSeq)
}

/** The production serving shape: 32-query micro-batches through
  * `CascadeServe.sink` over a stored IVF (index, centroids) pair of
  * 10,000 docs. Every third batch (the 3rd, 6th, ...) is preceded by a
  * write that assigns 1,000 new docs, commits current ∪ new as a new
  * version and prunes to two versions; that batch carries a
  * read-your-writes probe. */
final class ServeStream(a: Args, t: Tracer) extends Workload {
  val setupReps = 3
  val CorpusN = 10000
  val BatchQ = 32
  val DeltaN = 1000
  val MaxDeltas = 4
  val Clusters = 64
  val TrainIters = 5
  val Nprobe = 8
  val DigestOps = 3
  val minOps = 4
  private val inDir = s"${a.workDir}/in"
  private var root = ""
  private var out = ""
  private var setups = 0
  private val cfg = CascadeConfig()
  private val probes = mutable.Map.empty[Long, (Long, Int)] // qid -> (doc, op)
  private val served = mutable.ArrayBuffer.empty[Gen.Query]
  private val qidOp = mutable.Map.empty[Long, Int]
  private var digestLines = Seq.empty[String]

  private def writeDeltas(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    (0 until MaxDeltas).flatMap(w => Gen.writeDelta(seed, w, DeltaN).map(d => (d.id, d.text, d.emb, w)))
      .toDF("doc_id", "text", "embedding", "w")
      .repartition(col("w")).write.partitionBy("w").parquet(dir)
  }

  def prepare(spark: SparkSession): Unit = {
    Inputs.writeDocs(spark, Gen.servingCorpus(a.seed, CorpusN), s"$inDir/corpus")
    writeDeltas(spark, a.seed, s"$inDir/deltas")
  }

  /** Train the centroids, assign the corpus and commit the first version. */
  def setup(spark: SparkSession): Unit = {
    setups += 1
    root = s"${a.workDir}/index$setups"
    val corpus = spark.read.parquet(s"$inDir/corpus")
    val cents = t.span("ann.train")(Ann.trainCentroids(corpus, "embedding", Clusters, seed = a.seed, maxIter = TrainIters))
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "doc_id", cents, "cid", "cvec")
    t.span("index_store.commit")(IndexStore.writeVersionedWithCentroids(assigned, cents, root))
  }

  def warmup(spark: SparkSession): Unit = {
    out = s"${a.workDir}/warm"
    serve(spark, (0 until BatchQ).map(j => Gen.query(a.seed, "warm", j, CorpusN)), 0L)
    out = s"${a.workDir}/served"
  }

  /** Assign delta `w` against the current version's centroids and
    * commit current ∪ delta as the next version. */
  private def write(spark: SparkSession, w: Int): Unit = {
    val (index, cent, _) = IndexStore.loadCurrentWithCentroids(spark, root)
    val delta = spark.read.parquet(s"$inDir/deltas/w=$w")
    val assigned = Ann.ivfAssignBig(delta, "embedding", "doc_id", cent, "cid", "cvec")
    t.span("index_store.commit")(IndexStore.writeVersionedWithCentroids(
      index.unionByName(assigned), cent, root))
    t.span("index_store.prune")(IndexStore.pruneVersions(spark, root, keep = 2))
  }

  private def serve(spark: SparkSession, qs: Seq[Gen.Query], batchId: Long): Unit =
    t.span("cascade_serve.sink")(CascadeServe.sink(root, out, "doc_id", "text", "embedding",
      "qid", "qtext", "qvec", Nprobe, cfg)(Inputs.queryFrame(spark, qs), batchId))

  private def exact(spark: SparkSession, qs: Seq[Gen.Query]): Map[Long, Set[Long]] =
    new MultiStageSearch(IndexStore.loadCurrent(spark, root), "doc_id", "text", "embedding", cfg)
      .searchGatedBatch(Inputs.queryFrame(spark, qs), "qid", "qtext", "qvec")
      .select("qid", "doc_id").collect().groupMap(_.getLong(0))(_.getLong(1))
      .map { case (q, ds) => q -> ds.toSet }

  private def writes(i: Int) = i % 3 == 2 && i / 3 < MaxDeltas

  override def beforeOp(spark: SparkSession, i: Int): Boolean =
    writes(i) && { write(spark, i / 3); true }

  def op(spark: SparkSession, i: Int): Long = {
    var qs = (0 until BatchQ).map(j => Gen.query(a.seed, "timed", i.toLong * BatchQ + j, CorpusN))
    if (writes(i)) {
      // read-your-writes probe: a no-terms query at an inserted doc's vector
      val doc = Gen.writeDelta(a.seed, i / 3, DeltaN).head
      val probe = Gen.Query(qs.head.qid, "probe", "show me anything new today",
        doc.emb.map(_.toDouble))
      probes(probe.qid) = (doc.id, i)
      qs = probe +: qs.tail
    }
    qs.foreach(x => qidOp(x.qid) = i)
    serve(spark, qs, i.toLong)
    served ++= qs
    qs.size
  }

  /** Every non-blank query has 1..5 result rows and every blank one
    * none; each read-your-writes probe finds its doc at rank 1; and the
    * last batch's served top-5 overlaps the exact gated batch cascade on
    * the version it was served from (no write follows the last batch)
    * by at least 0.4 on average, c5's floor. */
  def check(spark: SparkSession): Seq[(Option[Int], String)] = {
    val bad = mutable.LinkedHashMap.empty[Int, String]
    val res = CascadeServe.results(spark, out)
      .select(col("qid"), col("rank"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byQ = res.groupBy(_._1)
    served.foreach { x =>
      val n = byQ.get(x.qid).map(_.length).getOrElse(0)
      val ok = if (x.kind == "blank") n == 0 else n >= 1 && n <= 5
      if (!ok) bad.getOrElseUpdate(qidOp(x.qid), s"qid ${x.qid}: $n rows")
    }
    probes.foreach { case (qid, (doc, i)) =>
      val top = byQ.getOrElse(qid, Array.empty).find(_._2 == 1).map(_._3)
      if (!top.contains(doc)) bad.getOrElseUpdate(i, s"read-your-writes: qid $qid rank 1 = $top, want $doc")
    }
    digestLines = res.filter(r => qidOp(r._1) < DigestOps)
      .sortBy(r => (r._1, r._2)).map { case (q, r, d) => s"$q $r $d" }.toSeq
    val last = served.takeRight(BatchQ).filter(_.kind != "blank").take(8).toSeq
    val want = exact(spark, last)
    val overlaps = last.map { x =>
      val e = want.getOrElse(x.qid, Set.empty[Long])
      val s = byQ.getOrElse(x.qid, Array.empty).map(_._3).toSet
      if (e.isEmpty) 1.0 else (s intersect e).size.toDouble / e.size
    }
    val mean = overlaps.sum / overlaps.size
    System.err.println(f"[graftbench] served/exact top-5 overlap mean $mean%.3f min ${overlaps.min}%.3f")
    bad.toSeq.map { case (i, e) => (Some(i), e) } ++
      Option.when(mean < 0.4)((None, f"served/exact top-5 overlap $mean%.3f < 0.4"))
  }

  def digest: String = Inputs.digest(digestLines)
  def work: Map[String, Seq[Double]] = Map.empty
}

/** Offline curation over 10,500 docs with 10% planted near-duplicates
  * and shared boilerplate spans. One op is one pass: minhash near-dups
  * (pairs written to parquet), components over those pairs, 2-gram
  * Jaccard pairs, and duplicate spans. */
final class CurateDedup(a: Args, t: Tracer) extends Workload {
  val setupReps = 7
  val CorpusN = 10500
  val minOps = 1
  private val docsPath = s"${a.workDir}/in/docs"
  private lazy val corpus = Gen.dedupCorpus(a.seed, CorpusN)
  private var docs: DataFrame = null
  private type Pass = (Array[Row], Array[Row], Array[Row], Array[Row])
  private val passes = mutable.ArrayBuffer.empty[Pass]
  private val work_ = mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)

  def prepare(spark: SparkSession): Unit = Inputs.writeTexts(spark, corpus.docs, docsPath)

  /** One untimed pass over the corpus: a smaller warm-up corpus would
    * leave the large-corpus verify plan to compile inside the window. */
  def warmup(spark: SparkSession): Unit = pass(spark, docs, s"${a.workDir}/warm_pairs")

  private def pass(spark: SparkSession, in: DataFrame, pairsPath: String): Pass = {
    t.span("dedup.minhash")(Dedup.minhashNearDups(in, "doc_id", "text")
      .write.mode("overwrite").parquet(pairsPath))
    val pairs = spark.read.parquet(pairsPath)
    val comps = t.span("dedup.components")(Dedup.components(pairs).collect())
    val ngram = t.span("dedup.ngram_jaccard")(
      Dedup.ngramJaccardPairs(in, "doc_id", "text", 2, 0.4).select("doc_a", "doc_b").collect())
    val spans = t.span("curation.dup_spans")(Curation.duplicateSpans(in, "doc_id", "text", 4, 8, 50)
      .select("doc_a", "doc_b", "span_tokens").collect())
    (pairs.select("doc_a", "doc_b").collect(), comps, ngram, spans)
  }

  def setup(spark: SparkSession): Unit = docs = spark.read.parquet(docsPath)

  def op(spark: SparkSession, i: Int): Long = {
    val p = pass(spark, docs, s"${a.workDir}/pairs/op$i")
    passes += p
    if (t.active) {
      val (pairs, comps, ngram, spans) = p
      work_("dedup.minhash.pairs") :+= pairs.length.toDouble
      work_("dedup.components.groups") :+= comps.map(_.getLong(1)).distinct.length.toDouble
      work_("dedup.ngram_jaccard.pairs") :+= ngram.length.toDouble
      work_("curation.dup_spans.spans") :+= spans.length.toDouble
    }
    CorpusN
  }

  private def ab(r: Row) = (r.getLong(0), r.getLong(1))

  /** ≥95% of planted near-duplicate pairs found, each found one inside a
    * single component, every pair ordered doc_a < doc_b, and every pair
    * of a planted span's hosts reported with the whole span. */
  def check(spark: SparkSession): Seq[(Option[Int], String)] = {
    val planted = corpus.plants.map(_.pair)
    val errs = passes.zipWithIndex.flatMap { case ((pairs, comps, ngram, spans), i) =>
      val found = pairs.map(ab).toSet
      val hit = planted.count(found)
      val comp = comps.map(ab).toMap
      val split = planted.filter(found).count(p => comp.get(p._1) != comp.get(p._2))
      val unordered = (pairs.toSeq ++ ngram ++ spans).count(r => !(r.getLong(0) < r.getLong(1)))
      val spanPairs = spans.filter(_.getLong(2) >= Gen.SpanLen).map(ab).toSet
      val missed = corpus.spans.count(s =>
        s.hosts.combinations(2).exists { case Seq(x, y) => !spanPairs((x, y)) })
      System.err.println(s"[graftbench] pass $i: pairs ${pairs.length} planted $hit/${planted.size} " +
        s"ngram ${ngram.length} spans ${spans.length} groups ${comp.values.toSet.size}")
      Seq(
        Option.when(hit < 0.95 * planted.size)(s"planted pairs found $hit of ${planted.size}"),
        Option.when(split > 0)(s"$split planted pairs split across components"),
        Option.when(unordered > 0)(s"$unordered pairs without doc_a < doc_b"),
        Option.when(missed > 0)(s"$missed planted spans not detected between all hosts")
      ).flatten.map(e => (Some(i), s"pass $i: $e"))
    }
    errs.toSeq
  }

  def digest: String = Inputs.digest(passes.headOption.toSeq.flatMap { case (pairs, comps, ngram, spans) =>
    Seq(pairs.map(ab).sorted.mkString(";"), comps.map(ab).sorted.mkString(";"),
      ngram.map(ab).sorted.mkString(";"),
      spans.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.mkString(";"))
  })
  def work: Map[String, Seq[Double]] = work_.toMap
}
