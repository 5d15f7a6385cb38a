package graftbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.security.MessageDigest
import java.util.SplittableRandom

import graft.semantic.SemanticSuite

/** Seeded input generator for every workload. Each input is a pure
  * function of (seed, stream name, index), so the same seed yields
  * byte-identical inputs on any machine, and a query stream can be read
  * lazily to any length without generating it up front. */
object Gen {
  val Dim = 64
  val Topics = 32

  final case class Doc(id: Long, text: String, emb: Array[Float])
  final case class Query(qid: Long, kind: String, text: String, vec: Array[Double])
  /** A near-duplicate plant: `dup` is a lightly edited copy of `src`. */
  final case class Plant(src: Long, dup: Long) {
    def pair: (Long, Long) = (math.min(src, dup), math.max(src, dup))
  }
  /** A boilerplate span inserted verbatim into each of `hosts`. */
  final case class Span(tokens: Seq[String], hosts: Seq[Long])
  final case class DedupCorpus(docs: IndexedSeq[Doc], plants: Seq[Plant],
                               spans: Seq[Span])

  /** SplitMix64 finalizer: decorrelates (seed, stream, index) triples. */
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def rng(seed: Long, stream: String, i: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream.hashCode.toLong) ^ i))

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller on SplittableRandom (java.util.Random's nextGaussian
    // is not available on it); one draw per call keeps streams simple
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  /** Fixed pseudo-word lists (not seeded: part of the workload's shape). */
  private val syllables = Seq("ka", "lo", "mi", "ne", "su", "ta", "ri", "po",
    "ve", "du", "za", "fo", "gi", "hu", "ye", "wa")
  private def pseudoWords(n: Int, prefix: String): IndexedSeq[String] =
    (0 until n).map { i =>
      val a = syllables(i % 16); val b = syllables((i / 16) % 16)
      val c = syllables((i / 256) % 16)
      s"$prefix$a$b$c"
    }
  private val fillers = pseudoWords(256, "")
  private val curationWords = pseudoWords(4096, "x")
  private val commonWords = pseudoWords(48, "q")
  private val boilerWords = pseudoWords(512, "b")

  val JobWords: IndexedSeq[String] = SemanticSuite.CorpusVocab.toIndexedSeq.sorted
  val RegionWords: IndexedSeq[String] = SemanticSuite.RegionVocab.toIndexedSeq.sorted
  val SynonymJobs: IndexedSeq[String] = SemanticSuite.Synonyms.keys.toIndexedSeq.sorted

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  // ---------------------------------------------------------------- corpus

  /** Latent topic centres: docs of one topic sit near one centre and
    * favour one job word and one region word, so term filters and
    * vector proximity interact the way they do on real data. */
  private def centres(seed: Long): IndexedSeq[Array[Double]] =
    (0 until Topics).map { t =>
      val r = rng(seed, "centre", t)
      Array.fill(Dim)(gauss(r))
    }

  /** Corpus doc `id` (serving workloads). Deterministic per (seed, id),
    * so write deltas are generated the same way as the base corpus. */
  def servingDoc(seed: Long, cs: IndexedSeq[Array[Double]], id: Long): Doc = {
    val r = rng(seed, "doc", id)
    val t = r.nextInt(Topics)
    val emb = Array.tabulate(Dim)(d => (cs(t)(d) + 0.45 * gauss(r)).toFloat)
    val job =
      if (r.nextDouble() < 0.75)
        Some(if (r.nextDouble() < 0.7) JobWords(t % JobWords.size) else pick(r, JobWords))
      else None
    val region =
      if (r.nextDouble() < 0.7)
        Some(if (r.nextDouble() < 0.7) RegionWords(t % RegionWords.size) else pick(r, RegionWords))
      else None
    val words = Seq.newBuilder[String]
    words += pick(r, fillers)
    job.foreach(j => words += j)
    words ++= Seq.fill(1 + r.nextInt(3))(pick(r, fillers))
    region.foreach(g => words ++= Seq("in", "the", g))
    words ++= Seq.fill(2 + r.nextInt(5))(pick(r, fillers))
    Doc(id, words.result().mkString(" "), emb)
  }

  def servingCorpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val cs = centres(seed)
    (0 until n).map(i => servingDoc(seed, cs, i.toLong))
  }

  /** Write delta `w`: `n` new docs with ids disjoint from the corpus. */
  def writeDelta(seed: Long, w: Int, n: Int): IndexedSeq[Doc] = {
    val cs = centres(seed)
    (0 until n).map(j => servingDoc(seed, cs, 10000000L + w.toLong * n + j))
  }

  // ---------------------------------------------------------------- queries

  /** Query mix per block of 20 consecutive queries: job+region (job with
    * synonyms) 6, job-only 5, region-only 4, no terms 4, blank 1 — 30%,
    * 25%, 20%, 20%, 5%. Every block holds the exact mix in a seeded
    * order, so any window of whole blocks sees the same mix. */
  val QueryMix: Seq[(String, Int)] = Seq(
    "job_region_syn" -> 6, "job_only" -> 5, "region_only" -> 4,
    "no_terms" -> 4, "blank" -> 1)
  val MixBlock: Int = QueryMix.map(_._2).sum

  private def kindOf(seed: Long, stream: String, i: Long): String = {
    val kinds = QueryMix.flatMap { case (k, n) => Seq.fill(n)(k) }.toArray
    val r = rng(seed, "mix/" + stream, i / MixBlock)
    for (j <- kinds.indices.reverse) {
      val x = r.nextInt(j + 1); val t = kinds(j); kinds(j) = kinds(x); kinds(x) = t
    }
    kinds((i % MixBlock).toInt)
  }

  /** Query `i` of `stream` against a corpus of `corpusN` docs: the
    * vector is a corpus doc's embedding plus noise, so no two queries
    * repeat. */
  def query(seed: Long, stream: String, i: Long, corpusN: Int): Query = {
    val r = rng(seed, "query/" + stream, i)
    val kind = kindOf(seed, stream, i)
    val f1 = pick(r, fillers); val f2 = pick(r, fillers)
    val text = kind match {
      case "job_region_syn" => s"looking for a ${pick(r, SynonymJobs)} job in the ${pick(r, RegionWords)} area"
      case "job_only"       => s"any ${pick(r, JobWords)} work $f1 please"
      case "region_only"    => s"openings near the ${pick(r, RegionWords)} $f1"
      case "no_terms"       => s"show me something $f1 $f2"
      case _                => if (r.nextBoolean()) "" else "   "
    }
    val base = servingDoc(seed, centres(seed), r.nextInt(corpusN).toLong).emb
    val vec = Array.tabulate(Dim)(d => base(d) + 0.15 * gauss(r))
    Query(i, kind, text, vec)
  }

  // ---------------------------------------------------------------- curation

  val DupFrac = 0.10
  val NSpans = 20
  val SpanLen = 12
  val HostsPerSpan = 20

  /** Curation corpus: `n` docs, `DupFrac` of them planted near-duplicates
    * (one or two token substitutions of an original), plus `NSpans`
    * boilerplate spans of `SpanLen` tokens, each inserted into
    * `HostsPerSpan` originals before the copies are made. */
  def dedupCorpus(seed: Long, n: Int): DedupCorpus = {
    val r = rng(seed, "dedup")
    val nDup = (n * DupFrac).toInt
    val ids = (0 until n).map(_.toLong).toArray
    // Fisher-Yates over ids: the first nDup become the copies
    for (i <- ids.indices.reverse) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val dupIds = ids.take(nDup)
    val originals = ids.drop(nDup).sorted
    val tokens = new Array[Array[String]](n)
    originals.foreach { id =>
      val len = 40 + r.nextInt(41)
      tokens(id.toInt) = Array.fill(len)(
        if (r.nextDouble() < 0.2) pick(r, commonWords) else pick(r, curationWords))
    }
    // token ranges already holding a span, per host: a later span is
    // never inserted inside one, so every planted span stays whole
    val planted = scala.collection.mutable.Map.empty[Long, List[(Int, Int)]].withDefaultValue(Nil)
    val spans = (0 until NSpans).map { s =>
      val span = boilerWords.slice(s * SpanLen, (s + 1) * SpanLen)
      val hosts = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (hosts.size < HostsPerSpan) hosts += originals(r.nextInt(originals.length))
      hosts.foreach { h =>
        val t = tokens(h.toInt)
        val drawn = r.nextInt(t.length + 1)
        val at = planted(h).collectFirst { case (a, b) if a < drawn && drawn < b => b }.getOrElse(drawn)
        tokens(h.toInt) = t.take(at) ++ span ++ t.drop(at)
        planted(h) = (at, at + SpanLen) :: planted(h).map { case (a, b) =>
          if (a >= at) (a + SpanLen, b + SpanLen) else (a, b) }
      }
      Span(span, hosts.toSeq.sorted)
    }
    val plants = dupIds.toSeq.sorted.map { d =>
      val src = originals(r.nextInt(originals.length))
      val t = tokens(src.toInt).clone()
      (0 until 1 + r.nextInt(2)).foreach { _ =>
        val at = r.nextInt(t.length)
        var w = pick(r, curationWords)
        while (w == t(at)) w = pick(r, curationWords)
        t(at) = w
      }
      tokens(d.toInt) = t
      Plant(src, d)
    }
    val docs = (0 until n).map(i => Doc(i.toLong, tokens(i).mkString(" "), Array.emptyFloatArray))
    DedupCorpus(docs, plants, spans)
  }

  // ---------------------------------------------------------------- digests

  /** Canonical byte form of generated inputs — what the self-test
    * compares, independent of any file format's metadata. */
  def docBytes(out: DataOutputStream, d: Doc): Unit = {
    out.writeLong(d.id); out.writeUTF(d.text)
    out.writeInt(d.emb.length); d.emb.foreach(out.writeFloat)
  }
  def queryBytes(out: DataOutputStream, q: Query): Unit = {
    out.writeLong(q.qid); out.writeUTF(q.kind); out.writeUTF(q.text)
    out.writeInt(q.vec.length); q.vec.foreach(out.writeDouble)
  }
  def bytesOf(write: DataOutputStream => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    write(out); out.flush(); bos.toByteArray
  }
  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString
}
