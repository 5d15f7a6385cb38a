package graftbench

/** Self-test of the input generator: the same seed gives byte-identical
  * inputs for every workload, and a different seed gives different
  * ones. Run with `python3 perfbench/run.py --self-test`; exits 1 on a
  * failed assertion. */
object GenSelfTest {
  /** Canonical bytes of every generated input for `seed`, by name. */
  def inputs(seed: Long): Seq[(String, Array[Byte])] = {
    val d = Gen.dedupCorpus(seed, 3000)
    Seq(
      "serving corpus" -> Gen.bytesOf(o => Gen.servingCorpus(seed, 2000).foreach(Gen.docBytes(o, _))),
      "write delta" -> Gen.bytesOf(o => Gen.writeDelta(seed, 3, 500).foreach(Gen.docBytes(o, _))),
      "query stream" -> Gen.bytesOf(o => (0 until 500).foreach(i =>
        Gen.queryBytes(o, Gen.query(seed, "timed", i, 2000)))),
      "dedup corpus" -> Gen.bytesOf(o => d.docs.foreach(Gen.docBytes(o, _))),
      "planted near-duplicates" -> Gen.bytesOf(o => d.plants.foreach { p =>
        o.writeLong(p.src); o.writeLong(p.dup) }),
      "planted spans" -> Gen.bytesOf(o => d.spans.foreach { s =>
        s.tokens.foreach(o.writeUTF); s.hosts.foreach(o.writeLong) }))
  }

  def main(args: Array[String]): Unit = {
    var failures = 0
    def expect(ok: Boolean, what: String): Unit = {
      println((if (ok) "ok   " else "FAIL ") + what)
      if (!ok) failures += 1
    }
    val a = inputs(7L); val b = inputs(7L); val c = inputs(8L)
    a.zip(b).zip(c).foreach { case (((name, x), (_, y)), (_, z)) =>
      expect(x.nonEmpty && java.util.Arrays.equals(x, y),
        s"$name: seed 7 twice gives identical bytes (${Gen.sha256(x).take(12)})")
      expect(!java.util.Arrays.equals(x, z), s"$name: seed 8 differs from seed 7")
    }
    // the workload shape the checks rely on
    val d = Gen.dedupCorpus(7L, 3000)
    expect(d.plants.size == 300, s"10% near-duplicates planted (${d.plants.size})")
    expect(d.plants.forall(p => p.src != p.dup), "no doc is planted as its own copy")
    expect(d.spans.forall(s => s.hosts.distinct.size == s.hosts.size && s.hosts.size >= 2),
      "every span has distinct hosts")
    val text = d.docs.map(doc => doc.id -> doc.text).toMap
    expect(d.spans.forall(s => s.hosts.forall(h => text(h).contains(s.tokens.mkString(" ")))),
      "every planted span stays whole in each of its hosts")
    (0 until 3).foreach { b =>
      val kinds = (b * Gen.MixBlock until (b + 1) * Gen.MixBlock)
        .map(i => Gen.query(7L, "timed", i, 2000).kind)
      expect(Gen.QueryMix.forall { case (k, n) => kinds.count(_ == k) == n },
        s"query block $b holds the exact mix")
    }
    println(if (failures == 0) "self-test passed" else s"self-test FAILED: $failures")
    System.exit(if (failures == 0) 0 else 1)
  }
}
