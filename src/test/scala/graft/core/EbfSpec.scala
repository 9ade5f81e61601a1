package graft.core

import org.scalatest.funsuite.AnyFunSuite

class EbfSpec extends AnyFunSuite {

  private def keys(prefix: String, n: Int): IndexedSeq[String] =
    (0 until n).map(i => s"$prefix-$i")

  test("no false negatives, including across expansions") {
    val e = Ebf.empty(m0 = 64, k = 5, l0 = 16)
    val ks = keys("member", 20000)
    ks.foreach(e.insert)
    assert(e.level > 0, "expected expansions with tiny m0")
    assert(ks.forall(e.mightContain), "false negative detected")
  }

  test("measured FPR within the published one-sided bound") {
    val e = Ebf.empty()
    val ks = keys("in", 50000)
    ks.foreach(e.insert)
    val probes = keys("out", 100000)
    val fp = probes.count(e.mightContain)
    val measured = fp.toDouble / probes.size
    val bound = e.fprBound
    // binomial CI slack: 4 * sqrt(p(1-p)/n)
    val slack = 4.0 * math.sqrt(bound * (1 - bound) / probes.size)
    assert(measured <= bound + slack,
      s"measured FPR $measured > bound $bound + slack $slack (level=${e.level}, m=${e.numBuckets}, n=${e.n})")
  }

  test("FPR drops after expansion (adaptive FPR under growth)") {
    // build right below the threshold, snapshot FPR, then push over it
    val e = Ebf.empty(m0 = 1024, k = 5, l0 = 16, alphaNum = 1, alphaDen = 8)
    keys("a", 127).foreach(e.insert) // load just below alpha*m = 128
    val probes = keys("probe", 50000)
    val before = probes.count(e.mightContain).toDouble / probes.size
    val lvlBefore = e.level
    keys("b", 2).foreach(e.insert) // crosses threshold -> expand
    assert(e.level > lvlBefore)
    val after = probes.count(e.mightContain).toDouble / probes.size
    assert(after <= before, s"FPR should not rise after expansion: $before -> $after")
  }

  test("expand then compress is identity on serialized bytes") {
    val e = Ebf.empty(m0 = 256, k = 4, l0 = 12)
    keys("x", 500).foreach(e.insert)
    val before = e.toBytes
    e.expand()
    e.compress()
    assert(java.util.Arrays.equals(before, e.toBytes))
  }

  test("serialization round-trip is byte-identical") {
    val e = Ebf.empty(m0 = 128, k = 5, l0 = 16)
    keys("s", 5000).foreach(e.insert)
    val bytes = e.toBytes
    val back = Ebf.fromBytes(bytes)
    assert(java.util.Arrays.equals(bytes, back.toBytes))
    assert(back.n === e.n && back.level === e.level)
    assert(keys("s", 5000).forall(back.mightContain))
  }

  test("sparse counts wire form: near-empty filters shrink ~5x, round-trip, stay exact") {
    // a 10-key filter occupies <= 10*k = 50 of the default m0=1024
    // buckets yet paid ~1 KiB of zero-count varints in the dense form;
    // the sparse (delta, count) list (~2B per occupied bucket) must cut
    // that several-fold and decode to the same filter
    val tiny = Ebf.empty()
    keys("t", 10).foreach(tiny.insert)
    val bytes = tiny.toBytes
    assert(bytes.length < 300, s"sparse wire form is ${bytes.length}B")
    val back = Ebf.fromBytes(bytes)
    assert(java.util.Arrays.equals(bytes, back.toBytes))
    assert(keys("t", 10).forall(back.mightContain))
    assert(back.n === tiny.n)
    // full filters still round-trip through the dense form
    val full = Ebf.empty(m0 = 128)
    keys("u", 4000).foreach(full.insert)
    assert(java.util.Arrays.equals(full.toBytes, Ebf.fromBytes(full.toBytes).toBytes))
    // the representation rule is content-canonical: building the same
    // tiny set via a merge of parts yields identical bytes
    val a = Ebf.empty()
    val b = Ebf.empty()
    keys("t", 10).zipWithIndex.foreach { case (x, i) => (if (i % 2 == 0) a else b).insert(x) }
    assert(java.util.Arrays.equals(a.merge(b).toBytes, bytes))
  }

  test("delete removes inserted keys; remaining members stay positive") {
    val e = Ebf.empty(m0 = 256, k = 5, l0 = 16)
    val all = keys("d", 2000)
    all.foreach(e.insert)
    val (gone, stay) = all.splitAt(1000)
    gone.foreach(k => assert(e.delete(k), s"delete($k) failed"))
    assert(e.n === 1000)
    assert(stay.forall(e.mightContain), "false negative after deletes")
    // a never-inserted key with no fingerprint match cannot be deleted
    assert(!e.delete("never-inserted-key-zzz"))
  }

  test("merge is exact: equals sequential insert, byte-identical (random partition + merge trees)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 20) {
      val nKeys = 200 + rnd.nextInt(3000)
      val ks = (0 until nKeys).map(i => s"t$trial-k$i")
      // sequential reference
      val ref = Ebf.empty(m0 = 64, k = 4, l0 = 14)
      ks.foreach(ref.insert)
      // random partitioning
      val nParts = 1 + rnd.nextInt(8)
      val parts = Array.fill(nParts)(Ebf.empty(m0 = 64, k = 4, l0 = 14))
      ks.foreach(k => parts(rnd.nextInt(nParts)).insert(k))
      // random merge tree: repeatedly merge two random elements
      val pool = scala.collection.mutable.ArrayBuffer(parts.toIndexedSeq: _*)
      while (pool.size > 1) {
        val i = rnd.nextInt(pool.size)
        val a = pool.remove(i)
        val j = rnd.nextInt(pool.size)
        val b = pool.remove(j)
        pool += a.merge(b)
      }
      val merged = pool.head
      assert(java.util.Arrays.equals(ref.toBytes, merged.toBytes),
        s"trial $trial: merged bytes differ from sequential (nKeys=$nKeys, nParts=$nParts)")
    }
  }

  test("merge with empty is identity; merge is commutative") {
    val a = Ebf.empty(m0 = 64, k = 4, l0 = 14)
    keys("a", 700).foreach(a.insert)
    val aBytes = a.toBytes
    val a2 = Ebf.fromBytes(aBytes).merge(Ebf.empty(m0 = 64, k = 4, l0 = 14))
    assert(java.util.Arrays.equals(aBytes, a2.toBytes))

    val x = Ebf.empty(m0 = 64, k = 4, l0 = 14)
    val y = Ebf.empty(m0 = 64, k = 4, l0 = 14)
    keys("x", 900).foreach(x.insert)
    keys("y", 40).foreach(y.insert)
    val xy = Ebf.fromBytes(x.toBytes).merge(Ebf.fromBytes(y.toBytes))
    val yx = Ebf.fromBytes(y.toBytes).merge(Ebf.fromBytes(x.toBytes))
    assert(java.util.Arrays.equals(xy.toBytes, yx.toBytes))
  }

  test("Java serialization round-trips via the wire-format proxy") {
    def javaRoundTrip[T](v: T): T = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(v); oos.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[T]
    }
    val e = Ebf.empty(m0 = 256, k = 5, l0 = 16)
    keys("jser", 3000).foreach(e.insert)
    val back = javaRoundTrip(e)
    assert(java.util.Arrays.equals(e.toBytes, back.toBytes))
    val h = Hll.empty(); (0 until 500).foreach(i => h.add(i.toLong))
    assert(java.util.Arrays.equals(h.toBytes, javaRoundTrip(h).toBytes))
    val c = Cms.empty(3, 64); (0 until 500).foreach(i => c.add(s"w$i"))
    assert(java.util.Arrays.equals(c.toBytes, javaRoundTrip(c).toBytes))
    val kl = Kll.empty(); (0 until 5000).foreach(i => kl.add(i.toDouble))
    assert(java.util.Arrays.equals(kl.toBytes, javaRoundTrip(kl).toBytes))
    val t = TDigest.empty(); (0 until 5000).foreach(i => t.add(i.toDouble))
    assert(java.util.Arrays.equals(t.toBytes, javaRoundTrip(t).toBytes))
  }

  test("level is capped at l0 and bound formula degrades gracefully") {
    val e = Ebf.empty(m0 = 8, k = 3, l0 = 3, alphaNum = 1, alphaDen = 2)
    keys("cap", 5000).foreach(e.insert)
    assert(e.level === 3)
    assert(keys("cap", 5000).forall(e.mightContain))
    assert(e.fprBound > 0.0 && e.fprBound <= 1.0)
  }

  test("wire bytes pinned across counts modes, widths and pair orders; sizeBytes exact") {
    // filters covering sparse and dense counts, fingerprint width 0,
    // and pair arrays left unsorted by merge, compress and delete
    val filters = for {
      m0 <- Seq(32, 256, 4096)
      k <- Seq(1, 3, 5)
      l0 <- Seq(4, 16)
      n <- Seq(0, 1, 50, 3000)
    } yield {
      val a = Ebf.empty(m0 = m0, k = k, l0 = l0, seed = 7L)
      val b = Ebf.empty(m0 = m0, k = k, l0 = l0, seed = 7L)
      keys(s"w$m0-$k", n).zipWithIndex.foreach { case (key, i) =>
        (if (i % 3 == 0) a else b).insert(key)
      }
      val e = b.merge(a)
      if (n == 50 && e.level > 0) e.compress()
      if (n == 3000) assert(e.delete(s"w$m0-$k-0"))
      e
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    filters.foreach { e =>
      val bytes = e.toBytes
      assert(e.sizeBytes === bytes.length)
      md.update(bytes)
    }
    // SHA-256 of the bytes the stream-based encoder (one global pair
    // sort, then DataOutputStream) wrote for these filters: the wire
    // format may only change on purpose, together with this value
    val digest = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(digest === "128ea28d0f928d7649ca461956ebae57a3e1eda107e189088a4d93a3698ad111")
  }
}
