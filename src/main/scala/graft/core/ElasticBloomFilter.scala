package graft.core

import java.nio.ByteBuffer

/** Elastic Bloom Filter — a dynamically resizable Bloom filter with
  * bucket-level expansion/compression and fingerprint-preserving rehash,
  * re-implemented from scratch from the published Elastic Bloom Filter
  * design (Tong Yang's group, PKU) as specified by the project's north
  * rule. NOT a port: the reference is a single-node in-memory structure;
  * this implementation is designed as an associative, commutative merge
  * monoid so it can serve as a distributed Spark aggregation buffer.
  *
  * == Structure ==
  * `m = m0 * 2^level` buckets. For each of `k` derived hash functions,
  * a key consumes `log2(m0)` bits for base addressing and up to `l0`
  * further bits as a fingerprint. At `level` L the bucket index is
  * `b0 + (fp & (2^L - 1)) * m0` and the remaining stored fingerprint is
  * `fp >>> L` — so expansion (L -> L+gap) routes each stored fingerprint
  * `f` in bucket `b` to bucket `b + (f & (2^gap - 1)) * m` with
  * fingerprint `f >>> gap` ("fingerprint-preserving rehash"), and
  * compression is its exact inverse. A bucket is "set" iff it holds
  * >= 1 fingerprint, so expansion clears bits in child buckets that
  * receive no fingerprints and the false-positive rate drops after
  * growth.
  *
  * == Normal form (the distributed-merge theorem) ==
  * After every insert/merge the filter expands while `n > alpha * m`
  * (and `level < maxLevel`). Because expansion routes fingerprints by
  * their own content, the state at level L is a pure function of the
  * inserted key multiset — `expand(union(A,B)) == union(expand(A),
  * expand(B))` — hence merge is associative and commutative and the
  * serialized bytes are identical under arbitrary partition merge
  * orderings.
  *
  * == Physical layout (GC-aware, learned from the 1M-row bench) ==
  * Fingerprints live in ONE flat `Array[Long]` of `(bucket << 32) | fp`
  * pairs plus one per-bucket count array — O(1) heap objects per
  * filter. The previous per-bucket `Array[Array[Int]]` layout allocated
  * millions of small arrays; at 32 aggregation threads G1 degraded
  * progressively (humongous-region fragmentation: identical runs went
  * 3.7s -> 16.9s within one JVM). Expansion/compression/merge are
  * single passes over the flat array; canonical serialization scatters
  * fingerprints by bucket and sorts within buckets (bucket asc, fp asc).
  *
  * == Deviations from the paper (documented deliberately) ==
  *  - Buckets hold exact unbounded fingerprint multisets (the paper
  *    bounds per-bucket capacity); exactness is what makes distributed
  *    merge lossless.
  *  - Expansion triggers on global load `n/m > alpha` rather than
  *    per-bucket overflow, so the trigger is content-determined (a
  *    requirement for merge associativity, which the single-node paper
  *    does not need).
  *  - `delete` is supported but is NOT merge-safe across partitions
  *    (deleting in partition B a key inserted in partition A would
  *    violate multiset semantics); distributed aggregation is
  *    insert-only and delete is a post-merge local operation. With the
  *    flat layout a delete is an O(pairs) scan — fine for its intended
  *    occasional-correction role.
  *
  * Query checks the k bucket bits only (standard Bloom semantics):
  * no false negatives, one-sided error with
  * FPR <= (1 - e^(-k*n/m))^k at the current load.
  *
  * Header fields are vars solely for [[BytesSerde]] (Kryo re-init via
  * `loadBytes` on a constructor-less instance); they are never mutated
  * outside deserialization.
  */
final class Ebf(
    var m0: Int,          // base bucket count, power of two
    var k: Int,           // number of derived hash functions
    var l0: Int,          // initial fingerprint width in bits (max expansions)
    var alphaNum: Int,    // load threshold alpha = alphaNum / alphaDen
    var alphaDen: Int,
    var seed: Long
) extends BytesSerde {
  require(Integer.bitCount(m0) == 1, s"m0 must be a power of two, got $m0")
  require(l0 >= 0 && l0 <= 30, s"l0 must be in [0,30], got $l0")
  require(k >= 1 && k <= 16, s"k must be in [1,16], got $k")

  @inline private def log2m0: Int = Integer.numberOfTrailingZeros(m0)

  /** Highest reachable level: fingerprint bits and int bucket indexes
    * both cap it (numBuckets must stay <= 2^30). */
  @inline def maxLevel: Int = math.min(l0, 30 - log2m0)

  var level: Int = 0
  var n: Long = 0L                        // total inserted keys (multiset size)
  // flat (bucket << 32 | fp) pairs, unsorted; counts(b) = #fps in bucket b
  private var pairs: Array[Long] = new Array[Long](64)
  private var numPairs: Int = 0
  private var counts: Array[Int] = new Array[Int](m0)

  @inline def numBuckets: Int = m0 << level
  @inline def fpWidth: Int = l0 - level

  @inline private def bucketOf(h: Hash128.H, i: Int): Int = {
    val hi = h.derived(i)
    val b0 = (hi & (m0 - 1)).toInt
    val fpFull = ((hi >>> log2m0) & ((1L << l0) - 1)).toInt
    b0 + ((fpFull & ((1 << level) - 1)) * m0)
  }

  @inline private def pairOf(h: Hash128.H, i: Int): Long = {
    val hi = h.derived(i)
    val b0 = (hi & (m0 - 1)).toInt
    val fpFull = ((hi >>> log2m0) & ((1L << l0) - 1)).toInt
    val b = b0 + ((fpFull & ((1 << level) - 1)) * m0)
    (b.toLong << 32) | (fpFull >>> level).toLong
  }

  @inline private def appendPair(p: Long): Unit = {
    if (numPairs == pairs.length) {
      val grown = new Array[Long](pairs.length * 2)
      System.arraycopy(pairs, 0, grown, 0, numPairs)
      pairs = grown
    }
    pairs(numPairs) = p
    numPairs += 1
  }

  def insertHash(h: Hash128.H): Unit = {
    var i = 0
    while (i < k) {
      val p = pairOf(h, i)
      appendPair(p)
      counts((p >>> 32).toInt) += 1
      i += 1
    }
    n += 1
    normalize()
  }

  def insert(key: String): Unit = insertHash(Hash128.hashString(key, seed))
  def insert(key: Array[Byte]): Unit = insertHash(Hash128.hashBytes(key, seed))
  def insert(key: Long): Unit = insertHash(Hash128.hashLong(key, seed))

  def mightContainHash(h: Hash128.H): Boolean = {
    var i = 0
    while (i < k) {
      if (counts(bucketOf(h, i)) == 0) return false
      i += 1
    }
    true
  }

  def mightContain(key: String): Boolean = mightContainHash(Hash128.hashString(key, seed))
  def mightContain(key: Array[Byte]): Boolean = mightContainHash(Hash128.hashBytes(key, seed))
  def mightContain(key: Long): Boolean = mightContainHash(Hash128.hashLong(key, seed))

  /** Expand to the load threshold's target level — the
    * content-determined normal form that makes merge associative.
    * Routes every fingerprint in ONE pass regardless of the level gap. */
  private def normalize(): Unit = {
    var target = level
    while (target < maxLevel && n * alphaDen > alphaNum.toLong * (m0.toLong << target)) target += 1
    if (target > level) expandTo(target)
  }

  /** Double the bucket array; route each fingerprint by its low bit. */
  def expand(): Unit = expandTo(level + 1)

  /** Single-pass expansion to `target`: pair (b, f) at level L maps to
    * (b + (f & (2^gap - 1)) * m, f >>> gap), gap = target - L. */
  def expandTo(target: Int): Unit = {
    require(target > level, s"target $target must exceed level $level")
    require(target <= maxLevel,
      s"cannot expand past level $maxLevel (fingerprint or address space exhausted)")
    val gap = target - level
    val m = numBuckets.toLong
    val mask = (1L << gap) - 1
    val newCounts = new Array[Int]((m0 << target).toInt)
    var i = 0
    while (i < numPairs) {
      val p = pairs(i)
      val b = p >>> 32
      val f = p & 0xffffffffL
      val nb = b + (f & mask) * m
      pairs(i) = (nb << 32) | (f >>> gap)
      newCounts(nb.toInt) += 1
      i += 1
    }
    counts = newCounts
    level = target
  }

  /** Halve the bucket array; fingerprints regain their routing bit.
    * Exact inverse of [[expand]] on the fingerprint multiset. */
  def compress(): Unit = {
    require(level > 0, "cannot compress below level 0")
    val half = numBuckets / 2
    val newCounts = new Array[Int](half)
    var i = 0
    while (i < numPairs) {
      val p = pairs(i)
      val b = (p >>> 32).toInt
      val f = p & 0xffffffffL
      val t = if (b >= half) 1L else 0L
      val nb = b - t * half
      pairs(i) = (nb.toLong << 32) | ((f << 1) | t)
      newCounts(nb.toInt) += 1
      i += 1
    }
    counts = newCounts
    level -= 1
  }

  /** Remove one inserted key (O(pairs) scan; local post-merge use only —
    * NOT merge-safe across partitions). Returns false and leaves the
    * filter unchanged if the key's fingerprints are not all present. */
  def delete(key: String): Boolean = deleteHash(Hash128.hashString(key, seed))
  def delete(key: Long): Boolean = deleteHash(Hash128.hashLong(key, seed))

  def deleteHash(h: Hash128.H): Boolean = {
    // targets (with multiplicity: two hash fns can produce the same pair)
    val targets = new Array[Long](k)
    var i = 0
    while (i < k) { targets(i) = pairOf(h, i); i += 1 }
    deleteTargets(targets)
  }

  /** Exact multiset delete: verify all targets present, then remove. */
  private def deleteTargets(targets: Array[Long]): Boolean = {
    val need = new java.util.HashMap[java.lang.Long, Integer]()
    var i = 0
    while (i < targets.length) {
      need.merge(targets(i), Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
      i += 1
    }
    // count available occurrences
    val have = new java.util.HashMap[java.lang.Long, Integer]()
    var j = 0
    while (j < numPairs) {
      val p = pairs(j)
      if (need.containsKey(p))
        have.merge(p, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
      j += 1
    }
    val it = need.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val avail = have.get(e.getKey)
      if (avail == null || avail < e.getValue) return false
    }
    // remove one occurrence per target instance
    val remaining = new java.util.HashMap[java.lang.Long, Integer](need)
    val idxs = new Array[Int](targets.length)
    var nIdx = 0
    j = 0
    while (j < numPairs && nIdx < targets.length) {
      val p = pairs(j)
      val r = remaining.get(p)
      if (r != null && r > 0) {
        remaining.put(p, Integer.valueOf(r - 1))
        idxs(nIdx) = j
        nIdx += 1
      }
      j += 1
    }
    removeIndexes(idxs, nIdx)
    n -= 1
    true
  }

  /** Remove pairs at the given (ascending) indexes by back-filling. */
  private def removeIndexes(idxs: Array[Int], count: Int): Unit = {
    // process from the highest index so swaps don't disturb lower ones
    val sorted = java.util.Arrays.copyOf(idxs, count)
    java.util.Arrays.sort(sorted)
    var i = count - 1
    while (i >= 0) {
      val idx = sorted(i)
      counts((pairs(idx) >>> 32).toInt) -= 1
      pairs(idx) = pairs(numPairs - 1)
      numPairs -= 1
      i -= 1
    }
  }

  /** In-place merge: align levels upward (one pass each), concatenate
    * pair arrays, add counts, re-normalize. Associative and commutative
    * (see class doc). */
  def merge(other: Ebf): Ebf = {
    require(m0 == other.m0 && k == other.k && l0 == other.l0 &&
      alphaNum == other.alphaNum && alphaDen == other.alphaDen && seed == other.seed,
      "cannot merge EBFs with different parameters")
    if (level < other.level) expandTo(other.level)
    if (other.level < level) other.expandTo(level)
    // append pairs
    if (numPairs + other.numPairs > pairs.length) {
      val grown = new Array[Long](math.max(pairs.length * 2, numPairs + other.numPairs))
      System.arraycopy(pairs, 0, grown, 0, numPairs)
      pairs = grown
    }
    System.arraycopy(other.pairs, 0, pairs, numPairs, other.numPairs)
    numPairs += other.numPairs
    var b = 0
    val m = numBuckets
    while (b < m) { counts(b) += other.counts(b); b += 1 }
    n += other.n
    normalize()
    this
  }

  def bitsSet: Int = {
    var s = 0
    var i = 0
    while (i < numBuckets) { if (counts(i) > 0) s += 1; i += 1 }
    s
  }

  /** One-sided FPR bound at the current load: (1 - e^(-k n / m))^k. */
  def fprBound: Double =
    math.pow(1.0 - math.exp(-k.toDouble * n / numBuckets), k.toDouble)

  /** Canonical serialization: pairs in (bucket asc, fp asc) order;
    * counts as varints, fingerprints bit-packed at the current width.
    * Byte-identical for equal content. Written into one exactly-sized
    * array ([[sizeBytes]]). */
  def toBytes: Array[Byte] = {
    val cost = countsCost
    val out = new Array[Byte](Ebf.HeaderBytes + cost.bytes + fpBytes)
    val hdr = ByteBuffer.wrap(out)
    hdr.putInt(Ebf.MAGIC)
    hdr.putInt(m0); hdr.putInt(k); hdr.putInt(l0); hdr.putInt(level)
    hdr.putInt(alphaNum); hdr.putInt(alphaDen)
    hdr.putLong(seed); hdr.putLong(n)
    hdr.put((if (cost.sparseMode) 1 else 0).toByte)
    val pos = writeCounts(out, Ebf.HeaderBytes, cost)
    if (fpWidth > 0) writeFingerprints(out, pos)
    out
  }

  /** Exact length of [[toBytes]], computed without serializing. */
  def sizeBytes: Int = Ebf.HeaderBytes + countsCost.bytes + fpBytes

  /** Bit-packed fingerprint section length: ceil(numPairs * w / 8). */
  private def fpBytes: Int = ((numPairs.toLong * fpWidth + 7) / 8).toInt

  /** Counts section: dense varints, or a sparse (nnz, then
    * index-delta/count pairs) list when that is byte-cheaper. The web's
    * long tail makes most per-host filters nearly empty, where the
    * dense form pays one byte per EMPTY bucket (1 KiB at m0=1024);
    * sparse costs ~2 bytes per occupied bucket. The representation is
    * chosen by exact byte cost — a pure function of content — so equal
    * filters serialize identically under any merge ordering. */
  private def countsCost: Ebf.CountsCost = {
    val m = numBuckets
    var dense = 0
    var sparse = 0
    var nnz = 0
    var prev = -1
    var b = 0
    while (b < m) {
      val c = counts(b)
      dense += Ebf.varintLen(c)
      if (c != 0) {
        nnz += 1
        sparse += Ebf.varintLen(b - prev - 1) + Ebf.varintLen(c)
        prev = b
      }
      b += 1
    }
    new Ebf.CountsCost(dense, sparse + Ebf.varintLen(nnz), nnz)
  }

  /** Writes the counts section at `pos0`; returns the position after it. */
  private def writeCounts(out: Array[Byte], pos0: Int, cost: Ebf.CountsCost): Int = {
    val m = numBuckets
    var pos = pos0
    var b = 0
    if (cost.sparseMode) {
      pos = Ebf.putVarInt(out, pos, cost.nnz)
      var prev = -1
      while (b < m) {
        val c = counts(b)
        if (c != 0) {
          pos = Ebf.putVarInt(out, pos, b - prev - 1)
          pos = Ebf.putVarInt(out, pos, c)
          prev = b
        }
        b += 1
      }
    } else {
      while (b < m) { pos = Ebf.putVarInt(out, pos, counts(b)); b += 1 }
    }
    pos
  }

  /** Bit-packs the fingerprints at `pos0` in (bucket, fp) order. The
    * counts give each bucket's offset, so fingerprints are scattered
    * into place by bucket and only each bucket's run (almost always 0-3
    * entries) is sorted. */
  private def writeFingerprints(out: Array[Byte], pos0: Int): Unit = {
    val m = numBuckets
    val w = fpWidth
    val end = new Array[Int](m) // bucket b's next free slot, then its end
    var off = 0
    var b = 0
    while (b < m) { end(b) = off; off += counts(b); b += 1 }
    val fps = new Array[Int](numPairs)
    var i = 0
    while (i < numPairs) {
      val p = pairs(i)
      val bk = (p >>> 32).toInt
      fps(end(bk)) = p.toInt
      end(bk) += 1
      i += 1
    }
    var from = 0
    b = 0
    while (b < m) {
      val to = end(b)
      if (to - from > 1) java.util.Arrays.sort(fps, from, to)
      from = to
      b += 1
    }
    val mask = (1L << w) - 1
    var pos = pos0
    var acc = 0L
    var accBits = 0
    i = 0
    while (i < numPairs) {
      acc |= (fps(i) & mask) << accBits
      accBits += w
      while (accBits >= 8) {
        out(pos) = acc.toByte
        pos += 1
        acc >>>= 8
        accBits -= 8
      }
      i += 1
    }
    if (accBits > 0) out(pos) = acc.toByte
  }

  def copyOf: Ebf = Ebf.fromBytes(toBytes)

  private[core] def loadBytes(bytes: Array[Byte]): Unit = {
    val in = ByteBuffer.wrap(bytes)
    val magic = in.getInt()
    require(magic == Ebf.MAGIC, f"bad EBF magic 0x$magic%08x")
    m0 = in.getInt(); k = in.getInt(); l0 = in.getInt(); level = in.getInt()
    alphaNum = in.getInt(); alphaDen = in.getInt()
    seed = in.getLong(); n = in.getLong()
    val m = m0 << level
    counts = new Array[Int](m)
    var total = 0
    val mode = in.get()
    var b = 0
    if (mode == 1.toByte) {
      val nnz = Ebf.readVarInt(in)
      var prev = -1
      var e = 0
      while (e < nnz) {
        val bkt = prev + 1 + Ebf.readVarInt(in)
        counts(bkt) = Ebf.readVarInt(in)
        total += counts(bkt)
        prev = bkt
        e += 1
      }
    } else {
      require(mode == 0.toByte, s"bad EBF wire mode $mode")
      while (b < m) { counts(b) = Ebf.readVarInt(in); total += counts(b); b += 1 }
    }
    pairs = new Array[Long](math.max(64, total))
    numPairs = total
    val w = l0 - level
    var acc = 0L
    var accBits = 0
    var idx = 0
    b = 0
    while (b < m) {
      val c = counts(b)
      var j = 0
      while (j < c) {
        var f = 0L
        if (w > 0) {
          while (accBits < w) {
            acc |= (in.get() & 0xffL) << accBits
            accBits += 8
          }
          f = acc & ((1L << w) - 1)
          acc >>>= w
          accBits -= w
        }
        pairs(idx) = (b.toLong << 32) | f
        idx += 1
        j += 1
      }
      b += 1
    }
  }
}

object Ebf {
  val MAGIC: Int = 0x45424632 // "EBF2" — v2 wire format (mode byte +
  // optional sparse counts section); v1 bytes fail the magic check
  // loudly instead of being misparsed

  // Defaults: ~10 buckets/key at threshold (alpha = 1/8), k = 5
  // => bound FPR (1 - e^(-5/8))^5 ~= 2.2e-2 worst-case right at the
  // threshold, dropping after each expansion. l0 = 16 allows 16
  // doublings (m0 * 65536 buckets).
  val DefaultM0 = 1024
  val DefaultK = 5
  val DefaultL0 = 16
  val DefaultAlphaNum = 1
  val DefaultAlphaDen = 8
  val DefaultSeed = 42L

  def empty(m0: Int = DefaultM0, k: Int = DefaultK, l0: Int = DefaultL0,
            alphaNum: Int = DefaultAlphaNum, alphaDen: Int = DefaultAlphaDen,
            seed: Long = DefaultSeed): Ebf =
    new Ebf(m0, k, l0, alphaNum, alphaDen, seed)

  def fromBytes(bytes: Array[Byte]): Ebf = {
    val e = new Ebf(1, 1, 0, 1, 8, 0L)
    e.loadBytes(bytes)
    e
  }

  /** Fixed header: magic, six int params, seed, n, then the mode byte. */
  private val HeaderBytes = 4 + 6 * 4 + 2 * 8 + 1

  /** Byte costs of the two counts-section forms, and the sparse
    * form's nonzero-bucket count. */
  private final class CountsCost(dense: Int, sparse: Int, val nnz: Int) {
    def sparseMode: Boolean = sparse < dense
    def bytes: Int = math.min(dense, sparse)
  }

  private def varintLen(v0: Int): Int = {
    var v = v0
    var len = 1
    while ((v & ~0x7f) != 0) { v >>>= 7; len += 1 }
    len
  }

  /** Writes `v0` as an unsigned LEB128 varint at `pos`; returns the
    * position after it. */
  private def putVarInt(out: Array[Byte], pos0: Int, v0: Int): Int = {
    var v = v0
    var pos = pos0
    while ((v & ~0x7f) != 0) { out(pos) = ((v & 0x7f) | 0x80).toByte; pos += 1; v >>>= 7 }
    out(pos) = v.toByte
    pos + 1
  }

  private[core] def readVarInt(in: ByteBuffer): Int = {
    var v = 0
    var shift = 0
    var b = in.get()
    while ((b & 0x80) != 0) {
      v |= (b & 0x7f) << shift
      shift += 7
      b = in.get()
    }
    v | ((b & 0x7f) << shift)
  }
}
