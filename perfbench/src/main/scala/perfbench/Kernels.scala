package perfbench

import graft.core._
import graft.functions.Graft

/** Single-thread `core` kernel rates in the Spark driver, over keys and texts
  * taken from the workload's own input. Each kernel runs once untimed
  * (JIT) and is then timed over a fixed amount of work. */
object Kernels {

  /** A value derived from a kernel result, summed so the JIT cannot
    * drop the call. */
  @volatile private var sink = 0L

  private def rate(work: Double)(f: => Unit): Double = {
    f
    val t0 = System.nanoTime()
    f
    work / ((System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: Ctx, keys: Array[String], texts: Array[String]): Unit = {
    require(keys.nonEmpty && texts.nonEmpty, "kernel inputs are empty")
    val seed = Graft.SketchSeed
    val n = if (ctx.args.tiny) 100000 else 500000
    val ks = Array.tabulate(n)(i => keys(i % keys.length))
    val others = Array.tabulate(n)(i => keys(i % keys.length) + "#absent")
    val vals = Array.tabulate(n)(i => texts(i % texts.length).length.toDouble + (i % 97) * 1e-3)
    val tokens = texts.iterator.map(t => t.split(' ').count(_.nonEmpty).toLong).sum.toDouble
    val r = ctx.report

    def time(name: String)(v: => Double): Unit = ctx.tracer.span(s"core.$name")(v) match {
      case (x, _) => r.set(s"core.$name", x)
    }

    time("hash128.mops")(rate(n / 1e6) {
      var i = 0; var acc = 0L
      while (i < n) { acc ^= Hash128.hashString(ks(i), seed).h1; i += 1 }
      sink += acc
    })
    def filled(): Ebf = {
      val e = Ebf.empty(4096, 5, 16, 1, 8, seed)
      var i = 0
      while (i < n) { e.insert(ks(i)); i += 1 }
      e
    }
    time("ebf.insert_mops")(rate(n / 1e6) { sink += filled().n })
    time("hll.update_mops")(rate(n / 1e6) {
      val h = Hll.empty(Hll.DefaultP, seed)
      var i = 0
      while (i < n) { h.add(ks(i)); i += 1 }
      sink += h.estimate
    })
    time("kll.update_mops")(rate(n / 1e6) {
      val k = Kll.empty()
      var i = 0
      while (i < n) { k.add(vals(i)); i += 1 }
      sink += k.quantile(0.5).toLong
    })
    time("tdigest.update_mops")(rate(n / 1e6) {
      val t = TDigest.empty()
      var i = 0
      while (i < n) { t.add(vals(i)); i += 1 }
      sink += t.quantile(0.5).toLong
    })
    time("cms.tokens_mops")(rate(tokens / 1e6) {
      val c = Cms.empty()
      texts.foreach(c.addTextTokens)
      sink += c.total
    })
    time("freq.tokens_mops")(rate(tokens / 1e6) {
      val f = FreqSketch.empty()
      texts.foreach(f.addTextTokens)
      sink += f.numTracked
    })
    val e = filled()
    time("ebf.probe_member_mops")(rate(n / 1e6) {
      var i = 0; var hits = 0L
      while (i < n) { if (e.mightContain(ks(i))) hits += 1; i += 1 }
      sink += hits
    })
    time("ebf.probe_nonmember_mops")(rate(n / 1e6) {
      var i = 0; var hits = 0L
      while (i < n) { if (e.mightContain(others(i))) hits += 1; i += 1 }
      sink += hits
    })
    val bytes = e.toBytes
    val mb = bytes.length / 1e6
    time("ebf.to_bytes_mb_s")(rate(mb) { sink += e.toBytes.length })
    time("ebf.from_bytes_mb_s")(rate(mb) { sink += Ebf.fromBytes(bytes).n })
    // each merge consumes a fresh pair of copies, decoded outside the timing
    val copies = Array.fill(4)(Ebf.fromBytes(bytes))
    var c = 0
    time("ebf.merge_mb_s")(rate(2 * mb) {
      sink += copies(c).merge(copies(c + 1)).n
      c += 2
    })
  }
}
