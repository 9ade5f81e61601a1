package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: find corpus documents that share at least
  * one exact n-token shingle with any document of a (small) benchmark /
  * eval set — the standard train-test contamination sweep a training-
  * data pipeline runs before every corpus release.
  *
  * Shape: contamination is an EQUI-join on the shingle string. The
  * benchmark side is tiny by definition (eval sets are thousands of
  * docs, the corpus is billions), so its distinct shingle set is
  * broadcast; corpus shingling is map-only (tokenize -> sliding window)
  * and streams raw shingle occurrences, repeats included, into the
  * join; per-doc dedup runs after the join as `countDistinct(shingle)`,
  * whose map-side partial dedups the survivors. The only shuffle is the
  * pair-count groupBy, bounded by the number of (contaminated doc,
  * benchmark doc, shared shingle) triples — i.e. by actual
  * contamination, not corpus size.
  * At 100 TB the broadcast carries the shingle strings themselves; if
  * the benchmark's shingle set outgrows the broadcast budget, probe
  * corpus shingles through an EBF of the benchmark shingles first
  * (`ebf_might_contain`) and equi-join only the survivors — same
  * two-tier pattern as the sharded join-prune rule.
  *
  * Tokenization: lowercase, split on runs of whitespace (after trim);
  * documents shorter than n tokens produce no shingles. `n_shared`
  * counts DISTINCT shared shingles per document pair, so
  * `n_shared == n_bench_shingles` means the benchmark doc's shingle
  * set is fully contained in the corpus doc — a graded
  * contamination score falls out as n_shared / n_bench_shingles.
  */
object Decontaminate {

  /** Distinct n-token shingles per document: (idCol, shingle). */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    rawShingles(df, idCol, textCol, n).distinct()

  /** All n-token shingle occurrences per document, repeats included —
    * the map-only stream the contamination joins consume. Deduping this
    * stream costs a full shuffle of every corpus shingle; the joins
    * instead dedup AFTER the (broadcast/EBF-pruned) match, where only
    * contamination-sized survivors remain. */
  private def rawShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, "shingle size must be positive")
    df.select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("__toks"))
      .filter(size(col("__toks")) >= n)
      // sequence(1, size-n+1) is always ascending here (guarded by the
      // size filter — Spark's sequence(1, 0) would run DESCENDING)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, size(__toks) - ${n - 1}), i -> concat_ws(' ', slice(__toks, i, $n)))"))
        .as("shingle"))
  }

  /** Contaminated (corpus doc, benchmark doc) pairs with shared-shingle
    * counts: (corpusId, benchId, n_shared, n_bench_shingles). A corpus
    * doc appears once per benchmark doc it shares >= 1 shingle with.
    * Column names of the two id columns must differ. */
  def contaminatedPairs(corpus: DataFrame, corpusId: String,
                        benchmark: DataFrame, benchId: String,
                        textCol: String, n: Int): DataFrame = {
    require(corpusId != benchId,
      s"corpus and benchmark id columns must differ (both '$corpusId')")
    // Corpus shingles flow repeats-and-all into the broadcast join;
    // per-doc dedup runs on the join survivors (count DISTINCT, whose
    // map-side partial dedups before the exchange), so the one shuffle
    // carries matched triples — actual contamination — instead of
    // every distinct corpus shingle.
    val cs = rawShingles(corpus, corpusId, textCol, n)
    val bs = shingleSet(benchmark, benchId, textCol, n)
    val bTot = bs.groupBy(benchId).agg(count(lit(1)).as("n_bench_shingles"))
    cs.join(broadcast(bs), "shingle")
      .groupBy(corpusId, benchId)
      .agg(countDistinct(col("shingle")).as("n_shared"))
      .join(broadcast(bTot), benchId)
      .select(col(corpusId), col(benchId), col("n_shared"), col("n_bench_shingles"))
  }

  /** The 100 TB form: identical result to [[contaminatedPairs]], with
    * the corpus shingle stream pre-filtered through an EBF of the
    * benchmark shingles BEFORE the join (map-only, inside codegen —
    * [[graft.pipeline.JoinPrune]]). Exactness is inherited from the
    * EBF's no-false-negative guarantee: no shared shingle can be
    * dropped, and a false positive only lets a doomed shingle reach
    * the exact string equi-join, where it dies as before. Use when the
    * benchmark shingle STRINGS outgrow the broadcast budget: the
    * sketch is ~16 bytes/shingle instead of the full text, and the
    * surviving corpus shingles are a contamination-sized trickle, so
    * the join's fact side shrinks from |corpus shingles| to roughly
    * |contaminated shingles| / (1 - fpr).
    *
    * Unlike the plain path, the exact join here carries NO broadcast
    * hint: at the scale where this path matters, the benchmark shingle
    * strings are exactly what does not fit a broadcast, while the
    * pruned fact side is contamination-sized — AQE sees both runtime
    * sizes and picks the join direction itself (usually broadcasting
    * the pruned side), instead of a hint forcing the wrong one. */
  def contaminatedPairsViaEbf(corpus: DataFrame, corpusId: String,
                              benchmark: DataFrame, benchId: String,
                              textCol: String, n: Int): DataFrame = {
    require(corpusId != benchId,
      s"corpus and benchmark id columns must differ (both '$corpusId')")
    // Same repeats-through-the-filter shape as the plain path: the EBF
    // probe is map-only, so probing duplicate occurrences is far
    // cheaper than the corpus-wide distinct shuffle it replaces; the
    // count-DISTINCT dedups the contamination-sized survivors.
    val cs = rawShingles(corpus, corpusId, textCol, n)
    val bs = shingleSet(benchmark, benchId, textCol, n)
    val pruned = graft.pipeline.JoinPrune.prunedFact(
      cs, cs("shingle"), graft.pipeline.JoinPrune.buildFilter(bs, bs("shingle")))
    val bTot = bs.groupBy(benchId).agg(count(lit(1)).as("n_bench_shingles"))
    pruned.join(bs, "shingle")
      .groupBy(corpusId, benchId)
      .agg(countDistinct(col("shingle")).as("n_shared"))
      .join(bTot, benchId)
      .select(col(corpusId), col(benchId), col("n_shared"), col("n_bench_shingles"))
  }

  /** O75: edit-robust decontamination via winnowing fingerprints
    * ([[graft.functions.TextFunctions.winnowFingerprints]]) — corpus
    * docs sharing winnowed fingerprints with any benchmark doc.
    *
    * What this catches that the exact token-shingle sweep cannot: the
    * fingerprint normalization strips case, whitespace and punctuation
    * entirely, so a benchmark passage that was reflowed, re-cased or
    * re-punctuated in the corpus still matches (the token shingles are
    * verbatim token runs and find NOTHING under those edits), with the
    * winnowing guarantee bounding granularity: any shared normalized
    * substring of w+k-1 chars yields a shared fingerprint. Same
    * broadcast shape as the shingle path — an eval set's fingerprint
    * set is tiny by definition — and ~2/(w+1) of the gram hashes ride
    * the join instead of every shingle string. */
  def contaminatedPairsViaWinnow(corpus: DataFrame, corpusId: String,
                                 benchmark: DataFrame, benchId: String,
                                 textCol: String,
                                 k: Int = 16, w: Int = 8): DataFrame = {
    require(corpusId != benchId,
      s"corpus and benchmark id columns must differ (both '$corpusId')")
    val fpsOf = (t: org.apache.spark.sql.Column) =>
      graft.plans.WinnowFpExpr.column(t, k, w) // native; kernel-identical
    val cf = corpus.select(col(corpusId), explode(fpsOf(col(textCol))).as("fp"))
    val bf = benchmark.select(col(benchId), explode(fpsOf(col(textCol))).as("fp"))
    val bTot = bf.groupBy(benchId).agg(count(lit(1)).as("n_bench_fps"))
    cf.join(broadcast(bf), "fp")
      .groupBy(corpusId, benchId)
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(bTot), benchId)
      .select(col(corpusId), col(benchId), col("n_shared"), col("n_bench_fps"))
  }
}
