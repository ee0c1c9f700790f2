package graft.tools

/** Zipfian-vocabulary document text for specs that need a realistic
  * vocabulary: token frequencies follow a Zipf law over V = 50,000
  * types (s = 1.07, the exponent measured on web text — Piantadosi
  * 2014's survey value), so most postings lists are short and most
  * phrase probes miss, unlike a small fixed vocabulary where every
  * query term matches every document.
  *
  *   - text is a PURE FUNCTION of doc_id (splittable xorshift seeding)
  *     — regeneration is deterministic across partitionings and runs;
  *   - ranks map to words by bijective base-26, so head words are
  *     short and tail words long, like a real lexicon;
  *   - doc lengths are exponential with mean ~130 tokens (min 30);
  *   - the first 5 ids of every 50-block form a NEAR-DUP FAMILY: they
  *     share the block's base text with 5% per-token mutations —
  *     C(5,2) = 10 candidate pairs per 50 docs, so pair mass is
  *     LINEAR in docs (pairs/doc ≈ 0.2) like a curated corpus.
  */
object ZipfCorpus {
  final val Vocab = 50000
  final val ZipfS = 1.07

  /** Normalized cumulative Zipf mass over ranks 0..V-1 (computed once
    * per JVM; pure). */
  private lazy val cum: Array[Double] = {
    val w = Array.tabulate(Vocab)(i => 1.0 / math.pow(i + 1.0, ZipfS))
    val c = new Array[Double](Vocab)
    var s = 0.0
    var i = 0
    while (i < Vocab) { s += w(i); c(i) = s; i += 1 }
    while (i > 0) { i -= 1; c(i) /= s }
    c
  }

  /** Bijective base-26 word for a Zipf rank: 0→"a" … 25→"z", 26→"aa";
    * 50k types span 1–4 letters, head short / tail long. */
  def word(rank: Int): String = {
    val sb = new StringBuilder
    var i = rank
    var more = true
    while (more) {
      sb += ('a' + i % 26).toChar
      i = i / 26 - 1
      more = i >= 0
    }
    sb.result()
  }

  private def zipfRank(rng: scala.util.Random): Int = {
    val u = rng.nextDouble()
    var lo = 0
    var hi = Vocab - 1
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (cum(m) < u) lo = m + 1 else hi = m
    }
    lo
  }

  private def rngFor(id: Long, salt: Long): scala.util.Random = {
    // splitmix-style scramble so adjacent ids decorrelate
    var z = id * 0x9E3779B97F4A7C15L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new scala.util.Random(z ^ (z >>> 31))
  }

  private def baseRanks(seedId: Long): Array[Int] = {
    val rng = rngFor(seedId, 0x21bfL)
    val len = math.min(30 + (-math.log(rng.nextDouble()) * 100).toInt, 1000)
    Array.fill(len)(zipfRank(rng))
  }

  /** The deterministic text of a document. Family members (id%50 < 5)
    * share the block's base ranks under 5% per-token mutation; member
    * 0 IS the base, so each family holds one pristine + four mutated
    * realizations. */
  def text(id: Long): String = {
    val inFamily = id % 50 < 5
    val ranks =
      if (!inFamily) baseRanks(id)
      else {
        val base = baseRanks(id - id % 50)
        if (id % 50 == 0) base
        else {
          val rng = rngFor(id, 0x37aL)
          base.map(t => if (rng.nextDouble() < 0.05) zipfRank(rng) else t)
        }
      }
    ranks.map(word).mkString(" ")
  }
}
