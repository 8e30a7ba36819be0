package dedupbench

import dedup._

/** Per-core rates of the hot kernels: one thread, no Spark, inputs drawn
  * from the workload before timing. Each kernel is warmed for
  * [[WarmNs]], then timed over [[Reps]] windows of whole passes; the rate
  * is the median window's. */
object Kernels {
  val WarmNs = 300L * 1000 * 1000
  val WindowNs = 200L * 1000 * 1000
  val Reps = 3

  /** Keeps results observable so the JIT cannot drop the work. */
  @volatile var sink = 0L

  /** Runs `pass` (which does `units` of work) repeatedly; units per second. */
  def rate(units: Double)(pass: => Long): Double = {
    var acc = 0L
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < WarmNs) acc ^= pass
    val rates = (0 until Reps).map { _ =>
      var n = 0
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < WindowNs) { acc ^= pass; n += 1; t = System.nanoTime() }
      units * n / ((t - t0) / 1e9)
    }.sorted
    sink ^= acc
    rates(Reps / 2)
  }

  /** `texts`: sample page texts; `pairs`: sample candidate pairs as shingle
    * sets. Returns the six `kernel.*` rates. */
  def measure(texts: Array[String], pairs: Array[(Array[Int], Array[Int])],
      cfg: DedupConfig): Seq[(String, Double)] = {
    val mb = texts.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum / 1e6
    val sets = texts.map(TextNorm.shingleHashes(_, cfg.ngram, cfg.minLength)).filter(_.nonEmpty)
    val (a, b) = Hashes.permutations(cfg.numPerm, cfg.seed)
    val sigs = sets.map(Lsh.signature(_, a, b))
    val (nBands, rows) = cfg.bandsRows
    val scratch = new Array[Byte](rows * 4)
    val shingleMbps = rate(mb) {
      var h = 0L
      texts.foreach(t => h += TextNorm.shingleHashes(t, cfg.ngram, cfg.minLength).length)
      h
    }
    val lanes = sets.map(_.length.toLong).sum.toDouble * cfg.numPerm
    val minhash = rate(lanes) {
      var h = 0L
      sets.foreach(s => h += Lsh.signature(s, a, b)(0))
      h
    }
    val xxhMb = sigs.length.toDouble * nBands * rows * 4 / 1e6
    val xxh = rate(xxhMb) {
      var h = 0L
      sigs.foreach { s =>
        var band = 0
        while (band < nBands) {
          h ^= Hashes.xxh64Ints(s, band * rows, (band + 1) * rows, band.toLong, scratch)
          band += 1
        }
      }
      h
    }
    val jaccard = rate(pairs.length.toDouble) {
      var h = 0L
      pairs.foreach { case (x, y) => h += VerifyPairs.jaccardCounts(x, y)._1 }
      h
    }
    val simhash = rate(sets.length.toDouble) {
      var h = 0L
      sets.foreach(s => h ^= SimHash.simhash64(s, cfg.seed))
      h
    }
    val winnow = rate(mb) {
      var h = 0L
      texts.foreach(t => h += SuffixDedup.anchors(t, cfg.suffixMinRun).length)
      h
    }
    Seq(
      ("kernel.minhash_lanes_per_s", minhash),
      ("kernel.shingle_mb_per_s", shingleMbps),
      ("kernel.xxh64_mb_per_s", xxh),
      ("kernel.jaccard_pairs_per_s", jaccard),
      ("kernel.simhash_docs_per_s", simhash),
      ("kernel.winnow_mb_per_s", winnow))
  }
}
