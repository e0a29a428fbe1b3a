package graft.tools

import graft.operators.DedupOps

/** Scratch measurement harness (test scope, not shipped): empirically pins
  * the SimHash banding design point. For the true near-dup pairs (exact
  * Jaccard >= 0.8) in the synthetic corpus, measures hamming distance of
  * seeded 64-bit SimHashes and per-band exact-match rates at several band
  * widths, plus the same stats for random (non-dup) pairs — the two
  * numbers that decide band width w and band count B.
  */
object SimhashExplore {
  def mix(h: Long, seed: Long): Long = {
    var z = h + (seed + 1) * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def simhash(hs: Array[Long], seed: Long): Long = {
    val counts = new Array[Int](64)
    var i = 0
    while (i < hs.length) {
      val h = mix(hs(i), seed)
      var j = 0
      while (j < 64) { if (((h >>> j) & 1L) == 1L) counts(j) += 1; j += 1 }
      i += 1
    }
    var s = 0L
    var j = 0
    while (j < 64) { if (2 * counts(j) > hs.length) s |= (1L << j); j += 1 }
    s
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(8, "ERROR")
    val nSeeds = 8 // 512 signature bits available for analysis

    for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      println(s"=== $sf ===")
      val docs = DedupOps.docHashes(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
      val sigs: Map[Long, Array[Long]] =
        docs.map { case (id, hs) => id -> Array.tabulate(nSeeds)(s => simhash(hs, s.toLong)) }
      val truePairs = DedupOps.queries("q_ngram_jaccard")(spark, sf)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      println(s"docs=${docs.size} truePairs=${truePairs.length} " +
        s"avgShingles=${docs.values.map(_.length).sum / docs.size}")

      def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
      def pairStats(pairs: Seq[(Long, Long)], label: String): Unit = {
        if (pairs.isEmpty) { println(s"$label: none"); return }
        val hams = pairs.map { case (a, b) =>
          (0 until nSeeds).map(s => hamming(sigs(a)(s), sigs(b)(s))).sum
        }
        println(f"$label%-8s n=${pairs.size}%-6d hamming/512: min=${hams.min} " +
          f"mean=${hams.sum.toDouble / hams.size}%.1f max=${hams.max} " +
          f"perBitFlip=${hams.sum.toDouble / hams.size / (64 * nSeeds)}%.4f")
        // per-band exact-match counts at widths 8 and 16 bits
        for (w <- Seq(8, 16)) {
          val bandsPerWord = 64 / w
          val mask = if (w == 64) -1L else (1L << w) - 1
          val matches = pairs.map { case (a, b) =>
            (0 until nSeeds).map { s =>
              (0 until bandsPerWord).count { k =>
                ((sigs(a)(s) >>> (k * w)) & mask) == ((sigs(b)(s) >>> (k * w)) & mask)
              }
            }.sum
          }
          val totalBands = nSeeds * bandsPerWord
          println(f"  w=$w%-3d bands=$totalBands matchedBands: min=${matches.min} " +
            f"mean=${matches.sum.toDouble / matches.size}%.2f " +
            f"zeroMatchPairs=${matches.count(_ == 0)}")
        }
      }
      pairStats(truePairs.toSeq, "TRUE")
      // random background pairs
      val ids = docs.keys.toArray.sorted
      val rng = new scala.util.Random(42)
      val rand = (1 to 5000).map { _ =>
        val a = ids(rng.nextInt(ids.length)); val b = ids(rng.nextInt(ids.length))
        if (a < b) (a, b) else (b, a)
      }.filter(p => p._1 != p._2).distinct
      pairStats(rand, "RANDOM")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
