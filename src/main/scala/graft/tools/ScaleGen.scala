package graft.tools

import org.apache.spark.sql.functions._

/** SYNTHETIC DECADE generator for the scaling instrument (r15 verdict
  * #3): the driver ships three fixture decades (sf0.001/0.01/0.1) and
  * the candidate-exponent table's least-squares fits top out one decade
  * below where they matter — this tool extends the axis by writing a
  * `factor`-times-larger corpus DRAWN FROM THE SOURCE FIXTURE'S OWN
  * DISTRIBUTIONS (measured at generation time, never hard-coded):
  *
  *   - documents: the source vocabulary (31 words, near-uniform), the
  *     source length range, and the source's measured exact-pair rate
  *     (~n/19 planted twins at J ~0.94-1.0);
  *   - embeddings: iid unit gaussians at the source dim (the source is
  *     exactly that: per-dim std = 1/sqrt(dim), unit norms) with planted
  *     neighbors at the source's measured >=0.45-cosine pair rate
  *     (~n/14) and the source's 10-class labels;
  *   - part: fresh keys at factor x rows (the fuzzy-join fixture is
  *     id-seeded off p_partkey alone; the rest of the schema is filled
  *     plausibly);
  *   - lineitem: factor x orders, per-order item counts drawn from the
  *     SOURCE's measured order-size histogram, item keys uniform over
  *     the scaled catalog (the TPC-H distribution the source itself
  *     uses — per-part degree stays constant as both sides scale).
  *
  * What this deliberately is NOT: a replication of source rows. Exact
  * replicas would plant artificial cross-replica duplicate clusters
  * (superlinear candidate blowups the real distribution lacks), and
  * salted replicas would make every probe read exponent 1.0 BY
  * CONSTRUCTION (ten disjoint shards). Fresh id-seeded draws from the
  * measured distribution family keep the collision statistics the
  * instrument exists to measure. Generation is a pure function of
  * (table, id) via SplittableRandom(mix(id)) — re-runs are
  * bit-identical, and rows are generated distributed (spark.range),
  * never on the driver.
  *
  * Usage: runMain graft.tools.ScaleGen <srcSfDir> <outDir> [factor=10]
  */
object ScaleGen {

  /** All row-generation logic lives in this serializable value object —
    * Spark closures capture IT (primitives + plain arrays), never the
    * session or source frames. */
  private case class Gen(vocab: Array[String], langArr: Array[String],
      lenMin: Int, lenMax: Int, nDocs: Long, nEmb: Long, dim: Int)
      extends Serializable {

    def tokensOf(id: Long): Array[String] = {
      val r = new java.util.SplittableRandom(mix(id * 3 + 1))
      Array.fill(lenMin + r.nextInt(lenMax - lenMin + 1))(
        vocab(r.nextInt(vocab.length)))
    }

    // planted twins at the source's measured exact-pair rate (~n/19):
    // id % 19 == 0 copies id+5 (never itself a twin), half verbatim,
    // half with one replaced token (J stays >= ~0.9 at these lengths)
    def textOf(id: Long): String = {
      if (id % 19 == 0 && id + 5 < nDocs) {
        val t = tokensOf(id + 5)
        if (id % 38 == 0) {
          val r = new java.util.SplittableRandom(mix(id * 5 + 2))
          t(r.nextInt(t.length)) = vocab(r.nextInt(vocab.length))
        }
        t.mkString(" ")
      } else tokensOf(id).mkString(" ")
    }

    def unitGauss(seed: Long, d: Int): Array[Float] = {
      val r = new java.util.SplittableRandom(mix(seed))
      val v = Array.fill(d)(nextGaussian(r))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }

    def vecOf(id: Long): Array[Float] = {
      if (id % 14 == 0 && id + 3 < nEmb) {
        // planted neighbor of id+3 at cosine ~0.45-0.60 (the source's
        // measured planted band; id+3 % 14 != 0, never itself planted)
        val base = vecOf(id + 3)
        val r = new java.util.SplittableRandom(mix(id ^ 0x5DEECE66D1234567L))
        val t = 0.45 + 0.15 * r.nextDouble()
        // XOR stream tags, not linear forms: id*13+7 vs id*17+9 style
        // seeds COLLIDE on integer solutions (a planted vector's noise
        // then equals some base vector — measured max cosine 0.92 where
        // the source tops at 0.60); ids are < 2^21, so xor-tagged seeds
        // from different streams can never meet
        val g = unitGauss(id ^ 0x3C6EF372FE94F82AL, base.length)
        val m = base.zip(g).map { case (b, x) =>
          t * b + math.sqrt(1 - t * t) * x }
        val n = math.sqrt(m.map(x => x * x).sum)
        m.map(x => (x / n).toFloat)
      } else unitGauss(id ^ 0x9E3779B97F4A7C15L, dim)
    }
  }

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: ScaleGen <srcSfDir> <outDir> [factor]")
      sys.exit(2)
    }
    val (src, out) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local(32)
    import spark.implicits._

    // ---- measured source distributions --------------------------------
    val srcDocs = spark.read.parquet(s"$src/documents.parquet")
    val vocab = srcDocs.select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().orderBy(desc("count"), col("t"))
      .collect().map(_.getString(0))
    val lenStats = srcDocs
      .select(size(split(col("text"), " ")).as("l"))
      .agg(min("l"), max("l")).collect()(0)
    val (lenMin, lenMax) = (lenStats.getInt(0), lenStats.getInt(1))
    val nDocs = srcDocs.count() * factor
    val langs = srcDocs.groupBy("lang").count().orderBy(desc("count"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val langArr: Array[String] = langs.flatMap { case (l, c) =>
      Array.fill(math.max(1, (c * 100 / srcDocs.count()).toInt))(l) }

    val srcEmb = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = srcEmb.select(size(col("embedding"))).limit(1)
      .collect()(0).getInt(0)
    val nEmb = srcEmb.count() * factor
    // the planted-neighbor seed-collision argument above ("xor-tagged
    // seeds from different streams can never meet") holds only while ids
    // stay under 2^21 — the tag bits sit above that range. A caller-
    // chosen factor large enough to cross it would silently reintroduce
    // the exact noise-equals-base defect the tag fix documents, so fail
    // loudly at generation time (the Stress extra-dir convention).
    require(nEmb < (1L << 21),
      s"ScaleGen embedding count $nEmb >= 2^21: the xor-tag seed-" +
        "disjointness argument in vecOf no longer holds at this factor — " +
        "generate from a larger source SF instead of a larger factor")

    val srcLi = spark.read.parquet(s"$src/lineitem.parquet")
    // empirical order-size histogram -> inverse-CDF array (order sizes
    // are drawn by indexing this array uniformly)
    val sizeDraw: Array[Int] = srcLi.groupBy("l_orderkey").count()
      .groupBy(col("count").as("sz")).count()
      .orderBy("sz").collect()
      .flatMap(r => Array.fill(
        math.max(1, (r.getLong(1) / 37L).toInt))(r.getLong(0).toInt))
    val nOrders = srcLi.select("l_orderkey").distinct().count() * factor
    val nParts = spark.read.parquet(s"$src/part.parquet").count() * factor

    val gen = Gen(vocab, langArr, lenMin, lenMax, nDocs, nEmb, dim)

    // ---- documents -----------------------------------------------------
    spark.range(nDocs).map { id =>
      val txt = gen.textOf(id)
      val r = new java.util.SplittableRandom(mix(id * 7 + 3))
      (id, txt, gen.langArr(r.nextInt(gen.langArr.length)),
        s"src${r.nextInt(20)}", txt.length)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // ---- embeddings ----------------------------------------------------
    spark.range(nEmb).map { id =>
      val r = new java.util.SplittableRandom(mix(id * 19 + 11))
      (id, gen.vecOf(id), r.nextInt(10))
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // ---- part ----------------------------------------------------------
    spark.range(nParts).map { id =>
      val r = new java.util.SplittableRandom(mix(id * 23 + 13))
      val v = gen.vocab
      (id, s"${v(r.nextInt(v.length))} ${v(r.nextInt(v.length))}",
        s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}",
        v(r.nextInt(v.length)), 1 + r.nextInt(50),
        900.0 + (id % 200) + r.nextInt(100) / 100.0)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$out/part.parquet")

    // ---- lineitem ------------------------------------------------------
    val sizesArr: Array[Int] = sizeDraw
    val partsN: Long = nParts
    spark.range(nOrders).flatMap { o =>
      val r = new java.util.SplittableRandom(mix(o * 29 + 17))
      val sz = sizesArr(r.nextInt(sizesArr.length))
      val rflags = Array("A", "N", "R"); val lstat = Array("O", "F")
      (1 to sz).map { ln =>
        (o, math.floorMod(r.nextLong(), partsN),
          math.floorMod(r.nextLong(), partsN / 4 + 1), ln,
          (1 + r.nextInt(50)).toDouble,
          (900 + r.nextInt(99000)) / 100.0 * (1 + r.nextInt(50)),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          rflags(r.nextInt(3)), lstat(r.nextInt(2)),
          java.sql.Date.valueOf(java.time.LocalDate.of(1992, 1, 1)
            .plusDays(r.nextInt(2500).toLong)))
      }
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    println(s"""{"tool":"ScaleGen","src":"$src","out":"$out",""" +
      s""""factor":$factor,"docs":$nDocs,"embeddings":$nEmb,""" +
      s""""parts":$nParts,"orders":$nOrders}""")
    spark.stop()
  }

  /** Box-Muller over SplittableRandom — deterministic per seed (the JDK
    * Random.nextGaussian uses internal state this generator avoids). */
  private def nextGaussian(r: java.util.SplittableRandom): Double = {
    val u1 = math.max(r.nextDouble(), 1e-12)
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
}
