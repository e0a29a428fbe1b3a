package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
import org.apache.spark.storage.StorageLevel
import graft.TestSpark

/** The per-trigger skeleton the five dedup probes share: the loan pins
  * the batch for exactly the probe's lifetime, gates on one count, and
  * the codec stage decodes (ts, doc_id, payload) rows map-side. */
class ProbeStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def batch(n: Int) = {
    import spark.implicits._
    (1L to n.toLong).toDF("doc_id")
  }

  test("loan pins the batch for the probe and releases it on return") {
    val b = batch(5)
    val seen = ProbeStream.loan(b, broadcastRowLimit = 10L) { (p, _) =>
      assert(p.storageLevel != StorageLevel.NONE,
        "the probe must see its batch persisted")
      p.collect().length
    }
    assert(seen == 5)
    assert(b.storageLevel == StorageLevel.NONE,
      "the loan left its batch in the CacheManager")
  }

  test("loan releases the pinned batch when the probe throws") {
    val b = batch(5)
    val ex = intercept[IllegalStateException] {
      ProbeStream.loan(b, broadcastRowLimit = 10L) { (p, _) =>
        assert(p.storageLevel != StorageLevel.NONE)
        throw new IllegalStateException("probe failed")
      }
    }
    assert(ex.getMessage == "probe failed")
    assert(b.storageLevel == StorageLevel.NONE,
      "a failed probe left its batch in the CacheManager")
  }

  test("loan gates on the batch count: broadcast at or below the limit, identity above") {
    val b = batch(5)
    def broadcastHinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst {
        case h: ResolvedHint => h.hints.strategy
      }.flatten.contains(BROADCAST)
    val (small, hinted) = ProbeStream.loan(b, broadcastRowLimit = 5L) {
      (p, g) =>
        assert(g.rows == 5L)
        (g.small, broadcastHinted(g.hint(p)))
    }
    assert(small && hinted, s"small=$small hinted=$hinted at the limit")
    val (bigSmall, same) = ProbeStream.loan(b, broadcastRowLimit = 4L) {
      (p, g) =>
        assert(g.rows == 5L)
        (g.small, g.hint(p) eq p)
    }
    assert(!bigSmall && same,
      "above the limit the gate must fall through to the planner unhinted")
  }

  test("decoded maps (ts, doc_id, payload) rows to (ts, in_id, sig), init once per partition") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1700000000000L)
    val rows = Seq((1L, "ab", "x"), (2L, "cde", "y"), (3L, "", "z"),
      (4L, "fghi", "w"))
    val microbatch = spark.sparkContext
      .parallelize(rows.map { case (id, p, e) =>
        (id, p.getBytes("UTF-8"), ts, e) }, 3)
      .toDF("doc_id", "payload", "ts", "extra")
    val inits = spark.sparkContext.longAccumulator("probe-decode-init")
    val out = ProbeStream.decoded(spark, microbatch,
      init = () => inits.add(1))(bytes => new String(bytes, "UTF-8").length)
    assert(out.columns.toSeq == Seq("ts", "in_id", "sig"))
    val got = out.collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == rows.map { case (id, p, _) => (ts, id, p.length) }.toSet)
    assert(inits.value == 3L, s"init ran ${inits.value} times over 3 partitions")
  }
}
