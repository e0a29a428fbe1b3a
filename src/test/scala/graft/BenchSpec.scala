package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench measurement-integrity plumbing: the prior-artifact parser that
  * drives the outlier re-measure pass (r3/r4 both recorded >3x phantom
  * readings from transient host contention; see Bench scaladoc). */
class BenchSpec extends AnyFunSuite {
  test("the summary line carries the slowest queries that fit the tail window") {
    // 171 registry-length names: the whole map cannot fit, so the line
    // keeps the slowest ones, stays under the cap and says how many
    val results = (0 until 171).map(i =>
      f"q_some_registered_query_name_$i%03d" -> (0.01 * i)) :+ ("q_failed" -> -1.0)
    val head = """{"metric":"bench_summary","total":1.0,"slowest":{}"""
    val line = Bench.summaryLine(head, ""","sf":"/x"}""", results,
      v => String.format(java.util.Locale.ROOT, "%.4f", v))
    assert(line.length <= Bench.SummaryLineChars, s"${line.length} chars")
    val m = Bench.parsePriorQueries(line)
    val n = """"queries_n":(\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
    assert(m.size == n && n > 10 && n < 171, s"$n queries in the line")
    assert(m.keySet == results.sortBy(-_._2).take(n).map(_._1).toSet)
    assert(m.forall { case (k, v) => math.abs(v - results.toMap.apply(k)) < 1e-9 })
    assert(line.startsWith(head) && line.endsWith(""","sf":"/x"}"""))
  }

  test("parsePriorQueries extracts the per-query seconds map") {
    val line = """{"metric":"total","value":43.0,"unit":"sec",""" +
      """"queries":{"q_a":1.5,"q_b":-1.0,"q_c":0.123},"sf":"/x"}"""
    val m = Bench.parsePriorQueries(line)
    assert(m == Map("q_a" -> 1.5, "q_b" -> -1.0, "q_c" -> 0.123))
  }

  test("parsePriorQueries reads the driver wrapper with escaped truncated tail") {
    // the round driver's BENCH_r*.json: metadata object embedding an
    // escaped fragment of the bench line, cut mid-pair at the front
    val wrapper = """{"n":4,"rc":0,"cpus":32,"sf":0.1,""" +
      """"tail":"54793,\"q_embed_quantize\":0.299,\"q_except_all\":0.412"}"""
    val m = Bench.parsePriorQueries(wrapper)
    assert(m == Map("q_embed_quantize" -> 0.299, "q_except_all" -> 0.412))
  }

  test("parsePriorQueries tolerates malformed input") {
    assert(Bench.parsePriorQueries("").isEmpty)
    assert(Bench.parsePriorQueries("""{"metric":"total"}""").isEmpty)
    assert(Bench.parsePriorQueries("not json at all").isEmpty)
  }

  test("parsePriorQueries reads scientific-notation values (negative exponent)") {
    // Scala Double.toString emits e.g. "5.0E-4" below 1e-3; the charset
    // regex of r5 matched "5.0E" and the toDouble throw dropped the map
    val line = """{"queries":{"q_fast":5.0E-4,"q_big":1.2e+3,"q_plain":2.0}}"""
    val m = Bench.parsePriorQueries(line)
    assert(m == Map("q_fast" -> 5.0e-4, "q_big" -> 1.2e3, "q_plain" -> 2.0))
  }

  test("parsePriorQueries keeps good pairs when one pair is malformed") {
    // a truncation mid-number must cost only that entry, not the whole map
    val line = """"q_ok":1.25,"q_cut":,"q_dot":.5,"q_ok2":0.5"""
    val m = Bench.parsePriorQueries(line)
    assert(m == Map("q_ok" -> 1.25, "q_ok2" -> 0.5))
  }

  test("headline is lower-median at 3+ reps, min at 2, sentinel when empty") {
    assert(Bench.headline(Nil) == -1.0)
    assert(Bench.headline(Seq(-1.0, -1.0)) == -1.0)
    assert(Bench.headline(Seq(0.5, 0.3)) == 0.3)
    // 3 reps: one contention spike does NOT move the number...
    assert(Bench.headline(Seq(0.3, 9.9, 0.32)) == 0.32)
    // ...and one lucky fast rep does not hide a real regression
    assert(Bench.headline(Seq(2.1, 0.3, 2.2)) == 2.1)
    // 4 reps (after a re-measure): lower median
    assert(Bench.headline(Seq(1.0, 2.0, 3.0, 4.0)) == 2.0)
    // failed reps are excluded, not counted
    assert(Bench.headline(Seq(-1.0, 0.4, 0.6)) == 0.4)
  }

  test("parsePriorQueries ignores the spread arrays in a BENCH_LOCAL line") {
    val line = """{"metric":"total","value":1.0,"queries":{"q_a":1.5,"q_b":0.2},""" +
      """"sf":"/x","spread":{"q_a":[1.4,9.9],"q_b":[0.1,0.3]}}"""
    assert(Bench.parsePriorQueries(line) == Map("q_a" -> 1.5, "q_b" -> 0.2))
  }

  private def tmpFile(dir: java.io.File, name: String, ageMs: Long, now: Long): java.io.File = {
    val f = new java.io.File(dir, name)
    java.nio.file.Files.write(f.toPath, "{}".getBytes("UTF-8"))
    assert(f.setLastModified(now - ageMs))
    f
  }

  test("selectPrior skips a same-round artifact (fresh mtime) in favor of the prior round") {
    // a driver re-run within the round leaves BENCH_r07.json minutes old;
    // the re-measure baseline must be r06, not this round's own reading
    val dir = java.nio.file.Files.createTempDirectory("benchspec").toFile
    val now = System.currentTimeMillis()
    val fresh = tmpFile(dir, "BENCH_r07.json", 5L * 60 * 1000, now)
    val aged = tmpFile(dir, "BENCH_r06.json", 6L * 60 * 60 * 1000, now)
    assert(Bench.selectPrior(Seq(fresh, aged), now).contains(aged))
  }

  test("selectPrior returns none when every artifact is same-round fresh") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec").toFile
    val now = System.currentTimeMillis()
    val fresh = tmpFile(dir, "BENCH_r07.json", 60 * 1000, now)
    assert(Bench.selectPrior(Seq(fresh), now).isEmpty)
  }

  test("selectPrior prefers the full BENCH_LOCAL.json record over a truncated driver wrapper") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec").toFile
    val now = System.currentTimeMillis()
    val local = tmpFile(dir, "BENCH_LOCAL.json", 6L * 60 * 60 * 1000, now)
    val wrapper = tmpFile(dir, "BENCH_r06.json", 6L * 60 * 60 * 1000, now)
    assert(Bench.selectPrior(Seq(wrapper, local), now).contains(local))
    // but not when the local record is itself a same-round leftover
    assert(local.setLastModified(now - 60 * 1000))
    assert(Bench.selectPrior(Seq(wrapper, local), now).contains(wrapper))
  }

  test("selectPrior picks the highest-numbered aged driver artifact") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec").toFile
    val now = System.currentTimeMillis()
    val old = 6L * 60 * 60 * 1000
    val r4 = tmpFile(dir, "BENCH_r04.json", 3 * old, now)
    val r6 = tmpFile(dir, "BENCH_r06.json", old, now)
    val noise = tmpFile(dir, "CORRECTNESS_r06.json", old, now)
    assert(Bench.selectPrior(Seq(r4, noise, r6), now).contains(r6))
  }

  test("selectLflPrior prefers the committed full BENCH_LOCAL record " +
      "(lfl spans the whole registry, r16 verdict #3), driver tail as " +
      "fallback, aged filter intact") {
    // r14-r16 keyed lfl off the driver's truncated ~2 kB stdout tail, so
    // only the alphabetically-last ~65 queries were adjudicable; the
    // committed BENCH_LOCAL.json carries the FULL per-query map and is
    // now preferred. Cross-round validity: the aged filter still skips a
    // same-round refresh (the r14 ambiguity), and the repo only ever
    // commits BENCH_LOCAL as the round's final sf0.1 record.
    val dir = java.nio.file.Files.createTempDirectory("benchspec").toFile
    val now = System.currentTimeMillis()
    val old = 6L * 60 * 60 * 1000
    val local = tmpFile(dir, "BENCH_LOCAL.json", old, now)
    val r14 = tmpFile(dir, "BENCH_r14.json", old, now)
    assert(Bench.selectLflPrior(Seq(local, r14), now).contains(local))
    // a same-round BENCH_LOCAL refresh is skipped: the driver record
    // answers instead
    assert(local.setLastModified(now - 60 * 1000))
    assert(Bench.selectLflPrior(Seq(local, r14), now).contains(r14))
    // nothing aged -> no baseline (first round / all fresh)
    assert(r14.setLastModified(now - 60 * 1000))
    assert(Bench.selectLflPrior(Seq(local, r14), now).isEmpty)
    // the RE-MEASURE prior has the same preference (full-precision
    // complete record first)
    assert(local.setLastModified(now - old))
    assert(r14.setLastModified(now - old))
    assert(Bench.selectPrior(Seq(local, r14), now).contains(local))
  }
}
