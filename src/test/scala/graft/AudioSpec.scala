package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AudioOps

/** Audio-path codec: the generator must emit genuine WAV (RIFF) byte
  * streams and the javax.sound decode must roundtrip the PCM16 samples
  * exactly (PCM is lossless), so the oracle can recompute every statistic
  * from doc_id alone — the same contract the PNG/GIF paths carry. */
class AudioSpec extends AnyFunSuite {
  private val ids = Seq(0L, 1L, 7L, 23L, 96L, 499L, 12345L)

  test("encodeWav produces real RIFF/WAVE containers") {
    for (id <- ids) {
      val b = AudioOps.encodeWav(AudioOps.clipSamples(id))
      assert(b.length > 44, s"id=$id payload shorter than a WAV header")
      assert(new String(b.take(4), "US-ASCII") == "RIFF", s"id=$id no RIFF magic")
      assert(new String(b.slice(8, 12), "US-ASCII") == "WAVE", s"id=$id no WAVE tag")
    }
  }

  test("encodeWav is byte-identical to the JDK AudioSystem writer") {
    // the r17 direct RIFF writer replaced AudioSystem.write in the hot
    // loop (per-call provider lookup serialized the codec stage); this
    // pins that the emitted CONTAINER did not change by a single byte
    for (id <- ids) {
      val samples = AudioOps.clipSamples(id)
      val pcm = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        pcm(2 * i) = (samples(i) & 0xff).toByte
        pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), AudioOps.pcmFormat,
        samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      assert(java.util.Arrays.equals(
        AudioOps.encodeWav(samples), bos.toByteArray),
        s"id=$id direct RIFF writer diverged from AudioSystem")
    }
  }

  test("decodeWav matches AudioSystem.getAudioInputStream on the same bytes") {
    for (id <- ids) {
      val b = AudioOps.encodeWav(AudioOps.clipSamples(id))
      val (rate, ch, v) = AudioOps.decodeWav(b)
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(b))
      try {
        val f = ais.getFormat
        val pcm = ais.readAllBytes()
        assert(rate == f.getSampleRate && ch == f.getChannels)
        assert(v.length == pcm.length / 2)
        v.indices.foreach { i =>
          val ref = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort
          assert(v(i) == ref, s"id=$id sample $i")
        }
      } finally ais.close()
    }
  }

  test("decode roundtrips format and samples bit-exactly") {
    for (id <- ids) {
      val (rate, ch, v) = AudioOps.decodeWav(AudioOps.encodeWav(AudioOps.clipSamples(id)))
      assert(rate == AudioOps.SampleRate && ch == 1)
      assert(v.length == AudioOps.nSamples(id), s"id=$id sample count")
      for (i <- v.indices)
        assert(v(i) == AudioOps.sampleAt(id, i).toShort, s"id=$id sample $i")
    }
  }

  test("decodeWav rejects a chunk length near Int.MaxValue by name") {
    // the fmt chunk's u32 length at byte 16 set to Int.MaxValue - 3: the
    // bound `off + 8 + len` overflows Int arithmetic, so the guard must
    // sum in Long and name the chunk instead of reading out of bounds
    val bytes = AudioOps.encodeWav(AudioOps.clipSamples(ids.head)).clone()
    assert(new String(bytes, 12, 4, "US-ASCII") == "fmt ")
    val len = Int.MaxValue - 3
    for (i <- 0 until 4) bytes(16 + i) = (len >>> (8 * i)).toByte
    val ex = intercept[IllegalArgumentException](AudioOps.decodeWav(bytes))
    assert(ex.getMessage.contains(s"RIFF chunk 'fmt ' at 12 declares $len"),
      ex.getMessage)
  }

  test("trim respects the planted silence and the zero rule") {
    for (id <- ids) {
      val v = AudioOps.decodeWav(AudioOps.encodeWav(AudioOps.clipSamples(id)))._3
      val (_, n, lead, trail, len, sumSq, maxAbs) = AudioOps.trimStats(id, v)
      assert(n == v.length)
      // planted zeros are a lower bound; a formula sample that is 0 at the
      // boundary extends the cut — verify against the actual first/last
      // nonzero index instead of the plant
      val firstNz = v.indexWhere(_ != 0)
      val lastNz = v.lastIndexWhere(_ != 0)
      assert(firstNz >= 0, s"id=$id fixture produced an all-silent clip")
      assert(lead == firstNz && trail == v.length - 1 - lastNz)
      assert(lead >= AudioOps.leadSil(id) && trail >= AudioOps.tailSil(id))
      assert(len == lastNz - firstNz + 1)
      val span = v.slice(firstNz, lastNz + 1).map(x => Math.abs(x.toLong))
      assert(sumSq == span.map(x => x * x).sum && maxAbs == span.max)
    }
  }

  test("all-silent clips take the (n, 0, 0-stats) convention") {
    val (_, n, lead, trail, len, sumSq, maxAbs) =
      AudioOps.trimStats(42L, Array.fill[Short](10)(0))
    assert(n == 10 && lead == 10 && trail == 0 && len == 0 && sumSq == 0 && maxAbs == 0)
  }

  test("frame stats sample every 2nd complete frame") {
    for (id <- ids) {
      val v = AudioOps.decodeWav(AudioOps.encodeWav(AudioOps.clipSamples(id)))._3
      val rows = AudioOps.frameStats(id, v, 2)
      val nf = v.length / AudioOps.FrameLen
      assert(rows.map(_._2) == (0 until nf by 2).map(_.toLong))
      for ((_, f, nfr, sumSq, maxAbs, nZero) <- rows) {
        assert(nfr == nf)
        val fr = v.slice(f.toInt * 64, f.toInt * 64 + 64).map(x => Math.abs(x.toLong))
        assert(sumSq == fr.map(x => x * x).sum)
        assert(maxAbs == fr.max && nZero == fr.count(_ == 0L))
      }
    }
  }

  test("fractional resample matches an independent rational-arithmetic replay") {
    for (id <- ids) {
      val v = AudioOps.decodeWav(AudioOps.encodeWav(AudioOps.clipSamples(id)))._3
      val (_, n2, rate, sumAbs, sumSq, maxAbs) = AudioOps.fracResampleStats(id, v)
      assert(rate == 6400L)
      // expected count: output j valid while 5j <= 4(n-1)
      val expN = (4L * (v.length - 1)) / 5 + 1
      assert(n2 == expN, s"id=$id output count")
      // replay the lattice independently with BigDecimal quarters
      val ys = (0 until n2.toInt).map { j =>
        val p = 5 * j; val k = p / 4; val r = p % 4
        if (r == 0) BigDecimal(v(k).toInt)
        else (BigDecimal(4 - r) * v(k) + BigDecimal(r) * v(k + 1)) / 4
      }
      assert(BigDecimal(sumAbs) == ys.map(_.abs).sum, s"id=$id sum_abs")
      assert(BigDecimal(sumSq) == ys.map(y => y * y).sum, s"id=$id sum_sq")
      assert(BigDecimal(maxAbs) == ys.map(_.abs).max, s"id=$id max_abs")
      // interpolation stays inside the sample range
      assert(maxAbs <= 32768.0)
    }
  }

  test("arbitrary-ratio resample matches a BigInt lattice replay (44.1->16 kHz shape)") {
    for (id <- ids) {
      val v = AudioOps.decodeWav(AudioOps.encodeWav(AudioOps.clipSamples(id)))._3
      val (_, n2, sa, sq, ma) = AudioOps.ratioResampleStats(id, v)
      val expN = (160L * (v.length - 1)) / 441 + 1
      assert(n2 == expN, s"id=$id output count")
      val ws = (0 until n2.toInt).map { j =>
        val p = 441L * j; val k = (p / 160).toInt; val r = (p % 160).toInt
        if (r == 0) BigInt(160) * v(k)
        else BigInt(160 - r) * v(k) + BigInt(r) * v(k + 1)
      }
      assert(BigInt(sa) == ws.map(_.abs).sum, s"id=$id sum_abs")
      assert(BigInt(sq) == ws.map(w => w * w).sum, s"id=$id sum_sq")
      assert(BigInt(ma) == ws.map(_.abs).max, s"id=$id max_abs")
      assert(ma <= 160L * 32768L)
    }
  }

  test("fingerprint is a pure function of the content key") {
    // same cid -> identical WAV bytes -> identical fingerprint
    val aBytes = AudioOps.encodeWav(AudioOps.fpClipSamples(AudioOps.fpCid(3L)))
    val bBytes = AudioOps.encodeWav(AudioOps.fpClipSamples(AudioOps.fpCid(3L + 64L)))
    assert(aBytes.sameElements(bBytes))
    val fa = AudioOps.fingerprint(AudioOps.decodeWav(aBytes)._3)
    val fb = AudioOps.fingerprint(AudioOps.decodeWav(bBytes)._3)
    assert(fa == fb)
  }

  test("fingerprint bits encode the frame-energy deltas") {
    for (cid <- Seq(0L, 5L, 63L)) {
      val v = AudioOps.decodeWav(AudioOps.encodeWav(AudioOps.fpClipSamples(cid)))._3
      val (fp, nf) = AudioOps.fingerprint(v)
      assert(nf == AudioOps.fpNSamples(cid) / AudioOps.FpFrameLen)
      val en = (0 until nf.toInt).map(f =>
        v.slice(f * 32, f * 32 + 32).map(x => Math.abs(x.toLong)).sum)
      val expect = (0 until nf.toInt - 1)
        .filter(k => en(k + 1) > en(k)).map(k => 1L << k).sum
      assert(fp == expect, s"cid=$cid")
      assert(fp >= 0L, "fingerprint must never touch the sign bit")
    }
  }

  test("queries run end-to-end on sf0.001 with dup groups present") {
    val s = TestSpark.spark
    val d = TestSpark.sf0001
    val meta = AudioOps.queries("q_audio_meta")(s, d).collect()
    assert(meta.nonEmpty)
    val dedup = AudioOps.queries("q_audio_fingerprint")(s, d).collect()
    assert(dedup.nonEmpty, "content-keyed fixture must produce dup groups")
    // every group member shares the keeper's fingerprint and the keeper is
    // the min doc_id of its group
    val byFp = dedup.groupBy(_.getLong(1))
    for ((_, rows) <- byFp) {
      val repIds = rows.map(_.getLong(4)).distinct
      assert(repIds.length == 1 && repIds.head == rows.map(_.getLong(0)).min)
    }
  }
}
