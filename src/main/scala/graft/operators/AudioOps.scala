package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Audio-column plumbing — the third leg of the multimodal triple (image /
  * video / AUDIO), built the same way as [[MultiModalOps]]: media ride
  * parquet as opaque `binary` payloads, and a partition-local codec stage
  * decodes them into typed rows.
  *
  * The codec is REAL end-to-end: a generator stage renders a genuine WAV
  * container per document (RIFF/WAVE, 16-bit signed PCM mono @ 8 kHz —
  * byte-identical to `javax.sound.sampled.AudioSystem`'s writer output,
  * spec-pinned) and the decode stage walks the actual RIFF chunk layout,
  * reading the sample rate / channel count from the container header and
  * the samples from the actual PCM body (parity with
  * `AudioSystem.getAudioInputStream` spec-pinned on the same bytes; the
  * direct read exists because AudioSystem's per-call provider lookup
  * serialized the 32-thread codec stage — r17 optimization round). PCM is
  * lossless, so decoded samples equal the generator's integer formula
  * bit-for-bit and the DuckDB oracle can recompute every statistic from
  * doc_id alone (same law the PNG/GIF paths exploit).
  *
  * Seven operators cover the audio lifecycle a training-data pipeline needs:
  *  - q_audio_meta    — container metadata + whole-clip sample stats
  *  - q_audio_frames  — windowed (64-sample) frame energies, every 2nd
  *                      frame sampled: the feature-extraction shape
  *  - q_audio_trim    — leading/trailing-silence trim, the curation ACTION
  *  - q_audio_resample — integer-decimation sample-rate conversion
  *                      (8 → 4 kHz, every 2nd sample)
  *  - q_audio_resample_frac — FRACTIONAL resample (8 → 6.4 kHz, linear
  *                      interpolation on the L=4/M=5 lattice, exact
  *                      doubles via the power-of-two denominator)
  *  - q_audio_resample_ratio — ARBITRARY-ratio resample at the
  *                      44.1→16 kHz shape (L=160/M=441), stats in the
  *                      L-scaled integer domain
  *  - q_audio_fingerprint — sign-of-energy-delta perceptual fingerprint →
  *                      exact dup groups, the audio twin of q_image_dhash
  *
  * Scale notes (100 TB of audio): the binary column rides parquet; encode,
  * decode, framing, trimming and fingerprinting are all embarrassingly
  * parallel map-side stages with ZERO shuffle — task memory is governed by
  * `spark.sql.files.maxPartitionBytes`, and only the fingerprint query
  * shuffles at all, carrying 16-byte (doc_id, fp) rows — never waveforms —
  * through one partial-aggregated exchange. A JNI/FFI codec (mp3/opus)
  * slots into the same per-partition decode seam.
  */
object AudioOps {
  private type Q = (SparkSession, String) => DataFrame

  /** Fixture geometry, mirrored by the oracles: 8 kHz mono PCM16;
    * n samples 256..511; planted silence of `lead` zeros at the head and
    * `tail` zeros at the end; interior samples from an integer hash
    * formula over the ABSOLUTE index (so trimming changes no surviving
    * sample value). */
  private[graft] val SampleRate = 8000f
  private[graft] def nSamples(id: Long): Int = (256 + Math.floorMod(id, 256L)).toInt
  private[graft] def leadSil(id: Long): Int = Math.floorMod(id, 32L).toInt
  private[graft] def tailSil(id: Long): Int = Math.floorMod(id / 3, 32L).toInt
  private[graft] def sampleAt(id: Long, i: Int): Int = {
    val n = nSamples(id)
    if (i < leadSil(id) || i >= n - tailSil(id)) 0
    else (Math.floorMod(id * 7919L + i.toLong * 104729L, 65536L) - 32768L).toInt
  }
  private[graft] def clipSamples(id: Long): Array[Short] =
    Array.tabulate(nSamples(id))(i => sampleAt(id, i).toShort)

  private[graft] def pcmFormat: javax.sound.sampled.AudioFormat =
    new javax.sound.sampled.AudioFormat(SampleRate, 16, 1, true, false)

  /** Render samples as a real WAV (RIFF) byte stream — the canonical
    * 44-byte PCM header written DIRECTLY (r17 optimization round, guide
    * §1.2 per-task work): `AudioSystem.write` runs a synchronized
    * provider lookup per call, which serialized the 32-thread encode
    * stage exactly like ImageIO's disk cache did the image family
    * (measured: 5000 tiny clips decoded in 0.20s on one thread took
    * 0.56s WALL on 32). The emitted bytes are BYTE-IDENTICAL to the JDK
    * writer's for this format — AudioSpec pins that equality, so the
    * container stays a real WAV any reader accepts. */
  private[graft] def encodeWav(samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    def w32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte; out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def w16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    def tag(off: Int, t: String): Unit = {
      var i = 0; while (i < 4) { out(off + i) = t.charAt(i).toByte; i += 1 }
    }
    tag(0, "RIFF"); w32(4, 36 + dataLen); tag(8, "WAVE")
    tag(12, "fmt "); w32(16, 16)
    w16(20, 1) // PCM
    w16(22, 1) // mono
    w32(24, SampleRate.toInt)
    w32(28, SampleRate.toInt * 2) // byte rate = rate * blockAlign
    w16(32, 2) // block align
    w16(34, 16) // bits/sample
    tag(36, "data"); w32(40, dataLen)
    var i = 0
    while (i < samples.length) {
      out(44 + 2 * i) = (samples(i) & 0xff).toByte
      out(44 + 2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Parse a WAV byte stream back to (sampleRate, channels, samples). The
    * header is read from the actual container (RIFF chunk walk — fmt
    * then data, unknown chunks skipped per the spec), the samples from
    * the actual PCM body (little-endian 16-bit). Direct parse for the
    * same provider-lookup reason as [[encodeWav]]; AudioSpec pins parity
    * against `AudioSystem.getAudioInputStream` on the same bytes.
    * Exposed for the roundtrip spec. */
  private[graft] def decodeWav(bytes: Array[Byte]): (Float, Int, Array[Short]) = {
    def u32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    def u16(off: Int): Int = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def tagAt(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    require(bytes.length >= 12 && tagAt(0) == "RIFF" && tagAt(8) == "WAVE",
      "not a RIFF/WAVE stream")
    var rate = 0f; var ch = 0; var bits = 0
    var pcmOff = -1; var pcmLen = 0
    var off = 12
    while (off + 8 <= bytes.length && (pcmOff < 0 || rate == 0f)) {
      val t = tagAt(off)
      val len = u32(off + 4).toInt
      // a corrupt declared length must fail loudly, not loop or read out
      // of bounds: len < 0 makes the `off +=` below non-advancing (RIFF
      // u32 lengths > Int.MaxValue wrap negative in toInt), and a length
      // past the buffer would walk fmt reads off the end (r17 ADVICE —
      // this parser is the designated reader for arbitrary WAV bytes);
      // the bound sums in Long — a len near Int.MaxValue would wrap the
      // Int sum negative and slip past it
      require(len >= 0 && off + 8L + len <= bytes.length,
        s"RIFF chunk '$t' at $off declares $len payload bytes, " +
          s"stream holds ${bytes.length}")
      if (t == "fmt ") {
        require(len >= 16, s"fmt chunk truncated: $len < 16 bytes")
        require(u16(off + 8) == 1, "decodeWav handles PCM only")
        ch = u16(off + 10)
        rate = u32(off + 12).toFloat
        bits = u16(off + 22)
        require(bits == 16, s"decodeWav handles 16-bit PCM, got $bits")
      } else if (t == "data") {
        pcmOff = off + 8
        pcmLen = math.min(len, bytes.length - pcmOff)
      }
      // chunks are word-aligned: odd payloads carry a pad byte
      off += 8 + len + (len & 1)
    }
    require(rate > 0f && pcmOff >= 0, "RIFF stream missing fmt/data chunk")
    val out = new Array[Short](pcmLen / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((bytes(pcmOff + 2 * i) & 0xff) |
        (bytes(pcmOff + 2 * i + 1) << 8)).toShort
      i += 1
    }
    (rate, ch, out)
  }

  /** Generator stage: one real WAV payload per document. Pure projection,
    * zero shuffle — the binary column materializes where the doc_id
    * partition already lives. Shared across the family via
    * [[graft.SharedPlans]]: meta/frames/trim/resample all consume the
    * same payload frame, so the encode runs once per session (in
    * production the payloads are a parquet column read once; the memo
    * gives the fixture generator the same read-once economics). Each
    * query still runs its own decode — that is the per-extractor work. */
  private[graft] def wavPayloads(s: SparkSession, d: String): DataFrame =
    graft.SharedPlans.shared(s, s"wav_payloads|$d") {
      import s.implicits._
      // spread the ids before the codec stage: the single-row-group
      // fixture scans as one split (SCALING.md "Scan" note)
      Tables.spread(s, Tables.documents(s, d).select(col("doc_id")))
        .as[Long]
        .mapPartitions(it => it.map(id => (id, encodeWav(clipSamples(id)))))
        .toDF("doc_id", "payload")
    }

  /** Decode + whole-clip stats: rate/channels from the real header,
    * duration from the sample count, exact integer aggregates over the
    * decoded samples (sum|v|, Σv² as BIGINT — bounded by 512·32768² well
    * inside Long). */
  private val qAudioMeta: Q = (s, d) => {
    import s.implicits._
    wavPayloads(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (rate, ch, v) = decodeWav(bytes)
          var sumAbs = 0L; var sumSq = 0L; var maxAbs = 0L; var nZero = 0L
          var i = 0
          while (i < v.length) {
            val a = Math.abs(v(i).toLong)
            sumAbs += a; sumSq += a * a
            if (a > maxAbs) maxAbs = a
            if (a == 0L) nZero += 1
            i += 1
          }
          (id, rate.toLong, ch.toLong, v.length.toLong,
            v.length.toLong * 1000.0 / rate, sumAbs, sumSq, maxAbs, nZero)
        }
      }
      .toDF("doc_id", "sample_rate", "channels", "n_samples", "duration_ms",
        "sum_abs", "sum_sq", "max_abs", "n_zero")
      .orderBy("doc_id")
  }

  /** Frame length for the feature-extraction stage (complete frames only;
    * trailing remainder samples are not framed). */
  private[graft] val FrameLen = 64

  /** Windowed frame energies over the decoded clip, every `step`-th frame
    * sampled — the audio analog of GIF frame sampling: unsampled frames
    * cost nothing past the (sequential-container) PCM read. */
  private[graft] def frameStats(id: Long, v: Array[Short], step: Int)
      : Seq[(Long, Long, Long, Long, Long, Long)] = {
    val nf = v.length / FrameLen
    (0 until nf by step).map { f =>
      var sumSq = 0L; var maxAbs = 0L; var nZero = 0L
      var j = f * FrameLen
      val end = j + FrameLen
      while (j < end) {
        val a = Math.abs(v(j).toLong)
        sumSq += a * a
        if (a > maxAbs) maxAbs = a
        if (a == 0L) nZero += 1
        j += 1
      }
      (id, f.toLong, nf.toLong, sumSq, maxAbs, nZero)
    }
  }

  private val qAudioFrames: Q = (s, d) => {
    import s.implicits._
    wavPayloads(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          frameStats(id, decodeWav(bytes)._3, 2)
        }
      }
      .toDF("doc_id", "frame_idx", "n_frames", "f_sum_sq", "f_max_abs", "f_zero")
      .orderBy("doc_id", "frame_idx")
  }

  /** Silence-trim accounting for one decoded clip: silence = sample == 0
    * exactly (the planted zeros; a formula sample that happens to be 0
    * trims too — the oracle applies the identical rule). All-silent clips
    * convention: lead = n, trail = 0, trimmed stats 0. */
  private[graft] def trimStats(id: Long, v: Array[Short])
      : (Long, Long, Long, Long, Long, Long, Long) = {
    var a = 0
    while (a < v.length && v(a) == 0) a += 1
    if (a == v.length) (id, v.length.toLong, v.length.toLong, 0L, 0L, 0L, 0L)
    else {
      var b = v.length - 1
      while (v(b) == 0) b -= 1
      var sumSq = 0L; var maxAbs = 0L
      var i = a
      while (i <= b) {
        val x = Math.abs(v(i).toLong)
        sumSq += x * x
        if (x > maxAbs) maxAbs = x
        i += 1
      }
      (id, v.length.toLong, a.toLong, (v.length - 1 - b).toLong,
        (b - a + 1).toLong, sumSq, maxAbs)
    }
  }

  /** The curation ACTION: cut leading/trailing silence, report what was
    * cut and exact stats of what survives. Pure map-side projection —
    * zero shuffle at any corpus size. */
  private val qAudioTrim: Q = (s, d) => {
    import s.implicits._
    wavPayloads(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        trimStats(id, decodeWav(bytes)._3)
      })
      .toDF("doc_id", "n_samples", "lead_silence", "trail_silence",
        "trimmed_len", "trimmed_sum_sq", "trimmed_max_abs")
      .orderBy("doc_id")
  }

  /** Decimation resample (8 kHz → 4 kHz): decode, keep every 2nd sample,
    * and report the downsampled clip's exact stats — the audio analog of
    * the image 2×2 average-pool. (A production resampler low-pass
    * filters first; plain decimation keeps the oracle integer-exact and
    * the plumbing — decode → array transform → stats in one
    * partition-local pass, zero shuffle — is the real shape.) */
  private[graft] def resampleStats(id: Long, v: Array[Short])
      : (Long, Long, Long, Long, Long, Long) = {
    val n2 = (v.length + 1) / 2
    var sumAbs = 0L; var sumSq = 0L; var maxAbs = 0L
    var i = 0
    while (i < v.length) {
      val a = Math.abs(v(i).toLong)
      sumAbs += a; sumSq += a * a
      if (a > maxAbs) maxAbs = a
      i += 2
    }
    (id, n2.toLong, 4000L, sumAbs, sumSq, maxAbs)
  }

  private val qAudioResample: Q = (s, d) => {
    import s.implicits._
    wavPayloads(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        resampleStats(id, decodeWav(bytes)._3)
      })
      .toDF("doc_id", "n_samples2", "sample_rate2", "sum_abs2", "sum_sq2",
        "max_abs2")
      .orderBy("doc_id")
  }

  /** Fractional resample geometry: 8000 Hz → 6400 Hz is upsample L=4 /
    * decimate M=5, so output sample j sits at input position j·5/4 —
    * linear interpolation between the bracketing samples with quarter
    * weights. L chosen a POWER OF TWO on purpose: the interpolated value
    * y = ((L−r)·v[k] + r·v[k+1]) / L is an integer divided by 4, its
    * square an integer divided by 16 — both exact in DOUBLE, and their
    * per-clip sums stay exact (multiples of 1/16 bounded by 2^43 < 2^53),
    * so Spark and the DuckDB oracle agree bit-for-bit with NO rounding
    * absorbing anything. The loop runs all arithmetic in the L-scaled
    * integer domain and divides once at the end. */
  private[graft] val ResampleL = 4
  private[graft] val ResampleM = 5
  private[graft] val FracRate = 6400L

  /** Linear-interpolated fractional resample stats. Output indices run
    * while j·M ≤ L·(n−1) (an r>0 index needs v[k+1]; p ≤ 4n−4 with
    * r>0 implies p ≤ 4n−5, so the single bound is safe). */
  private[graft] def fracResampleStats(id: Long, v: Array[Short])
      : (Long, Long, Long, Double, Double, Double) = {
    val n = v.length
    var j = 0
    var cnt = 0L; var sumAbsQ = 0L; var sumSqQ = 0L; var maxAbsQ = 0L
    while (n > 0 && ResampleM.toLong * j <= ResampleL.toLong * (n - 1)) {
      val p = ResampleM * j
      val k = p / ResampleL
      val r = p % ResampleL
      val w =
        if (r == 0) ResampleL.toLong * v(k)
        else (ResampleL - r).toLong * v(k) + r.toLong * v(k + 1)
      val a = Math.abs(w)
      sumAbsQ += a
      sumSqQ += w * w
      if (a > maxAbsQ) maxAbsQ = a
      cnt += 1
      j += 1
    }
    (id, cnt, FracRate,
      sumAbsQ / ResampleL.toDouble,
      sumSqQ / (ResampleL.toDouble * ResampleL),
      maxAbsQ / ResampleL.toDouble)
  }

  private val qAudioResampleFrac: Q = (s, d) => {
    import s.implicits._
    wavPayloads(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        fracResampleStats(id, decodeWav(bytes)._3)
      })
      .toDF("doc_id", "n_samples2", "sample_rate2", "sum_abs2", "sum_sq2",
        "max_abs2")
      .orderBy("doc_id")
  }

  /** ARBITRARY-ratio linear resample — the 44.1→16 kHz SHAPE real
    * pipelines need (16000/44100 reduces to L=160 / M=441). L is not a
    * power of two, so the exact-double trick of the 6.4 kHz path does
    * not apply; instead the interpolated signal is carried in the
    * L-SCALED integer domain — w = (L−r)·v[k] + r·v[k+1], never divided
    * — so every statistic is an exact BIGINT whatever the ratio
    * (fixed-point, documented in the *_xl column names; production
    * divides by L on the way to float features). Bounds: |w| ≤
    * 160·32768 < 2^23, Σw² < 2^46 — exact in int64 with headroom. */
  private[graft] val RatioL = 160
  private[graft] val RatioM = 441

  private[graft] def ratioResampleStats(id: Long, v: Array[Short],
      l: Int = RatioL, m: Int = RatioM): (Long, Long, Long, Long, Long) = {
    val n = v.length
    var j = 0
    var cnt = 0L; var sumAbsQ = 0L; var sumSqQ = 0L; var maxAbsQ = 0L
    while (n > 0 && m.toLong * j <= l.toLong * (n - 1)) {
      val p = m.toLong * j
      val k = (p / l).toInt
      val r = (p % l).toInt
      val w =
        if (r == 0) l.toLong * v(k)
        else (l - r).toLong * v(k) + r.toLong * v(k + 1)
      val a = Math.abs(w)
      sumAbsQ += a
      sumSqQ += w * w
      if (a > maxAbsQ) maxAbsQ = a
      cnt += 1
      j += 1
    }
    (id, cnt, sumAbsQ, sumSqQ, maxAbsQ)
  }

  private val qAudioResampleRatio: Q = (s, d) => {
    import s.implicits._
    wavPayloads(s, d)
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        val (i, cnt, sa, sq, ma) = ratioResampleStats(id, decodeWav(bytes)._3)
        (i, cnt, RatioL.toLong, RatioM.toLong, sa, sq, ma)
      })
      .toDF("doc_id", "n_samples2", "ratio_l", "ratio_m", "sum_abs_xl",
        "sum_sq_xl2", "max_abs_xl")
      .orderBy("doc_id")
  }

  // ---- perceptual fingerprint dedup ----------------------------------

  /** Dedup fixture: waveform depends only on the CONTENT key
    * cid = doc_id % 64, so ~1/64 of the corpus shares each clip
    * byte-for-byte — dup groups exist at every SF (the image fixture's
    * collision trick, made explicit). No silence planting; distinct
    * length per cid so fingerprints separate across content keys. */
  private[graft] def fpCid(id: Long): Long = Math.floorMod(id, 64L)
  private[graft] def fpNSamples(cid: Long): Int = (256 + cid * 3).toInt
  private[graft] def fpSampleAt(cid: Long, i: Int): Int =
    (Math.floorMod(cid * 6151L + i.toLong * 13007L, 65536L) - 32768L).toInt
  private[graft] def fpClipSamples(cid: Long): Array[Short] =
    Array.tabulate(fpNSamples(cid))(i => fpSampleAt(cid, i).toShort)

  /** Fingerprint frame length (32 → 8..13 complete frames here). */
  private[graft] val FpFrameLen = 32

  /** Sign-of-energy-delta fingerprint of a decoded clip — the classic
    * landmark-free audio fingerprint: frame the clip, bit f is set iff
    * frame f+1 carries more energy (Σ|v|) than frame f. Bit count =
    * frames−1 ≤ 62, so the packed BIGINT never touches the sign bit. */
  private[graft] def fingerprint(v: Array[Short]): (Long, Long) = {
    val nf = v.length / FpFrameLen
    val en = new Array[Long](nf)
    var f = 0
    while (f < nf) {
      var sum = 0L
      var j = f * FpFrameLen
      val end = j + FpFrameLen
      while (j < end) { sum += Math.abs(v(j).toLong); j += 1 }
      en(f) = sum
      f += 1
    }
    var fp = 0L
    var k = 0
    while (k < nf - 1) {
      if (en(k + 1) > en(k)) fp |= 1L << k
      k += 1
    }
    (fp, nf.toLong)
  }

  /** Audio-level perceptual dedup: decode → fingerprint → groupBy fp →
    * groups of >= 2 with a deterministic keeper (min doc_id) — the audio
    * twin of q_image_dhash. Decode+fingerprint is map-side (zero
    * shuffle); the one wide exchange carries (doc_id, fp) longs, never
    * PCM. */
  /** Distinct-fingerprint index (fp, n, rep) — the static side of
    * [[graft.streaming.AudioDedupStream]] and the group table of the
    * dedup query. One row per distinct fingerprint, however many clips
    * share it. */
  private[graft] def fingerprintIndex(s: SparkSession, d: String): DataFrame =
    wavPayloads0(s, d).groupBy("fp")
      .agg(count(lit(1)).as("n"), min("doc_id").as("rep"))

  private val qAudioFingerprint: Q = (s, d) => {
    import s.implicits._
    val fps = wavPayloads0(s, d)
    val groups = fingerprintIndex(s, d)
      .filter(col("n") >= 2)
      .select(col("fp"), col("n").as("group_size"), col("rep").as("rep_id"))
    fps.join(groups, "fp")
      .select(col("doc_id"), col("fp"), col("n_frames"),
        col("group_size"), col("rep_id"))
      .orderBy("doc_id")
  }

  /** Per-doc fingerprint frame for the dedup query: encode the
    * content-keyed WAV, decode it back through the real codec, and
    * fingerprint the decoded samples — the full pipeline a real corpus
    * runs, per doc. Memoized via [[graft.SharedPlans]] (which persists):
    * the dedup query traverses it both directly AND through
    * [[fingerprintIndex]], and a per-call persist would still run the
    * codec pass once per CALL SITE — the memo hands every deriving plan
    * the same frame. */
  private[graft] def wavPayloads0(s: SparkSession, d: String): DataFrame =
    graft.SharedPlans.shared(s, s"wav_fp_frame|$d") {
      import s.implicits._
      Tables.spread(s, Tables.documents(s, d).select(col("doc_id")))
        .as[Long]
        .mapPartitions(it => it.map { id =>
          val bytes = encodeWav(fpClipSamples(fpCid(id)))
          val (fp, nf) = fingerprint(decodeWav(bytes)._3)
          (id, fp, nf)
        })
        .toDF("doc_id", "fp", "n_frames")
    }

  val queries: Map[String, Q] = Map(
    "q_audio_meta" -> qAudioMeta,
    "q_audio_frames" -> qAudioFrames,
    "q_audio_trim" -> qAudioTrim,
    "q_audio_resample" -> qAudioResample,
    "q_audio_resample_frac" -> qAudioResampleFrac,
    "q_audio_resample_ratio" -> qAudioResampleRatio,
    "q_audio_fingerprint" -> qAudioFingerprint,
  )

  // Shared oracle CTE: replay the generator formula per (doc, sample).
  private val SamplesCte =
    """d AS (
      |  SELECT doc_id,
      |         256 + doc_id % 256 AS n,
      |         doc_id % 32 AS lead,
      |         (doc_id // 3) % 32 AS tail
      |  FROM documents),
      |s AS (
      |  SELECT d.doc_id, d.n, ix.i,
      |         CASE WHEN ix.i < d.lead OR ix.i >= d.n - d.tail THEN 0
      |              ELSE (d.doc_id * 7919 + ix.i * 104729) % 65536 - 32768
      |         END AS v
      |  FROM d, (SELECT unnest(range(0, 512)) AS i) ix
      |  WHERE ix.i < d.n)""".stripMargin

  val oracles: Map[String, String] = Map(
    // WAV PCM16 is lossless, so the oracle recomputes every stat from the
    // generator formula; Σv² ≤ 512·32768² is an exact BIGINT, and
    // duration n/8 ms is a dyadic rational — exact in DOUBLE both sides.
    "q_audio_meta" ->
      s"""WITH $SamplesCte
         |SELECT doc_id,
         |       CAST(8000 AS BIGINT) AS sample_rate,
         |       CAST(1 AS BIGINT) AS channels,
         |       CAST(count(*) AS BIGINT) AS n_samples,
         |       count(*) * 1000.0 / 8000.0 AS duration_ms,
         |       CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
         |       CAST(sum(v * v) AS BIGINT) AS sum_sq,
         |       CAST(max(abs(v)) AS BIGINT) AS max_abs,
         |       CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_audio_frames" ->
      s"""WITH $SamplesCte,
         |fr AS (
         |  SELECT s.doc_id, s.n // 64 AS nf, s.i // 64 AS fi, s.v
         |  FROM s WHERE s.i < (s.n // 64) * 64),
         |sampled AS (SELECT * FROM fr WHERE fi % 2 = 0)
         |SELECT doc_id,
         |       CAST(fi AS BIGINT) AS frame_idx,
         |       CAST(nf AS BIGINT) AS n_frames,
         |       CAST(sum(v * v) AS BIGINT) AS f_sum_sq,
         |       CAST(max(abs(v)) AS BIGINT) AS f_max_abs,
         |       CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS f_zero
         |FROM sampled GROUP BY doc_id, fi, nf
         |ORDER BY doc_id, frame_idx""".stripMargin,
    "q_audio_trim" ->
      s"""WITH $SamplesCte,
         |b AS (
         |  SELECT doc_id, any_value(n) AS n,
         |         min(CASE WHEN v <> 0 THEN i END) AS first_nz,
         |         max(CASE WHEN v <> 0 THEN i END) AS last_nz
         |  FROM s GROUP BY doc_id),
         |agg AS (
         |  SELECT s.doc_id,
         |         CAST(sum(s.v * s.v) AS BIGINT) AS trimmed_sum_sq,
         |         CAST(max(abs(s.v)) AS BIGINT) AS trimmed_max_abs
         |  FROM s JOIN b USING (doc_id)
         |  WHERE s.i >= b.first_nz AND s.i <= b.last_nz
         |  GROUP BY s.doc_id)
         |SELECT b.doc_id,
         |       CAST(b.n AS BIGINT) AS n_samples,
         |       CAST(coalesce(b.first_nz, b.n) AS BIGINT) AS lead_silence,
         |       CAST(CASE WHEN b.last_nz IS NULL THEN 0
         |                 ELSE b.n - 1 - b.last_nz END AS BIGINT) AS trail_silence,
         |       CAST(coalesce(b.last_nz - b.first_nz + 1, 0) AS BIGINT) AS trimmed_len,
         |       coalesce(agg.trimmed_sum_sq, 0) AS trimmed_sum_sq,
         |       coalesce(agg.trimmed_max_abs, 0) AS trimmed_max_abs
         |FROM b LEFT JOIN agg USING (doc_id) ORDER BY b.doc_id""".stripMargin,
    "q_audio_resample" ->
      s"""WITH $SamplesCte
         |SELECT doc_id,
         |       CAST(sum(CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_samples2,
         |       CAST(4000 AS BIGINT) AS sample_rate2,
         |       CAST(sum(CASE WHEN i % 2 = 0 THEN abs(v) ELSE 0 END)
         |            AS BIGINT) AS sum_abs2,
         |       CAST(sum(CASE WHEN i % 2 = 0 THEN v * v ELSE 0 END)
         |            AS BIGINT) AS sum_sq2,
         |       CAST(max(CASE WHEN i % 2 = 0 THEN abs(v) END) AS BIGINT)
         |         AS max_abs2
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Fractional path: replays the L=4/M=5 interpolation lattice; all
    // sums run in the L-scaled INTEGER domain and divide once at the end
    // (exact doubles — see the fracResampleStats scaladoc)
    "q_audio_resample_frac" ->
      s"""WITH $SamplesCte,
         |dn AS (SELECT doc_id, any_value(n) AS n FROM s GROUP BY 1),
         |o AS (SELECT doc_id, n,
         |             unnest(range(0, ((4 * (n - 1)) // 5) + 1)) AS j
         |      FROM dn),
         |w AS (SELECT doc_id, j, (5 * j) // 4 AS k, (5 * j) % 4 AS r
         |      FROM o),
         |y AS (SELECT w.doc_id,
         |             (4 - w.r) * a.v + w.r * coalesce(b.v, 0) AS wv
         |      FROM w JOIN s a ON a.doc_id = w.doc_id AND a.i = w.k
         |           LEFT JOIN s b ON b.doc_id = w.doc_id AND b.i = w.k + 1)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_samples2,
         |       CAST(6400 AS BIGINT) AS sample_rate2,
         |       CAST(sum(abs(wv)) AS DOUBLE) / 4.0 AS sum_abs2,
         |       CAST(sum(wv * wv) AS DOUBLE) / 16.0 AS sum_sq2,
         |       CAST(max(abs(wv)) AS DOUBLE) / 4.0 AS max_abs2
         |FROM y GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // arbitrary-ratio lattice (L=160/M=441, the 44.1->16 kHz shape) in
    // the L-scaled INTEGER domain — no division anywhere, exact BIGINTs
    "q_audio_resample_ratio" ->
      s"""WITH $SamplesCte,
         |dn AS (SELECT doc_id, any_value(n) AS n FROM s GROUP BY 1),
         |o AS (SELECT doc_id, n,
         |             unnest(range(0, ((160 * (n - 1)) // 441) + 1)) AS j
         |      FROM dn),
         |w AS (SELECT doc_id, j, (441 * j) // 160 AS k, (441 * j) % 160 AS r
         |      FROM o),
         |y AS (SELECT w.doc_id,
         |             (160 - w.r) * a.v + w.r * coalesce(b.v, 0) AS wv
         |      FROM w JOIN s a ON a.doc_id = w.doc_id AND a.i = w.k
         |           LEFT JOIN s b ON b.doc_id = w.doc_id AND b.i = w.k + 1)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_samples2,
         |       CAST(160 AS BIGINT) AS ratio_l,
         |       CAST(441 AS BIGINT) AS ratio_m,
         |       CAST(sum(abs(wv)) AS BIGINT) AS sum_abs_xl,
         |       CAST(sum(wv * wv) AS BIGINT) AS sum_sq_xl2,
         |       CAST(max(abs(wv)) AS BIGINT) AS max_abs_xl
         |FROM y GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Replays the content-keyed generator + fingerprint per cid, then
    // fans out to docs; bit k of fp uses frame-energy deltas (Σ|v|).
    "q_audio_fingerprint" ->
      """WITH dd AS (SELECT doc_id, doc_id % 64 AS cid FROM documents),
        |c AS (SELECT DISTINCT cid FROM dd),
        |p AS (SELECT cid, (256 + cid * 3) // 32 AS nf FROM c),
        |sv AS (
        |  SELECT p.cid, p.nf, ix.i // 32 AS fi,
        |         (p.cid * 6151 + ix.i * 13007) % 65536 - 32768 AS v
        |  FROM p, (SELECT unnest(range(0, 448)) AS i) ix
        |  WHERE ix.i < p.nf * 32),
        |e AS (SELECT cid, nf, fi, sum(abs(v)) AS en FROM sv GROUP BY 1, 2, 3),
        |fp AS (
        |  SELECT a.cid, a.nf,
        |         CAST(coalesce(sum(CASE WHEN b.en > a.en
        |                  THEN (CAST(1 AS BIGINT) << a.fi) ELSE 0 END), 0)
        |              AS BIGINT) AS fp
        |  FROM e a JOIN e b ON a.cid = b.cid AND b.fi = a.fi + 1
        |  GROUP BY a.cid, a.nf),
        |docs AS (SELECT dd.doc_id, fp.fp, fp.nf FROM dd JOIN fp USING (cid)),
        |grp AS (SELECT fp, CAST(count(*) AS BIGINT) AS group_size,
        |               min(doc_id) AS rep_id
        |        FROM docs GROUP BY fp HAVING count(*) >= 2)
        |SELECT docs.doc_id, docs.fp, CAST(docs.nf AS BIGINT) AS n_frames,
        |       grp.group_size, grp.rep_id
        |FROM docs JOIN grp USING (fp) ORDER BY docs.doc_id""".stripMargin,
  )
}
