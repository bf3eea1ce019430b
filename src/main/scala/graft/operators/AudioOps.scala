package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Typed audio pipeline plumbing — the audio leg of the multimodal
  * pillar (reference scope: kinesis-pay.php treats payment media as
  * opaque attachments; a training-data pipeline needs the decode /
  * feature / gate / dedup passes per modality). Same shape as
  * [[MultimodalOps]]: opaque binary payloads + metadata in, decoded
  * rows out ([[audioProfile]] for the gate and the perceptual hash,
  * [[extractAudioFeatures]] / [[envelopes]] for the stats and the ANN
  * feature), `mapPartitions` over case-class rows.
  *
  * WAV/RIFF payloads (PCM 8/16-bit, any channel count) are decoded
  * for REAL with a hand-rolled chunk parser — zero external
  * dependencies, and deliberately NOT `javax.sound.sampled`: the
  * parser clamps every declared chunk size to the bytes actually
  * present (a forged `data` size cannot allocate past the payload —
  * the audio analog of the image pixel-budget bomb guard) and caps
  * total samples at [[DefaultMaxSamples]] before any allocation.
  * Undecodable / non-PCM / over-budget payloads degrade to a
  * `decoded = false` row rather than failing the batch (poison-pill
  * tolerance — one corrupt file must not kill a 100 TB decode pass).
  */
object AudioOps {

  case class AudioRow(docId: Long, payload: Array[Byte], format: String)

  /** Per-clip decoded features. `envelope` is the 8-bin time-energy
    * envelope normalized to sum 1 (the audio analog of the image
    * luminance histogram): duration-invariant and gain-invariant, so
    * re-encoded / volume-normalized variants of a clip land near each
    * other under cosine — the feature the ANN bridge consumes.
    * Undecodable rows carry zeroed stats and an all-zero envelope
    * with `decoded = false`; consumers gate on the flag.
    */
  case class AudioFeatures(docId: Long, sampleRate: Int, channels: Int,
      nSamples: Int, durationMs: Double, rms: Double, zcr: Double,
      silenceRatio: Double, peak: Double, decoded: Boolean,
      envelope: Array[Float])

  case class AudioGate(docId: Long, durationMs: Double, rms: Double,
      peak: Double, keep: Boolean, failReasons: String)

  /** Sample budget for a full decode: 16 M mono samples ≈ 128 MB of
    * doubles — the allocation bound for one row's decode scratch.
    */
  private[graft] val DefaultMaxSamples: Long = 16L * 1024 * 1024

  /** Decoded PCM: mono samples in [-1, 1] (channels averaged). */
  private[graft] case class Pcm(sampleRate: Int, channels: Int,
      bits: Int, mono: Array[Double])

  private def tag(b: Array[Byte], o: Int): String =
    if (o + 4 > b.length) ""
    else new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  private def u32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** RIFF/WAVE chunk walk → PCM. Every declared size is clamped to
    * the bytes present; odd chunk sizes advance by the RIFF pad byte.
    * Returns None for anything that is not plain PCM 8/16-bit.
    */
  private[graft] def decodeWav(payload: Array[Byte],
      maxSamples: Long = DefaultMaxSamples): Option[Pcm] = {
    if (payload.length < 44 || tag(payload, 0) != "RIFF" ||
        tag(payload, 8) != "WAVE") return None
    var off = 12
    var fmt: Option[(Int, Int, Int, Int)] = None // format, ch, rate, bits
    var data: Option[(Int, Int)] = None // offset, len
    while (off + 8 <= payload.length && (fmt.isEmpty || data.isEmpty)) {
      val id = tag(payload, off)
      val declared = u32(payload, off + 4)
      val avail = (payload.length - (off + 8)).toLong
      val len = math.min(declared, avail).toInt // bomb clamp
      if (id == "fmt " && len >= 16 && fmt.isEmpty)
        fmt = Some((u16(payload, off + 8), u16(payload, off + 10),
          u32(payload, off + 12).toInt, u16(payload, off + 22)))
      else if (id == "data" && data.isEmpty)
        data = Some((off + 8, len))
      off += 8 + len + (len & 1)
    }
    (fmt, data) match {
      case (Some((1, ch, rate, bits)), Some((doff, dlen)))
          if ch >= 1 && rate > 0 && (bits == 8 || bits == 16) =>
        val frameBytes = (bits / 8) * ch
        val n = dlen / frameBytes
        if (n.toLong > maxSamples) None
        else {
          val mono = Array.ofDim[Double](n)
          var i = 0
          while (i < n) {
            var acc = 0.0
            var c = 0
            while (c < ch) {
              val o = doff + i * frameBytes + c * (bits / 8)
              acc += (if (bits == 16)
                ((payload(o) & 0xff) | (payload(o + 1) << 8)).toShort / 32768.0
              else ((payload(o) & 0xff) - 128) / 128.0)
              c += 1
            }
            mono(i) = acc / ch
            i += 1
          }
          Some(Pcm(rate, ch, bits, mono))
        }
      case _ => None
    }
  }

  /** 64-bit energy-delta hash (the Haitsma-Kalker sign-bit recipe at
    * frame granularity): 65 equal time frames, bit i = [E(i+1) >
    * E(i)]. Invariant to global gain (energies scale by c², strict
    * comparisons survive) and to duration (frames are fractions of
    * the clip), robust to small local edits (a changed region flips
    * only its neighboring delta bits). None for clips too short to
    * fill frames (< 2 samples each) or digitally silent — degenerate
    * all-tie profiles that would band-pair unrelated clips.
    */
  private[graft] def energyHash64(mono: Array[Double]): Option[Long] = {
    val frames = 65
    if (mono.length < frames * 2) return None
    val e = Array.ofDim[Double](frames)
    var i = 0
    while (i < mono.length) {
      e(((i.toLong * frames) / mono.length).toInt) += mono(i) * mono(i)
      i += 1
    }
    if (e.forall(_ == 0.0)) return None // silent
    var h = 0L
    var b = 0
    while (b < 64) {
      if (e(b + 1) > e(b)) h |= (1L << b)
      b += 1
    }
    Some(h)
  }

  private val SilenceAmp = 0.01

  private def features(m: AudioRow, maxSamples: Long): AudioFeatures =
    (if (m.format == "audio") decodeWav(m.payload, maxSamples)
     else None) match {
      case None =>
        AudioFeatures(m.docId, 0, 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0,
          decoded = false, Array.fill(8)(0f))
      case Some(p) =>
        val n = p.mono.length
        var sumSq = 0.0; var peak = 0.0; var silent = 0L; var cross = 0L
        val env = Array.ofDim[Double](8)
        var i = 0
        while (i < n) {
          val s = p.mono(i)
          sumSq += s * s
          val a = math.abs(s)
          if (a > peak) peak = a
          if (a < SilenceAmp) silent += 1
          if (i > 0 && (s > 0) != (p.mono(i - 1) > 0)) cross += 1
          env(((i.toLong * 8) / n).toInt) += s * s
          i += 1
        }
        val envSum = env.sum
        val envN =
          if (envSum > 0) env.map(v => (v / envSum).toFloat)
          else Array.fill(8)(0f)
        AudioFeatures(m.docId, p.sampleRate, p.channels, n,
          durationMs = n * 1000.0 / p.sampleRate,
          rms = if (n > 0) math.sqrt(sumSq / n) else 0.0,
          zcr = if (n > 1) cross.toDouble / (n - 1) else 0.0,
          silenceRatio = if (n > 0) silent.toDouble / n else 0.0,
          peak = peak, decoded = n > 0, envelope = envN)
    }

  /** Typed batched decode → per-clip features. Partition-local map,
    * no shuffle: the input partitioning is the decode parallelism
    * (batch size must never change results, asserted in AudioOpsSpec).
    */
  def extractAudioFeatures(audio: Dataset[AudioRow], batchSize: Int = 64,
      maxSamples: Long = DefaultMaxSamples): Dataset[AudioFeatures] = {
    implicit val enc = Encoders.product[AudioFeatures]
    audio.mapPartitions(_.grouped(batchSize).flatMap(batch =>
      batch.map(features(_, maxSamples))))
  }

  /** Audio quality gate with NAMED failure reasons, projected from the
    * profile frame — the [[MultimodalOps.imageFilter]] / gopherGate
    * analog for clips: `not_audio` / `undecodable` / `too_short` /
    * `silent` / `clipped`. Duration, rms and peak are EMITTED (rms/peak
    * 6dp) so consumers re-cut the gate without re-decoding 100 TB. The
    * thresholds are [[audioProfile]]'s arguments.
    */
  def audioFilter(profiles: Dataset[AudioProfile]): Dataset[AudioGate] = {
    implicit val enc = Encoders.product[AudioGate]
    profiles.map(p => AudioGate(p.docId, p.durationMs, p.rms, p.peak,
      p.keep, p.failReasons))
  }

  /** One row per clip from ONE decode: the gate fields of
    * [[audioFilter]] AND the perceptual energy hash
    * ([[energyHash64]]) — the audio member of the decode-once profile
    * family ([[MultimodalOps.imageProfile]]). `hashValid` carries
    * [[energyHash64]]'s own degeneracy rule: undecodable, non-audio,
    * too-short (< 2 samples/frame) and digitally-silent clips all
    * hash degenerately (an all-zero energy profile ties every frame
    * delta) and would pair unrelated clips in the band join, so the
    * dedup excludes every row without it — even when the gate
    * thresholds are caller-loosened.
    */
  case class AudioProfile(docId: Long, decoded: Boolean, durationMs: Double,
      rms: Double, peak: Double, ehash: Long, hashValid: Boolean,
      keep: Boolean, failReasons: String)

  def audioProfile(audio: Dataset[AudioRow], minMs: Double = 250.0,
      minRms: Double = 0.005, maxClipFrac: Double = 0.1,
      maxSamples: Long = DefaultMaxSamples): Dataset[AudioProfile] = {
    implicit val enc = Encoders.product[AudioProfile]
    audio.mapPartitions(_.map { m =>
      if (m.format != "audio")
        AudioProfile(m.docId, decoded = false, 0.0, 0.0, 0.0, 0L,
          hashValid = false, keep = false, "not_audio")
      else decodeWav(m.payload, maxSamples) match {
        case None =>
          AudioProfile(m.docId, decoded = false, 0.0, 0.0, 0.0, 0L,
            hashValid = false, keep = false, "undecodable")
        case Some(p) =>
          val n = p.mono.length
          var sumSq = 0.0; var peak = 0.0; var clipped = 0L
          var i = 0
          while (i < n) {
            val a = math.abs(p.mono(i))
            sumSq += a * a
            if (a > peak) peak = a
            if (a >= 0.985) clipped += 1
            i += 1
          }
          val durMs = n * 1000.0 / p.sampleRate
          val rms = if (n > 0) math.sqrt(sumSq / n) else 0.0
          val reasons = Seq(
            if (durMs < minMs) "too_short" else "",
            if (rms < minRms) "silent" else "",
            if (n > 0 && clipped.toDouble / n > maxClipFrac) "clipped"
            else "").filter(_.nonEmpty)
          val h = energyHash64(p.mono)
          AudioProfile(m.docId, decoded = true, durMs,
            math.rint(rms * 1e6) / 1e6, math.rint(peak * 1e6) / 1e6,
            h.getOrElse(0L), h.isDefined,
            reasons.isEmpty, reasons.mkString(","))
      }
    })
  }

  /** The (vec_id, embedding) envelope frame of the audio → ANN
    * bridge: real decode → 8-bin time-energy envelope, decoded and
    * non-silent clips only (an all-zero envelope is cosine-undefined
    * and would rank arbitrarily). The caller pins it and ranks it with
    * [[Similarity.annTopK]], unchanged — the same composition as
    * [[MultimodalOps.imageAnnTopK]] (annTopK reads the frame from both
    * the query and corpus subtrees, so an unpinned frame decodes every
    * clip twice).
    */
  def envelopes(audio: Dataset[AudioRow]): DataFrame =
    extractAudioFeatures(audio).toDF()
      .where(col("decoded"))
      .where(col("rms") > 0.0)
      .select(col("docId").as("vec_id"), col("envelope").as("embedding"))

  /** Deterministic token-segment WAV per document — the registry /
    * fixture bridge, the audio twin of
    * [[MultimodalOps.syntheticImages]]: the driver's testdata carries
    * no binary column, so `q_audio_*` synthesize one PCM-16 clip per
    * doc and run the REAL RIFF decode + feature + hash machinery over
    * it. The segment count adapts to the document
    * (min(segments, tokens) — every segment is token-ACTIVE; a fixed
    * count left silent tails on short docs, and two short docs then
    * agreed on most of the 64 energy-delta bits by construction, the
    * degenerate-collision trap the first cut measured at 0.26% of
    * all pairs). Segment (i mod active) XOR-folds token i's murmur
    * hash into a seeded noise-burst amplitude, so EVERY token
    * influences samples AND every frame energy carries doc-specific
    * signal: exact-duplicate texts render byte-identical clips
    * (hamming-0 pairs), near-duplicate texts reseed only the changed
    * segments (small-hamming pairs), unrelated texts land ~32 bits
    * apart — the neighborhood structure a perceptual dedup detects.
    * Token-free accumulators (empty/poison docs) render silence,
    * exercising the gate's `silent` reason; sub-`minMs` documents
    * exercise `too_short`.
    * Real corpora replace this one method with their binary column.
    */
  def syntheticAudio(documents: DataFrame, segments: Int = 64,
      segSamples: Int = 40, sampleRate: Int = 8000): Dataset[AudioRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    implicit val enc = Encoders.product[AudioRow]
    documents.select("doc_id", "text").as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        // null text = poison row (the sibling operators' tolerance
        // policy): render the all-silent clip rather than NPE-ing
        val toks =
          if (text == null) Array.empty[String] else text.split(" ")
        val active = math.min(segments, math.max(1, toks.length))
        val acc = Array.fill(active)(0)
        var i = 0
        while (i < toks.length) {
          acc(i % active) ^=
            scala.util.hashing.MurmurHash3.stringHash(toks(i))
          i += 1
        }
        val pcm = Array.ofDim[Short](active * segSamples)
        var s = 0
        while (s < active) {
          // amp 2048..18431 (never clips, never silent when a token
          // folded in); acc = 0 (no tokens) → silence
          val amp = if (acc(s) == 0) 0 else 2048 + ((acc(s) >>> 8) & 0x3fff)
          var state = acc(s) | 1 // xorshift32 noise seeded by the fold
          var j = 0
          while (j < segSamples) {
            state ^= state << 13; state ^= state >>> 17; state ^= state << 5
            // uniform noise in [-amp, amp] (signed % keeps the sign)
            pcm(s * segSamples + j) = (state % (amp + 1)).toShort
            j += 1
          }
          s += 1
        }
        AudioRow(id, writeWav(pcm, sampleRate), "audio")
      })
  }

  /** Re-encoded duplicate injector for the dedup fixtures/registry: a
    * gain-scaled, requantized copy of every clip whose docId ≡ 0
    * (mod `modulus`), at `idOffset` + docId. A production corpus
    * carries such copies natively (volume-normalized re-uploads,
    * transcodes); the testdata's synthetic clips are all-distinct, so
    * the registry injects them to keep `q_audio_dedup` exercising the
    * match path end-to-end. [[energyHash64]] is gain-invariant up to
    * requantization ties, so each variant pairs with its source at
    * hamming ≈ 0. Undecodable rows are skipped (never forged).
    */
  def gainVariants(audio: Dataset[AudioRow], modulus: Long = 37,
      idOffset: Long = 1L << 40, gain: Double = 0.5,
      maxSamples: Long = DefaultMaxSamples): Dataset[AudioRow] = {
    implicit val enc = Encoders.product[AudioRow]
    audio.filter((r: AudioRow) => r.docId % modulus == 0)
      .mapPartitions(_.flatMap(m =>
        (if (m.format == "audio") decodeWav(m.payload, maxSamples)
         else None).map { p =>
          val pcm = p.mono.map(s =>
            math.max(-32768, math.min(32767,
              math.rint(s * gain * 32768.0))).toInt.toShort)
          AudioRow(m.docId + idOffset, writeWav(pcm, p.sampleRate), "audio")
        }))
  }

  /** Resample to `targetRate` — the audio analog of
    * [[MultimodalOps.resize]], the uniform-sample-rate pass a
    * training pipeline runs before batching: real decode → linear
    * interpolation over the mono signal → PCM-16 WAV re-encode.
    * Undecodable / non-audio payloads are dropped (flatMap; the
    * resize stub policy does not apply — a fabricated clip has no
    * consumer). Partition-local map, no shuffle. Output length is
    * round(n · target/src) samples; a clip already at `targetRate`
    * still round-trips through re-encode (idempotent re-runs produce
    * identical bytes — spec-asserted).
    */
  def resample(audio: Dataset[AudioRow], targetRate: Int,
      maxSamples: Long = DefaultMaxSamples): Dataset[AudioRow] = {
    require(targetRate > 0, s"targetRate must be positive, got $targetRate")
    implicit val enc = Encoders.product[AudioRow]
    audio.mapPartitions(_.flatMap(m =>
      (if (m.format == "audio") decodeWav(m.payload, maxSamples)
       else None).flatMap { p =>
        val n = p.mono.length
        val outN = math.round(n.toDouble * targetRate / p.sampleRate).toInt
        if (outN <= 0 || outN > maxSamples) None
        else {
          val out = Array.ofDim[Short](outN)
          var i = 0
          while (i < outN) {
            val pos = i.toDouble * p.sampleRate / targetRate
            val i0 = math.min(n - 1, pos.toInt)
            val i1 = math.min(n - 1, i0 + 1)
            val frac = pos - i0
            val s = p.mono(i0) * (1 - frac) + p.mono(i1) * frac
            out(i) = math.max(-32768, math.min(32767,
              math.rint(s * 32768.0))).toInt.toShort
            i += 1
          }
          Some(AudioRow(m.docId, writeWav(out, targetRate), "audio"))
        }
      }))
  }

  /** Peak-normalize to `targetPeak` (default 0.9) — the loudness-
    * normalization pass published audio pipelines run before feature
    * extraction, and a direct consumer of the dedup family's
    * gain-invariance: a normalized corpus and its raw original carry
    * IDENTICAL energy-delta hashes (spec-asserted). Digitally-silent
    * clips pass through unchanged (no gain is defined). Undecodable /
    * non-audio dropped. Partition-local, no shuffle.
    */
  def normalizeGain(audio: Dataset[AudioRow], targetPeak: Double = 0.9,
      maxSamples: Long = DefaultMaxSamples): Dataset[AudioRow] = {
    require(targetPeak > 0 && targetPeak <= 1.0,
      s"targetPeak must be in (0, 1], got $targetPeak")
    implicit val enc = Encoders.product[AudioRow]
    audio.mapPartitions(_.flatMap(m =>
      (if (m.format == "audio") decodeWav(m.payload, maxSamples)
       else None).map { p =>
        var peak = 0.0
        p.mono.foreach(s => peak = math.max(peak, math.abs(s)))
        val g = if (peak > 0) targetPeak / peak else 1.0
        val out = p.mono.map(s => math.max(-32768, math.min(32767,
          math.rint(s * g * 32768.0))).toInt.toShort)
        AudioRow(m.docId, writeWav(out, p.sampleRate), "audio")
      }))
  }

  /** Canonical 44-byte-header mono PCM-16 WAV writer (fixtures +
    * syntheticAudio).
    */
  private[graft] def writeWav(pcm: Array[Short], sampleRate: Int,
      channels: Int = 1): Array[Byte] = {
    val dataLen = pcm.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2)
      .putShort((channels * 2).toShort).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    pcm.foreach(bb.putShort)
    bb.array()
  }
}
