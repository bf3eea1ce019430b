package graft

import org.apache.spark.sql.Encoders

import graft.operators.{AudioOps, Dedup, Similarity}
import graft.operators.AudioOps.AudioRow

/** The audio leg of the multimodal pillar: real RIFF/WAV chunk-parse
  * decode (known-answer sine fixtures), the gain-invariant
  * energy-delta hash, the named-reason gate, the perceptual dedup
  * band join (clones pair at hamming 0, near-dups within budget,
  * unrelated clips do not, degenerate rows excluded) and the ANN
  * bridge — plus the bomb-clamp and poison-row contracts the image
  * family established.
  */
class AudioOpsSpec extends SparkSuite {

  private def sine(freqHz: Double, seconds: Double, amp: Double,
      rate: Int = 8000): Array[Short] = {
    val n = (seconds * rate).toInt
    Array.tabulate(n)(i =>
      (amp * 32767.0 * math.sin(2 * math.Pi * freqHz * i / rate)).toShort)
  }

  private def wav(pcm: Array[Short], rate: Int = 8000): Array[Byte] =
    AudioOps.writeWav(pcm, rate)

  private def rows(rs: (Long, Array[Byte], String)*) = {
    implicit val enc = Encoders.product[AudioRow]
    spark.createDataset(rs.map { case (id, p, f) => AudioRow(id, p, f) })
  }

  /** The dedup door over the decode-once profile: valid hashes only. */
  private def dedupPairs(m: org.apache.spark.sql.Dataset[AudioRow],
      maxHamming: Int = 5) = {
    import org.apache.spark.sql.functions.col
    Dedup.perceptualPairsFrom(AudioOps.audioProfile(m)
      .where(col("hashValid")).select(col("docId"), col("ehash")), maxHamming)
  }

  test("known-answer: 440 Hz sine decodes to its true rate/length/stats") {
    val f = AudioOps.audioProfile(
      rows((0L, wav(sine(440, 1.0, 0.5)), "audio"))).collect()(0)
    assert(f.decoded && f.sampleRate == 8000 && f.channels == 1)
    assert(f.nSamples == 8000 && math.abs(f.durationMs - 1000.0) < 1e-9)
    // sine rms = amp/sqrt(2); 16-bit quantization noise is tiny
    assert(math.abs(f.rms - 0.5 / math.sqrt(2)) < 0.005, s"rms ${f.rms}")
    assert(math.abs(f.peak - 0.5) < 0.005, s"peak ${f.peak}")
    // 440 cycles/s → ~880 sign changes/s
    assert(math.abs(f.zcr - 2 * 440.0 / 8000) < 0.01, s"zcr ${f.zcr}")
    // stationary tone → flat 8-bin energy envelope
    assert(f.envelope.forall(e => math.abs(e - 0.125f) < 0.01f))
    assert(math.abs(f.envelope.sum - 1f) < 1e-3)
  }

  test("8-bit PCM and multi-channel average decode correctly") {
    // hand-build an 8-bit mono wav: header fields swap bits=8
    val pcm8 = Array.tabulate(4000)(i =>
      (128 + 100 * math.sin(2 * math.Pi * 200 * i / 8000)).toByte)
    val bb = java.nio.ByteBuffer.allocate(44 + pcm8.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + pcm8.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(8000)
      .putShort(1).putShort(8)
      .put("data".getBytes("US-ASCII")).putInt(pcm8.length)
    bb.put(pcm8)
    // stereo 16-bit with identical channels == the mono signal
    val mono = sine(200, 0.5, 0.4)
    val stereo = Array.ofDim[Short](mono.length * 2)
    mono.indices.foreach { i =>
      stereo(2 * i) = mono(i); stereo(2 * i + 1) = mono(i)
    }
    val dataLen = stereo.length * 2
    val sb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    sb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(2).putInt(8000).putInt(8000 * 4)
      .putShort(4).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    stereo.foreach(sb.putShort)
    val f = AudioOps.audioProfile(
      rows((0L, bb.array(), "audio"), (1L, sb.array(), "audio")))
      .collect().sortBy(_.docId)
    assert(f(0).decoded && f(0).sampleRate == 8000 && f(0).nSamples == 4000)
    assert(math.abs(f(0).rms - (100.0 / 128) / math.sqrt(2)) < 0.01)
    assert(f(1).decoded && f(1).channels == 2 && f(1).nSamples == mono.length)
    assert(math.abs(f(1).rms - 0.4 / math.sqrt(2)) < 0.005)
  }

  test("undecodable / non-audio / empty / null payloads degrade to decoded=false") {
    val m = rows(
      (0L, wav(sine(300, 0.5, 0.5)), "audio"),
      (1L, "definitely not a wav".getBytes("UTF-8"), "audio"),
      (2L, wav(sine(300, 0.5, 0.5)), "image"),
      (3L, Array.emptyByteArray, "audio"),
      (4L, null, "audio")) // a nullable binary column's null
    val f = AudioOps.audioProfile(m).collect().sortBy(_.docId)
    assert(f.map(_.decoded).toSeq == Seq(true, false, false, false, false))
    assert(f.map(_.failReasons).toSeq ==
      Seq("", "undecodable", "not_audio", "undecodable", "undecodable"))
    assert(f.tail.forall(r => r.nSamples == 0 && r.rms == 0.0 &&
      r.zcr == 0.0 && r.envelope.toSeq == Seq.fill(8)(0f) && !r.hashValid))
  }

  test("a zero-sample WAV decodes and gates too_short,silent") {
    val f = AudioOps.audioProfile(
      rows((0L, wav(Array.emptyShortArray), "audio"))).collect()(0)
    assert(f.decoded && f.sampleRate == 8000 && f.nSamples == 0)
    assert(f.durationMs == 0.0 && f.rms == 0.0 && f.zcr == 0.0 &&
      f.silenceRatio == 0.0 && f.envelope.toSeq == Seq.fill(8)(0f))
    assert(!f.keep && f.failReasons == "too_short,silent" && !f.hashValid)
    // all-zero envelope: no ANN row
    assert(AudioOps.envelopes(AudioOps.audioProfile(
      rows((0L, wav(Array.emptyShortArray), "audio")))).count() == 0L)
  }

  test("bomb clamp: forged giant data size decodes only the bytes present") {
    val honest = wav(sine(300, 0.25, 0.5))
    val forged = honest.clone()
    // data chunk size field lives at offset 40 in the canonical header
    val bb = java.nio.ByteBuffer.wrap(forged)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(40, Int.MaxValue)
    val f = AudioOps.audioProfile(rows((0L, forged, "audio")))
      .collect()(0)
    assert(f.decoded && f.nSamples == 2000, s"clamped n ${f.nSamples}")
    // over-budget sample counts refuse instead of allocating
    assert(AudioOps.decodeWav(honest, maxSamples = 100).isEmpty)
  }

  test("energyHash64: gain-invariant, silent/short clips refused") {
    val loud = sine(250, 0.5, 0.8)
    val quiet = loud.map(s => (s / 4).toShort)
    val h1 = AudioOps.decodeWav(wav(loud)).flatMap(p =>
      AudioOps.energyHash64(p.mono))
    val h2 = AudioOps.decodeWav(wav(quiet)).flatMap(p =>
      AudioOps.energyHash64(p.mono))
    assert(h1.isDefined && h1 == h2, "global gain must not change the hash")
    assert(AudioOps.energyHash64(Array.fill(5000)(0.0)).isEmpty, "silent")
    assert(AudioOps.energyHash64(Array.fill(100)(0.5)).isEmpty, "too short")
  }

  test("audioDedupPairs: clones at hamming 0, edits nearby, unrelated absent, degenerate excluded") {
    val base = sine(250, 1.0, 0.6)
    // local edit: boost one eighth of the clip — flips only the
    // neighboring frame-energy delta bits
    val edited = base.clone()
    (1000 until 2000).foreach(i => edited(i) = (edited(i) * 1.6).toShort)
    val other = // rising chirp-ish profile, structurally different
      Array.tabulate(8000)(i => (0.6 * 32767 *
        math.sin(2 * math.Pi * (100 + i / 40.0) * i / 8000) *
        (i.toDouble / 8000)).toShort)
    val m = rows(
      (0L, wav(base), "audio"),
      (1L, wav(base), "audio"), // exact clone
      (2L, wav(edited), "audio"), // near-dup
      (3L, wav(other), "audio"), // unrelated
      (4L, "garbage".getBytes("UTF-8"), "audio"), // undecodable
      (5L, "garbage".getBytes("UTF-8"), "audio"),
      (6L, wav(Array.fill[Short](8000)(0)), "audio"), // silent
      (7L, wav(Array.fill[Short](8000)(0)), "audio"))
    val pairs = dedupPairs(m).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.get((0L, 1L)).contains(0L), s"clone pair missing: $pairs")
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) <= 5, "edit pair")
    assert(pairs.contains((1L, 2L)), "clone inherits its rep's near-dup")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L), "unrelated")
    // the two garbage rows and the two silent rows must NOT pair
    assert(!pairs.contains((4L, 5L)) && !pairs.contains((6L, 7L)),
      "degenerate rows paired")
    // plan stays an equi-join — never cartesian
    val plan = dedupPairs(m).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("audioFilter: each failure reason fires on its fixture") {
    val m = rows(
      (0L, wav(sine(300, 0.5, 0.5)), "audio"), // keep
      (1L, wav(sine(300, 0.05, 0.5)), "audio"), // too_short
      (2L, wav(Array.fill[Short](4000)(0)), "audio"), // silent
      (3L, wav(Array.tabulate[Short](4000)(i =>
        if (i % 16 < 8) 32767 else -32768)), "audio"), // clipped
      (4L, "junk".getBytes("UTF-8"), "audio"), // undecodable
      (5L, wav(sine(300, 0.5, 0.5)), "video")) // not_audio
    val g = AudioOps.audioFilter(AudioOps.audioProfile(m))
      .collect().sortBy(_.docId)
    assert(g(0).keep && g(0).failReasons.isEmpty)
    assert(!g(1).keep && g(1).failReasons == "too_short")
    assert(!g(2).keep && g(2).failReasons.contains("silent"))
    assert(!g(3).keep && g(3).failReasons == "clipped")
    assert(!g(4).keep && g(4).failReasons == "undecodable")
    assert(!g(5).keep && g(5).failReasons == "not_audio")
    // rms/peak are emitted for re-cutting
    assert(g(0).rms > 0.3 && g(0).peak > 0.45)
  }

  test("audioProfile: one decode yields exactly audioFilter's gate AND " +
      "audioHashes' hash/validity") {
    val m = rows(
      (0L, wav(sine(300, 0.5, 0.5)), "audio"),
      (1L, wav(sine(300, 0.05, 0.5)), "audio"), // too short: hash refused
      (2L, wav(Array.fill[Short](4000)(0)), "audio"), // silent: refused
      (3L, "junk".getBytes("UTF-8"), "audio"),
      (4L, wav(sine(440, 0.4, 0.3)), "video"))
    val p = AudioOps.audioProfile(m).collect().map(r => r.docId -> r).toMap
    val g = AudioOps.audioFilter(AudioOps.audioProfile(m)).collect()
      .map(r => r.docId -> r).toMap
    // the row kernels on the driver: decodeWav, then energyHash64
    m.collect().foreach { row =>
      val id = row.docId
      val pcm =
        if (row.format == "audio") AudioOps.decodeWav(row.payload) else None
      val mono = pcm.map(_.mono).getOrElse(Array.empty[Double])
      val durMs = pcm.map(q => q.mono.length * 1000.0 / q.sampleRate)
        .getOrElse(0.0)
      val rms = if (mono.isEmpty) 0.0
        else math.sqrt(mono.map(x => x * x).sum / mono.length)
      val peak = if (mono.isEmpty) 0.0 else mono.map(math.abs).max
      assert(p(id).decoded == pcm.isDefined, s"decoded drift at $id")
      assert(math.abs(p(id).durationMs - durMs) < 1e-9 &&
        math.abs(p(id).rms - rms) < 1e-6 &&
        math.abs(p(id).peak - peak) < 1e-6, s"stats drift at $id")
      // the profile keeps raw rms/peak; the gate emits them at 6 dp
      assert((g(id).durationMs, g(id).rms, g(id).peak, g(id).keep,
        g(id).failReasons) == (p(id).durationMs,
        math.rint(p(id).rms * 1e6) / 1e6, math.rint(p(id).peak * 1e6) / 1e6,
        p(id).keep, p(id).failReasons), s"gate drift at $id")
      val h = pcm.flatMap(q => AudioOps.energyHash64(q.mono))
      // the profile separates decode failure from hash degeneracy; the
      // kernel folds both into one Option — the conjunction must agree
      assert((p(id).decoded && p(id).hashValid) == h.isDefined,
        s"hash-validity drift at $id")
      h.foreach(v => assert(p(id).ehash == v, s"ehash drift at $id"))
    }
    assert((0L to 4L).map(p(_).failReasons) ==
      Seq("", "too_short", "silent", "undecodable", "not_audio"))
  }

  test("audioAnnTopK: a volume-normalized variant is its twin's nearest neighbor") {
    val a = sine(220, 1.0, 0.8)
    val aQuiet = a.map(s => (s / 3).toShort)
    val b = Array.tabulate(8000)(i => (0.6 * 32767 *
      math.sin(2 * math.Pi * 330 * i / 8000) *
      math.exp(-3.0 * i / 8000)).toShort) // decaying envelope
    val c = Array.tabulate(8000)(i => (0.6 * 32767 *
      math.sin(2 * math.Pi * 180 * i / 8000) *
      (i.toDouble / 8000)).toShort) // rising envelope
    val m = rows((0L, wav(a), "audio"), (1L, wav(b), "audio"),
      (2L, wav(c), "audio"), (3L, wav(aQuiet), "audio"),
      (4L, "junk".getBytes("UTF-8"), "audio"))
    val envelopes = AudioOps.envelopes(AudioOps.audioProfile(m))
    val top = Similarity.annTopK(envelopes, nQueries = 3, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // flat envelope at any gain ≡ flat envelope: cosine 1.0
    assert(top(0L) == 3L, s"query 0 nearest ${top(0L)}")
    // undecodable rows never appear
    val all = Similarity.annTopK(envelopes, nQueries = 3, k = 4).collect()
    assert(!all.exists(r => r.getLong(1) == 4L))
  }

  test("syntheticAudio: exact-dup texts render identical clips, near-dups differ in few bits") {
    import spark.implicits._
    // ≥ segments tokens so every segment is token-active — a short
    // text leaves most of the 64 delta bits degenerate and the
    // unrelated-docs distance test meaningless
    val a = (0 until 80).map(i => s"alpha$i").mkString(" ")
    val aEdit = (0 until 80).map(i =>
      if (i == 37) "CHANGED" else s"alpha$i").mkString(" ")
    val b = (0 until 80).map(i => s"omega$i").mkString(" ")
    val docs = Seq((0L, a, "en", "s"), (1L, a, "en", "s"),
      (2L, aEdit, "en", "s"), (3L, b, "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val clips = AudioOps.syntheticAudio(docs).collect().sortBy(_.docId)
    assert(clips(0).payload.toSeq == clips(1).payload.toSeq)
    assert(clips(0).payload.toSeq != clips(2).payload.toSeq)
    val hashes = AudioOps.audioProfile(AudioOps.syntheticAudio(docs))
      .collect().sortBy(_.docId)
    assert(hashes.forall(h => h.decoded && h.hashValid))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hashes(0).ehash, hashes(1).ehash) == 0)
    assert(ham(hashes(0).ehash, hashes(2).ehash) <= 5,
      s"near-dup hamming ${ham(hashes(0).ehash, hashes(2).ehash)}")
    assert(ham(hashes(0).ehash, hashes(3).ehash) > 5, "unrelated too close")
  }

  test("resample: rate conversion preserves duration and tone; idempotent at same rate") {
    val m = rows((0L, wav(sine(440, 1.0, 0.5)), "audio"),
      (1L, "junk".getBytes("UTF-8"), "audio"))
    val down = AudioOps.resample(m, 4000).collect()
    assert(down.map(_.docId).toSeq == Seq(0L), "undecodable dropped")
    val f = AudioOps.audioProfile(
      rows((0L, down(0).payload, "audio"))).collect()(0)
    assert(f.sampleRate == 4000 && f.nSamples == 4000)
    assert(math.abs(f.durationMs - 1000.0) < 1e-6, "duration preserved")
    // 440 Hz tone at 4 kHz: zcr doubles in per-sample terms
    assert(math.abs(f.zcr - 2 * 440.0 / 4000) < 0.02, s"zcr ${f.zcr}")
    assert(math.abs(f.rms - 0.5 / math.sqrt(2)) < 0.01, "level preserved")
    // same-rate resample is byte-idempotent after one round trip
    val once = AudioOps.resample(m, 8000).collect()(0).payload
    val twice = AudioOps.resample(
      rows((0L, once, "audio")), 8000).collect()(0).payload
    assert(once.toSeq == twice.toSeq)
  }

  test("normalizeGain: peak lands on target, dedup hash survives, silence passes through") {
    // energy-VARIED quiet clip (amp-seeded noise segments): near-tie
    // frame energies of a flat tone could flip delta bits under
    // requantization; distinct segment amplitudes make the hash's
    // sign structure robust, which is the dedup contract being
    // consumed here
    val rnd = new scala.util.Random(3)
    val quiet = Array.ofDim[Short](6400)
    for (s <- 0 until 64) {
      val amp = 300 + rnd.nextInt(2500)
      for (j <- 0 until 100)
        quiet(s * 100 + j) = (rnd.nextInt(2 * amp + 1) - amp).toShort
    }
    val m = rows((0L, wav(quiet), "audio"),
      (1L, wav(Array.fill[Short](4000)(0)), "audio"))
    val out = AudioOps.normalizeGain(m, targetPeak = 0.9).collect()
      .sortBy(_.docId)
    val f = AudioOps.audioProfile(
      rows((0L, out(0).payload, "audio"))).collect()(0)
    assert(math.abs(f.peak - 0.9) < 0.01, s"peak ${f.peak}")
    // gain-invariance consumed: raw and normalized hash within
    // requantization tolerance (same budget the gainVariants spec pins)
    val h1 = AudioOps.decodeWav(wav(quiet)).flatMap(p =>
      AudioOps.energyHash64(p.mono))
    val h2 = AudioOps.decodeWav(out(0).payload).flatMap(p =>
      AudioOps.energyHash64(p.mono))
    assert(h1.isDefined && h2.isDefined)
    assert(java.lang.Long.bitCount(h1.get ^ h2.get) <= 2,
      s"hamming ${java.lang.Long.bitCount(h1.get ^ h2.get)}")
    // silence: no gain defined, bytes unchanged
    assert(out(1).payload.toSeq ==
      wav(Array.fill[Short](4000)(0)).toSeq)
  }

  test("decodeWav fuzz: byte mutations and truncations never throw") {
    val base = wav(sine(300, 0.5, 0.5))
    val rnd = new scala.util.Random(42)
    (0 until 300).foreach { i =>
      val mutated = base.clone()
      i % 3 match {
        case 0 => // flip random bytes (headers included)
          (0 until 8).foreach(_ =>
            mutated(rnd.nextInt(mutated.length)) = rnd.nextInt(256).toByte)
          AudioOps.decodeWav(mutated).foreach(p => assert(p.mono != null))
        case 1 => // truncate at a random offset
          val cut = java.util.Arrays.copyOf(mutated, rnd.nextInt(mutated.length))
          AudioOps.decodeWav(cut).foreach(p => assert(p.mono != null))
        case 2 => // forge a random header int field
          val bb = java.nio.ByteBuffer.wrap(mutated)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.putInt(4 * rnd.nextInt(11), rnd.nextInt())
          AudioOps.decodeWav(mutated).foreach(p => assert(p.mono != null))
      }
    }
  }

  test("gainVariants: requantized gain-scaled copies pair with their source") {
    import spark.implicits._
    val docs = (0L until 5L).map(i =>
      (i, (0 until 80).map(j => s"tok-$i-$j").mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val base = AudioOps.syntheticAudio(docs)
    val variants = AudioOps.gainVariants(base, modulus = 2, idOffset = 1000)
    // only even ids get a variant
    assert(variants.collect().map(_.docId).sorted.toSeq ==
      Seq(1000L, 1002L, 1004L))
    val pairs = dedupPairs(base.union(variants)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    Seq(0L, 2L, 4L).foreach(i =>
      assert(pairs.get((i, 1000L + i)).exists(_ <= 2),
        s"variant of $i not matched: $pairs"))
    // variants never pair with unrelated sources
    assert(!pairs.contains((1L, 1000L)) && !pairs.contains((0L, 1002L)))
  }
}
