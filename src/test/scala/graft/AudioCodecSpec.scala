package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{AudioCodec, Multimodal, PixelCodec}

/** The audio-fingerprint tier: REAL PCM decode (RIFF/WAVE chunk walk,
  * 16-bit LE samples, exact stereo downmix), the 64-bin energy
  * envelope, the 64-bit gradient fingerprint, and the byte-distinct/
  * envelope-near dedup property the whole tier exists for — the audio
  * analog of [[PixelCodecSpec]].
  */
class AudioCodecSpec extends AnyFunSuite {
  import TestSpark._

  // deterministic pseudo-random samples (no Random: repeatable)
  private def noisy(n: Int, seed: Int): Array[Int] =
    Array.tabulate(n)(i =>
      ((i * 2654435761L + seed * 40503L) % 20000).toInt - 10000)

  test("WAV round-trip: mono samples decode bit-identically") {
    for ((n, rate) <- Seq((64, 8000), (1600, 16000), (2531, 44100), (1, 8000))) {
      val s = noisy(n, rate)
      val d = AudioCodec.decodePcmWav(AudioCodec.encodeWav16(s, rate, 1))
      assert(d.isDefined, s"n=$n")
      assert(d.get.sampleRate === rate)
      assert(d.get.samples.toSeq === s.toSeq, s"n=$n rate=$rate")
    }
  }

  test("stereo downmix is the exact integer mean floor((l+r)/2)") {
    // interleave L,R with distinct channels incl. negative asymmetry
    val frames = Array(100, 101, -5, -6, 32767, 32766, -32768, -32767,
      0, 1, 7, -8)
    val d = AudioCodec.decodePcmWav(AudioCodec.encodeWav16(frames, 8000, 2))
    assert(d.isDefined)
    val expect = frames.grouped(2)
      .map(p => Math.floorDiv(p(0) + p(1), 2)).toSeq
    assert(d.get.samples.toSeq === expect)
    // L=R stereo recovers the mono stream exactly (the fixture variant)
    val mono = noisy(200, 3)
    val st = new Array[Int](400)
    for (i <- 0 until 200) { st(2 * i) = mono(i); st(2 * i + 1) = mono(i) }
    assert(AudioCodec.decodePcmWav(AudioCodec.encodeWav16(st, 8000, 2)).get
      .samples.toSeq === mono.toSeq)
  }

  test("LIST metadata chunk is skipped: byte-distinct, sample-identical") {
    val s = noisy(300, 7)
    val plain = AudioCodec.encodeWav16(s, 8000, 1)
    val tagged = AudioCodec.encodeWav16(s, 8000, 1, Some("re-encoded"))
    assert(!tagged.sameElements(plain))            // bytes differ
    assert(AudioCodec.decodePcmWav(tagged).get.samples.toSeq === s.toSeq)
    // odd-length tag exercises the word-alignment pad byte
    val odd = AudioCodec.encodeWav16(s, 8000, 1, Some("x"))
    assert(AudioCodec.decodePcmWav(odd).get.samples.toSeq === s.toSeq)
  }

  test("energyEnvelope: exact recovery of block-constant envelopes at any n >= 64") {
    val env = AudioCodec.sceneEnvelope(4242L)
    for (n <- Seq(64, 65, 128, 1600, 2531, 4097)) {
      val got = AudioCodec.energyEnvelope(AudioCodec.renderEnvelope(env, n))
      assert(got.isDefined, s"n=$n")
      assert(got.get.toSeq === env.toSeq, s"n=$n")
    }
    // sub-64 streams carry no 64-bin signature
    assert(AudioCodec.energyEnvelope(noisy(63, 0)).isEmpty)
    // non-constant bins: floor of the true mean — bin of {10, 13} -> 11
    val two = Array.fill(64)(Seq(10, -13)).flatten.toArray
    assert(AudioCodec.energyEnvelope(two).get.forall(_ == 11L))
  }

  test("fingerprint64: gradient signs with 63->0 wraparound; strict inequality") {
    // strictly increasing envelope: bits 0..62 set, bit 63 clear
    // (wraparound compares bin 0 against bin 63: 0 < 63*step)
    val inc = Array.tabulate(64)(_.toLong * 10)
    val h = AudioCodec.fingerprint64(inc)
    for (k <- 0 until 64) {
      val bit = (h >> k) & 1
      assert(bit === (if (k < 63) 1L else 0L), s"k=$k")
    }
    // ties set no bit (strict >)
    assert(AudioCodec.fingerprint64(Array.fill(64)(5L)) === 0L)
  }

  test("byte-distinct envelope-equivalent variants fingerprint identically; perturbed within 2 bits") {
    val env = AudioCodec.sceneEnvelope(4242L)
    val mono = AudioCodec.renderEnvelope(env, 1600)
    val original = AudioCodec.encodeWav16(mono, 8000, 1)
    val resampled = AudioCodec.encodeWav16(
      AudioCodec.renderEnvelope(env, 2531), 16000, 1)
    val reenc = AudioCodec.encodeWav16(mono, 8000, 1, Some("re-encoded"))
    val st = new Array[Int](mono.length * 2)
    for (i <- mono.indices) { st(2 * i) = mono(i); st(2 * i + 1) = mono(i) }
    val stereo = AudioCodec.encodeWav16(st, 8000, 2)
    val gain = AudioCodec.encodeWav16(
      AudioCodec.renderEnvelope(env.map(_ * 2), 1600), 8000, 1)
    val variants = Seq(resampled, reenc, stereo, gain)
    assert(variants.forall(v => !v.sameElements(original))) // bytes differ
    val h0 = AudioCodec.afp(original).get
    variants.foreach(v => assert(AudioCodec.afp(v).get === h0))
    // perturbing one segment moves at most the 2 adjacent gradients
    val p = env.clone(); p(37) += 512
    val hp = AudioCodec.afp(AudioCodec.encodeWav16(
      AudioCodec.renderEnvelope(p, 1600), 8000, 1)).get
    assert(java.lang.Long.bitCount(h0 ^ hp) <= 2)
    // a different scene is far away (md5 mixing: expected distance 32)
    val other = AudioCodec.afp(AudioCodec.encodeWav16(
      AudioCodec.renderEnvelope(AudioCodec.sceneEnvelope(4243L), 1600),
      8000, 1)).get
    assert(java.lang.Long.bitCount(h0 ^ other) > 8)
  }

  test("hostile inputs never throw and decode to None") {
    val good = AudioCodec.encodeWav16(noisy(200, 2), 8000, 1)
    def patched(off: Int, v: Int): Array[Byte] =
      good.updated(off, v.toByte)
    val hostile = Seq[Array[Byte]](
      Array.empty,
      good.take(8),                        // truncated mid-RIFF header
      good.take(30),                       // truncated mid-fmt
      good.take(300),                      // data declared past buffer
      patched(20, 3),                      // format tag 3 (float): non-PCM
      patched(34, 8),                      // 8-bit samples: unsupported
      patched(22, 6),                      // 6 channels: unsupported
      // fmt present, data chunk missing
      good.take(36),
      // "data" id corrupted: no data chunk found
      patched(36, 'x'.toInt),
      // sample rate 0
      patched(24, 0).updated(25, 0.toByte).updated(26, 0.toByte)
        .updated(27, 0.toByte),
      "RIFFxxxxWAVE".getBytes("US-ASCII"), // chunkless container
      "NOTAWAVEFILE".getBytes("US-ASCII"),
      Array.fill[Byte](128)(-1))
    hostile.foreach(b => assert(AudioCodec.afp(b).isEmpty))
    // sub-64-sample stream: valid container, no 64-bin signature
    assert(AudioCodec.afp(
      AudioCodec.encodeWav16(noisy(63, 1), 8000, 1)).isEmpty)
    // a PNG is not audio
    assert(AudioCodec.afp(PixelCodec.encodeGray8Png(
      PixelCodec.Gray(8, 8, Array.fill(64)(7)))).isEmpty)
  }

  test("nearDupClusters e2e (audio): resampled/re-encoded/stereo/gain copies cluster") {
    val dir = TestSpark.tempDir("mm_audio_spec").toString
    def put(name: String, b: Array[Byte]): Unit =
      Files.write(Paths.get(s"$dir/$name"), b)
    val e1 = AudioCodec.sceneEnvelope(1L)
    val e2 = AudioCodec.sceneEnvelope(2L)
    val m1 = AudioCodec.renderEnvelope(e1, 1600)
    put("asset_1.wav", AudioCodec.encodeWav16(m1, 8000, 1))
    put("asset_2.wav", AudioCodec.encodeWav16(
      AudioCodec.renderEnvelope(e1, 2531), 16000, 1))
    put("asset_3.wav", AudioCodec.encodeWav16(m1, 8000, 1, Some("tag")))
    val st = new Array[Int](m1.length * 2)
    for (i <- m1.indices) { st(2 * i) = m1(i); st(2 * i + 1) = m1(i) }
    put("asset_4.wav", AudioCodec.encodeWav16(st, 8000, 2))
    put("asset_5.wav", AudioCodec.encodeWav16(
      AudioCodec.renderEnvelope(e2, 1600), 8000, 1))
    val p2 = e2.clone(); p2(37) += 512
    put("asset_6.wav", AudioCodec.encodeWav16(
      AudioCodec.renderEnvelope(p2, 1600), 8000, 1))
    put("asset_7.wav", AudioCodec.encodeWav16(
      AudioCodec.renderEnvelope(AudioCodec.sceneEnvelope(3L), 1600),
      8000, 1))                                 // singleton scene
    put("asset_8.wav", AudioCodec.encodeWav16(m1, 8000, 1).take(300))
                                                // corrupt: dropped
    put("asset_9.img", PixelCodec.encodeGray8Png(PixelCodec.renderGrid(
      PixelCodec.sceneGrid(1L), 64)))           // non-audio: dropped
    val out = Multimodal.nearDupClusters(Multimodal.fingerprints(
        Multimodal.ingestBinary(spark, dir), Multimodal.audioFp))
      .orderBy("canonical_id").collect()
      .map(r => (r.getAs[Long]("canonical_id"), r.getAs[Long]("n_members"),
        r.getAs[String]("member_ids")))
    assert(out.toSeq === Seq((1L, 4L, "1,2,3,4"), (5L, 2L, "5,6")))
  }

  test("AIFF round-trip: big-endian samples and 80-bit extended rate decode exactly") {
    for ((n, rate, ch) <- Seq((64, 8000, 1), (1600, 44100, 1),
        (301, 48000, 1), (200, 8000, 2))) {
      val s = noisy(n * ch, rate + ch)
      val d = AudioCodec.decodeAiff16(AudioCodec.encodeAiff16(s, rate, ch))
      assert(d.isDefined, s"n=$n rate=$rate ch=$ch")
      assert(d.get.sampleRate === rate)
      val expect = if (ch == 1) s.toSeq
        else s.grouped(2).map(p => Math.floorDiv(p(0) + p(1), 2)).toSeq
      assert(d.get.samples.toSeq === expect, s"n=$n rate=$rate ch=$ch")
    }
  }

  test("24-bit WAV round-trip: 3-byte samples sign-extend exactly") {
    val s = Array(0, 1, -1, 8388607, -8388608, 256 * 16320, -256 * 16320,
      65536, -65537)
    val d = AudioCodec.decodePcmWav(AudioCodec.encodeWav24(s, 8000, 1))
    assert(d.isDefined)
    assert(d.get.samples.toSeq === s.toSeq)
    // the remaster law: x256 samples scale the envelope x256 and leave
    // the fingerprint identical (gradient signs never reorder)
    val env = AudioCodec.sceneEnvelope(777L)
    val mono = AudioCodec.renderEnvelope(env, 1600)
    val h16 = AudioCodec.afp(AudioCodec.encodeWav16(mono, 8000, 1)).get
    val h24 = AudioCodec.afp(
      AudioCodec.encodeWav24(mono.map(_ * 256), 8000, 1)).get
    assert(h16 === h24)
    assert(AudioCodec.decodeAudio(
      AudioCodec.encodeWav24(mono.map(_ * 256), 8000, 1)).get
      .samples.toSeq === mono.map(_ * 256).toSeq)
  }

  test("WAVE_FORMAT_EXTENSIBLE decodes through the PCM GUID; wrong GUID rejects") {
    val env = AudioCodec.sceneEnvelope(778L)
    val mono = AudioCodec.renderEnvelope(env, 1600)
    val st = new Array[Int](mono.length * 2)
    for (i <- mono.indices) { st(2 * i) = mono(i); st(2 * i + 1) = mono(i) }
    val ext = AudioCodec.encodeWav16Ext(st, 8000, 2)
    val d = AudioCodec.decodePcmWav(ext)
    assert(d.isDefined)
    assert(d.get.samples.toSeq === mono.toSeq)    // L=R downmix exact
    assert(AudioCodec.afp(ext).get ===
      AudioCodec.afp(AudioCodec.encodeWav16(mono, 8000, 1)).get)
    // clobber one GUID byte: the subformat is no longer PCM
    val guidAt = ext.length - st.length * 2 - 8 - 16
    assert(AudioCodec.decodePcmWav(
      ext.updated(guidAt, 0x55.toByte)).isEmpty)
    // mono form round-trips too
    val extMono = AudioCodec.encodeWav16Ext(mono, 8000, 1)
    assert(AudioCodec.decodePcmWav(extMono).get.samples.toSeq === mono.toSeq)
  }

  test("cross-container copies fingerprint identically; hostile AIFF inputs return None") {
    val env = AudioCodec.sceneEnvelope(779L)
    val mono = AudioCodec.renderEnvelope(env, 1600)
    val wav = AudioCodec.encodeWav16(mono, 8000, 1)
    val aif = AudioCodec.encodeAiff16(mono, 8000, 1)
    assert(!java.util.Arrays.equals(wav, aif))
    assert(AudioCodec.afp(aif).get === AudioCodec.afp(wav).get)
    // truncations at every byte never throw; cuts losing COMM or
    // sample bytes return None or fewer-but-exact samples
    for (n <- 0 until 40)
      assert(AudioCodec.decodeAiff16(aif.take(n)).isEmpty, s"take($n)")
    // a declared SSND size past the buffer
    assert(AudioCodec.decodeAiff16(aif.take(aif.length - 1)).isEmpty)
    // negative / non-integral rate exponent rejects
    val commAt = aif.indexOfSlice("COMM".getBytes("US-ASCII"))
    val badRate = aif.clone()
    badRate(commAt + 16) = 0x80.toByte   // sign bit: negative rate
    assert(AudioCodec.decodeAiff16(badRate).isEmpty)
    assert(AudioCodec.decodeAiff16("FORMxxxxAIFF".getBytes).isEmpty)
    assert(AudioCodec.decodeAiff16(Array.empty).isEmpty)
    // an AIFF is not a WAV and vice versa — the chain dispatches
    assert(AudioCodec.decodePcmWav(aif).isEmpty)
    assert(AudioCodec.decodeAiff16(wav).isEmpty)
  }

  test("G.711 tables are the ITU expansions and encode inverts decode") {
    // spot anchors from the standard tables
    assert(AudioCodec.muLawToLinear(0xff) === 0)       // +0 code
    assert(AudioCodec.muLawToLinear(0x7f) === 0)       // -0 code
    assert(AudioCodec.muLawToLinear(0x00) === -32124)  // most negative
    assert(AudioCodec.muLawToLinear(0x80) === 32124)   // most positive
    assert(AudioCodec.aLawToLinear(0x55) === -8)       // least magnitude
    assert(AudioCodec.aLawToLinear(0xd5) === 8)
    assert(AudioCodec.aLawToLinear(0x2a) === -32256)   // extremes
    assert(AudioCodec.aLawToLinear(0xaa) === 32256)
    // code -> linear -> code identity (u-law's -0 canonicalizes to +0)
    for (c <- 0 until 256) {
      val mu = AudioCodec.linearToMuLaw(AudioCodec.muLawToLinear(c))
      if (c == 0x7f) assert(mu === 0xff, s"mu -0")
      else assert(mu === c, s"mu code $c")
      assert(AudioCodec.linearToALaw(AudioCodec.aLawToLinear(c)) === c,
        s"alaw code $c")
    }
    // linear -> code -> linear quantization bound: error <= half the
    // local step (segment width / 16 / 2, >= 4 at the bottom)
    var x = -32000
    while (x <= 32000) {
      val viaMu = AudioCodec.muLawToLinear(AudioCodec.linearToMuLaw(x))
      val viaA = AudioCodec.aLawToLinear(AudioCodec.linearToALaw(x))
      val bound = math.max(16, math.abs(x) / 16)
      assert(math.abs(viaMu - x) <= bound, s"mu $x -> $viaMu")
      assert(math.abs(viaA - x) <= bound, s"alaw $x -> $viaA")
      x += 37
    }
  }

  test("G.711 WAVs decode through the audio seam, stereo downmixes") {
    val codes = Array.tabulate(700)(i => (i * 37 + 11) % 256)
    for (aLaw <- Seq(false, true)) {
      val table = if (aLaw) AudioCodec.ALawTable else AudioCodec.MuLawTable
      val wav = AudioCodec.encodeWavG711(codes, 8000, 1, aLaw)
      val d = AudioCodec.decodePcmWav(wav)
      assert(d.isDefined && d.get.sampleRate === 8000)
      assert(d.get.samples.toSeq === codes.map(table).toSeq, s"aLaw=$aLaw")
      // the one decodeAudio seam dispatches it
      assert(AudioCodec.decodeAudio(wav).isDefined)
      // stereo: interleaved L,R downmixes by floor((l+r)/2)
      val st = Array.tabulate(400)(i => (i * 53 + 5) % 256)
      val ds = AudioCodec.decodePcmWav(
        AudioCodec.encodeWavG711(st, 8000, 2, aLaw)).get
      assert(ds.samples.length === 200)
      assert(ds.samples.toSeq === (0 until 200).map(i =>
        Math.floorDiv(table(st(2 * i)) + table(st(2 * i + 1)), 2)))
      // hostile: an 8-bit claim on format tag 1 (linear) rejects, a
      // G.711 claim at 16 bits rejects, truncation never throws
      val bitsAt = wav.indexOfSlice("fmt ".getBytes("US-ASCII")) + 22
      val bad = wav.clone(); bad(bitsAt) = 16.toByte
      assert(AudioCodec.decodePcmWav(bad).isEmpty)
      for (n <- 0 until 50)
        assert(AudioCodec.decodePcmWav(wav.take(n)).isEmpty)
    }
    val pcm8 = AudioCodec.encodeWavG711(codes, 8000, 1, aLaw = false)
    val tagAt = pcm8.indexOfSlice("fmt ".getBytes("US-ASCII")) + 8
    val linear8 = pcm8.clone(); linear8(tagAt) = 1.toByte
    assert(AudioCodec.decodePcmWav(linear8).isEmpty)
  }
}
