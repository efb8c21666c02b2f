package graft.audio

import org.scalatest.funsuite.AnyFunSuite

class WavCodecSpec extends AnyFunSuite {

  test("synth → decode round-trip is exact") {
    val wav = WavCodec.synthSine(440.0, 100, 16000)
    val (sr, samples) = WavCodec.decodePcm16(wav)
    assert(sr === 16000)
    assert(samples.length === 1600)
    // round-trip of the identical bytes: SNR capped at max
    val (_, again) = WavCodec.decodePcm16(wav)
    assert(WavCodec.snrDb(samples, again) === WavCodec.MaxSnrDb)
  }

  test("synth is deterministic") {
    val a = WavCodec.synthSine(330.0, 50, 22050)
    val b = WavCodec.synthSine(330.0, 50, 22050)
    assert(java.util.Arrays.equals(a, b))
  }

  test("header fields are valid RIFF/WAVE PCM") {
    val wav = WavCodec.synthSine(220.0, 10, 8000)
    assert(new String(wav.slice(0, 4), "US-ASCII") === "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
    // whole-file length consistency
    val riffSize = java.nio.ByteBuffer.wrap(wav, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(riffSize + 8 === wav.length)
  }

  test("SNR degrades with noise and detects corruption") {
    val wav = WavCodec.synthSine(440.0, 100, 16000)
    val (_, ref) = WavCodec.decodePcm16(wav)
    // small perturbation: high SNR
    val slightlyOff = ref.map(s => (s + 1).toShort)
    assert(WavCodec.snrDb(ref, slightlyOff) > 60.0)
    // zero the back half (ClipsGenerator's corruption): SNR collapses < 30
    val corrupted = ref.clone()
    (corrupted.length / 2 until corrupted.length).foreach(corrupted(_) = 0)
    assert(WavCodec.snrDb(ref, corrupted) < 30.0)
    // length mismatch: -inf
    assert(WavCodec.snrDb(ref, ref.take(10)) === Double.NegativeInfinity)
  }

  test("decode rejects malformed containers") {
    intercept[IllegalArgumentException](WavCodec.decodePcm16(Array[Byte](1, 2, 3)))
    intercept[IllegalArgumentException](
      WavCodec.decodePcm16("NOTRIFFxxxxxxxxxxxxx".getBytes))
  }

  test("frame sampling and RMS features are deterministic plumbing") {
    val (_, samples) = WavCodec.decodePcm16(WavCodec.synthSine(440.0, 100, 16000))
    val frames = AudioCodec.frameSample(samples, 400, 160)
    assert(frames.nonEmpty && frames.forall(_.length === 400))
    val rms = AudioCodec.frameRms(samples, 400, 160)
    assert(rms.length === frames.length)
    // a 0.5-amplitude sine has RMS ≈ 0.5*32767/sqrt(2) ≈ 11585
    assert(rms.forall(r => r > 10000 && r < 13000))
  }
}
