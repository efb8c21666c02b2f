package graft.io

import graft.audio.{AdpcmCodec, FlacCodec, G711Codec, WavCodec}
import org.scalatest.funsuite.AnyFunSuite

/** Payload and reference bytes come from ONE synthesis formula
  * ([[ClipsGenerator.referenceSamples]]); these pin them byte-for-byte to
  * the formula written out inline, so a change to the shared helper cannot
  * silently move the generated table. */
class ClipsGeneratorSpec extends AnyFunSuite {

  private def inlineSamples(i: Long, ms: Int): Array[Short] =
    WavCodec.synthSineSamples(ClipsGenerator.freqHz(i),
      math.min(ClipsGenerator.durMs(i), ms), ClipsGenerator.srHz(i))

  private def inlineReference(i: Long, ms: Int): Array[Byte] =
    WavCodec.synthSine(ClipsGenerator.freqHz(i),
      math.min(ClipsGenerator.durMs(i), ms), ClipsGenerator.srHz(i))

  private def inlinePayload(i: Long, ms: Int): Array[Byte] = {
    val sr = ClipsGenerator.srHz(i)
    ClipsGenerator.codec(i) match {
      case "flac" => FlacCodec.encode(sr, inlineSamples(i, ms))
      case "pcm_mulaw" => G711Codec.encodeMuLaw(sr, inlineSamples(i, ms))
      case "pcm_alaw" => G711Codec.encodeALaw(sr, inlineSamples(i, ms))
      case "adpcm_ima" => AdpcmCodec.encode(sr, inlineSamples(i, ms))
      case _ => inlineReference(i, ms)
    }
  }

  private val Ids = 0L until 1800L

  test("the id range covers all five codecs and every synthesis key") {
    assert(Ids.map(ClipsGenerator.codec).toSet === ClipsGenerator.Codecs.toSet)
    assert(Ids.map(ClipsGenerator.referenceKey(_, 50)).toSet.size === 880)
  }

  for (ms <- Seq(25, 50)) {
    test(s"payloadBytes and referenceBytes are byte-identical to the inline formula (cap $ms ms)") {
      for (i <- Ids) {
        assert(java.util.Arrays.equals(ClipsGenerator.referenceBytes(i, ms),
          inlineReference(i, ms)), s"referenceBytes($i)")
        assert(java.util.Arrays.equals(ClipsGenerator.payloadBytes(i, ms),
          inlinePayload(i, ms)), s"payloadBytes($i) [${ClipsGenerator.codec(i)}]")
      }
    }
  }
}
