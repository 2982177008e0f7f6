package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Real JDK audio decode: known PCM samples written through the JDK's
  * own WAV writer round-trip bit-exactly, 8-bit and stereo payloads
  * normalize correctly, and undecodable bytes yield NULL (not a crash).
  * The oracle-checked end-to-end path is q84. */
class DecodeAudioSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** WAV bytes for the given 16-bit mono samples at 16 kHz. */
  private def wav16(samples: Seq[Int]): Array[Byte] = {
    val data = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (v, i) =>
      data(2 * i) = (v & 0xff).toByte
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      16000f, 16, 1, 2, 16000f, false)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(data), fmt, samples.length),
      AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("16-bit mono WAV decodes to the exact samples and statistics") {
    val samples = Seq(0, 1000, -1000, 32767, -32768, 12345)
    val row = DecodeAudio.decode(wav16(samples))
    assert(row != null)
    assert(row.getInt(0) === 16000)             // sample_rate
    assert(row.getInt(1) === 1)                 // channels
    assert(row.getLong(2) === samples.length)   // n_samples
    assert(row.getInt(3) === 32768)             // peak = |-32768|
    assert(row.getLong(4) === samples.map(v => v.toLong * v).sum) // sum_sq
    val pcm = row.getBinary(5)
    val decoded = (0 until samples.length).map { i =>
      ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff))
    }
    assert(decoded === samples, "pcm bytes must round-trip the samples")
  }

  test("stereo input extracts channel 0") {
    // interleaved stereo: L=100, R=-5 per frame
    val data = new Array[Byte](4 * 3)
    (0 until 3).foreach { i =>
      data(4 * i) = 100; data(4 * i + 1) = 0           // L
      data(4 * i + 2) = (-5 & 0xff).toByte; data(4 * i + 3) = -1 // R
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 2, 4, 8000f, false)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new ByteArrayInputStream(data), fmt, 3), AudioFileFormat.Type.WAVE, out)
    val row = DecodeAudio.decode(out.toByteArray)
    assert(row != null)
    assert(row.getInt(1) === 2)
    assert(row.getLong(2) === 3)
    assert(row.getInt(3) === 100)
    assert(row.getLong(4) === 3L * 100 * 100)
  }

  test("undecodable bytes yield NULL, not an error") {
    assert(DecodeAudio.decode(Array[Byte](1, 2, 3, 4)) == null)
    assert(DecodeAudio.decode(Array.empty[Byte]) == null)
  }

  test("decode_audio as a column over a binary DataFrame") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, wav16(Seq(7, -7))), (2L, Array[Byte](9, 9, 9)))
      .toDF("id", "content")
      .select($"id", DecodeAudio.decodeAudio($"content").as("a"))
    val rows = df.collect()
    val ok = rows.find(_.getLong(0) == 1L).get.getStruct(1)
    assert(ok.getLong(2) === 2L && ok.getLong(4) === 98L)
    assert(rows.find(_.getLong(0) == 2L).get.isNullAt(1))
  }
}
