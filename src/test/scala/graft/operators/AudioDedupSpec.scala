package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark
import graft.operators.Multimodal.{MediaRow, RiffCodec}

/** Banded-energy audio near-dup (round-16 verdict item 3): the 64-bit
  * fingerprint over real decoded PCM must be a pure function of the
  * samples, keep near-identical clips (small edits, trimmed tails)
  * within the Hamming threshold, keep unrelated signals out, ignore
  * payloads the validated parse rejects, and collapse equal-sample
  * classes into one group — plus the (session, dir) memoization the
  * r15 advice asked for on the image side.
  */
class AudioDedupSpec extends AnyFunSuite {

  private lazy val spark = LocalSpark.spark

  private def fpOf(payload: Array[Byte]): Option[Long] =
    Multimodal.audioFingerprint(payload, RiffCodec.parse(0L, payload))

  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  private def rows(rs: Seq[MediaRow]): Seq[(Long, Long, String, Option[Long])] = {
    import spark.implicits._
    Multimodal.mediaAudioDedupFor(spark, spark.createDataset(rs))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toSeq
  }

  /** Trim `samples` PCM samples off the tail, keeping the header
    * consistent (dataLen and RIFF size shrink; the validated parse
    * must still accept it).
    */
  private def trimTail(wav: Array[Byte], samples: Int): Array[Byte] = {
    val out = wav.take(wav.length - 2 * samples)
    val b = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(4, b.getInt(4) - 2 * samples)   // RIFF chunk size
    b.putInt(40, b.getInt(40) - 2 * samples) // data chunk size
    out
  }

  test("fingerprint is a pure function of samples; equal-sample-count corpus classes collide") {
    val a = RiffCodec.synthWav(11000, 2, 130) // 2860 samples
    val b = RiffCodec.synthWav(13000, 2, 110) // 2860 samples — same PCM pattern
    assert(fpOf(a).get == fpOf(RiffCodec.synthWav(11000, 2, 130)).get)
    // the synthetic PCM depends only on byte index, so equal data
    // lengths give identical signals: corpus classes (r=3,d=130) and
    // (r=5,d=110) are one GROUP in the contracted relation
    assert(fpOf(a).get == fpOf(b).get)
  }

  test("small sample edits stay within Hamming 3") {
    val base = RiffCodec.synthWav(9000, 2, 120)
    val h0 = fpOf(base).get
    val edited = base.clone()
    val bb = ByteBuffer.wrap(edited).order(ByteOrder.LITTLE_ENDIAN)
    // nudge three scattered samples by small deltas
    Seq(100, 1000, 2000).foreach { j =>
      bb.putShort(44 + 2 * j, (bb.getShort(44 + 2 * j) + 37).toShort)
    }
    assert(ham(h0, fpOf(edited).get) <= 3,
      s"3-sample edit drifted hamming ${ham(h0, fpOf(edited).get)}")
  }

  test("near-dups get dup_of, far clips don't, invalid payloads vanish") {
    val a = RiffCodec.synthWav(9000, 2, 120)
    val trimmed = trimTail(a, 2) // boundary shift flips ~1 bit/sample
    val far = { // same container geometry, unrelated signal
      val f = a.clone()
      val bb = ByteBuffer.wrap(f).order(ByteOrder.LITTLE_ENDIAN)
      val n = bb.getInt(40) / 2
      (0 until n).foreach { j =>
        bb.putShort(44 + 2 * j, (if ((j / 100) % 2 == 0) 30000 else 10).toShort)
      }
      f
    }
    val lying = { // dataLen declared past the payload: parse rejects
      val l = a.clone()
      ByteBuffer.wrap(l).order(ByteOrder.LITTLE_ENDIAN).putInt(40, l.length)
      l
    }
    val ha = fpOf(a).get; val ht = fpOf(trimmed).get; val hf = fpOf(far).get
    assert(ham(ha, ht) <= 3 && ham(ha, hf) > 3 && ham(ht, hf) > 3,
      s"fingerprint family drifted: ${ham(ha, ht)} ${ham(ha, hf)} ${ham(ht, hf)}")
    val out = rows(Seq(
      MediaRow(1L, "wav", a), MediaRow(3L, "wav", a),
      MediaRow(5L, "wav", trimmed), MediaRow(7L, "wav", far),
      MediaRow(9L, "wav", lying)))
    def bits(h: Long) = { val s = java.lang.Long.toBinaryString(h); "0" * (64 - s.length) + s }
    assert(out === Seq(
      (1L, 2L, bits(ha), None),      // exact dups 1,3: one group, canonical
      (5L, 1L, bits(ht), Some(1L)),  // trimmed clip folds into group 1
      (7L, 1L, bits(hf), None)),     // far signal survives; lying payload absent
      s"got $out")
  }

  test("group relations are memoized per (session, dir) and reused") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_audio_memo").toString
    (0L until 20L).map(d => (d, s"doc $d", "en", "spec", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Multimodal.audioHashGroups(spark, dir) eq Multimodal.audioHashGroups(spark, dir),
      "second audio call must hit the (session, dir) cache, not re-decode")
    assert(Multimodal.mediaHashGroups(spark, dir) eq Multimodal.mediaHashGroups(spark, dir),
      "second image call must hit the (session, dir) cache, not re-decode")
    // and the cached relation is materialized rows (decode-once)
    assert(LocalSpark.isLineageCut(Multimodal.audioHashGroups(spark, dir)))
    assert(LocalSpark.isLineageCut(Multimodal.mediaHashGroups(spark, dir)))
  }
}
