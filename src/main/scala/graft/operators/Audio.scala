package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.AudioOps

/** Audio pipeline operators over binary WAV columns (reference
  * X1–X4, X7 and the audio half of E3, `process_all.py:455-537`).
  *
  * Decode/resample/normalize run as typed UDFs over the fixture WAV
  * kernels — this is the declared pluggable boundary where the
  * reference shells out to librosa/ffmpeg (SURVEY §7); the
  * *relational* work around them (grouping, ordered assembly,
  * qualification, slicing) is native Catalyst: a real deployment
  * swaps the kernel, not the plan. Multimodal plumbing note: the
  * binary column stays opaque until the last possible projection, so
  * scans prune it away for metadata-only queries.
  */
object Audio {

  private val infoUdf = udf((b: Array[Byte]) => Option(AudioOps.wavInfo(b)))
  private val decodeUdf = udf((b: Array[Byte]) => Option(AudioOps.wavSamples(b)))
  private val resampleUdf =
    udf((s: Seq[Float], o: Int, t: Int) =>
      Option(AudioOps.resampleLinear(if (s == null) null else s.toArray, o, t)))
  private val normalizeUdf =
    udf((s: Seq[Float]) => Option(AudioOps.peakNormalize(if (s == null) null else s.toArray)))

  /** X4: header-only metadata — does NOT decode samples, so a
    * metadata query over a binary asset table reads headers, not
    * payloads. */
  def info(bin: Column): Column = infoUdf(bin)

  /** S10 stand-in: decode to normalized float32 mono. */
  def decode(bin: Column): Column = decodeUdf(bin)

  /** X1: linear-interp resample. */
  def resample(samples: Column, origSr: Column, targetSr: Int): Column =
    resampleUdf(samples, origSr, lit(targetSr))

  /** X1 with a per-row target rate (e.g. a fixed multiple of the
    * source rate) — same kernel, Column target. */
  def resample(samples: Column, origSr: Column, targetSr: Column): Column =
    resampleUdf(samples, origSr, targetSr)

  /** X2: peak normalize to 0.95. */
  def normalize(samples: Column): Column = normalizeUdf(samples)

  /** P7/A5 (`process_all.py:461-510`): a book qualifies iff the
    * minimum sample rate over its parts clears the gate. */
  def qualifyBooks(parts: DataFrame, bookCol: String, srCol: String, minSr: Int): DataFrame =
    parts.groupBy(col(bookCol))
      .agg(min(col(srCol)).as("min_sr"))
      .withColumn("qualified", col("min_sr") >= minSr)

  /** X3/A12/W1 (`process_all.py:409-438,566-617`): ordered
    * concatenation of per-part sample arrays into one waveform per
    * book — single hash-aggregate, order restored by seq inside the
    * collected array (no window, no per-book shuffle beyond the
    * group-by). */
  def concatParts(parts: DataFrame, bookCol: String, seqCol: String,
                  samplesCol: String): DataFrame =
    parts.groupBy(col(bookCol))
      .agg(
        flatten(
          transform(
            array_sort(collect_list(struct(col(seqCol).as("seq"), col(samplesCol).as("s")))),
            x => x.getField("s"))).as("samples"),
        count(lit(1)).as("n_parts"))

  /** X7 (`aeneas_batch_align.py:261-288`): cut [startSec,
    * startSec+durSec) out of a samples array — pure `slice`, stays
    * in codegen. */
  def segment(samples: Column, sr: Column, startSec: Column, durSec: Column): Column =
    slice(samples,
      (startSec * sr).cast("int") + 1,
      (durSec * sr).cast("int"))

  private val envelopeHashUdf =
    udf((b: Array[Byte]) => Option(AudioOps.envelopeHash64(b)).map(_.longValue))

  /** Perceptual audio hash column: binary WAV → 64-bit loudness-
    * envelope gradient hash ([[graft.functions.AudioOps
    * .envelopeHash64]]; null when undecodable). */
  def envelopeHash64(bin: Column): Column = envelopeHashUdf(bin)

  /** Perceptual audio near-dup pairs at hamming radius `maxHamming`
    * — the audio-tier deployment of the signature-generic hamming
    * machinery ([[Dedup.hammingNearDupPairs]]; text SimHash and
    * image dHash are the other two): identical envelopes collapse to
    * one rep, candidates come from pigeonhole chunk banding, never
    * an uncollapsed all-pairs. Undecodable clips drop out (null
    * hash); the raw frame is the strategy probe so probing never
    * decodes more than the bound. */
  def audioNearDupPairs(audio: DataFrame, maxHamming: Int,
                        idCol: String = "clip_id", binCol: String = "audio"): DataFrame =
    Dedup.hammingNearDupPairs(
      audio.select(col(idCol), envelopeHash64(col(binCol)).as("ehash")),
      sigBits = 64, maxHamming = maxHamming, idCol = idCol, sigCol = "ehash",
      repProbe = Some(audio))
}
