package graft.multimodal

import org.apache.spark.sql.functions._

import graft.queries.Entry
import graft.multimodal.Multimodal.Wav

/** Audio spectral analysis (SURVEY.md Q204): dominant-frequency
  * estimation over decoded PCM via a from-scratch radix-2 FFT — the
  * canonical audio feature-extraction step (language/music/noise
  * screening, silence detection, sample-rate audits) a multimodal
  * training pipeline runs right after decode.
  *
  * Proof shape: the corpus carries no audio bytes, so per-doc PURE TONES
  * are fabricated at a doc_id-derived bin (k0 = 1 + id % 31 of an N=64
  * window — exactly periodic, so the spectrum is a single spike) and
  * round-tripped through the REAL WAV container ([[Wav.encodePcm]] /
  * [[Wav.decode]], q197's parser with the decoy-chunk walk), then the
  * FFT's argmax bin is hash-checked against the generative bin formula
  * over every doc. The trig lives only on the Spark side — the oracle is
  * pure integer arithmetic — so the check is ULP-immune by construction:
  * the spike-to-noise margin is ~5 orders of magnitude (quantization
  * noise of the rounded sine vs N/2 x amplitude), and a broken FFT,
  * container walk, or sampling-theory error (an aliased bin, an off-by-
  * one in the bin->Hz mapping) lands on the wrong integer. FftSpec pins
  * the transform itself against a naive DFT, Parseval, and known closed
  * forms.
  *
  * Scale posture: map-only per-row work (decode + 64-point FFT is O(1)
  * per doc), no shuffle before the output sort; at 100 TB the bytes
  * arrive in the binary column and the fabrication seam disappears —
  * identical to the q196-q202 codec entries.
  */
object Spectral {

  /** Iterative radix-2 FFT (in-place, decimation-in-time): bit-reversal
    * permutation then log2(n) butterfly passes. Public-knowledge
    * algorithm (Cooley-Tukey 1965). */
  object Fft {
    def transform(re: Array[Double], im: Array[Double]): Unit = {
      val n = re.length
      require(n > 0 && (n & (n - 1)) == 0, s"FFT length $n not a power of two")
      require(im.length == n, "re/im length mismatch")
      var j = 0
      for (i <- 0 until n - 1) {
        if (i < j) {
          val tr = re(i); re(i) = re(j); re(j) = tr
          val ti = im(i); im(i) = im(j); im(j) = ti
        }
        var m = n >> 1
        while (m >= 1 && j >= m) { j -= m; m >>= 1 }
        j += m
      }
      var len = 2
      while (len <= n) {
        val ang = -2.0 * math.Pi / len
        val (wr, wi) = (math.cos(ang), math.sin(ang))
        var base = 0
        while (base < n) {
          var cr = 1.0; var ci = 0.0
          var k = 0
          while (k < len / 2) {
            val ur = re(base + k); val ui = im(base + k)
            val xr = re(base + k + len / 2); val xi = im(base + k + len / 2)
            val vr = xr * cr - xi * ci
            val vi = xr * ci + xi * cr
            re(base + k) = ur + vr; im(base + k) = ui + vi
            re(base + k + len / 2) = ur - vr; im(base + k + len / 2) = ui - vi
            val ncr = cr * wr - ci * wi; ci = cr * wi + ci * wr; cr = ncr
            k += 1
          }
          base += len
        }
        len <<= 1
      }
    }

    /** O(n^2) reference DFT — FftSpec's independent pin, never the hot path. */
    def naiveDft(x: Array[Double]): (Array[Double], Array[Double]) = {
      val n = x.length
      val re = new Array[Double](n); val im = new Array[Double](n)
      for (k <- 0 until n; i <- 0 until n) {
        val ang = -2.0 * math.Pi * k * i / n
        re(k) += x(i) * math.cos(ang)
        im(k) += x(i) * math.sin(ang)
      }
      (re, im)
    }

    /** Dominant non-DC bin of a real signal: argmax of |X_k| over
      * k = 1..n/2 (DC carries no frequency; bins above Nyquist mirror).
      * Ties resolve to the lowest bin — stated so the rule is pinned. */
    def dominantBin(samples: Array[Int]): Int = {
      val n = samples.length
      val re = samples.map(_.toDouble)
      val im = new Array[Double](n)
      transform(re, im)
      var best = 1; var bestMag = re(1) * re(1) + im(1) * im(1)
      for (k <- 2 to n / 2) {
        val m = re(k) * re(k) + im(k) * im(k)
        if (m > bestMag) { best = k; bestMag = m }
      }
      best
    }
  }

  /** The generative tone corpus: N=64 samples at 8 kHz, amplitude 12000,
    * frequency bin k0 = 1 + id % 31 (integer-periodic: zero leakage, so
    * the FFT spike margin over rounding noise is ~1e5). 125 Hz per bin. */
  object Tone {
    val n = 64
    val amp = 12000.0
    def bin(id: Long): Int = (1 + id % 31).toInt
    def samples(id: Long): Array[Int] =
      Array.tabulate(n)(i => math.round(amp * math.sin(2.0 * math.Pi * bin(id) * i / n)).toInt)
  }

  case class ToneFeature(doc_id: Long, n_samples: Int, dom_bin: Int, dom_hz: Int)

  def analyze(id: Long, bytes: Array[Byte]): ToneFeature = {
    val wav = Wav.decode(bytes)              // the real container walk
    val k = Fft.dominantBin(wav.samples)
    ToneFeature(id, wav.samples.length, k, k * (wav.sampleRate / wav.samples.length))
  }

  val entries: Seq[Entry] = Seq(
    // Dominant-frequency extraction (see [[Fft]]/[[Tone]]): tone WAVs
    // round-tripped through the real RIFF parser, 64-point FFT, argmax
    // bin hash-checked against the integer generative formula — the
    // oracle never touches floating point, so equality proves the whole
    // decode->FFT->bin->Hz chain. Map-only, no shuffle before the sort.
    Entry("q204_audio_dominant_freq",
      """SELECT doc_id, 64 AS n_samples,
        |  CAST(1 + doc_id % 31 AS INT) AS dom_bin,
        |  CAST((1 + doc_id % 31) * 125 AS INT) AS dom_hz
        |FROM documents WHERE doc_id % 3 = 2 ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.decoded(s, d, 2)(
        id => Wav.encodePcm(Tone.samples(id), withDecoy = id % 2 == 0))(analyze)
        .orderBy(col("doc_id"))
    }
  )
}
