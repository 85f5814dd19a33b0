package graft.operators

import graft.domain.Multimodal
import graft.domain.Multimodal.{DecodedFrame, Decoder}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal NEAR-DUPLICATE detection — the missing sibling of the
  * text/embedding dedup families (VERDICT r8 item 2): perceptual
  * hashing over decoded media frames, paired by the same 60-bit
  * pigeonhole banding the portable SimHash path runs
  * ([[Lsh.hamming60Pairs]]).
  *
  * Image signature: a 60-bit DIFFERENCE HASH (dHash — the standard
  * perceptual-hash family's gradient variant: Krawetz, "Kind of Like
  * That", hackerfactor 2013): downscale to an 11×6 tile grid of
  * integer block means, bit k = "right tile brighter than left".
  * Every step is INTEGER arithmetic — block sums, floor-division
  * means, comparisons — so signatures re-derive bit-for-bit in any
  * engine (the q70 discipline), and the hash is invariant to uniform
  * brightness/contrast scaling (comparisons are order statistics).
  *
  * Audio signature: a gain-invariant 60-bit RMS-ENVELOPE gradient
  * over [[Multimodal.audioRms]] windows — bit k = "window k+1 louder
  * than window k". Gain scaling multiplies every RMS by the same
  * factor, so comparisons (hence the signature) are unchanged; a
  * time shift much smaller than the window moves each window's RMS
  * only marginally, so shifted re-encodes land within small hamming
  * (spec-pinned with planted shifted/gained duplicates).
  *
  * Scale shape: signatures are a narrow map over decoded frames
  * (decode amortized per partition, the [[Multimodal.decodeFrames]]
  * contract); pairing is the banded equi-join family — candidates
  * are hash-partitioned on (band, value), oversized buckets culled,
  * id-only exchanges, popcount verify. Nothing pixel-shaped ever
  * shuffles: frames reduce to one long before the first exchange.
  *
  * Reference anchor: the artwork pipeline stops at palette extraction
  * (Postprocessor/DbCommit/generate_artwork_variants.py:50-95); this
  * extends it to the dedup capability a 100 TB multimodal corpus
  * needs.
  */
object MediaDedup {

  /** dHash tile grid: 6 rows × 11 columns of tiles → 6 × 10
    * horizontal-gradient bits = 60 (the 4 × 15-band space). */
  val TileRows = 6
  val TileCols = 11
  val SigBits: Int = TileRows * (TileCols - 1)

  /** The PARAMETERIZED perceptual-signature family (round 12 — the
    * fix the measured q89 outage's fence pointed at): a dHash over a
    * `tileRows` × `tileCols` grid produces `tileRows` × (`tileCols`
    * − 1) gradient bits, banded into words of `bandBits` bits each.
    * The two scale knobs are separate on purpose:
    *
    *   - `bandBits` is the OCCUPANCY knob: per-band bucket occupancy
    *     is n/2^bandBits, so band width ∝ log₂(corpus) keeps buckets
    *     sparse by construction — 15-bit bands saturate at ~2M
    *     signatures (the measured round-11 outage), 20-bit bands at
    *     ~32× that, and so on. More bands do NOT help here: each
    *     band adds its own ~n²/2^bandBits random-candidate stream.
    *   - `bands` (= sigBits / bandBits) is the RECALL knob: the
    *     pigeonhole guarantees any pair within hamming ≤ bands − 1
    *     shares a band exactly. More signature bits at the same
    *     band width buy guaranteed recall headroom, because a real
    *     near-dup's hamming distance grows ∝ sigBits while the
    *     threshold grows with bands.
    *
    * Both knobs stay integer-exact (block means, comparisons, shifts)
    * so every configuration keeps the full-oracle discipline the
    * 60-bit family gates (q83/q89). [[Sig60]] is the legacy family
    * unchanged; [[Sig120]] is the deployment width for frame corpora
    * past the 60-bit bound (measured at the 100× video corpus that
    * 60 bits could only fail loudly on — SCALE.md round 12).
    */
  final case class SigSpec(tileRows: Int, tileCols: Int, bandBits: Int) {
    val sigBits: Int = tileRows * (tileCols - 1)
    require(bandBits >= 8 && bandBits <= 62,
      s"bandBits must be 8..62 (got $bandBits)")
    require(sigBits % bandBits == 0,
      s"sigBits $sigBits must split evenly into $bandBits-bit bands")
    val bands: Int = sigBits / bandBits
    require(bands >= 2, s"need >= 2 bands for a pigeonhole (got $bands)")
    /** Pigeonhole recall guarantee: pairs within this hamming share
      * at least one band exactly. */
    val maxGuaranteedHamming: Int = bands - 1
  }

  /** The 60-bit legacy family as a spec: 6×11 grid, 4 × 15-bit
    * bands, recall to hamming 3 — right-sized while buckets stay
    * sparse (n ≲ 2M signatures at the default occupancy bound). */
  val Sig60: SigSpec = SigSpec(TileRows, TileCols, 15)

  /** The WIDE family: 8×16 grid → 120 gradient bits, 6 × 20-bit
    * bands — recall guaranteed to hamming 5 (the same 1-per-24-bits
    * relative threshold as 60-bit hamming ≤ 3 is 1-per-20), and a
    * 2²⁰ band space that keeps occupancy ≤ 64 out to ~67M frame
    * signatures (32× the 60-bit ceiling; the 100× outage corpus
    * sits at occupancy 3). */
  val Sig120: SigSpec = SigSpec(8, 16, 20)

  /** The next width past [[Sig120]]'s documented ~67M-frame ceiling
    * (round 13 — VERDICT r12 item 2 named the cliff): 16×16 grid →
    * 240 gradient bits, 10 × 24-bit bands — recall guaranteed to
    * hamming 9 (1-per-24-bits, the family's held relative threshold)
    * and a 2²⁴ band space good to ~10⁹ signatures at the default
    * occupancy bound. Needs frames ≥ 16 px in each dimension (the
    * integer tile rule). */
  val Sig240: SigSpec = SigSpec(16, 16, 24)

  /** The WIDTH LADDER the auto-width door climbs — narrowest first,
    * each rung covering ~32–16× the previous one's corpus at the
    * same occupancy bound. A corpus past [[Sig240]]'s reach gets a
    * GENERATED width ([[sigSpecGenerated]], round 14) — never a
    * saturating one — with its provisioned cost explicit in
    * [[SigCost]]. */
  val SigLadder: Seq[SigSpec] = Seq(Sig60, Sig120, Sig240)

  /** AUTO-WIDTH sizing for the signature family (round 13 — the
    * [[KMeansPortable.autoNlist]] precedent at the media site): the
    * NARROWEST ladder width whose per-band expected occupancy
    * n/2^bandBits stays within `maxExpectedOccupancy` — the same
    * arithmetic [[Lsh.requireBoundedBuckets]] enforces downstream,
    * so a door-sized run can never trip its own guard. Narrowest
    * wins because band width is the OCCUPANCY knob, not a quality
    * knob: more bits buy bucket sparsity (candidate cost), while the
    * family's relative recall threshold (~1 bit per 20–24) is held
    * across the ladder by construction. Past the ladder
    * (n > bound·2²⁴ ≈ 10⁹ at the default) the door GENERATES the
    * width ([[sigSpecGenerated]] — round 14, replacing the round-13
    * loud refusal): the Sig240 edge's 10-band shape at the next
    * sufficient band width, with the provisioned candidate cost
    * explicit in [[SigCost]]. Pure arithmetic — boundaries and the
    * generated tail spec-pinned (MediaDedupSpec).
    */
  def sigSpecFor(n: Long, maxExpectedOccupancy: Long = 64): SigSpec = {
    require(n >= 0, s"signature count must be non-negative; got $n")
    require(maxExpectedOccupancy >= 1 &&
      maxExpectedOccupancy <= (1L << 30),
      s"maxExpectedOccupancy must be 1..2^30; got $maxExpectedOccupancy")
    SigLadder.find(s => n <= (maxExpectedOccupancy << s.bandBits))
      .getOrElse(sigSpecGenerated(n, maxExpectedOccupancy))
  }

  /** GENERATED width past the ladder (round 14 — VERDICT r13
    * stretch 7, replacing the loud refusal): the [[Sig240]] edge's
    * 10-band shape extended mechanically — band width is the
    * smallest `b` whose per-band occupancy n/2^b holds the bound,
    * and the grid is `bands` rows × (b + 1) columns so the spec's
    * own invariants (sigBits = bands·b, bands of exactly b bits)
    * hold by construction. Holding the BAND COUNT at the edge's 10
    * keeps the family's relative recall threshold exactly where the
    * ladder's own widest rung put it: guaranteed hamming is
    * bands − 1 = 9 per 10·b signature bits — the same
    * bands/(bands − 1) slack Sig240 carries on its 24-bit bands
    * (240/9 ≈ 1-per-26.7 vs the nominal 1-per-24). What a caller
    * PAYS for the width is explicit in [[sigCost]] — the provisioned
    * per-band candidate stream this constructor exists to surface —
    * and in the frame floor: a `bands` × (b + 1) grid needs frames
    * ≥ (b + 1) px wide. Band width is clamped to the SigSpec domain
    * (≤ 62 bits — past that is > 4.6e18·bound signatures, not a
    * corpus). Boundary parity with the ladder is spec-pinned
    * (MediaDedupSpec). */
  def sigSpecGenerated(n: Long, maxExpectedOccupancy: Long = 64): SigSpec = {
    require(n >= 0, s"signature count must be non-negative; got $n")
    require(maxExpectedOccupancy >= 1 &&
      maxExpectedOccupancy <= (1L << 30),
      s"maxExpectedOccupancy must be 1..2^30; got $maxExpectedOccupancy")
    // overflow-safe ceil-div: n + bound - 1 wraps for n near
    // Long.MaxValue at large bounds
    val q = if (n == 0) 0L else (n - 1) / maxExpectedOccupancy + 1
    val needed =
      if (q <= 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
    val b = math.max(SigLadder.last.bandBits + 1, needed)
    require(b <= 62,
      s"sigSpecGenerated: $n signatures need $b-bit bands at " +
        s"occupancy bound $maxExpectedOccupancy — past the 62-bit " +
        "SigSpec domain")
    val bands = SigLadder.last.bands
    SigSpec(bands, b + 1, b)
  }

  /** The PROVISIONED COST of running a signature width over an
    * n-signature corpus — the numbers a caller accepts when taking a
    * generated width (or any width) past the ladder: expected
    * per-band bucket occupancy and the ~n²/2^bandBits random-
    * candidate stream EACH band contributes to the verify stage
    * (the [[SigSpec]] scaladoc's arithmetic, as values). */
  final case class SigCost(spec: SigSpec, n: Long) {
    /** Expected per-band bucket occupancy n/2^bandBits. */
    def expectedOccupancy: Double = n.toDouble / (1L << spec.bandBits)
    /** Expected random candidate pairs per band ~ n²/2^bandBits. */
    def candidateStreamPerBand: Double = n.toDouble * expectedOccupancy
  }

  /** ITU-R BT.601 integer luma (the JPEG convention), exact: no
    * floats anywhere in the signature path. */
  def luma(r: Int, g: Int, b: Int): Int = (r * 299 + g * 587 + b * 114) / 1000

  /** 60-bit difference hash of one frame. Accepts grayscale
    * (`pixels.length == w*h`) or interleaved RGB (`3*w*h`); tile
    * boundaries are integer (`c*w/11 .. (c+1)*w/11`), the tile value
    * is the floor mean of its pixels, and bit k (row r = k/10,
    * col c = k%10) is 1 iff tile (r, c+1)'s mean > tile (r, c)'s.
    * Returns -1 for unusable frames — null pixels, dimensions too
    * small for the grid, or a pixel buffer that matches neither
    * layout (the corrupt-blob SKIP contract, shared with
    * [[Multimodal.ImageIODecoder]]).
    */
  /** Floor-mean luma per tile over a `rows` × `cols` grid with
    * integer boundaries — the shared arithmetic of every grid width
    * (null for unusable frames: null pixels, dimensions below the
    * grid, a buffer matching neither layout). */
  private def tileMeans(pixels: Array[Byte], w: Int, h: Int,
      rows: Int, cols: Int): Array[Int] = {
    if (pixels == null || w < cols || h < rows) return null
    val channels =
      if (pixels.length == w * h) 1
      else if (pixels.length == 3 * w * h) 3
      else return null
    val means = new Array[Int](rows * cols)
    var r = 0
    while (r < rows) {
      val y0 = r * h / rows
      val y1 = (r + 1) * h / rows
      var c = 0
      while (c < cols) {
        val x0 = c * w / cols
        val x1 = (c + 1) * w / cols
        var sum = 0L
        var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val i = y * w + x
            sum += (if (channels == 1) pixels(i) & 0xFF
                    else luma(pixels(3 * i) & 0xFF, pixels(3 * i + 1) & 0xFF,
                      pixels(3 * i + 2) & 0xFF))
            n += 1
            x += 1
          }
          y += 1
        }
        means(r * cols + c) = (sum / n).toInt
        c += 1
      }
      r += 1
    }
    means
  }

  def dHash60(pixels: Array[Byte], w: Int, h: Int): Long = {
    val means = tileMeans(pixels, w, h, TileRows, TileCols)
    if (means == null) return -1L
    var sig = 0L
    var k = 0
    while (k < SigBits) {
      val row = k / (TileCols - 1)
      val colIdx = k % (TileCols - 1)
      if (means(row * TileCols + colIdx + 1) > means(row * TileCols + colIdx))
        sig |= 1L << k
      k += 1
    }
    sig
  }

  /** WIDE difference hash — [[dHash60]]'s arithmetic over the
    * [[SigSpec]]'s grid, emitted directly as `spec.bands` band WORDS
    * (word b carries global gradient bits [b·bandBits, (b+1)·
    * bandBits); bit k, row-major as in dHash60: row = k/(cols−1),
    * col = k%(cols−1), set iff the right tile's mean exceeds the
    * left's). Null for unusable frames (the skip contract). */
  def dHashWide(pixels: Array[Byte], w: Int, h: Int,
      spec: SigSpec): Array[Long] = {
    val means = tileMeans(pixels, w, h, spec.tileRows, spec.tileCols)
    if (means == null) return null
    val words = new Array[Long](spec.bands)
    var k = 0
    while (k < spec.sigBits) {
      val row = k / (spec.tileCols - 1)
      val colIdx = k % (spec.tileCols - 1)
      if (means(row * spec.tileCols + colIdx + 1) >
          means(row * spec.tileCols + colIdx))
        words(k / spec.bandBits) |= 1L << (k % spec.bandBits)
      k += 1
    }
    words
  }

  /** Frames → (media_id, frameIdx, sig). Unusable frames are SKIPPED
    * (no signature row), so corrupt blobs fall out of the pair space
    * instead of banding together on a sentinel — the null-signature
    * discipline of [[Dedup.simhashSignatures]]. Narrow map: one long
    * out per frame, pixels never leave the task.
    */
  def imageDHash(frames: Dataset[DecodedFrame]): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.map(f => (f.media_id, f.frameIdx, dHash60(f.pixels, f.width, f.height)))
      .toDF("media_id", "frameIdx", "sig")
      .filter(col("sig") >= 0L)
  }

  /** [[imageDHash]] at a freed signature width: frames →
    * (media_id, frameIdx, sig = array of `spec.bands` band words).
    * Same narrow-map/skip contract. */
  def imageDHashWide(frames: Dataset[DecodedFrame],
      spec: SigSpec = Sig120): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.map(f =>
        (f.media_id, f.frameIdx, dHashWide(f.pixels, f.width, f.height, spec)))
      .toDF("media_id", "frameIdx", "sig")
      .filter(col("sig").isNotNull)
  }

  /** Near-dup pairs over a 60-bit signature relation: the shared
    * pigeonhole kernel ([[Lsh.hamming60Pairs]] — guaranteed recall to
    * hamming 3, bucket-culled, id-only exchanges). Returns
    * (a_id, b_id, hamming), a_id < b_id.
    *
    * `maxExpectedOccupancy` (default 64 — a round-11 BEHAVIOR CHANGE
    * on every public 60-bit entry, ADVICE r11): the call FAILS FAST
    * with an IllegalArgumentException once per-band bucket occupancy
    * n/2¹⁵ exceeds the bound (~2.1M signatures at the default),
    * where round 10 ran into the measured saturation outage instead;
    * the guard's count() also materializes the cached base. A
    * pre-sized caller that intends the candidate cost raises the
    * bound explicitly; past ~2M signatures the supported path is the
    * wide family ([[SigSpec]]/[[hammingPairsWide]]).
    */
  def hammingPairs(sigs: DataFrame, idCol: String = "media_id",
      sigCol: String = "sig", maxHamming: Int = 3,
      maxBucketSize: Int = 10000,
      maxExpectedOccupancy: Long = 64): DataFrame = {
    val base = graft.CacheScope.track(
      sigs.select(col(idCol).as("id"), col(sigCol).as("sig")))
    Lsh.hamming60Pairs(base, maxHamming, maxBucketSize,
      maxExpectedOccupancy)
  }

  /** [[hammingPairs]] at a freed signature width — the wide
    * pigeonhole kernel ([[Lsh.hammingWidePairs]]) over a
    * [[dHashWide]]-shaped relation (`sigCol` = array of
    * `spec.bands` band words). `maxHamming` defaults to the spec's
    * pigeonhole guarantee (bands − 1); the occupancy guard derives
    * its band space from `spec.bandBits`, so the bound the 60-bit
    * family saturates at moves out 2^(bandBits−15)× by construction.
    */
  def hammingPairsWide(sigs: DataFrame, spec: SigSpec = Sig120,
      idCol: String = "media_id", sigCol: String = "sig",
      maxHamming: Int = -1, maxBucketSize: Int = 10000,
      maxExpectedOccupancy: Long = 64): DataFrame = {
    val base = graft.CacheScope.track(
      sigs.select(col(idCol).as("id"), col(sigCol).as("sig")))
    Lsh.hammingWidePairs(base, spec.bands, spec.bandBits,
      if (maxHamming < 0) spec.maxGuaranteedHamming else maxHamming,
      maxBucketSize, maxExpectedOccupancy)
  }

  /** End-to-end image near-dup: decode → dHash (frame 0 — still
    * images are single-frame; video pairs per sampled frame via
    * [[imageDHash]] + [[hammingPairs]] on (media, frame) keys) →
    * banded pairing.
    */
  def imageNearDupPairs(media: DataFrame, decoder: Decoder,
      maxHamming: Int = 3, maxBucketSize: Int = 10000,
      maxExpectedOccupancy: Long = 64): DataFrame =
    hammingPairs(
      imageDHash(Multimodal.decodeFrames(media, decoder))
        .filter(col("frameIdx") === 0),
      maxHamming = maxHamming, maxBucketSize = maxBucketSize,
      maxExpectedOccupancy = maxExpectedOccupancy)

  /** AUTO-WIDTH image near-dup (round 13 — the door threaded through
    * the end-to-end entry): size the signature width to the corpus
    * ([[sigSpecFor]]) and run the wide kernel at it. One decode, one
    * dHash pass, one pairing — the width choice costs a count (pass
    * `n` when already known; image corpora sign frame 0 only, so n =
    * media count). At gate corpora the door picks [[Sig60]], whose
    * wide-kernel output ≡ the legacy [[imageNearDupPairs]] (the
    * round-12 Sig60-parity, re-pinned at the door in MediaDedupSpec);
    * past the 60-bit ceiling it picks [[Sig120]] ≡ the manual wide
    * call — the topKAuto dispatch discipline at the media site.
    * `maxHamming` follows the chosen spec's pigeonhole guarantee
    * (the width-relative threshold the family holds). */
  def imageNearDupPairsAuto(media: DataFrame, decoder: Decoder,
      maxBucketSize: Int = 10000, maxExpectedOccupancy: Long = 64,
      n: Long = -1L): DataFrame = {
    val n0 = if (n >= 0) n else media.count()
    val spec = sigSpecFor(n0, maxExpectedOccupancy)
    val decoded = Multimodal.decodeFrames(media, decoder)
    val sigs = imageDHashWide(decoded, spec)
      .filter(col("frameIdx") === 0)
    requireSigsSurvive(sigs, decoded, spec, "imageNearDupPairsAuto", n0)
    hammingPairsWide(sigs, spec,
      maxBucketSize = maxBucketSize,
      maxExpectedOccupancy = maxExpectedOccupancy)
  }

  /** The generated-width SILENT-SKIP guard (round 15 — VERDICT r14
    * "what's wrong" 2): [[tileMeans]] correctly skips frames narrower
    * or shorter than the grid, but a GENERATED spec can hand an auto
    * door a grid wider than every frame of a small-frame corpus — the
    * pipeline then reports ZERO near-dup pairs with no signal, an
    * empty result indistinguishable from a clean corpus. After
    * signature computation the doors probe ONE signature row (cheap:
    * the scan stops at the first survivor); only when NO signature
    * survived is one decoded frame probed to separate the two empty
    * cases — an empty corpus passes through (legitimately empty),
    * while decoded-frames-all-skipped fails loudly, naming the grid
    * floor and the first skipped frame's dimensions. */
  private def requireSigsSurvive(sigs: DataFrame,
      decoded: Dataset[DecodedFrame], spec: SigSpec,
      site: String, mediaCount: Long): Unit = {
    if (sigs.limit(1).isEmpty) {
      // THREE ways a door can be signature-empty, judged from the
      // DATA (the caller's sizing count is a hint, never the
      // emptiness verdict): (a) frames exist with pixels but every
      // one skipped at the grid — the generated-width edge; (b)
      // frames exist but none decoded to pixels, or (image door
      // only, mediaCount > 0) media exist but produced no frames at
      // all — the per-blob corrupt-skip contract is correct blob by
      // blob, but a DOOR whose entire input fell out must say so;
      // (c) a genuinely empty input — the one legitimate empty.
      val any = decoded.take(1)
      val withPx =
        if (any.isEmpty) Array.empty[DecodedFrame]
        else decoded.filter(_.pixels != null).take(1)
      val why: Option[String] =
        if (withPx.nonEmpty) Some {
          val f = withPx(0)
          s"every decoded frame was skipped at the ${spec.tileRows}x" +
            s"${spec.tileCols} signature grid — frames must be >= " +
            s"${spec.tileCols} px wide and >= ${spec.tileRows} px " +
            s"tall with a gray/RGB buffer (first skipped: media " +
            s"${f.media_id} at ${f.width}x${f.height}); use a " +
            "narrower explicit SigSpec or upscale at decode"
        }
        else if (any.nonEmpty) Some(
          "frames decoded but none carries a pixel buffer — the " +
            "corpus is entirely undecodable, not clean")
        else if (mediaCount > 0) Some(
          s"$mediaCount media produced no decoded frames at all — " +
            "the corpus is entirely undecodable, not clean")
        else None // empty input: the one legitimate empty result
      why.foreach(w => throw new IllegalArgumentException(
        s"$site: zero signatures over a non-empty corpus: $w; an " +
          "empty pair result would be indistinguishable from a clean " +
          "corpus"))
    }
  }

  /** Gain-invariant 60-bit envelope signature per audio media over
    * [[Multimodal.audioRms]] rows: bit k = rms(window k+1) >
    * rms(window k), k < 60. Media shorter than 2 windows yield no
    * signature (nothing to compare — the skip contract). One
    * media-keyed window + partial-agg sum; the per-media state is one
    * long.
    */
  def audioEnvelopeSig(rms: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("media_id")).orderBy(col("frameIdx"))
    rms.withColumn("__nxt", lead(col("rms"), 1).over(w))
      .filter(col("frameIdx") < SigBits && col("__nxt").isNotNull)
      .groupBy(col("media_id"))
      .agg(sum(when(col("__nxt") > col("rms"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(frameIdx AS INT))"))
        .otherwise(0L)).as("sig"))
  }

  /** End-to-end audio near-dup: decode PCM → RMS envelope →
    * signature → banded pairing. */
  def audioNearDupPairs(media: DataFrame, samplesPerFrame: Int = 1024,
      maxHamming: Int = 3, maxBucketSize: Int = 10000,
      maxExpectedOccupancy: Long = 64): DataFrame =
    hammingPairs(
      audioEnvelopeSig(Multimodal.audioRms(Multimodal.decodeFrames(
        media, new Multimodal.WavDecoder(samplesPerFrame)))),
      maxHamming = maxHamming, maxBucketSize = maxBucketSize,
      maxExpectedOccupancy = maxExpectedOccupancy)

  /** [[audioEnvelopeSig]] at a freed signature width (round 12 — the
    * q89→q96 width discipline carried to the AUDIO modality, which
    * saturates its 15-bit band space at the same ~2M signatures):
    * bit k = rms(window k+1) > rms(window k) for k < `spec.sigBits`,
    * emitted as `spec.bands` band words ([[dHashWide]]'s layout —
    * word b carries bits [b·bandBits, (b+1)·bandBits)). Media
    * shorter than 2 windows yield no signature (the skip contract);
    * media shorter than `spec.sigBits + 1` windows leave their upper
    * bits 0, exactly as the 60-bit family does. One media-keyed
    * window + ONE partial-agg aggregation (the band words are
    * `bands` conditional sums of the same pass); per-media state is
    * `bands` longs. */
  def audioEnvelopeSigWide(rms: DataFrame,
      spec: SigSpec = Sig120): DataFrame = {
    val w = Window.partitionBy(col("media_id")).orderBy(col("frameIdx"))
    val bits = spec.bandBits
    rms.withColumn("__nxt", lead(col("rms"), 1).over(w))
      .filter(col("frameIdx") < spec.sigBits && col("__nxt").isNotNull)
      .groupBy(col("media_id"))
      .agg(array((0 until spec.bands).map(b =>
        coalesce(sum(when(col("__nxt") > col("rms") &&
            col("frameIdx") >= b * bits && col("frameIdx") < (b + 1) * bits,
          expr(s"shiftleft(CAST(1 AS BIGINT), " +
            s"CAST(frameIdx AS INT) - ${b * bits})")).otherwise(0L)),
          lit(0L)).cast("long")): _*).as("sig"))
  }

  /** End-to-end audio near-dup at a WIDE [[SigSpec]] width: decode
    * PCM → RMS envelope → [[audioEnvelopeSigWide]] →
    * [[hammingPairsWide]]. The wide sibling of
    * [[audioNearDupPairs]]; `maxHamming` defaults to the spec's
    * pigeonhole guarantee. */
  def audioNearDupPairsWide(media: DataFrame,
      samplesPerFrame: Int = 1024, spec: SigSpec = Sig120,
      maxHamming: Int = -1, maxBucketSize: Int = 10000,
      maxExpectedOccupancy: Long = 64): DataFrame =
    hammingPairsWide(
      audioEnvelopeSigWide(Multimodal.audioRms(Multimodal.decodeFrames(
        media, new Multimodal.WavDecoder(samplesPerFrame))), spec),
      spec, maxHamming = maxHamming, maxBucketSize = maxBucketSize,
      maxExpectedOccupancy = maxExpectedOccupancy)

  /** AUTO-WIDTH audio near-dup — [[imageNearDupPairsAuto]]'s door at
    * the audio modality (one envelope signature per media, so n =
    * media count; pass it when already known). */
  def audioNearDupPairsAuto(media: DataFrame,
      samplesPerFrame: Int = 1024, maxBucketSize: Int = 10000,
      maxExpectedOccupancy: Long = 64, n: Long = -1L): DataFrame = {
    val n0 = if (n >= 0) n else media.count()
    val spec = sigSpecFor(n0, maxExpectedOccupancy)
    audioNearDupPairsWide(media, samplesPerFrame, spec,
      maxBucketSize = maxBucketSize,
      maxExpectedOccupancy = maxExpectedOccupancy)
  }

  /** VIDEO-shaped near-dup: per-frame 60-bit signatures → banded
    * FRAME-level pairing (the shared pigeonhole kernel over
    * struct(media, frame) ids — struct ordering keeps every
    * cross-media pair canonically oriented) → per-media-pair
    * CONTAINMENT aggregation (the winnowing q34 shape lifted from
    * shingle fingerprints to frame signatures): containment =
    * max(matched-frames-of-A / |A|, matched-frames-of-B / |B|), so a
    * TRIMMED clip (a frame subset) of a longer video scores 1.0 from
    * its own side no matter how long the parent is, and a noisy
    * re-encode scores by the fraction of frames that survive within
    * `maxHamming` (spec-pinned with planted trimmed+re-encoded
    * clips).
    *
    * Scale shape: the kernel sees (struct id, sig) longs only —
    * pixels reduced to signatures upstream; the pair aggregation is
    * two map-side-combining countDistincts per (a, b) media pair;
    * frame counts join back keyed by media. Nothing frame-shaped
    * survives past the banded join.
    *
    * Input: (media_id, frameIdx, sig) — [[imageDHash]] over sampled
    * video frames produces exactly this. Returns (a_id, b_id,
    * a_matched, b_matched, a_frames, b_frames, containment ≥
    * `minContainment`), a_id < b_id.
    */
  def videoContainmentPairs(frameSigs: DataFrame,
      minContainment: Double = 0.5, maxHamming: Int = 3,
      maxBucketSize: Int = 10000,
      maxExpectedOccupancy: Long = 64): DataFrame = {
    val base = graft.CacheScope.track(frameSigs.select(
      struct(col("media_id"), col("frameIdx")).as("id"), col("sig")))
    containmentTail(base,
      Lsh.hamming60Pairs(base, maxHamming, maxBucketSize,
        maxExpectedOccupancy),
      minContainment)
  }

  /** [[videoContainmentPairs]] at a freed signature width (round 12
    * — the operator the measured 100× outage demanded): identical
    * containment semantics over [[imageDHashWide]]-shaped frame
    * signatures; only the pairing kernel changes
    * ([[Lsh.hammingWidePairs]], band space 2^spec.bandBits).
    * `maxHamming` defaults to the spec's pigeonhole guarantee. */
  def videoContainmentPairsWide(frameSigs: DataFrame,
      spec: SigSpec = Sig120, minContainment: Double = 0.5,
      maxHamming: Int = -1, maxBucketSize: Int = 10000,
      maxExpectedOccupancy: Long = 64): DataFrame = {
    val base = graft.CacheScope.track(frameSigs.select(
      struct(col("media_id"), col("frameIdx")).as("id"), col("sig")))
    containmentTail(base,
      Lsh.hammingWidePairs(base, spec.bands, spec.bandBits,
        if (maxHamming < 0) spec.maxGuaranteedHamming else maxHamming,
        maxBucketSize, maxExpectedOccupancy),
      minContainment)
  }

  /** AUTO-WIDTH video containment — the door at the FRAME level,
    * where the width pressure actually lives (a video corpus signs
    * every sampled frame, so n is the FRAME count — the 100× outage
    * was 3.38M frames from 33.8k media). Takes decoded frames, not a
    * signature relation: width is chosen BEFORE signing (a stored
    * signature relation has its width fixed at ingest — admission
    * against it must match, which is why [[admitIncrementalWide]]
    * takes an explicit spec and no auto door). Counting `n` here
    * forces one extra pass over the decode lineage — pass the frame
    * count when known (any real pipeline knows it from ingest
    * accounting). */
  def videoContainmentPairsAuto(frames: Dataset[DecodedFrame],
      minContainment: Double = 0.5, maxBucketSize: Int = 10000,
      maxExpectedOccupancy: Long = 64, n: Long = -1L): DataFrame = {
    val n0 = if (n >= 0) n else frames.count()
    val spec = sigSpecFor(n0, maxExpectedOccupancy)
    val sigs = imageDHashWide(frames, spec)
    // mediaCount = -1: the frames ARE the input here, so emptiness
    // is judged from the decoded relation itself (the caller's n is
    // a sizing hint, possibly for a corpus not yet attached)
    requireSigsSurvive(sigs, frames, spec, "videoContainmentPairsAuto",
      mediaCount = -1L)
    videoContainmentPairsWide(sigs, spec,
      minContainment, maxBucketSize = maxBucketSize,
      maxExpectedOccupancy = maxExpectedOccupancy)
  }

  /** The shared containment aggregation — single-sited so the 60-bit
    * and wide video paths cannot drift in count/coverage semantics.
    * `base` is the CACHED (id struct, sig) relation the kernel
    * banded (counts must read it, not the raw input: frameSigs'
    * lineage is a full decode+dHash pass for real video, and a
    * raw-relation aggregate would derive the frames twice —
    * round-10 review); `kernelPairs` is its (a_id, b_id, hamming)
    * struct-keyed output. */
  private def containmentTail(base: DataFrame, kernelPairs: DataFrame,
      minContainment: Double): DataFrame = {
    val framePairs = kernelPairs
      // struct order ⇒ a_id.media_id <= b_id.media_id; equal media =
      // within-video self-similarity, not a dup signal — drop it
      .filter(col("a_id.media_id") =!= col("b_id.media_id"))
      .select(col("a_id.media_id").as("a_id"),
        col("a_id.frameIdx").as("a_frame"),
        col("b_id.media_id").as("b_id"),
        col("b_id.frameIdx").as("b_frame"))
    val counts = base.groupBy(col("id.media_id").as("media_id"))
      .agg(countDistinct(col("id.frameIdx")).as("nf"))
    framePairs.groupBy(col("a_id"), col("b_id"))
      .agg(countDistinct(col("a_frame")).as("a_matched"),
        countDistinct(col("b_frame")).as("b_matched"))
      .join(counts.select(col("media_id").as("a_id"),
        col("nf").as("a_frames")), "a_id")
      .join(counts.select(col("media_id").as("b_id"),
        col("nf").as("b_frames")), "b_id")
      .withColumn("containment", greatest(
        col("a_matched").cast("double") / col("a_frames"),
        col("b_matched").cast("double") / col("b_frames")))
      .filter(col("containment") >= minContainment)
      .select(col("a_id"), col("b_id"), col("a_matched"),
        col("b_matched"), col("a_frames"), col("b_frames"),
        round(col("containment"), 6).as("containment"))
  }

  /** The COMPOSED multimodal pipeline (VERDICT r9 item 3 — the q44
    * sibling for media): per-modality 60-bit signature relations →
    * banded near-dup pairs PER modality (image sigs pair with image
    * sigs, audio with audio — signature spaces are not comparable
    * across modalities) → ONE union edge set → transitive closure →
    * min-id survivor election. A media appearing in several modality
    * relations (e.g. a video's frames AND its audio track) is one
    * node, so an image-near-dup of A that is also an audio-near-dup
    * of B collapses {A, B, it} into one group — the cross-modal
    * composition no single-modality pass can see.
    *
    * Node ids for the closure are the engine-portable 60-bit md5 of
    * the media id ([[Dedup.md5Hash60]] — the closure kernel takes
    * long nodes; a collision would merge two groups, P ≈ n²/2⁶¹,
    * the MinHash-family trust level). The FINAL group identity is
    * hash-free: group_id = min media_id (string order) within the
    * component, so the output contract does not depend on hash
    * ordering.
    *
    * Scale shape: each modality's pairing is the shared culled
    * pigeonhole kernel (id-only exchanges); the closure input is the
    * (tiny, by dedup construction) verified edge set; the survivor
    * election is one component-keyed aggregation re-joined to the
    * (media, component) relation — the q44 shape, AQE-broadcast at
    * runtime. Nothing pixel- or envelope-shaped reaches any of it.
    *
    * Returns one row per distinct media id across all signature
    * relations: (media_id, group_id, group_size, keep).
    */
  def crossModalDupGroups(sigSets: Seq[DataFrame], maxHamming: Int = 3,
      maxBucketSize: Int = 10000,
      maxExpectedOccupancy: Long = 64,
      ccCollectThreshold: Long =
        ConnectedComponents.DefaultLocalClosureThreshold): DataFrame = {
    crossModalBody(sigSets,
      s => hammingPairs(s, maxHamming = maxHamming,
        maxBucketSize = maxBucketSize,
        maxExpectedOccupancy = maxExpectedOccupancy),
      ccCollectThreshold)
  }

  /** [[crossModalDupGroups]] at a WIDE [[SigSpec]] width — the
    * composed multimodal pipeline past the 60-bit family's ~2M-
    * signature band-space ceiling: every modality relation carries
    * [[dHashWide]]/[[audioEnvelopeSigWide]]-shaped band-word arrays
    * at ONE shared `spec` (signature spaces still never compare
    * across modalities — only within each set), pairing is
    * [[hammingPairsWide]], and everything after the edge union is
    * the SAME [[dupGroupsTail]] the 60-bit pipeline runs — closure
    * nodes, survivor election and group identity cannot drift across
    * widths. At `Sig60` (with sigs word-ized 4 × 15) the groups are
    * value-identical to the legacy pipeline (spec-pinned). */
  def crossModalDupGroupsWide(sigSets: Seq[DataFrame],
      spec: SigSpec = Sig120, maxHamming: Int = -1,
      maxBucketSize: Int = 10000,
      maxExpectedOccupancy: Long = 64,
      ccCollectThreshold: Long =
        ConnectedComponents.DefaultLocalClosureThreshold): DataFrame =
    crossModalBody(sigSets,
      s => hammingPairsWide(s, spec, maxHamming = maxHamming,
        maxBucketSize = maxBucketSize,
        maxExpectedOccupancy = maxExpectedOccupancy),
      ccCollectThreshold)

  /** The shared FRONT half of both cross-modal pipelines — only the
    * per-modality pairing kernel comes in as a function, so the
    * track-once discipline and the edge union cannot drift across
    * widths any more than the tail can (round-12 review: the first
    * wide cut duplicated this block). Each modality relation is
    * tracked ONCE and feeds both the pairing and the universe: the
    * raw relation's lineage is the full signature derivation
    * (pixels/envelopes), and reading it twice through two different
    * projections would derive it twice (round-10 review). */
  private def crossModalBody(sigSets: Seq[DataFrame],
      pair: DataFrame => DataFrame,
      ccCollectThreshold: Long): DataFrame = {
    require(sigSets.nonEmpty, "need at least one modality signature set")
    val sets = sigSets.map(graft.CacheScope.track)
    val edges = sets.map(s => pair(s).select(col("a_id"), col("b_id")))
      .reduce(_.unionByName(_))
    dupGroupsTail(sets, edges, ccCollectThreshold)
  }

  /** The shared back half of both cross-modal pipelines (closure +
    * election) — single-sited so the widths cannot drift, exactly as
    * [[containmentTail]]/`admitTail` single-site their families. */
  private def dupGroupsTail(sets: Seq[DataFrame], edges: DataFrame,
      ccCollectThreshold: Long): DataFrame = {
    val universe = sets.map(_.select(col("media_id")))
      .reduce(_.unionByName(_)).distinct()
    val comps = ConnectedComponents.components(
      edges.select(Dedup.md5Hash60(col("a_id")).as("a"),
        Dedup.md5Hash60(col("b_id")).as("b")),
      "a", "b", collectThreshold = ccCollectThreshold)
    val labeled = universe
      .withColumn("__h", Dedup.md5Hash60(col("media_id")))
      .join(comps, col("__h") === col("node"), "left")
      .select(col("media_id"),
        coalesce(col("component"), col("__h")).as("__comp"))
    // survivor election as HASH AGGREGATION + a SHUFFLED-HASH rejoin
    // (round 11 — VERDICT r10 flagged the former component-keyed
    // window: WindowExec BUFFERS its whole partition on one task, and
    // while dedup components are small by construction, the operator
    // contract doesn't bound them — one viral media re-encoded
    // everywhere makes that partition corpus-sized). The aggregate is
    // skew-proof by itself: partial min/count collapses a
    // mega-component to one row per map partition BEFORE the shuffle
    // (the q52 discipline). The q86 lesson argued against
    // aggregate-then-rejoin because the rejoin went static SMJ with
    // no broadcast bound (the group relation is corpus-sized in the
    // all-singletons worst case); the SHUFFLE_HASH hint removes both
    // horns — a streaming hash join whose build side is the
    // per-partition slice of the group relation (bounded by
    // #components / parallelism), no sort, no partition buffering —
    // at the cost of one extra partial-aggregated exchange vs the
    // window, the trade the unbounded-component hazard justifies.
    val groups = labeled.groupBy(col("__comp"))
      .agg(min(col("media_id")).as("group_id"),
        count(lit(1)).as("group_size"))
    labeled.join(groups.hint("shuffle_hash"), Seq("__comp"))
      .select(col("media_id"), col("group_id"), col("group_size"),
        (col("media_id") === col("group_id")).as("keep"))
  }

  /** BATCH media admission — the empty cell of the admission grid
    * (VERDICT r10 item 5): admit the signatures of a NEW batch
    * against an already-deduplicated corpus signature set doing only
    * new×new and new×corpus work — the [[Dedup
    * .admitIncrementalSemantic]] statement over the banded hamming
    * kernel, the batch sibling of [[graft.streaming.EventStreams
    * .mediaAdmittedStream]].
    *
    * Mechanics (each the established piece): both sides band through
    * the 4 × 15-bit pigeonhole; the oversized-bucket cull applies to
    * the UNION population per (band, value) — computed as the sum of
    * per-side counts, the round-11 bucketed-storage shape — because a
    * bucket culled in the batch twin must be culled here or the
    * equivalence breaks; candidates are the two id-only equi-joins
    * (new×new with id ordering, new×corpus unordered — the corpus
    * never self-compares); the popcount verify is exact; closure
    * nodes are [[Dedup.md5Hash60]] hashes with corpus hashes negated
    * into the disjoint key space, so a corpus-touching component has
    * a negative min-label without a flag column; a fresh signature is
    * admitted iff its component is corpus-untouched AND it is the
    * component's min media_id in STRING order (the hash-free group
    * identity [[crossModalDupGroups]] elects) — or it pairs with
    * nothing.
    *
    * EQUIVALENCE (spec-pinned, the admission-family contract): given
    * `corpusSigs` = the keep-set signatures of a
    * [[crossModalDupGroups]] pass at the same (maxHamming,
    * maxBucketSize), the admitted set equals the batch twin over
    * corpus ∪ batch: fresh ids that survive the union dedup and
    * whose group contains no corpus member.
    *
    * Returns the admitted subset of `newSigs`, original columns.
    */
  def admitIncremental(newSigs: DataFrame, corpusSigs: DataFrame,
      maxHamming: Int = 3, maxBucketSize: Int = 10000,
      idCol: String = "media_id", sigCol: String = "sig",
      maxExpectedOccupancy: Long = 64,
      ccCollectThreshold: Long =
        ConnectedComponents.DefaultLocalClosureThreshold): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 x 15-bit bands pigeonhole 60 bits at hamming <= 3 (got $maxHamming)")
    val fresh = graft.CacheScope.track(newSigs.select(
      col(idCol).cast("string").as("id"), col(sigCol).cast("long").as("sig")))
    val corp = graft.CacheScope.track(corpusSigs.select(
      col(idCol).cast("string").as("id"), col(sigCol).cast("long").as("sig")))
    val freshN = fresh.count()
    Lsh.requireBoundedBuckets("MediaDedup.admitIncremental",
      freshN + corp.count(), maxExpectedOccupancy)
    def banded(df: DataFrame): DataFrame = df.select(col("id"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 15).bitwiseAND(32767)): _*))
        .as(Seq("band", "bv")))
    admitTail(newSigs, idCol, fresh, corp, banded,
      (a, b) => bit_count(a.bitwiseXOR(b)), maxHamming,
      maxBucketSize, ccCollectThreshold, freshN)
  }

  /** [[admitIncremental]] at a WIDE [[SigSpec]] width (round 12 —
    * the q89→q96 discipline applied to the admission grid's media
    * cell, which otherwise saturates at the same ~2M signatures):
    * `sigCol` carries [[dHashWide]]-shaped band-word arrays, banding
    * is one posexplode, the verify is the per-word popcount sum, and
    * the occupancy guard derives from `spec.bandBits`. Everything
    * after banding is [[admitTail]] — single-sited with the 60-bit
    * family, so the admission semantics (union-population cull,
    * split new×new / new×corpus joins, negated corpus hashes,
    * min-STRING-id election) cannot drift across widths.
    */
  def admitIncrementalWide(newSigs: DataFrame, corpusSigs: DataFrame,
      spec: SigSpec = Sig120, maxHamming: Int = -1,
      maxBucketSize: Int = 10000,
      idCol: String = "media_id", sigCol: String = "sig",
      maxExpectedOccupancy: Long = 64,
      ccCollectThreshold: Long =
        ConnectedComponents.DefaultLocalClosureThreshold): DataFrame = {
    val ham = if (maxHamming < 0) spec.maxGuaranteedHamming else maxHamming
    require(ham >= 0 && ham <= spec.bands - 1,
      s"${spec.bands} x ${spec.bandBits}-bit bands pigeonhole " +
        s"${spec.sigBits} bits at hamming <= ${spec.bands - 1} (got $ham)")
    val fresh = graft.CacheScope.track(newSigs.select(
      col(idCol).cast("string").as("id"),
      Lsh.sigWidthChecked(col(sigCol).cast("array<bigint>"), spec.bands,
        "admitIncrementalWide(new)").as("sig")))
    val corp = graft.CacheScope.track(corpusSigs.select(
      col(idCol).cast("string").as("id"),
      Lsh.sigWidthChecked(col(sigCol).cast("array<bigint>"), spec.bands,
        "admitIncrementalWide(corpus)").as("sig")))
    val freshN = fresh.count()
    Lsh.requireBoundedBuckets("MediaDedup.admitIncrementalWide",
      freshN + corp.count(), maxExpectedOccupancy, spec.bandBits)
    def banded(df: DataFrame): DataFrame = df.select(col("id"),
      posexplode(col("sig")).as(Seq("band", "bv")))
    def hamSum(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("int")),
      lit(0), (acc, x) => acc + x)
    admitTail(newSigs, idCol, fresh, corp, banded, hamSum, ham,
      maxBucketSize, ccCollectThreshold, freshN)
  }

  /** The shared admission machinery after signature shaping — the
    * [[containmentTail]] discipline at the admission site: both
    * widths ride ONE implementation of the union-population cull,
    * the split new×new / new×corpus candidate joins, the popcount
    * verify (`ham`, width-specific), the negated-corpus-hash
    * closure and the min-STRING-id election. */
  private def admitTail(newSigs: DataFrame, idCol: String,
      fresh: DataFrame, corp: DataFrame,
      banded: DataFrame => DataFrame, ham: (Column, Column) => Column,
      maxHamming: Int, maxBucketSize: Int,
      ccCollectThreshold: Long, freshN: Long): DataFrame = {
    val fb = banded(fresh)
    val cb = banded(corp)
    // union-population cull as per-side count sum (the Dedup
    // admission shape: the corpus side aggregates on its own)
    val oversized = fb.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("__fn"))
      .join(cb.groupBy(col("band"), col("bv"))
        .agg(count(lit(1)).as("__cn")), Seq("band", "bv"), "full_outer")
      .filter(coalesce(col("__fn"), lit(0L)) + coalesce(col("__cn"), lit(0L))
        > maxBucketSize)
      .select(col("band"), col("bv"))
    val fs = fb.join(broadcast(oversized), Seq("band", "bv"), "left_anti")
    val cs = cb.join(broadcast(oversized), Seq("band", "bv"), "left_anti")
    // id-only candidates, sigs joined back from the cached bases
    // (the Lsh discipline), exact popcount verify
    def verified(cands: DataFrame, bSide: DataFrame): DataFrame = cands
      .join(fresh.select(col("id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(bSide.select(col("id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .filter(ham(col("a_sig"), col("b_sig")) <= maxHamming)
      .select(col("a_id"), col("b_id"))
    val nn = verified(
      fs.as("x").join(fs.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.id") < col("y.id"))
        .select(col("x.id").as("a_id"), col("y.id").as("b_id")).distinct(),
      fresh)
    val nc = verified(
      fs.as("x").join(cs.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv"))
        .select(col("x.id").as("a_id"), col("y.id").as("b_id")).distinct(),
      corp)
    val edges = nn.select(Dedup.md5Hash60(col("a_id")).as("a"),
        Dedup.md5Hash60(col("b_id")).as("b"))
      .unionByName(nc.select(Dedup.md5Hash60(col("a_id")).as("a"),
        (-Dedup.md5Hash60(col("b_id")) - 1).as("b")))
    val comps = ConnectedComponents.components(edges, "a", "b",
      collectThreshold = ccCollectThreshold)
    val labeled = fresh
      .withColumn("__h", Dedup.md5Hash60(col("id")))
      .join(comps, col("__h") === col("node"), "left")
      .select(col("id"), col("component"))
    // corpus-touched components (negative min-label) reject outright;
    // fresh-only components admit their min STRING id — the
    // skew-safe agg + SHUFFLE_HASH election (never a window)
    val freshOnly = labeled.filter(col("component").isNotNull &&
      col("component") >= 0)
    val mins = freshOnly.groupBy(col("component"))
      .agg(min(col("id")).as("__gmin"))
    val admitted = labeled.filter(col("component").isNull).select(col("id"))
      .unionByName(freshOnly
        .join(mins.hint("shuffle_hash"), Seq("component"))
        .filter(col("id") === col("__gmin")).select(col("id")))
      .withColumnRenamed("id", "__admitted_id")
    // admitted ⊆ the nightly batch, so the BATCH count (already
    // materialized by the occupancy guard) bounds the broadcast —
    // which must be explicit when small (the static planner's size
    // estimate for the wide array-sig lineage otherwise tips this
    // into a sort-merge join at plan time) but must NOT be forced
    // on a multi-million-row batch: an unconditional hint collects
    // the admitted ids to the driver regardless of size (round-12
    // review — 'small by contract' was asserted, not enforced).
    // Past the cap the planner decides; correctness is unchanged.
    val semiSide =
      if (freshN <= AdmitBroadcastMaxIds) broadcast(admitted) else admitted
    newSigs.join(semiSide,
      col(idCol).cast("string") === col("__admitted_id"), "left_semi")
  }

  /** Bound for the admitted-id semi-join broadcast in `admitTail`:
    * ~1M string ids ≈ tens of MB shipped — comfortably inside a
    * driver/executor broadcast budget; larger nightly batches fall
    * back to a planner-chosen join. */
  private[graft] val AdmitBroadcastMaxIds: Long = 1L << 20

  // ---------------------------------------------------------------
  // Deterministic synthetic frame corpus — the q83 gate's input and
  // the planted-dup fixture generator (the q53 planted-span
  // precedent: generation is part of the verified surface). Pixels
  // are md5 DIGEST BYTES of "<id>:px:<block>" (16 bytes per digest,
  // 66 digests = one 44×24 grayscale frame), so a SQL engine
  // re-derives every pixel, every tile mean, and every signature —
  // q83 carries a FULL oracle. Variants exist for ids whose
  // md5("<id>:var") leading byte < 48 (~19%) and perturb pixels
  // whose md5("<vid>:pt:<block>") digest byte < PerturbRate by
  // +PerturbDelta (clamped) — brightness spots, the near-dup model.
  // ---------------------------------------------------------------

  /** 44×24: an 11×6 grid of exact 4×4 tiles, 1056 px = 66 digests. */
  val FrameW = 44
  val FrameH = 24
  val PerturbDelta = 80
  val PerturbRate = 3

  private def md5Bytes(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Deterministic grayscale frame for `seedId`. */
  def syntheticPixels(seedId: String): Array[Byte] =
    syntheticPixelsSized(seedId, FrameW * FrameH)

  /** [[syntheticPixels]] at any 16-divisible size — the wide-frame
    * corpus draws 2048 px (128 digests) from the same digest
    * stream. */
  def syntheticPixelsSized(seedId: String, npx: Int): Array[Byte] = {
    require(npx % 16 == 0, s"pixel count must be 16-divisible (got $npx)")
    val px = new Array[Byte](npx)
    var b = 0
    while (b < px.length / 16) {
      System.arraycopy(md5Bytes(s"$seedId:px:$b"), 0, px, b * 16, 16)
      b += 1
    }
    px
  }

  /** `parentId`'s frame with deterministic brightness perturbation
    * keyed on `variantId` — most land within hamming ≤ 3 of the
    * parent, a few honestly beyond (the threshold is a real cut,
    * not a tautology). */
  def perturbedPixels(parentId: String, variantId: String): Array[Byte] =
    perturbedPixelsSized(parentId, variantId, FrameW * FrameH)

  /** [[perturbedPixels]] at any 16-divisible size. */
  def perturbedPixelsSized(parentId: String, variantId: String,
      npx: Int): Array[Byte] = {
    val px = syntheticPixelsSized(parentId, npx)
    var b = 0
    while (b < px.length / 16) {
      val d = md5Bytes(s"$variantId:pt:$b")
      var j = 0
      while (j < 16) {
        if ((d(j) & 0xFF) < PerturbRate)
          px(b * 16 + j) =
            math.min(255, (px(b * 16 + j) & 0xFF) + PerturbDelta).toByte
        j += 1
      }
      b += 1
    }
    px
  }

  /** Does `id` get a planted near-dup variant? (~19%.) */
  def hasVariant(id: String): Boolean = (md5Bytes(id + ":var")(0) & 0xFF) < 48

  /** One frame per id, plus a perturbed "<id>~v" variant frame for
    * the planted subset. A narrow flatMap — rows never co-depend. */
  def syntheticFrameCorpus(ids: Dataset[String]): Dataset[DecodedFrame] = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.flatMap { id =>
      val parent = DecodedFrame(id, 0, FrameW, FrameH, syntheticPixels(id))
      if (hasVariant(id))
        Seq(parent, DecodedFrame(s"$id~v", 0, FrameW, FrameH,
          perturbedPixels(id, s"$id~v")))
      else Seq(parent)
    }
  }

  /** VIDEO frames per parent + TRIMMED RE-ENCODED clips (q89). */
  val VideoFrames = 6
  val ClipFrames = 4

  /** Multi-frame corpus: [[VideoFrames]] deterministic frames per id
    * (frame k seeded "<id>:f<k>"), and for the [[hasVariant]] subset
    * a "<id>~t" clip of [[ClipFrames]] frames — clip frame j is the
    * PERTURBED re-encode of parent frame j+1 (a one-frame trim off
    * each end plus brightness noise: the trimmed+re-encoded dup
    * model [[videoContainmentPairs]] exists to catch). Same
    * md5-derived pixels as [[syntheticFrameCorpus]], so a SQL engine
    * re-derives every frame. */
  def syntheticVideoCorpus(ids: Dataset[String]): Dataset[DecodedFrame] = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.flatMap { id =>
      val parents = (0 until VideoFrames).map(k =>
        DecodedFrame(id, k, FrameW, FrameH, syntheticPixels(s"$id:f$k")))
      val clips =
        if (hasVariant(id)) (0 until ClipFrames).map(j =>
          DecodedFrame(s"$id~t", j, FrameW, FrameH,
            perturbedPixels(s"$id:f${j + 1}", s"$id~t:f$j")))
        else Seq.empty
      parents ++ clips
    }
  }

  /** 64×32: [[Sig120]]'s 8×16 (rows × cols) grid in exact 4×4 tiles, 2048 px =
    * 128 digests — the wide gate's frame dimensions. */
  val WideFrameW = 64
  val WideFrameH = 32

  /** [[syntheticFrameCorpus]] at the WIDE frame size — same media
    * universe (parents + md5-gated "~v" variants, same `:px:`/`:pt:`
    * seed scheme), 64×32 frames for [[Sig120]]'s 8×16 (rows × cols) grid — the
    * q99 wide-admission gate's input. */
  def syntheticFrameCorpusWide(ids: Dataset[String]): Dataset[DecodedFrame] = {
    val spark = ids.sparkSession
    import spark.implicits._
    val npx = WideFrameW * WideFrameH
    ids.flatMap { id =>
      val parent = DecodedFrame(id, 0, WideFrameW, WideFrameH,
        syntheticPixelsSized(id, npx))
      if (hasVariant(id))
        Seq(parent, DecodedFrame(s"$id~v", 0, WideFrameW, WideFrameH,
          perturbedPixelsSized(id, s"$id~v", npx)))
      else Seq(parent)
    }
  }

  /** [[syntheticVideoCorpus]] at the WIDE frame size — same media
    * universe (ids, variant rate, 6 parent frames, 4-frame trimmed+
    * perturbed clips, same "<id>:f<k>" seeds), larger frames drawn
    * from the same digest stream, so the q96 wide gate measures the
    * SIGNATURE family change and nothing else. */
  def syntheticVideoCorpusWide(ids: Dataset[String]): Dataset[DecodedFrame] = {
    val spark = ids.sparkSession
    import spark.implicits._
    val npx = WideFrameW * WideFrameH
    ids.flatMap { id =>
      val parents = (0 until VideoFrames).map(k =>
        DecodedFrame(id, k, WideFrameW, WideFrameH,
          syntheticPixelsSized(s"$id:f$k", npx)))
      val clips =
        if (hasVariant(id)) (0 until ClipFrames).map(j =>
          DecodedFrame(s"$id~t", j, WideFrameW, WideFrameH,
            perturbedPixelsSized(s"$id:f${j + 1}", s"$id~t:f$j", npx)))
        else Seq.empty
      parents ++ clips
    }
  }
}
