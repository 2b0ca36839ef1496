package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NativeFunctions

/** Multimodal-column plumbing for LLM training-data pipelines: media
  * (image/audio/video) as opaque `binary` columns with typed metadata,
  * real container-header parses, REAL PNG pixel decode for RGB8
  * ([[pngPixelStats]] — zlib inflate + per-scanline unfilter as a
  * native expression), and fixed-size chunking (the batch shape a
  * frame-sampler or patch-encoder consumes).
  *
  * General codec DECODE (JPEG, video, audio samples) stays a STUB:
  * no codec libs exist in this environment, so `stubDecode` derives
  * plausible, deterministic dimensions from the content hash.
  * Everything around it — schemas, chunk layout, hashing, the single
  * narrow projection — is the real distributed plumbing and is
  * oracle-checked/unit-tested; PNG shows the full path with a real
  * format (container walk → inflate → unfilter → stats) end-to-end.
  *
  * All functions are codegen'd built-ins over binary — no UDFs, no
  * python workers, no per-row JVM object churn beyond the buffers.
  */
object Multimodal {

  /** REAL pixel decode for 8-bit RGB PNGs: IDAT inflate + unfilter →
    * exact integer pixel stats (see [[graft.functions.PngPixelUtil]]);
    * non-PNG or unsupported layouts yield decoded = false, never an
    * error. Runs scan-side — the bytes never shuffle, only the stats
    * row leaves the projection. */
  def pngPixelStats(bin: Column): Column =
    NativeFunctions.pngPixelStats(bin)

  /** REAL audio sample decode for canonical PCM16 WAV: RIFF chunk walk
    * + little-endian int16 sample reads → exact integer stats incl.
    * the channel-0 zero-crossing count (see
    * [[graft.functions.WavPcmUtil]]); non-WAV or non-PCM16 blobs yield
    * decoded = false, never an error. Scan-side like [[pngPixelStats]]:
    * the audio bytes never shuffle. */
  def wavPcmStats(bin: Column): Column =
    NativeFunctions.wavPcmStats(bin)

  /** JPEG header metadata via the real ITU-T T.81 marker-segment
    * walk: JFIF presence, SOF0/SOF2 frame header (precision,
    * dimensions, components), progressive flag, segment count (see
    * [[graft.functions.JpegHeaderUtil]]). Header-only by design —
    * dimensions and structural validity are what a curation pipeline
    * filters on before paying for an entropy decode; malformed or
    * unsupported-variant blobs yield decoded = false, never an
    * error. Scan-side like [[pngPixelStats]]: the bytes never
    * shuffle. */
  def jpegMeta(bin: Column): Column =
    NativeFunctions.jpegMeta(bin)

  /** GIF header metadata (dimensions, palette size, frame and
    * extension counts, structural validity) via the native
    * [[graft.functions.GifMeta]] block walk — the JPEG/PNG contract
    * for the third image format real crawls carry: malformed blobs
    * yield decoded = false, never an error; bytes never shuffle. */
  def gifMeta(bin: Column): Column =
    NativeFunctions.gifMeta(bin)

  /** Per-frame GIF inventory (position, dimensions, local palette,
    * GCE delay/disposal — one struct per image descriptor in stream
    * order) via the native [[graft.functions.GifFrames]] block walk:
    * the frame-SAMPLE plumbing step for the one multi-frame container
    * parseable from first principles here — a sampler explodes these
    * rows and keeps every Nth frame / frames past a delay threshold
    * BEFORE any pixel decode is paid. Malformed blobs yield NULL
    * (whole array), never an error; bytes never shuffle. */
  def gifFrames(bin: Column): Column =
    NativeFunctions.gifFrames(bin)

  /** MP4 / ISO-BMFF container metadata (major brand, mvhd
    * timescale/duration/duration_ms, track count, top-level box
    * census) via the native [[graft.functions.Mp4Header]] box walk —
    * the VIDEO rung of the scan-side container family: the typed
    * fields a curation pipeline filters on (duration, tracks, brand)
    * before paying for any decode; codec payloads stay stubbed per
    * the environment contract ([[stubDecode]]). Malformed/truncated
    * blobs yield decoded = false, never an error; bytes never
    * shuffle. */
  def mp4Header(bin: Column): Column =
    NativeFunctions.mp4Header(bin)

  /** Per-track MP4 inventory (one struct per `trak` in stream order:
    * id, tkhd version, duration, pixel dimensions from the 16.16
    * fixed-point fields) via the native [[graft.functions.Mp4Tracks]]
    * walk — the track-selection plumbing a video pipeline runs (keep
    * the video track, bucket by resolution) before any sample decode.
    * Malformed blobs yield NULL (whole array), never an error; bytes
    * never shuffle. */
  def mp4Tracks(bin: Column): Column =
    NativeFunctions.mp4Tracks(bin)

  /** Per-SAMPLE MP4 inventory (one struct per sample per track:
    * track id, media timescale, 1-based index, decoding timestamp,
    * stts delta, size, keyframe flag) via the native
    * [[graft.functions.Mp4Samples]] sample-table walk (stts/stss/
    * stsz) — the video FRAME-SAMPLE step: keyframe-only, every-Nth,
    * or duration-bucketed sampling are plain filters on these rows,
    * decided BEFORE any codec decode. Expansion is capped at
    * [[graft.functions.Mp4SampleUtil.MaxSamples]] total samples per
    * file, checked from the run totals before any allocation (a
    * 60-byte header can DECLARE billions of samples); the cap, any
    * malformation, or table disagreement yields NULL (whole array),
    * never an error. Bytes never shuffle. */
  def mp4Samples(bin: Column): Column =
    NativeFunctions.mp4Samples(bin)

  /** REAL image resize: nearest-neighbor PNG thumbnail (decode →
    * integer-stride downsample → re-encode, all java.util.zip — see
    * [[graft.functions.PngThumbUtil]] for the stated kernel and
    * degrade contract). Runs scan-side; the ~s²-smaller thumbnail
    * column is what leaves the projection, never the originals. */
  def pngThumbnail(bin: Column, maxDim: Int): Column =
    NativeFunctions.pngThumbnail(bin, lit(maxDim))

  /** REAL audio resample: PCM16 decimation — keep every `factor`-th
    * frame, re-encode at the divided rate (see
    * [[graft.functions.WavDecimUtil]]; plain decimation, no low-pass,
    * stated). The audio frame-sample primitive; scan-side, the
    * ~factor-smaller audio column is what leaves the projection. */
  def wavDecimate(bin: Column, factor: Int): Column =
    NativeFunctions.wavDecimate(bin, lit(factor))

  /** Perceptual audio fingerprint of a PCM16 WAV: 65-segment energy
    * envelope → 64 adjacent-mean comparison bits, gain-invariant
    * (see [[graft.functions.WavPcmUtil.fingerprint]]); scan-side,
    * audio bytes never shuffle. */
  def wavFingerprint(bin: Column): Column =
    NativeFunctions.wavFingerprint(bin)

  /** Per-frame channel-0 audio features (energy Σv², zero crossings,
    * peak |v|) over fixed-size sample windows — the exact-integer
    * VAD / silence-trim / segmentation front end (see
    * [[graft.functions.WavPcmUtil.frameFeatures]]). Scan-side: only
    * the five-integer frame structs leave; explode downstream. */
  def wavFrameFeatures(bin: Column, frameSize: Int): Column =
    NativeFunctions.wavFrameFeatures(bin, lit(frameSize))

  /** Silence-trim boundaries — the voice-activity gate composed on
    * [[wavFrameFeatures]]' exact-integer energies (the canonical use
    * its scaladoc names): frames with Σv² ≥ `energyThreshold` are
    * active; per clip this reports total frames, the first/last
    * active frame, the active count, and `keep_frames` =
    * last−first+1 — the contiguous region a trim pass would keep
    * (leading/trailing silence dropped, interior pauses preserved —
    * the standard ASR-prep contract, NOT gap compression). All-silent
    * clips report NULL bounds and keep 0, never a fabricated region.
    *
    * Shape: the frame structs (five integers each) are the ONLY
    * thing that leaves the scan — media bytes never shuffle — then
    * one conditional aggregate per clip. Threshold calibration is the
    * caller's contract (energy scales with frameSize and loudness;
    * pair with a [[wavFrameFeatures]] percentile probe to pick it). */
  def silenceTrim(wavs: DataFrame, idCol: String, wavCol: String,
                  frameSize: Int, energyThreshold: Long): DataFrame = {
    val active = col("__e") >= energyThreshold
    wavs.select(col(idCol),
        explode(wavFrameFeatures(col(wavCol), frameSize)).as("__f"))
      .select(col(idCol), col("__f.frame_idx").cast("long").as("__fi"),
        col("__f.energy").as("__e"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_frames"),
        min(when(active, col("__fi"))).as("first_active"),
        max(when(active, col("__fi"))).as("last_active"),
        sum(when(active, 1L).otherwise(0L)).as("n_active"))
      .withColumn("keep_frames",
        coalesce(col("last_active") - col("first_active") + 1, lit(0L)))
  }

  /** Perceptual difference-hash (dHash) of an RGB8 PNG: decode → 9×8
    * integer-luma grid → 64 adjacent-mean comparison bits (exact
    * rational compare — see [[graft.functions.PngPixelUtil.dhash]]).
    * The image fingerprint that survives re-encoding and small edits
    * which change every raw byte (where content-hash dedup goes
    * blind); scan-side, bytes never shuffle. */
  def pngDhash(bin: Column): Column =
    NativeFunctions.pngDhash(bin)

  /** IMAGE near-duplicate pairs — visual dedup for a multimodal
    * corpus: dHash each image at the scan, then find all pairs within
    * `maxHamming` bits via 16-bit band blocking (the
    * [[graft.dedup.Dedup.simhashPairs]] shape on a 64-bit hash):
    * two hashes within 3 bits MUST agree on one of the 4 bands by
    * pigeonhole, so the candidate join is an equi-join on (band, key)
    * — never all-pairs — and the exact `bit_count(xor)` filter keeps
    * the band trick semantically invisible. Undecodable images drop
    * out (they cannot be visually compared; content-hash dedup still
    * covers them byte-exactly).
    *
    * Scale: candidate count is bounded by band-bucket collisions of
    * 16-bit keys over visually-random hashes — near-uniform outside
    * true near-dups; the 8-byte hash is all that shuffles. */
  def imageNearDups(images: DataFrame, idCol: String = "doc_id",
                    binCol: String = "png", maxHamming: Int = 3,
                    maxBucket: Long = 1000): DataFrame =
    bandedHammingPairs(images
      .select(col(idCol), pngDhash(col(binCol)).as("d"))
      .filter(col("d.decoded"))
      .select(col(idCol), col("d.dhash").as("h64")),
      idCol, maxHamming, maxBucket)

  /** AUDIO near-duplicate pairs — the same visual-dedup shape over
    * [[wavFingerprint]]'s gain-invariant energy envelope: catches the
    * re-encoded / loudness-normalized copy whose every byte differs.
    * Undecodable or sub-65-sample clips drop out. */
  def audioNearDups(clips: DataFrame, idCol: String = "doc_id",
                    binCol: String = "wav", maxHamming: Int = 3,
                    maxBucket: Long = 1000): DataFrame =
    bandedHammingPairs(clips
      .select(col(idCol), wavFingerprint(col(binCol)).as("d"))
      .filter(col("d.decoded"))
      .select(col(idCol), col("d.fingerprint").as("h64")),
      idCol, maxHamming, maxBucket)

  /** All id pairs whose 64-bit hashes are within `maxHamming` bits:
    * 16-bit band blocking — two hashes ≤ 3 bits apart MUST share one
    * of the 4 bands by pigeonhole, so candidates come from an
    * equi-join on (band, key), never all-pairs — then the exact
    * `bit_count(xor)` filter makes the banding semantically
    * invisible. 16-bit keys are near-uniform for perceptually-random
    * hashes, but the operator's own use case is the corpus that
    * VIOLATES that: a viral re-encoded image / loudness-normalized
    * clip puts every copy of the hot cluster in the SAME (band, key)
    * bucket, so the ungoverned self-join is C(b, 2) in the cluster
    * size — the round-18 minhash scale-killer's exact shape.
    *
    * `maxBucket` is the family governor ([[graft.dedup.Dedup
    * .minhashPairs]]'s device verbatim): an over-cap bucket
    * contributes its id-sorted ADJACENT CHAIN (b − 1 pairs) instead
    * of all C(b, 2). A true perceptual-clone cluster is pairwise
    * within `maxHamming`, so every chain edge survives the exact
    * filter and componentLabels merges the cluster whole; a mixed
    * collision bucket's failing chain edges vanish at linear cost.
    * Pair-level output through an oversized bucket under-reports,
    * never inflates — the family contract, measured corpus-wide by
    * the agreement probe in `scripts/bench_scaling_r19.txt` and
    * `.raw`. Candidate volume ≤
    * n·4·maxBucket/2 + n·4: cap-linear in n. Only the 8-byte hash
    * shuffles; oversized-bucket windows reuse the self-join's
    * (band, key) hash partitioning. Input: (idCol, h64). Public: the
    * direct surface for PRE-HASHED corpora (any 64-bit perceptual
    * hash), and the surface the r19 scaling runs in
    * `scripts/bench_scaling_r19.txt` drove. */
  def bandedHammingPairs(hashes: DataFrame, idCol: String,
                         maxHamming: Int, maxBucket: Long = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] (4x16-bit banding guarantees recall only to 3), got $maxHamming")
    require(maxBucket >= 2, "maxBucket < 2 cannot pair anything")
    val byteStructs = array((0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("h64"), 16 * b).bitwiseAND(lit(0xffffL)).as("key"))): _*)
    val bands = hashes
      .select(col(idCol), col("h64"), explode(byteStructs).as("bk"))
      .select(col(idCol), col("h64"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      // no-op filter that keeps the chain leg's exchange subtree
      // canonically equal to the join legs' (which carry join-key
      // IsNotNull), so all three consumers share ONE (band, key)
      // shuffle via ReusedExchange — the simhashPairs device
      .filter(col("band").isNotNull && col("key").isNotNull)
    val wCnt = Window.partitionBy(col("band"), col("key"))
    val wOrd = Window.partitionBy(col("band"), col("key"))
      .orderBy(col(idCol))
    val sized = bands.withColumn("__bn", count(lit(1)).over(wCnt))
    val small = sized.filter(col("__bn") <= maxBucket)
      .select(col(idCol), col("h64"), col("band"), col("key"))
    val allPairs = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        col("a.h64").as("ha"), col("b.h64").as("hb"))
    val chained = sized.filter(col("__bn") > maxBucket)
      .withColumn("__nd", lead(col(idCol), 1).over(wOrd))
      .withColumn("__nh", lead(col("h64"), 1).over(wOrd))
      .filter(col("__nd").isNotNull)
      .select(col(idCol).as("doc_a"), col("__nd").as("doc_b"),
        col("h64").as("ha"), col("__nh").as("hb"))
    allPairs.unionByName(chained)
      .distinct() // a pair may collide in several bands
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Byte length + head bytes + content hash: the metadata every media
    * ingest keeps before any decode. */
  def mediaMeta(bin: Column): Column = struct(
    length(bin).cast("long").as("n_bytes"),
    hex(substring(bin, 1, 8)).as("header_hex"),
    md5(bin).as("content_md5"))

  /** Big-endian unsigned integer from `len` bytes at 1-based `pos` —
    * binary substring → hex → base-16 conv, all codegen'd built-ins. */
  private def beUInt(bin: Column, pos: Int, len: Int): Column =
    conv(hex(substring(bin, pos, len)), 16, 10).cast("long")

  /** Little-endian: per-byte reads recombined with shift weights. */
  private def leUInt(bin: Column, pos: Int, len: Int): Column =
    (0 until len).map(i => beUInt(bin, pos + i, 1) * lit(1L << (8 * i)))
      .reduce(_ + _)

  /** REAL container-header parse for PNG: signature check + IHDR
    * width/height/bit-depth/color-type (big-endian, fixed offsets per
    * the PNG spec §11.2.2). This is the typed-metadata extraction a
    * media ingest runs on every object — pure codegen'd projection
    * over the first 26 bytes, no decode libs, no UDF; only PIXEL
    * decoding stays stubbed ([[stubDecode]]). Non-PNG bytes surface
    * as is_png = false with NULL fields, not an error. The guard
    * checks signature AND that the first chunk really is IHDR (the
    * spec mandates it; a truncated or non-conforming blob carrying
    * only the 8-byte signature must not yield garbage field reads)
    * AND that all 26 header bytes are present. */
  def pngHeader(bin: Column): Column = {
    val sig = hex(substring(bin, 1, 8)) === "89504E470D0A1A0A" &&
      hex(substring(bin, 13, 4)) === "49484452" && // "IHDR" chunk type
      length(bin) >= 26
    struct(
      sig.as("is_png"),
      when(sig, beUInt(bin, 17, 4)).as("width"),
      when(sig, beUInt(bin, 21, 4)).as("height"),
      when(sig, beUInt(bin, 25, 1)).as("bit_depth"),
      when(sig, beUInt(bin, 26, 1)).as("color_type"))
  }

  /** REAL container-header parse for canonical WAV (RIFF/WAVE with
    * "fmt " as first chunk — the layout every encoder writes):
    * channels / sample rate / bits per sample at their fixed RIFF
    * offsets, little-endian. Same no-libs pure-projection contract as
    * [[pngHeader]]. */
  def wavHeader(bin: Column): Column = {
    val sig = hex(substring(bin, 1, 4)) === "52494646" &&
      hex(substring(bin, 9, 8)) === "57415645666D7420"
    struct(
      sig.as("is_wav"),
      when(sig, leUInt(bin, 23, 2)).as("channels"),
      when(sig, leUInt(bin, 25, 4)).as("sample_rate"),
      when(sig, leUInt(bin, 35, 2)).as("bits_per_sample"))
  }

  /** STUBBED decode: deterministic fake dimensions from the content
    * hash (md5-derived 56-bit int). A real implementation would parse
    * the container header; the pipeline shape is identical. */
  def stubDecode(bin: Column): Column = {
    val h = conv(substring(md5(bin), 1, 14), 16, 10).cast("long")
    struct(
      (h % 1920 + 1).as("width"),
      (h % 1080 + 1).as("height"),
      (h % 3).cast("int").as("channels_idx"))
  }

  /** Fixed-size chunking (frame/patch sampling shape): byte ranges
    * [i·size+1, (i+1)·size], last chunk ragged. Empty media → empty
    * array. */
  def chunk(bin: Column, size: Int): Column = {
    val n = ceil(length(bin).cast("double") / size).cast("int")
    // sequence(1, 0) runs BACKWARDS in Spark — empty media needs an
    // explicit empty array, not an empty sequence.
    when(n <= 0, array().cast("array<binary>"))
      .otherwise(transform(sequence(lit(1), n),
        i => substring(bin, (i - lit(1)) * size + 1, lit(size))))
  }

  /** Per-chunk content hashes — the dedup/caching key stream a media
    * pipeline shuffles instead of the bytes themselves. */
  def chunkHashes(bin: Column, size: Int): Column =
    transform(chunk(bin, size), md5(_))

  /** Stride frame-sampling: every `stride`-th fixed-size frame of the
    * media bytes — the decimation a video/audio pipeline applies
    * before feature extraction (sample 1-in-N frames, hash them,
    * dedup/cache on the hash). Output rows carry the frame ORDINAL,
    * HASH and byte length; the frame bytes themselves never leave the
    * scan-side projection, so downstream shuffles move 16-byte hashes,
    * not media. Ragged final frame kept (shorter than frameSize). */
  def frameSample(df: DataFrame, idCol: String, binCol: String,
                  frameSize: Int, stride: Int): DataFrame = {
    require(frameSize > 0, "frameSize must be positive")
    require(stride > 0, "stride must be positive")
    val nFrames = ceil(length(col(binCol)).cast("double") / frameSize).cast("long")
    // sampled ordinals 0, stride, 2*stride, … < nFrames; empty media →
    // explicit empty array (sequence(0, -1) would run backwards)
    val idxs = when(nFrames <= 0, array().cast("array<bigint>"))
      .otherwise(transform(
        sequence(lit(0L), floor((nFrames - lit(1L)) / stride).cast("long")),
        k => k * stride))
    val frame = substr(col("__bin"), (col("frame_idx") * frameSize + 1).cast("int"),
      lit(frameSize))
    df.select(col(idCol), col(binCol).as("__bin"), explode(idxs).as("frame_idx"))
      .select(col(idCol), col("frame_idx"),
        md5(frame).as("frame_md5"),
        length(frame).cast("long").as("frame_len"))
  }

  /** Full media profile over a binary column: one narrow projection,
    * no shuffle; the media bytes never leave the scan stage. */
  def mediaProfile(df: DataFrame, idCol: String, binCol: String,
                   chunkSize: Int = 256): DataFrame =
    df.select(
      col(idCol),
      col(binCol).as("media"),
      mediaMeta(col(binCol)).as("meta"),
      stubDecode(col(binCol)).as("decoded"),
      chunkHashes(col(binCol), chunkSize).as("chunk_md5s"))
}
