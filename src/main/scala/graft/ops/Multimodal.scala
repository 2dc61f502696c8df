package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata structs.
  *
  * The decode kernel is real for everything the JDK can read without
  * native codecs: container headers (`functions.MediaHeaders`), ImageIO
  * pixels for bmp/png/jpeg/gif and integer-PCM WAV samples
  * (`functions.MediaDecode`) feed real feature vectors. Only payloads no
  * pure-JVM reader claims (video containers, arbitrary blobs) fall back
  * to a deterministic fake (metadata/features derived from md5 of the
  * payload bytes). Everything around the kernel — schema, batched
  * per-partition execution, partitioning, column pruning — is what
  * matters at 100 TB:
  *   - payloads stay in executor memory, never shuffled (all derived
  *     metadata is computed scan-side);
  *   - the `mapPartitions` path processes payloads in batches, the shape
  *     a vectorized/native decoder (or Pandas-UDF equivalent) needs;
  *   - metadata-only queries never touch the binary column thanks to
  *     parquet column pruning.
  */
object Multimodal {

  /** The canonical multimodal record: opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("byte_len", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", IntegerType))))))

  /** Wrap any (id, string-content) table as a media table (payload =
    * utf-8 bytes) — the test stand-in for real image/audio blobs.
    */
  def asMedia(df: DataFrame, idCol: Column, content: Column, kind: String): DataFrame =
    df.select(idCol.as("media_id"), lit(kind).as("kind"),
      encode(content, "UTF-8").as("payload"))

  /** STUB image decode, expression form (codegen'd, portable to SQL):
    * dimensions derived deterministically from the payload hash.
    * Real deployments swap this for a native decoder via [[decodePartition]].
    */
  def stubDecodeMeta(payload: Column): Column = {
    val h = TextOps.hex32(payload)
    struct(
      length(payload).cast("long").as("byte_len"),
      (h % 512 + 1).cast("int").as("width"),
      (shiftright(h, 9) % 512 + 1).cast("int").as("height"),
      (shiftright(h, 18) % 30 + 1).cast("int").as("n_frames"))
  }

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  final case class DecodedRow(
      media_id: Long, kind: String, format: String, byte_len: Long,
      width: Int, height: Int, n_frames: Int,
      channels: Int, sample_rate: Int, duration_ms: Long,
      features: Array[Float])

  /** Batched per-partition decode. The HEADER half parses PNG / JPEG /
    * GIF / BMP dimensions and WAV layout from the container bytes
    * (functions.MediaHeaders, pure JDK). The PIXEL/SAMPLE half is real
    * for those same formats (functions.MediaDecode: ImageIO pixels,
    * integer-PCM samples → 8-dim grid-luminance / slice-RMS features);
    * only payloads neither reader claims keep the deterministic
    * payload-hash fake. Exotic codecs (H.264 frame extraction, MP3)
    * would hand each batch to ffmpeg with this exact signature
    * (Iterator→Iterator, never materializing the whole partition).
    */
  def decodePartition(ds: Dataset[MediaRow]): Dataset[DecodedRow] = {
    implicit val enc = Encoders.product[DecodedRow]
    ds.mapPartitions { rows =>
      rows.grouped(64).flatMap { batch => // batch shape for vectorized decode
        batch.iterator.map { r =>
          // mediaSchema declares payload nullable - treat null as empty
          val payload =
            if (r.payload == null) Array.emptyByteArray else r.payload
          val md5hex = org.apache.commons.codec.digest.DigestUtils.md5Hex(payload)
          val h = java.lang.Long.parseLong(md5hex.substring(0, 8), 16)
          // payloads no real decoder claims keep the deterministic
          // payload-hash features (oracle-stable for text stand-ins)
          val hashFeats = Array.tabulate(8)(i =>
            ((h >> i) % 256).toFloat / 255.0f)
          graft.functions.MediaHeaders.parse(payload) match {
            case Some(info) =>
              // REAL pixel/sample decode (pure JVM): ImageIO pixels for
              // bmp/png/jpeg/gif, integer-PCM samples for wav; the hash
              // fake survives only for payloads neither can read
              val feats = (info.format match {
                case "wav" => graft.functions.MediaDecode.wavFeatures(payload)
                case _ => graft.functions.MediaDecode.imageFeatures(payload)
              }).getOrElse(hashFeats)
              DecodedRow(r.media_id, r.kind, info.format,
                payload.length.toLong, info.width, info.height,
                n_frames = if (info.channels > 0) 0 else 1,
                info.channels, info.sampleRate, info.durationMs, feats)
            case None => // opaque payload: deterministic fake metadata
              DecodedRow(r.media_id, r.kind, "opaque",
                payload.length.toLong,
                (h % 512 + 1).toInt, ((h >> 9) % 512 + 1).toInt,
                ((h >> 18) % 30 + 1).toInt, 0, 0, 0L, hashFeats)
          }
        }
      }
    }
  }

  /** Metadata extraction query: (media_id, byte_len, width, height,
    * n_frames) from the stub decode — never shuffles payload bytes.
    */
  def extractMeta(media: DataFrame): DataFrame =
    media.select(col("media_id"), stubDecodeMeta(col("payload")).as("m"))
      .select(col("media_id"), col("m.byte_len").as("byte_len"),
        col("m.width").as("width"), col("m.height").as("height"),
        col("m.n_frames").as("n_frames"))
      .orderBy("media_id")

  /** Frame sampling: one row per sampled frame index (0, step, 2·step, …
    * below the stub-decoded n_frames). The explode happens scan-side —
    * payload bytes are read once per media row and never shuffled; the
    * output carries only ids and per-frame fingerprints (the
    * deterministic stand-in for a decoded frame, md5(payload|idx)).
    */
  def sampleFrames(media: DataFrame, step: Int): DataFrame = {
    val n = stubDecodeMeta(col("payload")).getField("n_frames")
    media
      .select(col("media_id"), col("payload"),
        explode(sequence(lit(0), n - 1, lit(step))).as("frame_idx"))
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        md5(concat(col("payload").cast("string"), lit("|"),
          col("frame_idx").cast("string"))).as("frame_fp"))
      .orderBy("media_id", "frame_idx")
  }

  /** STUB audio decode, expression form (portable to SQL like
    * [[stubDecodeMeta]]): sample rate and duration derived
    * deterministically from the payload hash; real deployments read the
    * WAV header via `functions.MediaHeaders` / native codecs in
    * [[decodePartition]].
    */
  def stubAudioMeta(payload: Column): Column = {
    val h = TextOps.hex32(payload)
    struct(
      element_at(array(lit(8000), lit(16000), lit(44100)),
        (h % 3 + 1).cast("int")).as("sample_rate"),
      (shiftright(h, 2) % 60000 + 1000).cast("long").as("duration_ms"))
  }

  /** M4: audio chunk planning — fixed windows with stride (the Whisper/
    * wav2vec prep step): per clip, (start_ms, len_ms) windows where the
    * last window is truncated at the clip end; chunk fingerprints stand
    * in for the decoded samples exactly as [[sampleFrames]] does for
    * frames. Scan-side explode of arithmetic starts — payload read
    * once, never shuffled.
    */
  def chunkAudio(media: DataFrame, winMs: Long, strideMs: Long): DataFrame = {
    require(winMs > 0 && strideMs > 0, "window and stride must be positive")
    val m = stubAudioMeta(col("payload"))
    media
      .select(col("media_id"), col("payload"),
        m.getField("sample_rate").as("sample_rate"),
        m.getField("duration_ms").as("dur"))
      .select(col("media_id"), col("sample_rate"), col("dur"), col("payload"),
        explode(sequence(lit(0L), col("dur") - 1, lit(strideMs)))
          .as("start_ms"))
      .select(col("media_id"),
        (col("start_ms") / strideMs).cast("long").as("chunk_idx"),
        col("sample_rate"), col("start_ms").cast("long").as("start_ms"),
        least(lit(winMs), col("dur") - col("start_ms")).as("len_ms"),
        md5(concat(col("payload").cast("string"), lit("@"),
          col("start_ms").cast("string"))).as("chunk_fp"))
      .orderBy("media_id", "chunk_idx")
  }

  /** Resize planning: aspect-preserving target dimensions bounding the
    * long side to `maxDim`, in exact integer math (floor division,
    * clamped to ≥ 1). Scan-side metadata only — the pixel resample
    * itself belongs in the [[decodePartition]] seam.
    */
  def resizePlan(media: DataFrame, maxDim: Int): DataFrame = {
    val m = stubDecodeMeta(col("payload"))
    media
      .select(col("media_id"), m.getField("width").as("width"),
        m.getField("height").as("height"))
      .withColumn("long_side", greatest(col("width"), col("height")))
      .select(col("media_id"), col("width"), col("height"),
        when(col("long_side") <= maxDim, col("width"))
          .otherwise(greatest(lit(1),
            floor(col("width") * maxDim / col("long_side")).cast("int")))
          .as("out_w"),
        when(col("long_side") <= maxDim, col("height"))
          .otherwise(greatest(lit(1),
            floor(col("height") * maxDim / col("long_side")).cast("int")))
          .as("out_h"))
      .orderBy("media_id")
  }

  final case class ResizedRow(media_id: Long, format: String,
      width: Int, height: Int, out_w: Int, out_h: Int,
      out_png: Array[Byte])

  /** Resize EXECUTION behind the [[decodePartition]] seam: decode real
    * pixels (ImageIO), area-average resample to the [[resizePlan]]
    * target (same floor-division aspect math, over the REAL dimensions),
    * re-encode as grayscale PNG. Opaque payloads keep the plan-only
    * stub dims with a null bitmap — the honest boundary: planning is
    * universal, execution exists where a pure-JVM decoder does.
    * Iterator→Iterator like every seam op; payload bytes never shuffle
    * (the output carries the much smaller thumbnail).
    */
  def resizeExec(ds: Dataset[MediaRow], maxDim: Int): Dataset[ResizedRow] = {
    require(maxDim >= 1, "maxDim must be positive")
    implicit val enc = Encoders.product[ResizedRow]
    ds.mapPartitions { rows =>
      rows.map { r =>
        val payload =
          if (r.payload == null) Array.emptyByteArray else r.payload
        graft.functions.MediaDecode.grayPixels(payload) match {
          case Some((w, h, gray)) =>
            val long = math.max(w, h)
            val (ow, oh) =
              if (long <= maxDim) (w, h)
              else (math.max(1, w * maxDim / long),
                math.max(1, h * maxDim / long))
            val small = graft.functions.MediaDecode
              .resampleGray(gray, w, h, ow, oh)
            val fmt = graft.functions.MediaHeaders.parse(payload)
              .map(_.format).getOrElse("image")
            ResizedRow(r.media_id, fmt, w, h, ow, oh,
              graft.functions.MediaDecode.encodeGrayPng(small, ow, oh))
          case None =>
            val md5hex =
              org.apache.commons.codec.digest.DigestUtils.md5Hex(payload)
            val hv = java.lang.Long.parseLong(md5hex.substring(0, 8), 16)
            val w = (hv % 512 + 1).toInt
            val h = ((hv >> 9) % 512 + 1).toInt
            val long = math.max(w, h)
            val (ow, oh) =
              if (long <= maxDim) (w, h)
              else (math.max(1, w * maxDim / long),
                math.max(1, h * maxDim / long))
            ResizedRow(r.media_id, "opaque", w, h, ow, oh, null)
        }
      }
    }
  }

  /** Real-pixel dHash signatures for ImageIO-readable payloads
    * (`functions.MediaDecode.dhash64`: decode → 9×8 area-average
    * thumbnail → difference bits), payload-hash-derived bits for opaque
    * ones — band packing identical to [[dhashSignatures]], so
    * [[dhashPairs]]-style banding/verification work unchanged
    * downstream. The m5 query keeps the SQL-expressible
    * [[dhashSignatures]] path (its inputs are text stand-ins); this is
    * the entry point a real image corpus uses.
    */
  final case class SigRow(doc_id: Long, band0: Long, band1: Long,
      band2: Long, band3: Long)

  def dhashSignaturesReal(ds: Dataset[MediaRow]): DataFrame = {
    implicit val enc = Encoders.product[SigRow]
    ds.mapPartitions { rows =>
      rows.map { r =>
        val payload =
          if (r.payload == null) Array.emptyByteArray else r.payload
        val bits = graft.functions.MediaDecode.dhash64(payload)
          .getOrElse {
            // opaque: 64 deterministic payload-hash bits (md5 low 64)
            val md5hex =
              org.apache.commons.codec.digest.DigestUtils.md5Hex(payload)
            java.lang.Long.parseUnsignedLong(md5hex.substring(16), 16)
          }
        SigRow(r.media_id,
          bits & 0xffffL, (bits >>> 16) & 0xffffL,
          (bits >>> 32) & 0xffffL, (bits >>> 48) & 0xffffL)
      }
    }.toDF()
  }

  /** M5: perceptual image near-dup via dHash (difference hash) over the
    * decoded 9×8 grayscale thumbnail. The pixel source here is the
    * deterministic stub decode (one hash byte per grid cell — real
    * deployments swap in [[dhashSignaturesReal]]'s decoded thumbnail
    * and keep everything downstream). 64 difference bits packed as four
    * 16-bit bands; a candidate pair shares at least one full band
    * (sign-LSH banding), then the exact Hamming distance gates the pair.
    */
  def dhashSignatures(
      df: DataFrame, idCol: Column, contentCol: Column): DataFrame = {
    // 72 deterministic grayscale samples (9 cols × 8 rows), each derived
    // from one stride of the content — the stride scales with length
    // (a thumbnail rescales the image to the grid), so a local edit
    // flips only the pixels over the edited region while same-length
    // unrelated content differs everywhere. Sample positions wrap
    // modulo the content length: ceil-division strides overshoot the
    // end for any length not a multiple of 72, and without the wrap
    // every short document's tail cells hash the same empty substring —
    // three identically-zero bands that LSH-collide all short docs.
    // BYTE-sliced kernel: Substring over a StringType column counts
    // UTF-8 chars from the string head on every call — 72 samples per
    // doc made UTF8String.getNumChars 37% of the whole m5 profile. A
    // BinaryType slice is a bounds-checked copy. The hashed sample is
    // the HEX of the byte slice (not the raw bytes): a byte stride can
    // split a multi-byte UTF-8 sequence, and DuckDB's md5/substr only
    // take VARCHAR — hex makes the exact same byte window expressible
    // on both engines (`hex(encode(text))` + 2x offsets in the oracle),
    // so multi-byte corpora are first-class instead of guarded away
    // (the pre-r15 kernel hashed raw bytes and pinned a single-byte
    // corpus assumption in PipelineOpsSpec; the guard is now a
    // multi-byte parity test).
    // The slice is taken on the BINARY column and hexed per sample
    // (hex of a byte slice == the same slice of hex(bytes) at 2x
    // offsets, byte for byte): substr on the 2x-length hex STRING is
    // an O(offset) UTF8String char scan per sample — 72 scans per doc
    // put UTF8String.substring at the top of the r15 baseline profile
    // — while a binary substr is an O(stride) copy, so total per-doc
    // work drops from O(72·len) to O(len).
    // FUSED kernel (r16): the former expression form evaluated the 72
    // samples through an interpreted higher-order-function lambda (one
    // md5 Expression eval + concat + hex per element) — ~600 ms of
    // serial task time on the m5 bench. One JVM call per document now
    // computes the identical px array and packs the four bands; every
    // intermediate (uppercase hex of the byte slice, md5 of
    // "px|"+hex, first-8-hex-chars value mod 256, the 9x8
    // greater-than grid) reproduces the expression chain — and the
    // DuckDB oracle — bit for bit. Null content degenerates to four
    // zero bands exactly like the old null-propagating expressions.
    df.select(idCol.cast("long").as("doc_id"),
      dhashBandsUdf(contentCol.cast("binary")).as("_b"))
      .select(col("doc_id"), col("_b._1").as("band0"),
        col("_b._2").as("band1"), col("_b._3").as("band2"),
        col("_b._4").as("band3"))
  }

  private val HexUpper = "0123456789ABCDEF".toCharArray

  private val dhashBandsUdf = udf { (bin: Array[Byte]) =>
    // null content: the old expression chain null-propagated every px
    // to null, and `when(null > null, bit)` fell to 0 — four 0 bands.
    // An empty array yields the same (all px equal), so map null -> empty.
    val b = if (bin == null) Array.emptyByteArray else bin
    val blen = b.length
    val stride = (blen + 71) / 72
    val clen = math.max(blen, 1)
    val px = new Array[Long](72)
    val md = java.security.MessageDigest.getInstance("MD5")
    var k = 0
    while (k < 72) {
      val start = ((k.toLong * stride) % clen).toInt
      val end = math.min(start + stride, blen)
      // "px|" + uppercase hex of the slice (Spark's hex() is uppercase)
      val n = math.max(end - start, 0)
      val buf = new Array[Byte](3 + 2 * n)
      buf(0) = 'p'; buf(1) = 'x'; buf(2) = '|'
      var i = 0
      while (i < n) {
        val v = b(start + i) & 0xff
        buf(3 + 2 * i) = HexUpper(v >>> 4).toByte
        buf(4 + 2 * i) = HexUpper(v & 0xf).toByte
        i += 1
      }
      md.reset()
      val d = md.digest(buf)
      // first 8 hex chars of md5 = the first 4 digest bytes, as in
      // conv(substring(md5(s), 1, 8), 16, 10); non-negative, so
      // pmod == %
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      px(k) = h % 256L
      k += 1
    }
    var band0 = 0L; var band1 = 0L; var band2 = 0L; var band3 = 0L
    var bb = 0
    while (bb < 4) {
      var j = 0
      var acc = 0L
      while (j < 16) {
        val i = bb * 16 + j; val r = i / 8; val c = i % 8
        if (px(r * 9 + c) > px(r * 9 + c + 1)) acc |= (1L << j)
        j += 1
      }
      bb match {
        case 0 => band0 = acc; case 1 => band1 = acc
        case 2 => band2 = acc; case _ => band3 = acc
      }
      bb += 1
    }
    (band0, band1, band2, band3)
  }

  /** Near-duplicate edges, scale-safe: the naive form (all pairs within
    * each LSH band bucket) is quadratic in the bucket — a web corpus has
    * million-member buckets (the same logo/spacer everywhere) → 10¹²
    * pairs from one key. Instead:
    *
    *  1. collapse exact-duplicate signatures first: every doc whose 64
    *     bits equal another's links to the signature's minimum doc id
    *     with hamming 0 (O(n) edges for an n-member exact-dup cloud);
    *  2. band-bucket only the DISTINCT signatures, star-expanded — each
    *     bucket links its minimum rep (the hub) to every other rep, the
    *     same O(n)-per-bucket shape as [[Dedup.minhashCandidates]]
    *     `star = true`; no `collect_list`, no in-bucket pair explosion;
    *  3. exact `bit_count(xor)` gates the candidate edges.
    *
    * Output (doc_a < doc_b, hamming) edges carry the same connected
    * components as the all-pairs form — the only property group
    * resolution ([[Dedup.resolveGroups]]) consumes.
    */
  def dhashPairs(
      df: DataFrame, idCol: Column, contentCol: Column,
      maxHamming: Int = 16, maxPostings: Int = 256): DataFrame = {
    val sigCols = Seq("band0", "band1", "band2", "band3")
    // materialize the signature kernel once: it feeds the exact-collapse
    // join AND (via reps) the band rows and both sides of the candidate
    // verify — without it Spark recomputes the 72-sample hash kernel
    // for every consumer (measured 2.4× on the m5 bench).
    // spread before materializing: a single-row-group fixture scan is
    // one task, and caching it would pin the exact-collapse join and
    // both verify sides to one partition (see TextOps.spread)
    val sig = CacheHooks.materialize(TextOps.spread(
      dhashSignatures(df, idCol, contentCol), col("doc_id")))
    // exact-signature collapse: rep = min doc id per 64-bit signature
    val reps = CacheHooks.materialize(sig.groupBy(sigCols.map(col): _*)
      .agg(min(col("doc_id")).as("rep")))
    val exactEdges = sig.join(reps, sigCols)
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    // band rows over distinct signatures only
    val dsig = reps.select(col("rep").as("doc_id") +: sigCols.map(col): _*)
    val bandRows = dsig.select(col("doc_id"),
      posexplode(array(sigCols.map(col): _*)).as(Seq("band_id", "v")))
    // In-bucket pairing must stay COMPLETE for the Hamming gate to see
    // every near pair (a hub-star here would drop A–B whenever both
    // hub–A and hub–B fail the gate but A–B passes). Buckets of
    // distinct signatures sharing a 16-bit band are small after the
    // exact collapse, so complete pairs are generated per bucket with a
    // BOUNDED TopK collection (cap = maxPostings, never an unbounded
    // collect_list); a degenerate bucket past the cap falls back to the
    // hub star — a bounded, explicit recall trade on pathological bands.
    val counts = bandRows.groupBy("band_id", "v")
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
    val smallKeys = counts.filter(col("n") <= maxPostings)
      .select("band_id", "v")
    val bigKeys = counts.filter(col("n") > maxPostings)
      .select("band_id", "v")
    val topIds = graft.functions.TopK.longIds(maxPostings)
    val smallPairs = bandRows.join(smallKeys, Seq("band_id", "v"))
      .groupBy("band_id", "v")
      .agg(topIds(-col("doc_id").cast("double"), col("doc_id")).as("t"))
      .select(col("t.id").as("docs"))
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
    val bigRows = bandRows.join(bigKeys, Seq("band_id", "v"))
    val hubs = bigRows.groupBy("band_id", "v")
      .agg(min(col("doc_id")).as("hub"))
    val bigStar = bigRows.join(hubs, Seq("band_id", "v"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("doc_a"), col("doc_id").as("doc_b"))
    val cand = smallPairs.unionByName(bigStar).distinct()
    val sa = dsig.toDF("doc_a", "a0", "a1", "a2", "a3")
    val sb = dsig.toDF("doc_b", "b0", "b1", "b2", "b3")
    val nearEdges = cand.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("hamming",
        (0 until 4).map(i => bit_count(col(s"a$i").bitwiseXOR(col(s"b$i"))))
          .reduce(_ + _).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    // after reps' build-time count (it consumes sig's cache), before the
    // returned Dataset exists
    CacheHooks.unpersistAfterFirstUse(sig)
    CacheHooks.unpersistAfterFirstUse(reps)
    nearEdges.unionByName(exactEdges)
      .orderBy("doc_a", "doc_b")
  }
}
