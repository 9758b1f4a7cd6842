package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Pins, Tables}

/** Multimodal-column plumbing: media treated as opaque `binary` payloads
  * with typed metadata, processed per-partition in batches.
  *
  * Two decode tiers:
  *  - `decodeStub` for the OPAQUE corpus bytes (the fixture has no real
  *    media; the stub derives deterministic fake features) — the schema,
  *    binary column handling, partition-batched iterator shape, and
  *    feature-vector output type around it are the real Spark plumbing a
  *    production decoder drops into;
  *  - q85 is a REAL codec round-trip: deterministic RGB images encoded to
  *    actual PNGs with the JDK's `javax.imageio`, carried as a binary
  *    column, decoded back per partition, and oracle-checked end-to-end
  *    (PNG is lossless and the pixel formula is closed-form, so DuckDB
  *    verifies the decoded channel sums with no codec at all).
  */
object Multimodal {

  /** The doc_id range [AudioLo, AudioHi) that carries audio clips — the
    * ONE definition the audio near-dup tier ([[audioNearDupDrop]]), the
    * tri-modal manifest's `has_audio` flag (Curation.q172), and q172's
    * DuckDB oracle all derive from: changing the tier here moves all
    * three together (the round-9 ADVICE desync hazard). */
  private[graft] val AudioLo = 50L
  private[graft] val AudioHi = 150L

  /** A media row: opaque payload + typed metadata. */
  case class MediaRow(media_id: Long, mime: String, n_bytes: Long, payload: Array[Byte])

  /** Extracted features: fixed-width vector + the id it belongs to. */
  case class MediaFeatures(media_id: Long, n_bytes: Long, features: Array[Float])

  val FeatureDim = 8

  /** Build the media table from `documents`: payload = UTF-8 bytes of the
    * text (a stand-in binary column; in production this is the image/audio
    * blob column of the source parquet). */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").select(
      col("doc_id").as("media_id"),
      lit("application/octet-stream").as("mime"),
      octet_length(col("text")).cast(LongType).as("n_bytes"),
      encode(col("text"), "UTF-8").as("payload"))

  /** STUB decoder: deterministic fake features from raw bytes (per-8th
    * byte-bucket mass). A real implementation would decode the payload
    * (image decode / audio resample / video frame-sample) and emit real
    * features; only this function changes. */
  def decodeStub(payload: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](FeatureDim)
    if (payload != null && payload.length > 0) {
      var i = 0
      while (i < payload.length) {
        hist((payload(i) & 0xff) % FeatureDim) += 1.0f
        i += 1
      }
      var j = 0
      while (j < FeatureDim) { hist(j) /= payload.length; j += 1 }
    }
    hist
  }

  /** Partition-batched feature extraction: one iterator pass per partition
    * (the shape a heavyweight codec needs — per-partition init of the
    * decoder, streaming batches, no per-row setup cost). */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("n_bytes"), col("payload")).as[MediaRow2]
      .mapPartitions { rows =>
        // per-partition decoder init would go here (stub: nothing)
        rows.map(r => MediaFeatures(r.media_id, r.n_bytes, decodeStub(r.payload)))
      }
  }

  /** Row shape for the typed mapPartitions (payload last, no mime). */
  case class MediaRow2(media_id: Long, n_bytes: Long, payload: Array[Byte])

  /** Query surface: metadata + content hash of the binary payload —
    * deterministic, oracle-checkable proof the binary column round-trips. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir).select(
      col("media_id"),
      col("n_bytes"),
      md5(col("payload")).as("content_md5"))
      .orderBy(col("media_id"))

  /** Feature extraction as a query: deterministic stub features, first 4
    * dims rounded — exercises the full binary → mapPartitions → typed
    * output pipeline. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val f = extractFeatures(mediaTable(spark, dir))
    f.toDF().select(
      col("media_id"), col("n_bytes"),
      round(element_at(col("features"), 1).cast(DoubleType), 4).as("f0"),
      round(element_at(col("features"), 2).cast(DoubleType), 4).as("f1"),
      round(element_at(col("features"), 3).cast(DoubleType), 4).as("f2"),
      round(element_at(col("features"), 4).cast(DoubleType), 4).as("f3"))
      .orderBy(col("media_id"))
  }

  /** q71 — media "resize": payload → smaller payload plus updated
    * metadata, the byte-domain stand-in for image downscaling (a codec
    * would decode, scale, re-encode; the stub keeps every `factor`-th
    * byte — deterministic, so the WHOLE transform including the new
    * content hash is oracle-checked). The plumbing a real resize needs is
    * all here: binary→binary map, metadata recomputation from the new
    * payload, original-vs-resized accounting. */
  def resize(spark: SparkSession, dir: String, factor: Int = 4): DataFrame =
    mediaTable(spark, dir)
      .where(col("n_bytes") > 0)
      .select(
        col("media_id"),
        col("n_bytes").as("orig_bytes"),
        // decode → char-domain downsample → re-encode (ASCII payloads,
        // so char positions == byte positions; a codec swaps this step)
        decode(col("payload"), "UTF-8").as("txt"))
      .select(
        col("media_id"), col("orig_bytes"),
        encode(expr(
          s"""array_join(transform(
             |  sequence(0, int(floor((length(txt) - 1) / $factor))),
             |  i -> substring(txt, i * $factor + 1, 1)), '')""".stripMargin),
          "UTF-8").as("small"))
      .select(
        col("media_id"), col("orig_bytes"),
        octet_length(col("small")).cast(LongType).as("small_bytes"),
        md5(col("small")).as("small_md5"))
      .orderBy(col("media_id"))

  /** Deterministic synthetic RGB image for doc `id`: pixel channels are
    * pure integer functions of (id, x, y) — so the EXPECTED channel sums
    * are computable analytically by an engine with no codec at all. */
  def synthImage(id: Long, w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id * 31 + x * 17 + y * 7) % 256).toInt
        val g = ((id * 13 + x * 5 + y * 11) % 256).toInt
        val b = ((id * 29 + x * 3 + y * 19) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Real PNG encode (JDK `javax.imageio` — no external codec needed). */
  def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real PNG decode → (width, height, exact per-channel pixel sums).
    * Integer sums, not float means: byte-identical across engines. */
  def decodePngSums(bytes: Array[Byte]): (Int, Int, Long, Long, Long) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var (rs, gs, bs) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
        x += 1
      }
      y += 1
    }
    (img.getWidth, img.getHeight, rs, gs, bs)
  }

  /** q85 — REAL codec round-trip through the multimodal pipeline: per doc,
    * synthesize a deterministic 16×16 RGB image, encode it to an actual
    * PNG (JDK ImageIO — the decode tier is no longer stub-only), carry the
    * PNG as a binary column, decode it back in a partition-batched pass,
    * and emit exact per-channel pixel sums. PNG is lossless, so the sums
    * equal the closed-form values DuckDB computes straight from the pixel
    * formula WITHOUT any codec — the oracle hash-checks the entire
    * encode→binary-column→decode path end-to-end (a lossy or buggy codec
    * step would flip the sums). `decodeStub` remains for opaque corpus
    * bytes; this is the real-decoder drop-in demonstrated. */
  def q85(spark: SparkSession, dir: String, side: Int = 16,
          nDocs: Int = 100): DataFrame = {
    import spark.implicits._
    val ids = Tables(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < nDocs).as[Long]
    val pngs = ids.mapPartitions { it =>
      // ImageIO plugin lookup is per-JVM; nothing to init per partition,
      // but the batched-iterator shape is where a heavier codec would
      it.map(id => (id, encodePng(synthImage(id, side, side))))
    }.toDF("media_id", "png")
    val decoded = pngs.as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, bytes) =>
        val (w, h, rs, gs, bs) = decodePngSums(bytes)
        (id, w, h, rs, gs, bs)
      }
    }.toDF("media_id", "width", "height", "r_sum", "g_sum", "b_sum")
    decoded.orderBy(col("media_id"))
  }

  /** Id offset separating planted twin images from originals (mirrors
    * similarity.Similarity.PlantOffset; kept local so the multimodal
    * tier has no dependency on the embedding tier). */
  val ImagePlantOffset = 1000000L

  /** In-place perturbation for planted image twins: pixel (0, 0)'s three
    * channels +4, clamped at 255 — a one-pixel edit, so the twin's dHash
    * differs by AT MOST one bit (the (0,0) grid sample feeds exactly one
    * horizontal comparison) and its mean gray distance is < 0.4. */
  def perturbPixel(img: java.awt.image.BufferedImage): java.awt.image.BufferedImage = {
    val p = img.getRGB(0, 0)
    val r = math.min(((p >> 16) & 0xff) + 4, 255)
    val g = math.min(((p >> 8) & 0xff) + 4, 255)
    val b = math.min((p & 0xff) + 4, 255)
    img.setRGB(0, 0, (r << 16) | (g << 8) | b)
    img
  }

  /** Decoded image → (full gray grid row-major, 64-bit dHash).
    * Gray = (r + g + b) / 3 (integer floor). dHash: sample a 9×8 grid at
    * nearest pixels (px = gx·(w−1)/8, py = gy·(h−1)/7, integer division)
    * and set bit gy·8+gx iff gray[gx] > gray[gx+1] on that row — the
    * classic difference hash, all integer arithmetic, so an engine with
    * no codec reproduces it from the closed-form pixel formula. */
  def grayDHash(img: java.awt.image.BufferedImage): (Array[Int], Long) = {
    val w = img.getWidth; val h = img.getHeight
    val gray = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        gray(y * w + x) =
          (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var gy = 0
    while (gy < 8) {
      val py = (gy * (h - 1)) / 7
      var gx = 0
      while (gx < 8) {
        val a = gray(py * w + (gx * (w - 1)) / 8)
        val b = gray(py * w + ((gx + 1) * (w - 1)) / 8)
        if (a > b) hash |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    (gray, hash)
  }

  /** q112 — IMAGE near-dup dedup: the operator joining the multimodal and
    * dedup tiers. Per doc a real PNG rides the binary column (q85's codec
    * path — JDK ImageIO encode/decode, plus a planted one-pixel-perturbed
    * twin every `plantEvery` ids so near-dups exist); each decoded image
    * yields a 64-bit perceptual dHash, blocked into four 16-bit bands
    * exactly like SimHash (pigeonhole: ≤ 3 differing bits over 4 disjoint
    * blocks leave one block equal, so block-equality candidates are
    * COMPLETE for hamming ≤ 3 — a theorem, not a tuning), and every
    * bucket candidate is verified by EXACT pixel distance (sum of
    * absolute gray differences over the full grid).
    *
    * Scale shape: the decoded feature table (gray grid + dHash) is the
    * expensive stage — the codec runs ONCE (pinned localCheckpoint, the
    * q104 "trained model" barrier; at 100 TB it persists between runs and
    * only the bucket probe is per-batch, the q106 posture). Candidates
    * join on (block, 16-bit value) — bounded buckets, never all-pairs;
    * only candidates carry the image-sized gray payload (the q106 verify
    * pattern). Fully ORACLE-CHECKED despite the codec in the loop: PNG is
    * lossless and gray/dHash/distance are integer arithmetic on the
    * closed-form synth pixels, so DuckDB recomputes the identical pair
    * set from the formula with no codec — and banding completeness is
    * exact, so no recall premise is even needed (unlike the minhash
    * tier). */
  def q112(spark: SparkSession, dir: String, side: Int = 16,
           nDocs: Int = 100, plantEvery: Int = 20, maxHamming: Int = 3,
           maxDist: Double = 8.0): DataFrame = Pins.result { pins =>
    import spark.implicits._
    val ids = Tables(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < nDocs).as[Long]
    val pngs = ids.flatMap { id =>
      val orig = (id, encodePng(synthImage(id, side, side)))
      if (id % plantEvery == 0)
        Seq(orig, (id + ImagePlantOffset,
          encodePng(perturbPixel(synthImage(id, side, side)))))
      else Seq(orig)
    }.toDF("media_id", "png")
    val feat = dHashFeatures(pins, spark, pngs)
    verifiedImagePairs(feat, side, maxHamming, maxDist)
      .orderBy(col("d1"), col("d2"))
  }

  /** (media_id, png) → (media_id, gray grid, dHash) feature table, pinned
    * in `pins` — the one codec pass both image near-dup consumers (q112
    * and the q159 manifest tier) run once and probe. */
  private def dHashFeatures(pins: Pins, spark: SparkSession,
                            pngs: DataFrame): DataFrame = {
    import spark.implicits._
    pins.pin(pngs.as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, bytes) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        val (gray, dh) = grayDHash(img)
        (id, gray, dh)
      }
    }.toDF("media_id", "gray", "dhash"))
  }

  /** Banding + exact verify over a pinned feature table: 16-bit-block
    * candidates (pigeonhole-COMPLETE for hamming ≤ 3), each candidate
    * verified by exact integer pixel distance. The q112 kernel, shared
    * with the q159 manifest tier. Unordered; queries order at
    * presentation. */
  private def verifiedImagePairs(feat: DataFrame, side: Int,
                                 maxHamming: Int, maxDist: Double): DataFrame = {
    require(maxHamming <= 3,
      "16-bit-block blocking is complete only for hamming <= 3")
    val blocked = feat.select(
      col("media_id"),
      explode(array((0 until 4).map(b => struct(
        lit(b).as("band"),
        shiftright(col("dhash"), 16 * b).bitwiseAND(0xFFFFL).as("bv"))): _*))
        .as("bb"))
      .select(col("media_id"), col("bb.band"), col("bb.bv"))
    val cand = blocked.select(col("band"), col("bv"), col("media_id").as("d1"))
      .join(blocked.select(col("band"), col("bv"), col("media_id").as("d2")),
        Seq("band", "bv"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
    val sadMax = (maxDist * side * side).toLong // integer-exact threshold
    cand
      .join(feat.select(col("media_id").as("d1"), col("gray").as("g1"),
        col("dhash").as("h1")), Seq("d1"))
      .join(feat.select(col("media_id").as("d2"), col("gray").as("g2"),
        col("dhash").as("h2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2")))
          .cast(IntegerType).as("hamming"),
        aggregate(zip_with(col("g1"), col("g2"), (a, b) => abs(a - b)),
          lit(0L), (acc, v) => acc + v).as("sad"))
      .where(col("hamming") <= maxHamming && col("sad") <= sadMax)
      .select(col("d1"), col("d2"), col("hamming"),
        round(col("sad").cast(DoubleType) / (side * side), 4).as("mean_dist"))
  }

  /** Image near-dup DROP set over the documents' media tier, for the
    * multimodal training manifest (q159). Unlike q112's planted twins
    * (which live OUTSIDE the doc-id space at `+ImagePlantOffset`), the
    * duplication here is BETWEEN real documents: doc `d` with
    * `d % dupEvery == 1` carries a one-pixel-perturbed copy of doc
    * `d−1`'s image — the "same photo re-uploaded on a mirror page"
    * shape — so image near-dup clusters contain documents and the
    * keeper rule (min doc_id per connected component) produces a real
    * drop set the manifest can anti-join, exactly how q103 consumes the
    * text near-dup tier. Pairs come from the shared q112 kernel (codec
    * once into a pinned feature table, complete 16-bit-block banding,
    * exact integer verify); components from the q66 label-propagation
    * engine; the feature table and labels are pinned in `pins`.
    * Oracle-exact end to end: pixels are closed-form, PNG lossless,
    * banding complete — DuckDB recomputes the identical pair set from
    * the formula and the identical components by recursive CTE. */
  private[graft] def imageNearDupDrop(pins: Pins, spark: SparkSession,
                                      dir: String,
                                      nImg: Int = 100, dupEvery: Int = 10,
                                      side: Int = 16, maxHamming: Int = 3,
                                      maxDist: Double = 8.0): DataFrame = {
    import spark.implicits._
    val ids = Tables(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < nImg).as[Long]
    val pngs = ids.map { id =>
      val base = if (id % dupEvery == 1) id - 1 else id
      val img = synthImage(base, side, side)
      val fin = if (id % dupEvery == 1) perturbPixel(img) else img
      (id, encodePng(fin))
    }.toDF("media_id", "png")
    val feat = dHashFeatures(pins, spark, pngs)
    val pairs = verifiedImagePairs(feat, side, maxHamming, maxDist)
      .select(col("d1").as("src"), col("d2").as("dst"))
    pins.own(graft.dedup.Components.connectedComponents(pairs))
      .where(col("comp") =!= col("id"))
      .select(col("id").as("doc_id"))
  }

  /** q69 — frame sampling over the binary payload: every `every`-th
    * fixed-size chunk ("frame") of each blob becomes its own row — the
    * video-frame-sample shape (decode would replace the md5 with a codec
    * call; the row explosion, byte-slicing, and per-frame identity are
    * the real plumbing). Declarative slice: transform over the sampled
    * frame indices + substring on the BINARY column — one Generate, no
    * UDF. Deterministic byte math → DuckDB oracle (payloads are ASCII, so
    * the oracle's string substring sees the same bytes). */
  def frameSample(spark: SparkSession, dir: String,
                  frameBytes: Int = 32, every: Int = 4): DataFrame = {
    val stride = frameBytes * every
    mediaTable(spark, dir)
      .where(col("n_bytes") > 0)
      .select(col("media_id"), posexplode(expr(
        s"""transform(sequence(0, int(floor((n_bytes - 1) / $stride))),
           |          i -> substring(payload, i * $stride + 1, $frameBytes))"""
          .stripMargin)))
      .select(
        col("media_id"),
        (col("pos") * every).cast(IntegerType).as("frame_idx"),
        octet_length(col("col")).cast(IntegerType).as("frame_len"),
        md5(col("col")).as("frame_md5"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  // ---------------------------------------------------------------------
  // Video tier — the q85 posture for the THIRD modality: a multi-frame
  // binary container (length-prefixed PNG frames), parsed and decoded
  // partition-batched, with keyframe-stride sampling.
  // ---------------------------------------------------------------------

  /** Pack PNG frames into a length-prefixed container:
    * `[4-byte big-endian length][png bytes]` per frame — the honest
    * minimal clip format (real video rides the same shape: an opaque
    * binary column whose reader owns the framing). */
  def packFrames(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream
    val dos = new java.io.DataOutputStream(bos)
    frames.foreach { f => dos.writeInt(f.length); dos.write(f) }
    dos.flush()
    bos.toByteArray
  }

  /** Parse a [[packFrames]] container back to its frames. Strict: a
    * truncated or over-long container throws rather than yielding a
    * silently short clip. */
  def unpackFrames(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var remaining = bytes.length
    while (remaining > 0) {
      val len = in.readInt()
      // len == 0 is a VALID (empty) frame — packFrames emits it, so the
      // round-trip must accept it; only negative lengths and truncation
      // (len overrunning the remaining bytes) are corruption
      require(len >= 0 && len <= remaining - 4,
        s"corrupt frame container: len $len of $remaining remaining")
      val f = new Array[Byte](len)
      in.readFully(f)
      out += f
      remaining -= (4 + len)
    }
    out.toSeq
  }

  /** Per-frame deterministic seed: frame f of clip `id` draws the q85
    * pixel formula at seed id·101 + f — closed-form replayable by the
    * codec-free DuckDB oracle. */
  def videoFrameSeed(id: Long, f: Int): Long = id * 101L + f

  /** q219 — VIDEO keyframe ledger: the q85 codec proof extended to the
    * third modality. Per doc, a 6-frame clip is synthesized (each frame
    * a REAL 16×16 PNG at the closed-form seed), packed into a
    * length-prefixed binary container, carried as one binary column,
    * then — in a single partition-batched pass — the container is
    * parsed, every `stride`-th frame (the keyframe discipline: decode
    * 1/stride of the clip, never all of it) is PNG-decoded, and the
    * ledger emits exact per-channel pixel sums per sampled frame. PNG
    * is lossless and the container parse is strict, so the DuckDB
    * oracle recomputes every sum from the pixel formula with NO codec —
    * hash-checking pack → binary column → parse → sample → decode end
    * to end. Completes the image (q85/q112) / audio (q166/q168) /
    * video modality symmetry.
    *
    * Scale shape: map-only — synth+pack and parse+decode are two
    * mapPartitions passes with per-row bounded state (one clip); the
    * only exchange is the presentation sort. At corpus scale the
    * sampled-decode stride is THE cost lever: a stride-4 pass reads 25%
    * of the codec work while the container column streams through
    * untouched. */
  def q219(spark: SparkSession, dir: String, side: Int = 16,
           nDocs: Int = 60, nFrames: Int = 6, stride: Int = 2): DataFrame = {
    import spark.implicits._
    val ids = Tables(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < nDocs).as[Long]
    val clips = ids.mapPartitions { it =>
      it.map { id =>
        val frames = (0 until nFrames).map(f =>
          encodePng(synthImage(videoFrameSeed(id, f), side, side)))
        (id, packFrames(frames))
      }
    }.toDF("media_id", "clip")
    val ledger = clips.as[(Long, Array[Byte])].mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        val frames = unpackFrames(bytes)
        frames.indices.by(stride).map { f =>
          val (w, h, rs, gs, bs) = decodePngSums(frames(f))
          (id, frames.length, f, w, h, rs, gs, bs)
        }
      }
    }.toDF("media_id", "n_frames", "frame_idx", "width", "height",
      "r_sum", "g_sum", "b_sum")
    ledger.orderBy(col("media_id"), col("frame_idx"))
  }

  // ---------------------------------------------------------------------
  // Audio tier — the q85 posture for the second real codec: WAV PCM.
  // ---------------------------------------------------------------------

  /** Deterministic int16 PCM clip for `media_id`:
    * s(i) = ((id·31 + i·17) mod 2003) − 1001 ∈ [−1001, 1001]. Closed
    * form, so the oracle recomputes every sample with no codec. */
  def synthPcm(id: Long, n: Int): Array[Short] = {
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      out(i) = (((id * 31 + i.toLong * 17) % 2003) - 1001).toShort
      i += 1
    }
    out
  }

  /** REAL WAV encode via the JDK's `javax.sound.sampled` (RIFF container,
    * 16-bit little-endian mono PCM) — the audio twin of q85's ImageIO
    * PNG writer. */
  def encodeWav(samples: Array[Short], sr: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      sr.toFloat, 16, 1, true, false)
    val raw = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      raw(2 * i) = (samples(i) & 0xff).toByte
      raw(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, samples.length)
    val bos = new java.io.ByteArrayOutputStream
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL WAV decode: parse the RIFF container back to (sample rate,
    * int16 samples), honoring the header's declared endianness. */
  def decodeWav(bytes: Array[Byte]): (Int, Array[Short]) = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    val raw = ais.readAllBytes()
    val n = raw.length / 2
    val out = new Array[Short](n)
    val big = fmt.isBigEndian
    var i = 0
    while (i < n) {
      val (lo, hi) =
        if (big) (raw(2 * i + 1) & 0xff, raw(2 * i).toInt)
        else (raw(2 * i) & 0xff, raw(2 * i + 1).toInt)
      out(i) = ((hi << 8) | lo).toShort
      i += 1
    }
    (fmt.getSampleRate.toInt, out)
  }

  /** q166 — AUDIO feature extraction through a real codec round-trip:
    * per doc a deterministic PCM clip (length varies by id) is encoded to
    * an actual WAV (javax.sound — RIFF header, not a byte copy), carried
    * as a binary column, decoded back per partition, and reduced to the
    * integer-exact features an audio curation pass filters on: duration,
    * peak amplitude, total energy, zero-crossing count, and the LOUDEST
    * frame (160-sample windows — the frame-sampling decision an audio
    * pipeline makes when it keeps one representative window per clip).
    * WAV PCM is lossless, so DuckDB verifies every feature straight from
    * the closed-form sample formula with no codec — the sr column coming
    * from the DECODED header makes a silently wrong container unmissable.
    *
    * Scale shape: encode and decode are partition-batched typed passes
    * (the q85 iterator shape a production codec drops into); features are
    * per-clip integer loops in the same pass — no shuffle at all until
    * the final cosmetic sort. */
  def q166(spark: SparkSession, dir: String, sr: Int = 8000,
           frame: Int = 160, nDocs: Int = 100): DataFrame = {
    import spark.implicits._
    val ids = Tables(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < nDocs).as[Long]
    val wavs = ids.mapPartitions { it =>
      it.map { id =>
        val n = 256 + (id % 4).toInt * 128
        (id, encodeWav(synthPcm(id, n), sr))
      }
    }.toDF("media_id", "wav")
    val feats = wavs.as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, bytes) =>
        val (rate, s) = decodeWav(bytes)
        var sumSq = 0L; var peak = 0; var zc = 0
        var loudFrame = 0; var loudEnergy = -1L
        var f = 0
        while (f * frame < s.length) {
          var e = 0L
          var i = f * frame
          val end = math.min(s.length, (f + 1) * frame)
          while (i < end) {
            val v = s(i).toInt
            e += v.toLong * v
            if (math.abs(v) > peak) peak = math.abs(v)
            if (i + 1 < s.length && ((v >= 0) != (s(i + 1) >= 0))) zc += 1
            i += 1
          }
          sumSq += e
          if (e > loudEnergy) { loudEnergy = e; loudFrame = f }
          f += 1
        }
        (id, rate, s.length, s.length.toLong * 1000 / rate, peak, sumSq,
          zc, loudFrame, loudEnergy)
      }
    }.toDF("media_id", "sr", "n_samples", "duration_ms", "peak", "sum_sq",
      "zero_crossings", "loud_frame", "loud_energy")
    feats.orderBy(col("media_id"))
  }

  /** Id offset for planted audio twins (mirrors ImagePlantOffset). */
  val AudioPlantOffset = 1000000L

  /** One-sample perturbation for planted audio twins: sample 0 += 4 —
    * only frame 0's energy moves, so the energy-delta fingerprint
    * differs by AT MOST one bit (the e(1) > e(0) comparison). */
  def perturbPcm(s: Array[Short]): Array[Short] = {
    s(0) = (s(0) + 4).toShort
    s
  }

  /** q168 — AUDIO near-dup dedup: q112's operator for the WAV tier. Per
    * doc a real WAV rides the binary column (q166's codec path), plus a
    * one-sample-perturbed twin every `plantEvery` ids; each decoded clip
    * yields an ENERGY-DELTA fingerprint (bit f = energy(frame f+1) >
    * energy(frame f) over 16-sample frames — the closed-form stand-in
    * for a spectral fingerprint, all integer arithmetic), blocked into
    * 8-bit bands keyed WITH the clip length (different-length clips are
    * not comparable); band-equality candidates are pigeonhole-COMPLETE
    * for hamming ≤ 1 (every fingerprint here has ≥ 2 disjoint bands),
    * and every candidate is verified by exact integer sample distance
    * (sum of absolute differences).
    *
    * Scale shape: the codec runs ONCE into a pinned feature table (the
    * q112 discipline); candidates join on (length, band, byte) — bounded
    * buckets, never all-pairs; only candidates carry the clip-sized
    * sample payload. Fully ORACLE-CHECKED despite the codec in the loop:
    * WAV PCM is lossless and energies/fingerprint/SAD are integer
    * arithmetic on the closed-form samples, so DuckDB recomputes the
    * identical pair set with no codec — banding completeness is a
    * theorem, so no recall premise is needed. */
  /** The synthesized WAV corpus q168 dedups: one clip per low doc id
    * plus a one-sample-perturbed twin every `plantEvery` ids. */
  private def audioCorpus(spark: SparkSession, dir: String, nDocs: Int,
      plantEvery: Int, sr: Int): DataFrame = {
    import spark.implicits._
    val ids = Tables(spark, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < nDocs).as[Long]
    ids.flatMap { id =>
      val n = 256 + (id % 4).toInt * 128
      val orig = (id, encodeWav(synthPcm(id, n), sr))
      if (id % plantEvery == 0)
        Seq(orig, (id + AudioPlantOffset,
          encodeWav(perturbPcm(synthPcm(id, n)), sr)))
      else Seq(orig)
    }.toDF("media_id", "wav")
  }

  def q168(spark: SparkSession, dir: String, frame: Int = 16,
           nDocs: Int = 100, plantEvery: Int = 20, sr: Int = 8000,
           maxHamming: Int = 1, maxSad: Long = 1000L): DataFrame = {
    require(maxHamming <= 1,
      "8-bit banding over >= 2 bands is complete only for hamming <= 1")
    Pins.result { pins =>
      val feat = wavFeatures(pins, spark,
        audioCorpus(spark, dir, nDocs, plantEvery, sr), frame)
      verifiedAudioPairs(feat, frame, maxHamming, maxSad)
        .orderBy(col("d1"), col("d2"))
    }
  }

  /** (media_id, wav) → (media_id, n, samples, energy-delta fp) feature
    * table, pinned in `pins` — the one codec pass both audio near-dup
    * consumers (q168 and the q172 manifest tier) run once and probe. */
  private def wavFeatures(pins: Pins, spark: SparkSession, wavs: DataFrame,
                          frame: Int): DataFrame = {
    import spark.implicits._
    pins.pin(wavs.as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, bytes) =>
        val (_, s) = decodeWav(bytes)
        val nFrames = s.length / frame
        val en = new Array[Long](nFrames)
        var f = 0
        while (f < nFrames) {
          var e = 0L; var i = f * frame
          while (i < (f + 1) * frame) {
            e += s(i).toLong * s(i); i += 1
          }
          en(f) = e; f += 1
        }
        var fp = 0L
        var b = 0
        while (b < nFrames - 1) {
          if (en(b + 1) > en(b)) fp |= 1L << b
          b += 1
        }
        (id, s.length, s.map(_.toInt), fp)
      }
    }.toDF("media_id", "n", "samples", "fp"))
  }

  /** Banding + exact verify over a pinned audio feature table: 8-bit
    * bands keyed with the clip length (pigeonhole-complete for hamming
    * ≤ 1 — every fingerprint here spans ≥ 2 bands), SAD-verified. The
    * q168 kernel, shared with the q172 manifest tier. Unordered; queries
    * order at presentation. */
  private def verifiedAudioPairs(feat: DataFrame, frame: Int,
                                 maxHamming: Int, maxSad: Long): DataFrame = {
    require(maxHamming <= 1,
      "8-bit banding over >= 2 bands is complete only for hamming <= 1")
    val blocked = feat.select(col("media_id"), col("n"),
      posexplode(expr(s"transform(sequence(0, int((n div $frame - 2) / 8)), " +
        "b -> shiftright(fp, 8 * b) & 255)")))
      .select(col("media_id"), col("n"), col("pos").as("band"),
        col("col").as("bv"))
    val cand = blocked
      .select(col("n"), col("band"), col("bv"), col("media_id").as("d1"))
      .join(blocked.select(col("n"), col("band"), col("bv"),
        col("media_id").as("d2")), Seq("n", "band", "bv"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
    cand
      .join(feat.select(col("media_id").as("d1"), col("samples").as("s1"),
        col("fp").as("f1"), col("n")), Seq("d1"))
      .join(feat.select(col("media_id").as("d2"), col("samples").as("s2"),
        col("fp").as("f2")), Seq("d2"))
      .select(col("d1"), col("d2"), col("n"),
        bit_count(col("f1").bitwiseXOR(col("f2")))
          .cast(IntegerType).as("hamming"),
        aggregate(zip_with(col("s1"), col("s2"), (a, b) => abs(a - b)),
          lit(0L), (acc, v) => acc + v).as("sad"))
      .where(col("hamming") <= maxHamming && col("sad") <= maxSad)
      .select(col("d1"), col("d2"), col("hamming"),
        round(col("sad").cast(DoubleType) / col("n"), 4).as("mean_dist"))
  }

  /** Audio near-dup DROP set over the documents' media tier, for the
    * tri-modal training manifest (q172) — the audio analog of
    * [[imageNearDupDrop]]: docs in [lo, hi) carry clips, and doc `d`
    * with `d % dupEvery == 6` carries a one-sample-perturbed copy of
    * doc `d−1`'s clip (the "same track re-encoded on a mirror" shape),
    * so audio near-dup clusters contain documents and min-doc_id
    * keepers produce a real drop set. Shared q168 kernel; q66
    * components; the feature table and labels are pinned in `pins`.
    * Oracle-exact end to end (closed-form samples, lossless PCM,
    * complete banding, recursive-CTE components). */
  private[graft] def audioNearDupDrop(pins: Pins, spark: SparkSession,
                                      dir: String,
                                      lo: Long = AudioLo, hi: Long = AudioHi,
                                      dupEvery: Int = 10, frame: Int = 16,
                                      sr: Int = 8000, maxHamming: Int = 1,
                                      maxSad: Long = 1000L): DataFrame = {
    import spark.implicits._
    val ids = Tables(spark, dir, "documents")
      .select(col("doc_id"))
      .where(col("doc_id") >= lo && col("doc_id") < hi).as[Long]
    val wavs = ids.map { id =>
      val base = if (id % dupEvery == 6) id - 1 else id
      val n = 256 + (base % 4).toInt * 128
      val s = synthPcm(base, n)
      (id, encodeWav(if (id % dupEvery == 6) perturbPcm(s) else s, sr))
    }.toDF("media_id", "wav")
    val feat = wavFeatures(pins, spark, wavs, frame)
    val pairs = verifiedAudioPairs(feat, frame, maxHamming, maxSad)
      .select(col("d1").as("src"), col("d2").as("dst"))
    pins.own(graft.dedup.Components.connectedComponents(pairs))
      .where(col("comp") =!= col("id"))
      .select(col("id").as("doc_id"))
  }

  /** q194 — CAPTION–IMAGE ALIGNMENT GATE (the CLIP-score curation shape,
    * Radford et al. 2021 / the LAION filter): score every (text, image)
    * pair by the cosine of a text embedding against an image embedding
    * and DROP pairs below a threshold — the op that decides whether a
    * caption actually describes its image before the pair enters a
    * multimodal training mix. The fixture has no vision model, so the
    * two encoders are deterministic stand-ins with the REAL plumbing
    * around them (the decode tier's declared stub discipline): the image
    * side is a true codec round-trip — synth RGB → actual PNG bytes on a
    * binary column → partition-batched ImageIO decode → exact integer
    * channel sums as the 3-dim "embedding" — and the text side is a
    * 3-dim letter-class histogram computed in the scan's codegen span.
    * A production CLIP drops into the SAME seams: the mapPartitions
    * batch becomes the model call, the vectors widen, nothing else
    * moves.
    *
    * Determinism: both vectors are exact integers; dot and norms² are
    * exact BIGINT arithmetic; the only floats are two IEEE sqrt's, one
    * multiply, one divide — all correctly-rounded, so the score is
    * bit-identical on any engine (and PNG is lossless, so DuckDB
    * replays the image sums from the closed-form pixel formula with no
    * codec — the oracle hash-checks the whole encode→decode→score
    * path). τ = 0.975 is the fixture median, so BOTH gate outcomes are
    * populated (MultimodalSpec asserts non-vacuity).
    *
    * Scale shape: codec + score are map-only over the pair scan; the
    * only exchange is the (doc_id) join of the decoded image vectors
    * back to the text side and the presentation sort. At 100 TB the
    * model call dominates and this plan touches each blob exactly
    * once. */
  def q194(spark: SparkSession, dir: String, side: Int = 16,
           nDocs: Int = 200, tau: Double = 0.975): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
      .where(col("doc_id") < nDocs)
    val ids = docs.select(col("doc_id")).as[Long]
    // real codec round-trip: the binary column is genuine PNG bytes
    val pngs = ids.mapPartitions { it =>
      it.map(id => (id, encodePng(synthImage(id, side, side))))
    }.toDF("doc_id", "png")
    val imgVec = pngs.as[(Long, Array[Byte])].mapPartitions { it =>
      it.map { case (id, bytes) =>
        val (_, _, rs, gs, bs) = decodePngSums(bytes)
        (id, rs, gs, bs)
      }
    }.toDF("doc_id", "rs", "gs", "bs")
    val txtVec = docs.select(col("doc_id"),
      length(regexp_replace(lower(col("text")), "[^a-i]", "")).cast(LongType).as("t1"),
      length(regexp_replace(lower(col("text")), "[^j-r]", "")).cast(LongType).as("t2"),
      length(regexp_replace(lower(col("text")), "[^s-z]", "")).cast(LongType).as("t3"))
    val dot = (col("rs") * col("t1") + col("gs") * col("t2") +
      col("bs") * col("t3")).cast(DoubleType)
    val ni = sqrt((col("rs") * col("rs") + col("gs") * col("gs") +
      col("bs") * col("bs")).cast(DoubleType))
    val nt = sqrt((col("t1") * col("t1") + col("t2") * col("t2") +
      col("t3") * col("t3")).cast(DoubleType))
    imgVec.join(txtVec, Seq("doc_id"))
      .withColumn("align", dot / (ni * nt))
      .select(col("doc_id"), col("rs"), col("gs"), col("bs"),
        col("t1"), col("t2"), col("t3"),
        round(col("align"), 6).as("align"),
        (col("align") >= tau).as("keep"))
      .orderBy(col("doc_id"))
  }
}
