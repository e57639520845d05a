package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat image/audio/video payloads as
  * opaque `binary` columns with typed metadata, and run decode /
  * feature-extraction as partition-wise functions (the Scala analog of
  * `mapInPandas` batches).
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly marked DETERMINISTIC STUB ([[stubDecode]]) — the Spark-side
  * contract (schema, batching, partition-wise execution, null
  * handling) is real and tested; swapping the stub for a JNI/codec
  * call changes no plan shape.
  *
  * At 100 TB: blobs never shuffle — metadata extraction and decode are
  * map-side; only extracted features (small, fixed-width) flow into
  * joins/aggregations downstream.
  */
object Multimodal {
  // ---- real container decode (BMP / WAV headers) ----
  //
  // The container has no image/audio codec LIBRARIES, but BMP and WAV
  // are self-describing pure-byte formats — so the decode step can be
  // real: [[synthesizeMedia]] builds spec-conformant binaries (the
  // stand-in for media payloads read from object storage; dimensions
  // are closed-form in doc_id so DuckDB can oracle the decoder without
  // reconstructing bytes), and [[decodeMeta]] parses the actual headers
  // back out of the blob with little-endian field reads. An encode →
  // parse → closed-form-oracle round trip: if the parser read the wrong
  // offset or endianness, every hash would miss.

  private def bmpW(id: Long): Int = (id % 61 + 4).toInt
  private def bmpH(id: Long): Int = (id % 37 + 4).toInt
  private def wavRate(id: Long): Int = Array(8000, 16000, 22050, 44100)(((id / 2) % 4).toInt)
  private def wavSamples(id: Long): Int = (id % 500 + 100).toInt

  /** A real 24-bit BMP: BITMAPFILEHEADER + BITMAPINFOHEADER + padded
    * pixel rows (deterministic pixel bytes).
    */
  private def bmpBytes(id: Long): Array[Byte] = {
    val w = bmpW(id); val h = bmpH(id)
    val rowSize = ((w * 3 + 3) / 4) * 4
    val dataSize = rowSize * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putShort(0).putShort(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var i = 0
    while (i < dataSize) { buf.put(((id * 31 + i) % 251).toByte); i += 1 }
    buf.array()
  }

  /** A real RIFF/WAVE PCM file: 44-byte canonical header + 16-bit
    * mono samples (deterministic).
    */
  private def wavBytes(id: Long): Array[Byte] = {
    val n = wavSamples(id); val rate = wavRate(id)
    val dataSize = n * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
    buf.put("data".getBytes).putInt(dataSize)
    var i = 0
    while (i < n) { buf.putShort(((id * 13 + i) % 8191 - 4095).toShort); i += 1 }
    buf.array()
  }

  /** Deterministic media corpus: even doc_ids carry a BMP image, odd a
    * WAV clip (map-side generation — the stand-in for reading stored
    * payloads; blobs never shuffle).
    */
  def synthesizeMedia(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(id =>
        (id, if (id % 2 == 0) bmpBytes(id) else wavBytes(id))))
      .toDF("doc_id", "blob")
  }

  /** Little-endian unsigned field at 0-based byte `off`, `n` ≤ 7 bytes:
    * hex() the slice (big-endian hex pairs), reverse the pairs, conv to
    * decimal — pure built-ins, stays inside WholeStageCodegen (no UDF,
    * no custom expression needed for header parsing).
    */
  private def leU(blob: Column, off: Int, n: Int): Column = {
    val h = hex(substring(blob, off + 1, n))
    val le = concat((n - 1 to 0 by -1).map(i => substring(h, i * 2 + 1, 2)): _*)
    conv(le, 16, 10).cast("long")
  }

  /** REAL header decode over the opaque blob: identifies the container
    * by magic bytes and reads the actual BMP (width/height/bpp) or WAV
    * (channels/sample-rate/bits/duration) header fields at their spec
    * offsets. Audio fields are NULL on images and vice versa; exact
    * integer duration via BIGINT div.
    */
  def decodeMeta(withBlob: DataFrame): DataFrame = {
    val blob = col("blob")
    val isBmp = substring(blob, 1, 2) === lit("BM".getBytes)
    val isWav = substring(blob, 1, 4) === lit("RIFF".getBytes) &&
      substring(blob, 9, 4) === lit("WAVE".getBytes)
    withBlob.select(col("doc_id"),
        when(isBmp, "bmp").when(isWav, "wav").otherwise("unknown").as("kind"),
        length(blob).cast("long").as("n_bytes"),
        when(isBmp, leU(blob, 18, 4)).as("width"),
        when(isBmp, leU(blob, 22, 4)).as("height"),
        when(isBmp, leU(blob, 28, 2)).as("bpp"),
        when(isWav, leU(blob, 22, 2)).as("channels"),
        when(isWav, leU(blob, 24, 4)).as("sample_rate"),
        when(isWav, leU(blob, 34, 2)).as("bits"),
        when(isWav, leU(blob, 40, 4)).as("data_bytes"))
      // exact BIGINT div (both engines floor nonnegative quotients)
      .withColumn("duration_us",
        expr("(data_bytes * 1000000) div (sample_rate * channels * (bits div 8))"))
      .orderBy("doc_id")
  }

  /** q_multimodal_meta: synthesize the media corpus, decode it back
    * through the real header parser. Every field is closed-form in
    * doc_id, so the DuckDB oracle checks the decoder without
    * reconstructing a single byte.
    */
  def mediaMeta(spark: SparkSession, docs: DataFrame): DataFrame =
    decodeMeta(synthesizeMedia(spark, docs))

  /** Decoded-features record: `n_units` decoded pixels (bmp) or PCM
    * samples (wav), and their exact-integer-sum mean.
    */
  final case class MediaFeatures(doc_id: Long, kind: String, n_units: Long,
      mean_value: Double)

  /** REAL partition-wise decode + feature extraction: walks the BMP
    * pixel array (via the pixel-array offset read from the file header,
    * honoring 4-byte row padding) or the WAV PCM data section, and
    * reduces the decoded units to an exact-sum mean. Imperative
    * per-byte work belongs in a partition function (interpreted SQL
    * lambdas re-evaluate per element); blobs never shuffle — only the
    * fixed-width features flow downstream.
    */
  def decodeFeatures(spark: SparkSession, withBlob: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    withBlob.select(col("doc_id").cast("long"), col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, blob) =>
          val bb = java.nio.ByteBuffer.wrap(blob)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          if (blob.length >= 2 && blob(0) == 'B'.toByte && blob(1) == 'M'.toByte) {
            val off = bb.getInt(10); val w = bb.getInt(18); val h = bb.getInt(22)
            val rowSize = ((w * 3 + 3) / 4) * 4
            var sum = 0L; var r = 0
            while (r < h) {
              var j = 0
              while (j < w * 3) { sum += blob(off + r * rowSize + j) & 0xff; j += 1 }
              r += 1
            }
            val n = w.toLong * 3 * h
            MediaFeatures(id, "bmp", n, sum.toDouble / n)
          } else {
            val dataSize = bb.getInt(40); val n = dataSize / 2
            var sum = 0L; var i = 0
            while (i < n) { sum += bb.getShort(44 + i * 2); i += 1 }
            MediaFeatures(id, "wav", n.toLong, sum.toDouble / n)
          }
        }
      }
  }

  /** q_media_features: synthesize, then REALLY decode every pixel /
    * sample into exact-sum means. The DuckDB oracle recomputes the
    * modular byte sums in closed form — a wrong offset, a missed row
    * padding, or a sign error in the 16-bit samples misses every hash.
    */
  def mediaFeatures(spark: SparkSession, docs: DataFrame): DataFrame =
    decodeFeatures(spark, synthesizeMedia(spark, docs)).toDF()
      .orderBy("doc_id")

  /** Resized-image features: output dims, sampled channel count, and
    * exact-integer statistics of the sampled bytes.
    */
  final case class ResizeFeatures(doc_id: Long, out_w: Long, out_h: Long,
      n_channels_sampled: Long, mean_value: Double, min_value: Long,
      max_value: Long)

  /** NEW r12c: REAL nearest-neighbor 2× image downsample — the
    * resize stage of a multimodal training pipeline, run against the
    * actual BMP bytes: parses the true header (pixel-array offset,
    * dims, 4-byte row padding), samples source pixel (2x, 2y) for
    * every output position, and reduces the sampled channel bytes to
    * exact-integer statistics (sum/min/max; ONE raw division for the
    * mean). WAV documents are skipped — images only. Imperative
    * per-byte work stays in a partition function (the decodeFeatures
    * posture); blobs never shuffle, only fixed-width features flow
    * downstream. A wrong pixel offset, a missed row pad, or an
    * off-by-one in the 2× grid misses every oracle hash (the DuckDB
    * side rebuilds the sampled byte multiset in closed form).
    */
  def resizeFeatures(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    synthesizeMedia(spark, docs)
      .select(col("doc_id").cast("long"), col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, blob) =>
          if (blob.length >= 2 && blob(0) == 'B'.toByte &&
              blob(1) == 'M'.toByte) {
            val bb = java.nio.ByteBuffer.wrap(blob)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val off = bb.getInt(10)
            val w = bb.getInt(18)
            val h = bb.getInt(22)
            val rowSize = ((w * 3 + 3) / 4) * 4
            val w2 = (w + 1) / 2
            val h2 = (h + 1) / 2
            var sum = 0L; var n = 0L; var mn = 255L; var mx = 0L
            var y = 0
            while (y < h2) {
              var x = 0
              while (x < w2) {
                var c = 0
                while (c < 3) {
                  val v =
                    (blob(off + 2 * y * rowSize + 2 * x * 3 + c) & 0xff).toLong
                  sum += v; n += 1
                  if (v < mn) mn = v
                  if (v > mx) mx = v
                  c += 1
                }
                x += 1
              }
              y += 1
            }
            Some(ResizeFeatures(id, w2, h2, n, sum.toDouble / n, mn, mx))
          } else None
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Downsampled-audio features: halved output rate, kept-sample
    * count, exact-integer statistics of the kept 16-bit samples.
    */
  final case class ResampleFeatures(doc_id: Long, out_rate: Long,
      n_samples_out: Long, mean_value: Double, min_value: Long,
      max_value: Long)

  /** NEW r12c: REAL 2× PCM downsample — the audio resample stage
    * beside [[resizeFeatures]]: parses the true WAV header (sample
    * rate at offset 24, data size at 40), keeps every 2nd 16-bit
    * sample, and reduces the kept samples to exact-integer statistics
    * (signed shorts; ONE raw mean division). BMP documents are
    * skipped — audio only; partition-wise byte walk, blobs never
    * shuffle. The oracle rebuilds the kept-sample multiset in closed
    * form — a wrong data offset, stride, or sign handling misses it.
    */
  def resampleFeatures(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    synthesizeMedia(spark, docs)
      .select(col("doc_id").cast("long"), col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, blob) =>
          if (blob.length >= 12 && blob(0) == 'R'.toByte &&
              blob(8) == 'W'.toByte) {
            val bb = java.nio.ByteBuffer.wrap(blob)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val rate = bb.getInt(24)
            val n = bb.getInt(40) / 2
            var sum = 0L; var cnt = 0L
            var mn = Long.MaxValue; var mx = Long.MinValue
            var i = 0
            while (i < n) {
              val v = bb.getShort(44 + i * 2).toLong
              sum += v; cnt += 1
              if (v < mn) mn = v
              if (v > mx) mx = v
              i += 2
            }
            Some(ResampleFeatures(id, (rate / 2).toLong, cnt,
              sum.toDouble / cnt, mn, mx))
          } else None
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  // ---- real video frame sampling (RIFF/AVI frame index) ----
  //
  // r10: the frame sampler was a fixed-size-slice stub; AVI is RIFF
  // like WAV, and its `idx1` index chunk is a self-describing frame
  // table (ckid, flags, offset, size per frame) — so keyframe sampling
  // can be header-driven and REAL without any codec library. The
  // synthesized container has the spec's structure (RIFF('AVI ') →
  // LIST('movi') with '00dc' frame chunks → 'idx1' index whose offsets
  // are relative to the 'movi' fourcc, AVIIF_KEYFRAME = 0x10), every
  // parameter closed-form in doc_id so DuckDB oracles the decoder
  // without reconstructing bytes.

  private def aviFrames(id: Long): Int = (id % 24 + 6).toInt
  private def aviFrameSize(id: Long, i: Int): Int =
    (((id * 7 + i * 13) % 96) * 2 + 32).toInt // even → no RIFF pad byte

  /** A structural RIFF/AVI: frame chunks inside LIST('movi') plus the
    * `idx1` frame index. Every `3rd` frame is flagged AVIIF_KEYFRAME.
    */
  private def aviBytes(id: Long): Array[Byte] = {
    val n = aviFrames(id)
    val sizes = Array.tabulate(n)(aviFrameSize(id, _))
    val moviSize = 4 + sizes.map(_ + 8).sum
    val idxSize = 16 * n
    val total = 12 + 8 + moviSize + 8 + idxSize
    val buf = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(total - 8).put("AVI ".getBytes)
    buf.put("LIST".getBytes).putInt(moviSize).put("movi".getBytes)
    var i = 0
    while (i < n) {
      buf.put("00dc".getBytes).putInt(sizes(i))
      var j = 0
      while (j < sizes(i)) { buf.put(((id * 31 + i * 131 + j) % 251).toByte); j += 1 }
      i += 1
    }
    buf.put("idx1".getBytes).putInt(idxSize)
    var off = 4 // first '00dc' fourcc, relative to the 'movi' fourcc
    i = 0
    while (i < n) {
      buf.put("00dc".getBytes).putInt(if (i % 3 == 0) 0x10 else 0)
        .putInt(off).putInt(sizes(i))
      off += 8 + sizes(i)
      i += 1
    }
    buf.array()
  }

  /** Deterministic video corpus: one structural AVI per document
    * (map-side generation — the stand-in for stored payloads).
    */
  def synthesizeVideos(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(id => (id, aviBytes(id))))
      .toDF("doc_id", "blob")
  }

  final case class KeyFrame(doc_id: Long, frame_idx: Long, offset: Long,
      frame_len: Long, byte_sum: Long)

  /** REAL header-driven keyframe sampling: walks the top-level RIFF
    * chunk list to find LIST('movi') and `idx1`, parses the 16-byte
    * index entries, keeps AVIIF_KEYFRAME frames, and reads each
    * sampled frame's actual bytes at its indexed offset — reducing
    * them to an exact integer sum. A wrong index offset, entry stride,
    * flag mask, or movi-relative base misses every hash. Blobs never
    * shuffle: sampling is map-side; only the fixed-width frame table
    * flows on.
    */
  def decodeFrameIndex(spark: SparkSession, withBlob: DataFrame): Dataset[KeyFrame] = {
    import spark.implicits._
    withBlob.select(col("doc_id").cast("long"), col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, blob) =>
          // hardened against hostile containers (r11 ADVICE): null blobs,
          // negative/overlong chunk sizes (which would stall or overrun
          // the walk), and index entries pointing outside the blob all
          // yield "no frames" instead of an NPE / infinite loop / AIOOBE
          if (blob == null || blob.length < 12) Iterator.empty
          else {
            val bb = java.nio.ByteBuffer.wrap(blob)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            def fourcc(p: Int) = new String(blob, p, 4, "US-ASCII")
            if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") Iterator.empty
            else {
              var moviPos = -1 // position of the 'movi' fourcc
              var idxPos = -1
              var idxLen = 0
              var pos = 12
              var ok = true
              while (ok && pos + 8 <= blob.length) {
                val ck = fourcc(pos)
                val sz = bb.getInt(pos + 4)
                if (sz < 0 || sz > blob.length - (pos + 8)) ok = false
                else {
                  if (ck == "LIST" && sz >= 4 && fourcc(pos + 8) == "movi")
                    moviPos = pos + 8
                  else if (ck == "idx1") { idxPos = pos + 8; idxLen = sz }
                  pos += 8 + sz + (sz & 1) // RIFF chunks pad to even
                }
              }
              if (moviPos < 0 || idxPos < 0 || idxLen < 0 ||
                  idxLen > blob.length - idxPos) Iterator.empty
              else (0 until idxLen / 16).iterator.flatMap { k =>
                val e = idxPos + k * 16
                val flags = bb.getInt(e + 4)
                val relOff = bb.getInt(e + 8)
                val size = bb.getInt(e + 12)
                val payload = moviPos.toLong + relOff.toLong + 8L // past '00dc'+size
                if ((flags & 0x10) == 0) None // not a keyframe
                else if (size < 0 || payload < 0 ||
                    payload + size > blob.length) None // truncated/hostile entry
                else {
                  val p = payload.toInt
                  var sum = 0L
                  var j = 0
                  while (j < size) { sum += blob(p + j) & 0xff; j += 1 }
                  Some(KeyFrame(id, k.toLong, payload, size.toLong, sum))
                }
              }
            }
          }
        }
      }
  }

  /** q_frame_sample: synthesize the AVI corpus, sample keyframes
    * through the real idx1 parser. Offsets, sizes, and byte sums are
    * closed-form in doc_id, so the oracle checks the whole index walk
    * byte-for-byte.
    */
  def frameSummary(spark: SparkSession, docs: DataFrame): DataFrame =
    decodeFrameIndex(spark, synthesizeVideos(spark, docs)).toDF()
      .orderBy("doc_id", "frame_idx")

  /** NEW r15: scene-change census — the shot-boundary-detection proxy
    * a video curation pipeline runs over SAMPLED keyframes: a cut is
    * flagged when consecutive keyframes' mean byte value jumps by ≥
    * `thetaMilli` (exact per-frame mean in 1/1000-byte units —
    * BIGINT `byte_sum·1000 div frame_len`, both engines floor
    * non-negative quotients). Real decoders replace mean-byte with a
    * histogram/SSIM distance; the PLUMBING is the point — the frames
    * come through the real RIFF/idx1 index walk, deltas ride a
    * per-doc lag on the fixed-width frame table (blobs never
    * shuffle), and the census is integer-exact end-to-end.
    */
  def sceneChanges(spark: SparkSession, docs: DataFrame,
      thetaMilli: Long = 80000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    decodeFrameIndex(spark, synthesizeVideos(spark, docs)).toDF()
      .select(col("doc_id"), col("frame_idx"),
        expr("byte_sum * 1000 div frame_len").as("mb"))
      .withColumn("d", abs(col("mb") - lag(col("mb"), 1).over(w)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("d") >= thetaMilli, 1L).otherwise(0L)).as("n_cuts"),
        coalesce(max(col("d")), lit(0L)).as("max_jump_milli"))
      .orderBy("doc_id")
  }
}
