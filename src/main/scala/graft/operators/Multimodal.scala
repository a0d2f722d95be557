package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._

/** A typed media record: modality + opaque binary payload. Real pipelines
  * put image/audio/video bytes here; the testdata has no media table, so
  * the declared query derives the payload from documents.text — the Spark
  * plumbing (binary column, typed Dataset, partition-wise decode) is real,
  * only the codec is stubbed.
  */
final case class MediaRecord(doc_id: Long, modality: String, data: Array[Byte])

/** Deterministic metadata "decoded" from the payload. */
final case class MediaMeta(doc_id: Long, byte_len: Long, first_byte: Int,
    width: Int, height: Int, channels: Int)

/** Full pipeline output: decode → resize → feature-extract → frame-sample. */
final case class MediaPipelineOut(doc_id: Long, byte_sum: Long, brightness: Double,
    rw: Int, rh: Int, n_frames: Int, frames: String)

/** Multimodal column handling: treat image/audio/video as opaque `binary`
  * columns with typed metadata, decoded partition-wise.
  *
  * The IMAGE path is real: q_image_decode encodes and decodes genuine PNG
  * bytes with pure-JDK `javax.imageio` inside the `mapPartitions` seam
  * (see below). The text-derived decode in q_multimodal_decode /
  * q_multimodal_pipeline keeps its clearly-marked STUB arithmetic (it
  * exercises the typed plumbing over arbitrary payloads), and audio/video
  * remain stubbed — no pure-JDK codecs exist for them and this container
  * has no media libraries. The Spark-side shape is the real one
  * throughout — a typed `Dataset[MediaRecord]` flowing through
  * `mapPartitions` in executor-sized batches, which is exactly where a
  * JNI/ffmpeg/opencv call would sit, with no driver involvement and no
  * shuffle.
  */
object Multimodal {

  // ImageIO's default ImageInputStream is DISK-cached: every
  // ImageIO.read/createImageInputStream call creates (and deletes) a temp
  // FILE. At 50k tiny images per run that is the dominant codec cost and
  // the source of the in-suite CPU inflation the r10 gc_ms/cpu_ms
  // telemetry surfaced (≈10 ms CPU per ≤16×14 px image — the decode
  // itself is microseconds). Memory-cached streams are the standard fix;
  // the object initializer runs once per executor JVM at first use.
  javax.imageio.ImageIO.setUseCache(false)

  /** STUB codec — replace with a real decoder where media libs exist.
    * Deterministic on the payload bytes so the DuckDB oracle can reproduce
    * it arithmetically.
    */
  def decodeStub(r: MediaRecord): MediaMeta = {
    val len = r.data.length.toLong
    val first = if (r.data.nonEmpty) r.data(0) & 0xff else 0
    MediaMeta(r.doc_id, len, first, (len % 640).toInt, ((first * 7) % 480).toInt, 3)
  }

  /** Partition-wise decode — the batch shape a real codec needs (amortized
    * per-partition init would go in the mapPartitions prologue).
    */
  def decode(ds: Dataset[MediaRecord]): Dataset[MediaMeta] =
    ds.mapPartitions(_.map(decodeStub))(Encoders.product[MediaMeta])

  /** STUB resize: fixed 64-wide, aspect-preserving integer height. */
  def resizeStub(m: MediaMeta): (Int, Int) =
    (64, (m.height * 64) / math.max(m.width, 1))

  /** STUB feature extraction: byte-sum "histogram mass" and mean
    * brightness — a real pipeline would run the image model here.
    */
  def featureStub(r: MediaRecord): (Long, Double) = {
    var s = 0L
    var i = 0
    while (i < r.data.length) { s += (r.data(i) & 0xff); i += 1 }
    val bright =
      if (r.data.isEmpty) 0.0
      else math.floor((s.toDouble / r.data.length) * 10000 + 0.5) / 10000
    (s, bright)
  }

  /** STUB frame sampling: every 5th frame of a fake n_frames clip. */
  def frameSampleStub(m: MediaMeta): (Int, String) = {
    val n = (m.byte_len % 30 + 1).toInt
    (n, (0 until n by 5).mkString(","))
  }

  /** The full chained pipeline over typed records — decode, resize,
    * feature-extract and frame-sample in one partition pass (one codec
    * init per partition in a real deployment).
    */
  def pipeline(ds: Dataset[MediaRecord]): Dataset[MediaPipelineOut] =
    ds.mapPartitions(_.map { r =>
      val meta = decodeStub(r)
      val (rw, rh) = resizeStub(meta)
      val (byteSum, brightness) = featureStub(r)
      val (nFrames, frames) = frameSampleStub(meta)
      MediaPipelineOut(r.doc_id, byteSum, brightness, rw, rh, nFrames, frames)
    })(Encoders.product[MediaPipelineOut])

  /** Declared query: documents.text → binary payload → stub decode →
    * per-record metadata. Oracle mirrors the stub arithmetically
    * (strlen = byte length, ascii = first byte for this ASCII corpus).
    */
  private val multimodalDecode = Q(
    "q_multimodal_decode",
    (spark, dir) => {
      val recs = Tables(spark, dir, "documents")
        .select(col("doc_id"), lit("text").as("modality"),
          col("text").cast("binary").as("data"))
        .as[MediaRecord](Encoders.product[MediaRecord])
      decode(recs).toDF().orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len,
              CAST(CASE WHEN strlen(text) = 0 THEN 0
                        ELSE ascii(substr(text, 1, 1)) END AS INT) AS first_byte,
              CAST(strlen(text) % 640 AS INT) AS width,
              CAST((CASE WHEN strlen(text) = 0 THEN 0
                          ELSE ascii(substr(text, 1, 1)) END * 7) % 480 AS INT) AS height,
              CAST(3 AS INT) AS channels
            FROM documents ORDER BY doc_id"""))

  /** Declared query: the full multimodal pipeline (decode → resize →
    * features → frame-sample) over text-derived payloads. Oracle mirrors
    * the stub arithmetic (ASCII corpus: byte == codepoint).
    */
  private val multimodalPipeline = Q(
    "q_multimodal_pipeline",
    (spark, dir) => {
      val recs = Tables(spark, dir, "documents")
        .select(col("doc_id"), lit("image").as("modality"),
          col("text").cast("binary").as("data"))
        .as[MediaRecord](Encoders.product[MediaRecord])
      pipeline(recs).toDF().orderBy(col("doc_id"))
    },
    Some("""WITH m AS (SELECT doc_id,
                  strlen(text) AS len,
                  CASE WHEN strlen(text) = 0 THEN 0
                       ELSE ascii(substr(text, 1, 1)) END AS first_byte,
                  COALESCE(list_sum([ascii(substr(text, i, 1))
                    for i in generate_series(1, CAST(strlen(text) AS INT))]), 0) AS bsum
                FROM documents),
            d AS (SELECT doc_id, len, bsum,
                  CAST(len % 640 AS INT) AS width,
                  CAST((first_byte * 7) % 480 AS INT) AS height,
                  CAST(len % 30 + 1 AS INT) AS n_frames
                FROM m)
            SELECT doc_id, CAST(bsum AS BIGINT) AS byte_sum,
              CASE WHEN len = 0 THEN 0.0
                   ELSE FLOOR((CAST(bsum AS DOUBLE) / len) * 10000 + 0.5) / 10000 END AS brightness,
              CAST(64 AS INT) AS rw,
              CAST((height * 64) // GREATEST(width, 1) AS INT) AS rh,
              n_frames,
              array_to_string(range(0, n_frames, 5), ',') AS frames
            FROM d ORDER BY doc_id"""))

  /** REAL image codec path — pure-JDK `javax.imageio` (no container
    * libraries needed for PNG). Each document gets a deterministic
    * grayscale test pattern (pixel (x,y) = (doc_id·31 + x·7 + y·13) mod
    * 256) ENCODED to real PNG bytes in one partition pass, carried
    * through the binary column, then DECODED back with ImageIO in
    * another — the exact seam the stubs above mark. The oracle recomputes
    * the pattern arithmetically (it cannot decode PNG and does not need
    * to): if the encoder or decoder mangled dimensions or pixel data, the
    * means would not hash-match, so the codec round-trip is genuinely
    * driver-checked. Audio/video stay stubbed (no pure-JDK codecs exist
    * for them).
    */
  def makePng(docId: Long): Array[Byte] = {
    val w = (docId % 13 + 4).toInt
    val h = (docId % 11 + 4).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((docId * 31 + x * 7 + y * 13) % 256).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real decode: parse the PNG, read true dimensions, average one
    * channel (the pattern is grayscale, so any channel is the mean).
    */
  def decodePng(r: MediaRecord): MediaMeta = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.data))
    MediaMeta(r.doc_id, r.data.length.toLong, r.data(0) & 0xff,
      img.getWidth, img.getHeight, img.getColorModel.getNumComponents)
  }

  /** The document ids, spread first: the media codecs are compute-bound
    * per row, so one input split of the unsplittable single-row-group
    * source would serialize them. */
  private def docIds(spark: org.apache.spark.sql.SparkSession, dir: String): Dataset[Long] = {
    import spark.implicits._
    Tables.spreadIfUnderSplit(
      Tables(spark, dir, "documents").select(col("doc_id"))).as[Long]
  }

  /** One PNG [[MediaRecord]] per document. */
  private def pngRecords(spark: org.apache.spark.sql.SparkSession,
      dir: String): Dataset[MediaRecord] =
    docIds(spark, dir)
      .mapPartitions(_.map(id => MediaRecord(id, "image", makePng(id))))(
        Encoders.product[MediaRecord])

  private val imageDecode = Q(
    "q_image_decode",
    (spark, dir) => {
      val recs = pngRecords(spark, dir)
      recs.mapPartitions(_.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.data))
        val w = img.getWidth; val h = img.getHeight
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += img.getRGB(x, y) & 0xff; x += 1 }
          y += 1
        }
        val brightness =
          math.floor((sum.toDouble / (w * h)) * 10000 + 0.5) / 10000
        (r.doc_id, w, h, 3, brightness)
      })(Encoders.product[(Long, Int, Int, Int, Double)])
        .toDF("doc_id", "width", "height", "channels", "brightness")
        .orderBy(col("doc_id"))
    },
    Some("""WITH dims AS (SELECT doc_id,
                  CAST(doc_id % 13 + 4 AS INT) AS w,
                  CAST(doc_id % 11 + 4 AS INT) AS h
                FROM documents),
            px AS (SELECT doc_id, w, h,
                  (doc_id * 31 + x.i * 7 + y.i * 13) % 256 AS v
                FROM dims,
                     UNNEST(generate_series(0, w - 1)) AS x(i),
                     UNNEST(generate_series(0, h - 1)) AS y(i))
            SELECT doc_id, w AS width, h AS height, CAST(3 AS INT) AS channels,
              FLOOR((CAST(SUM(v) AS DOUBLE) / (w * h)) * 10000 + 0.5) / 10000 AS brightness
            FROM px GROUP BY doc_id, w, h ORDER BY doc_id"""))

  /** REAL audio codec path — pure-JDK `javax.sound.sampled` (WAV/PCM
    * needs no container libraries). Deterministic 16-bit mono samples →
    * genuine WAV bytes → binary column → partition-wise decode reading
    * the true frame count, sample rate, channel count and mean absolute
    * amplitude. Oracle recomputes the sample formula arithmetically —
    * a mangled header or sample byte order fails the hash gate. With
    * images and audio real, only video remains stubbed (no pure-JDK
    * codec exists).
    */
  // AudioSystem's static entry points re-resolve their SPI providers
  // through a synchronized JDK-internal registry on EVERY call — with 32
  // decode threads that lock serializes the whole stage (measured ~1.3
  // effective cores on the sf1 audio scan; the r10 cpu_ms telemetry is
  // what surfaced it: 10.9 s CPU under 8.6 s wall on 32 cores). Resolve
  // the WAV reader/writer ONCE per executor JVM via the public
  // ServiceLoader SPI and call the providers directly; fall back to the
  // AudioSystem path if the lookup ever comes back empty.
  private lazy val wavReader: Option[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.find(_.getClass.getName.toLowerCase.contains("wave"))
  }
  private lazy val wavWriter: Option[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .iterator().asScala.find(_.isFileTypeSupported(
        javax.sound.sampled.AudioFileFormat.Type.WAVE))
  }

  def makeWav(docId: Long): Array[Byte] = {
    val n = (docId % 400 + 100).toInt
    val bytes = new Array[Byte](n * 2) // 16-bit mono PCM little-endian
    var i = 0
    while (i < n) {
      val v = ((docId * 131 + i * 17) % 2001 - 1000).toShort
      bytes(2 * i) = (v & 0xff).toByte
      bytes(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    wavWriter match {
      case Some(w) => w.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      case None => javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    }
    bos.toByteArray
  }

  private val audioDecode = Q(
    "q_audio_decode",
    (spark, dir) => {
      val recs = docIds(spark, dir)
        .mapPartitions(_.map(id => MediaRecord(id, "audio", makeWav(id))))(
          Encoders.product[MediaRecord])
      recs.mapPartitions(_.map { r =>
        val in = new java.io.ByteArrayInputStream(r.data)
        val ais = wavReader match {
          case Some(rd) => rd.getAudioInputStream(in)
          case None     => javax.sound.sampled.AudioSystem.getAudioInputStream(in)
        }
        val fmt = ais.getFormat
        val n = ais.getFrameLength.toInt
        val pcm = ais.readAllBytes()
        var sumAbs = 0L
        var i = 0
        while (i < n) {
          val v = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toInt
          sumAbs += math.abs(v)
          i += 1
        }
        val meanAbs = math.floor((sumAbs.toDouble / n) * 10000 + 0.5) / 10000
        (r.doc_id, n.toLong, fmt.getSampleRate.toInt, fmt.getChannels, meanAbs)
      })(Encoders.product[(Long, Long, Int, Int, Double)])
        .toDF("doc_id", "n_frames", "sample_rate", "channels", "mean_abs")
        .orderBy(col("doc_id"))
    },
    Some("""WITH dims AS (SELECT doc_id, CAST(doc_id % 400 + 100 AS BIGINT) AS n
                FROM documents),
            s AS (SELECT doc_id, n,
                  ABS((doc_id * 131 + t.i * 17) % 2001 - 1000) AS a
                FROM dims, UNNEST(generate_series(0, n - 1)) AS t(i))
            SELECT doc_id, n AS n_frames, CAST(8000 AS INT) AS sample_rate,
              CAST(1 AS INT) AS channels,
              FLOOR((CAST(SUM(a) AS DOUBLE) / n) * 10000 + 0.5) / 10000 AS mean_abs
            FROM s GROUP BY doc_id, n ORDER BY doc_id"""))

  /** REAL resize on the real codec: decode the PNG, nearest-neighbor
    * resample to a fixed 4×4 thumbnail (sx = tx·w/4, sy = ty·h/4 —
    * integer floor, the standard NN grid), report the thumbnail's mean
    * brightness. The oracle replays the sampling grid against the
    * pattern formula arithmetically — a resampler that picked wrong
    * source pixels (or a decoder that mangled them) fails the hash gate.
    * The 16-pixel mean is an integer sum divided by 16: exact on both
    * engines. Same partition-parallel mapPartitions seam as decode; at
    * scale this is the thumbnail leg of an image-pipeline pass, linear
    * in image count.
    */
  private val imageResize = Q(
    "q_image_resize",
    (spark, dir) => {
      val recs = pngRecords(spark, dir)
      recs.mapPartitions(_.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.data))
        val w = img.getWidth; val h = img.getHeight
        var sum = 0L
        var ty = 0
        while (ty < 4) {
          var tx = 0
          while (tx < 4) {
            sum += img.getRGB(tx * w / 4, ty * h / 4) & 0xff
            tx += 1
          }
          ty += 1
        }
        (r.doc_id, 4, 4, sum / 16.0)
      })(Encoders.product[(Long, Int, Int, Double)])
        .toDF("doc_id", "rw", "rh", "thumb_mean")
        .orderBy(col("doc_id"))
    },
    Some("""WITH dims AS (SELECT doc_id,
                  CAST(doc_id % 13 + 4 AS INT) AS w,
                  CAST(doc_id % 11 + 4 AS INT) AS h
                FROM documents),
            px AS (SELECT doc_id,
                  (doc_id * 31 + ((tx.i * w) // 4) * 7 + ((ty.i * h) // 4) * 13) % 256 AS v
                FROM dims,
                     UNNEST(generate_series(0, 3)) AS tx(i),
                     UNNEST(generate_series(0, 3)) AS ty(i))
            SELECT doc_id, CAST(4 AS INT) AS rw, CAST(4 AS INT) AS rh,
              CAST(SUM(v) AS DOUBLE) / 16.0 AS thumb_mean
            FROM px GROUP BY doc_id ORDER BY doc_id"""))

  /** REAL video-shaped codec path — the slot that stayed stubbed through
    * round 9 (no pure-JDK MP4/AVI codec exists): multi-frame animated
    * GIF via ImageIO's sequence writer/reader, the one genuine
    * frame-sequence container the JDK can both encode and decode. Each
    * document gets a deterministic clip (n_frames = doc_id%5+2 full
    * frames of the grayscale pattern (doc_id·31 + f·101 + x·7 + y·13)
    * mod 256) encoded through `writeToSequence`; the decode side reads
    * the TRUE frame count with `getNumImages(true)` and re-reads every
    * frame's pixels. Frames are TYPE_BYTE_INDEXED over an explicit
    * 256-gray palette so the palette round-trip is lossless — a
    * quantizing writer, a mangled frame header, or a disposal-method
    * surprise all fail the hash gate. The oracle replays the pattern
    * arithmetically (frames × width × height generate_series), exactly
    * the q_image_decode idiom.
    */
  def makeGif(docId: Long): Array[Byte] = {
    val w = (docId % 7 + 4).toInt
    val h = (docId % 5 + 4).toInt
    val nFrames = (docId % 5 + 2).toInt
    val ids = Array.tabulate(256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, ids, ids, ids)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = ((docId * 31 + f * 101 + x * 7 + y * 13) % 256).toInt
          img.getRaster.setSample(x, y, 0, v)
          x += 1
        }
        y += 1
      }
      // The JDK GIF writer's DEFAULT frame metadata sets interlaceFlag,
      // and its interlaced row reordering scrambles short (<8-row)
      // frames on round-trip (measured: rows 1/3 swapped, last row
      // zeroed). Force progressive scan-order via explicit metadata.
      val meta = writer.getDefaultImageMetadata(
        new javax.imageio.ImageTypeSpecifier(img), writer.getDefaultWriteParam)
      val fmtName = meta.getNativeMetadataFormatName
      val root = meta.getAsTree(fmtName)
        .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      val kids = root.getElementsByTagName("ImageDescriptor")
      var i = 0
      while (i < kids.getLength) {
        kids.item(i).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
          .setAttribute("interlaceFlag", "FALSE")
        i += 1
      }
      meta.setFromTree(fmtName, root)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, meta), null)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** Decodes a GIF into each frame's pixel sum (low byte of every RGB
    * sample) and the frame width and height. */
  private def gifFrameSums(gif: Array[Byte]): (Array[Long], Int, Int) = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(gif))
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    reader.setInput(iis)
    val n = reader.getNumImages(true)
    val fs = new Array[Long](n)
    var w = 0; var h = 0
    var f = 0
    while (f < n) {
      val img = reader.read(f)
      w = img.getWidth; h = img.getHeight
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { fs(f) += img.getRGB(x, y) & 0xff; x += 1 }
        y += 1
      }
      f += 1
    }
    reader.dispose()
    (fs, w, h)
  }

  private val videoFrames = Q(
    "q_video_frames",
    (spark, dir) => {
      val recs = docIds(spark, dir)
        .mapPartitions(_.map(id => MediaRecord(id, "video", makeGif(id))))(
          Encoders.product[MediaRecord])
      recs.mapPartitions(_.map { r =>
        val (fs, w, h) = gifFrameSums(r.data)
        val n = fs.length
        val mean = math.floor((fs.sum.toDouble / (n.toLong * w * h)) * 10000 + 0.5) / 10000
        (r.doc_id, n, w, h, mean)
      })(Encoders.product[(Long, Int, Int, Int, Double)])
        .toDF("doc_id", "n_frames", "width", "height", "mean_px")
        .orderBy(col("doc_id"))
    },
    Some("""WITH dims AS (SELECT doc_id,
                  CAST(doc_id % 7 + 4 AS INT) AS w,
                  CAST(doc_id % 5 + 4 AS INT) AS h,
                  CAST(doc_id % 5 + 2 AS INT) AS nf
                FROM documents),
            px AS (SELECT doc_id, w, h, nf,
                  (doc_id * 31 + f.i * 101 + x.i * 7 + y.i * 13) % 256 AS v
                FROM dims,
                     UNNEST(generate_series(0, nf - 1)) AS f(i),
                     UNNEST(generate_series(0, w - 1)) AS x(i),
                     UNNEST(generate_series(0, h - 1)) AS y(i))
            SELECT doc_id, nf AS n_frames, w AS width, h AS height,
              FLOOR((CAST(SUM(v) AS DOUBLE) / (nf * w * h)) * 10000 + 0.5) / 10000
                AS mean_px
            FROM px GROUP BY doc_id, nf, w, h ORDER BY doc_id"""))

  /** Perceptual-hash image dedup — the dedup family's missing modality:
    * text has MinHash/SimHash/n-gram/exact, embeddings have cosine/LSH,
    * but raw image bytes had no near-dup operator. Block-mean average
    * hash (aHash — the pHash family's baseline, same banding role as
    * SimHash for text): decode the real PNG, partition pixels into a
    * fixed 4×4 grid by integer floors (bx = x·4/w — no resampling, so
    * the oracle can replay it exactly), set bit by·4+bx when that
    * block's mean exceeds the image's global mean. The comparison is
    * cross-multiplied in exact integers (blockSum·totalCnt >
    * totalSum·blockCnt) so no division ever touches the hash
    * (determinism house rule). Images sharing (dims, ahash) are near-dup
    * candidates; reported as the 10 largest candidate buckets with their
    * min-doc representative (the dedup-keeper convention).
    *
    * Scale posture (100 TB): the hash is one partition-wise codec pass —
    * raw image bytes never shuffle, only the 8-byte hash + dims move —
    * and the bucket census is a hash-partitioned groupBy: exactly the
    * MinHash-LSH banding shape with ahash as the band key, so the same
    * candidate-pair machinery (and q_cc_dedup's component closure)
    * composes downstream unchanged.
    */
  private val imagePhash = Q(
    "q_image_phash",
    (spark, dir) => {
      val hashes = docIds(spark, dir)
        .mapPartitions(_.map { id =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(makePng(id)))
          val w = img.getWidth; val h = img.getHeight
          val bs = new Array[Long](16); val bc = new Array[Long](16)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val b = (y * 4 / h) * 4 + (x * 4 / w)
              bs(b) += img.getRGB(x, y) & 0xff
              bc(b) += 1
              x += 1
            }
            y += 1
          }
          var ts = 0L; var tc = 0L; var i = 0
          while (i < 16) { ts += bs(i); tc += bc(i); i += 1 }
          var hash = 0L
          i = 0
          while (i < 16) {
            if (bs(i) * tc > ts * bc(i)) hash |= 1L << i
            i += 1
          }
          (id, w, h, hash)
        })(Encoders.product[(Long, Int, Int, Long)])
        .toDF("doc_id", "width", "height", "ahash")
      hashes.groupBy(col("width"), col("height"), col("ahash"))
        .agg(count(lit(1)).cast("bigint").as("n_images"),
          min(col("doc_id")).cast("bigint").as("min_doc"))
        .orderBy(col("n_images").desc, col("width"), col("height"), col("ahash"))
        .limit(10)
    },
    Some("""WITH dims AS (SELECT doc_id,
                  CAST(doc_id % 13 + 4 AS INT) AS w,
                  CAST(doc_id % 11 + 4 AS INT) AS h
                FROM documents),
            px AS (SELECT doc_id, w, h,
                  ((y.i * 4) // h) * 4 + ((x.i * 4) // w) AS b,
                  (doc_id * 31 + x.i * 7 + y.i * 13) % 256 AS v
                FROM dims,
                     UNNEST(generate_series(0, w - 1)) AS x(i),
                     UNNEST(generate_series(0, h - 1)) AS y(i)),
            blk AS (SELECT doc_id, w, h, b, SUM(v) AS bs, COUNT(*) AS bc
                FROM px GROUP BY doc_id, w, h, b),
            tot AS (SELECT doc_id, SUM(bs) AS ts, SUM(bc) AS tc
                FROM blk GROUP BY doc_id),
            hsh AS (SELECT blk.doc_id AS doc_id, w, h,
                  SUM(CASE WHEN blk.bs * tot.tc > tot.ts * blk.bc
                           THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS ahash
                FROM blk JOIN tot ON blk.doc_id = tot.doc_id
                GROUP BY blk.doc_id, w, h)
            SELECT w AS width, h AS height, CAST(ahash AS BIGINT) AS ahash,
              CAST(COUNT(*) AS BIGINT) AS n_images,
              CAST(MIN(doc_id) AS BIGINT) AS min_doc
            FROM hsh GROUP BY 1, 2, 3
            ORDER BY n_images DESC, width, height, ahash LIMIT 10"""))

  /** Perceptual-hash AUDIO dedup — the last modality without a near-dup
    * operator (text: MinHash/SimHash/n-gram/exact; embeddings: cosine/LSH;
    * images: q_image_phash; audio had only q_audio_decode). Energy-envelope
    * block hash, the audio analog of block-mean aHash: decode the REAL WAV
    * through the cached SPI reader, partition the sample stream into a
    * fixed 16-block grid by integer floors (b = i·16/n — no resampling, so
    * the oracle replays it exactly), accumulate per-block absolute
    * amplitude, set bit b when that block's mean |amplitude| exceeds the
    * clip's global mean. The comparison is cross-multiplied in exact
    * integers (bs·tc > ts·bc) so no division touches the hash (house
    * rule). Clips sharing a 16-bit envelope hash are near-dup candidates
    * regardless of length — reported as the 10 largest buckets with their
    * min-doc representative (the dedup-keeper convention).
    *
    * Scale posture (100 TB): one partition-wise codec pass — raw audio
    * bytes never shuffle, only the 8-byte hash moves — then a
    * hash-partitioned bucket census: the LSH banding shape with the
    * envelope hash as band key, composable with q_cc_dedup downstream
    * exactly like q_image_phash.
    */
  private val audioPhash = Q(
    "q_audio_phash",
    (spark, dir) => {
      val hashes = docIds(spark, dir)
        .mapPartitions(_.map { id =>
          val in = new java.io.ByteArrayInputStream(makeWav(id))
          val ais = wavReader match {
            case Some(rd) => rd.getAudioInputStream(in)
            case None     => javax.sound.sampled.AudioSystem.getAudioInputStream(in)
          }
          val n = ais.getFrameLength.toInt
          val pcm = ais.readAllBytes()
          val bs = new Array[Long](16); val bc = new Array[Long](16)
          var i = 0
          while (i < n) {
            val v = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toInt
            val b = i * 16 / n
            bs(b) += math.abs(v)
            bc(b) += 1
            i += 1
          }
          var ts = 0L; var tc = 0L; var j = 0
          while (j < 16) { ts += bs(j); tc += bc(j); j += 1 }
          var hash = 0L
          j = 0
          while (j < 16) {
            if (bs(j) * tc > ts * bc(j)) hash |= 1L << j
            j += 1
          }
          (id, hash)
        })(Encoders.product[(Long, Long)])
        .toDF("doc_id", "ahash")
      hashes.groupBy(col("ahash"))
        .agg(count(lit(1)).cast("bigint").as("n_clips"),
          min(col("doc_id")).cast("bigint").as("min_doc"))
        .orderBy(col("n_clips").desc, col("ahash"))
        .limit(10)
    },
    Some("""WITH dims AS (SELECT doc_id, CAST(doc_id % 400 + 100 AS BIGINT) AS n
                FROM documents),
            s AS (SELECT doc_id, n, t.i AS i,
                  ABS((doc_id * 131 + t.i * 17) % 2001 - 1000) AS a
                FROM dims, UNNEST(generate_series(0, n - 1)) AS t(i)),
            blk AS (SELECT doc_id, (i * 16) // n AS b, SUM(a) AS bs, COUNT(*) AS bc
                FROM s GROUP BY doc_id, (i * 16) // n),
            tot AS (SELECT doc_id, SUM(bs) AS ts, SUM(bc) AS tc
                FROM blk GROUP BY doc_id),
            hsh AS (SELECT blk.doc_id AS doc_id,
                  SUM(CASE WHEN blk.bs * tot.tc > tot.ts * blk.bc
                           THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS ahash
                FROM blk JOIN tot ON blk.doc_id = tot.doc_id
                GROUP BY blk.doc_id)
            SELECT CAST(ahash AS BIGINT) AS ahash,
              CAST(COUNT(*) AS BIGINT) AS n_clips,
              CAST(MIN(doc_id) AS BIGINT) AS min_doc
            FROM hsh GROUP BY 1
            ORDER BY n_clips DESC, ahash LIMIT 10"""))

  /** TEMPORAL perceptual hash for video — the frame-sequence analog of
    * q_image_phash (which hashes one frame's spatial blocks): decode the
    * real multi-frame GIF, treat each FRAME as a block of the temporal
    * grid, set bit f when frame f's mean brightness exceeds the clip's
    * global mean. Since every frame has the same w·h pixel count the
    * cross-multiplied integer comparison reduces to fs·nf > ts — still
    * division-free (house rule). This is how shot-level video dedup works
    * in production (per-frame signatures → sequence signature); clips
    * sharing (dims, n_frames, thash) are near-dup candidates, reported as
    * the 10 largest buckets with their min-doc representative.
    *
    * Scale posture (100 TB): one partition-wise codec pass — frame pixels
    * never shuffle, only the signature row moves — then the same
    * hash-partitioned banding census as q_image_phash / q_audio_phash;
    * the three modality hashes compose with the identical downstream
    * candidate machinery (q_cc_dedup closure, pairwise verify).
    */
  private val videoPhash = Q(
    "q_video_phash",
    (spark, dir) => {
      val hashes = docIds(spark, dir)
        .mapPartitions(_.map { id =>
          val (fs, w, h) = gifFrameSums(makeGif(id))
          val n = fs.length
          var ts = 0L; var j = 0
          while (j < n) { ts += fs(j); j += 1 }
          var hash = 0L
          j = 0
          while (j < n) {
            if (fs(j) * n > ts) hash |= 1L << j
            j += 1
          }
          (id, w, h, n, hash)
        })(Encoders.product[(Long, Int, Int, Int, Long)])
        .toDF("doc_id", "width", "height", "n_frames", "thash")
      hashes.groupBy(col("width"), col("height"), col("n_frames"), col("thash"))
        .agg(count(lit(1)).cast("bigint").as("n_clips"),
          min(col("doc_id")).cast("bigint").as("min_doc"))
        .orderBy(col("n_clips").desc, col("width"), col("height"),
          col("n_frames"), col("thash"))
        .limit(10)
    },
    Some("""WITH dims AS (SELECT doc_id,
                  CAST(doc_id % 7 + 4 AS INT) AS w,
                  CAST(doc_id % 5 + 4 AS INT) AS h,
                  CAST(doc_id % 5 + 2 AS INT) AS nf
                FROM documents),
            px AS (SELECT doc_id, w, h, nf, f.i AS f,
                  (doc_id * 31 + f.i * 101 + x.i * 7 + y.i * 13) % 256 AS v
                FROM dims,
                     UNNEST(generate_series(0, nf - 1)) AS f(i),
                     UNNEST(generate_series(0, w - 1)) AS x(i),
                     UNNEST(generate_series(0, h - 1)) AS y(i)),
            frm AS (SELECT doc_id, w, h, nf, f, SUM(v) AS fs
                FROM px GROUP BY doc_id, w, h, nf, f),
            tot AS (SELECT doc_id, SUM(fs) AS ts FROM frm GROUP BY doc_id),
            hsh AS (SELECT frm.doc_id AS doc_id, w, h, nf,
                  SUM(CASE WHEN frm.fs * nf > tot.ts
                           THEN CAST(1 AS BIGINT) << f ELSE 0 END) AS thash
                FROM frm JOIN tot ON frm.doc_id = tot.doc_id
                GROUP BY frm.doc_id, w, h, nf)
            SELECT w AS width, h AS height, nf AS n_frames,
              CAST(thash AS BIGINT) AS thash,
              CAST(COUNT(*) AS BIGINT) AS n_clips,
              CAST(MIN(doc_id) AS BIGINT) AS min_doc
            FROM hsh GROUP BY 1, 2, 3, 4
            ORDER BY n_clips DESC, width, height, n_frames, thash LIMIT 10"""))

  val all: Seq[Q] = Seq(multimodalDecode, multimodalPipeline, imageDecode,
    audioDecode, imageResize, videoFrames, imagePhash, audioPhash, videoPhash)
}
