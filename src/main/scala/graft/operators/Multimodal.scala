package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.Digest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A decoded media record: opaque payload + typed metadata. */
case class MediaRecord(doc_id: Long, payload: Array[Byte], format: String,
                       declared_len: Long)

/** Features extracted from one media payload. */
case class MediaFeatures(doc_id: Long, format: String, byte_len: Long,
                         content_hash: String, feat_norm: Long)

/** A fixed-width feature vector extracted from one media payload. */
case class MediaHist(doc_id: Long, format: String, hist: Array[Long])

/** Features from a REAL image decode: dimensions, decoded-pixel hash, and
  * two position-weighted integer checksums over the decoded 24-bit pixels
  * (Σ (pos+1)·rgb and Σ (pos+1)·rgb², row-major pos) — integer-exact
  * functions of the RECOVERED pixels that a SQL oracle can recompute from
  * the fixture's closed form, which the md5 cannot be.
  */
case class ImageFeatures(doc_id: Long, format: String, width: Long,
                         height: Long, pixel_hash: String,
                         pix_csum: Long, pix_csum2: Long)

/** Features from a REAL audio decode: frame count, rate, integer energy
  * (sum of |sample|), a hash of the decoded PCM, and the position-weighted
  * checksum Σ (i+1)·sample — the PCM twin of [[ImageFeatures]]'s csum.
  */
case class AudioFeatures(doc_id: Long, n_samples: Long, sample_rate: Long,
                         energy: Long, pcm_hash: String, pcm_csum: Long)

/** A perceptual (average) hash of one decoded image variant. */
case class PerceptualHash(doc_id: Long, variant: String, width: Long,
                          height: Long, ahash: Long)

/** Multimodal-column surface (north star: image/audio/video as opaque
  * binary + typed metadata, decoded per partition in batches).
  *
  * Image decode is REAL where the check can be real: q195 round-trips
  * genuine PNG bytes through JDK ImageIO (encode → binary column →
  * partition-batched decode → dims + decoded-pixel hash), and
  * MultimodalSpec pins exact pixel recovery. The md5-of-bytes stand-in
  * ([[Multimodal.decodeStub]]) remains only on q95/q100, whose DuckDB
  * oracles must replay the feature in SQL — that needs byte-determinism
  * SQL can express, which decoded pixels are not. Audio is real where the
  * JDK ships a codec: q217 round-trips genuine RIFF/WAVE PCM through
  * javax.sound.sampled; compressed audio (mp3/ogg) and video codecs are
  * absent from the container, so those formats stay on the stub path.
  * Everything around the decoders — binary column + metadata struct
  * schema, partition-batched processing through a typed `mapPartitions`
  * (the Scala analog of `mapInPandas` batch shape), per-frame sampling —
  * is real Spark plumbing and oracle-verified.
  *
  * Scale shape: payload bytes never shuffle. The decode/feature stage is a
  * per-partition map; only fixed-width features and hashes leave the scan
  * stage. Frame sampling explodes bounded sequences (n_frames per row), not
  * unbounded data.
  */
object Multimodal extends QueryModule {

  /** Real PNG decode via JDK ImageIO (zero new dependencies): parses the
    * container for real and hashes the decoded ARGB pixel grid, so two
    * byte-different encodings of the same pixels fingerprint identically
    * — the property the md5-of-bytes stub cannot give. Used by q195's
    * encode→decode roundtrip and MultimodalSpec; q95/q100 keep the stub
    * because their DuckDB oracles replay md5-of-payload-bytes, which only
    * byte-deterministic inputs support.
    */
  private[operators] def decodeImage(r: MediaRecord): ImageFeatures = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.payload))
    require(img != null, s"undecodable image payload for doc ${r.doc_id}")
    val (w, h) = (img.getWidth, img.getHeight)
    val buf = java.nio.ByteBuffer.allocate(w * h * 4)
    // the checksums are over the 24-bit rgb in row-major order; bounds:
    // weight ≤ w·h ≤ 48, rgb² < 2^48 → Σ (pos+1)·rgb² < 48·48·2^48 ≈ 6e17,
    // inside Long
    var csum = 0L
    var csum2 = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val argb = img.getRGB(x, y)
        buf.putInt(argb)
        val rgb = (argb & 0xffffff).toLong
        val wgt = (y * w + x + 1).toLong
        csum += wgt * rgb
        csum2 += wgt * rgb * rgb
        x += 1
      }
      y += 1
    }
    ImageFeatures(r.doc_id, r.format, w.toLong, h.toLong,
      Digest.md5Hex(buf.array), csum, csum2)
  }

  /** Deterministic fixture pixel: RGB for (id, x, y). Shared by the q195
    * encoder and the spec's independent expectation (which recomputes the
    * hash from this formula WITHOUT going through ImageIO).
    */
  private[operators] def pixel(id: Long, x: Int, y: Int): Int =
    ((id * 2654435761L + y * 131L + x * 17L) & 0xffffffL).toInt

  /** Encode the fixture image for `id` as real PNG bytes. */
  private[operators] def encodePng(id: Long, w: Int, h: Int): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixel(id, x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Fixture image dimensions for `id` (small and varied). */
  private[operators] def fixtureDims(id: Long): (Int, Int) =
    (4 + (id % 5).toInt, 3 + (id % 4).toInt)

  /** Fixture PCM sample for (id, i): deterministic 16-bit signed value,
    * shared by the q217 encoder and the spec's independent expectation.
    */
  private[operators] def pcmSample(id: Long, i: Int): Short = {
    val m = (id * 2654435761L + i.toLong * 104729L) % 65536L
    (((m + 65536L) % 65536L) - 32768L).toShort
  }

  /** Fixture clip length for `id` (small and varied). */
  private[operators] def fixtureSamples(id: Long): Int = 800 + (id % 7).toInt * 160

  /** Encode the fixture clip for `id` as a real RIFF/WAVE container
    * (16-bit little-endian mono PCM at 16 kHz) via the JDK's
    * javax.sound.sampled — the audio twin of [[encodePng]], zero new
    * dependencies.
    */
  private[operators] def encodeWav(id: Long): Array[Byte] = {
    import javax.sound.sampled._
    val n = fixtureSamples(id)
    val raw = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = pcmSample(id, i)
      raw(i * 2) = (s & 0xff).toByte
      raw(i * 2 + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(16000f, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Real WAV decode via javax.sound.sampled: parses the RIFF container
    * for real and fingerprints the DECODED PCM frames, so the output
    * depends only on the recovered samples — any spec-compliant WAV
    * reader yields the same rows (the same property that makes q195 a
    * decode test rather than a byte-hash test). Energy is the exact
    * integer sum of |sample| — the loudness feature an audio-corpus
    * quality gate thresholds on.
    */
  private[operators] def decodeWav(r: MediaRecord): AudioFeatures = {
    import javax.sound.sampled._
    val ais = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(r.payload))
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
      !fmt.isBigEndian, s"unexpected PCM layout for doc ${r.doc_id}")
    val bytes = ais.readAllBytes()
    val n = bytes.length / 2
    var energy = 0L
    var csum = 0L
    var i = 0
    while (i < n) {
      val s = ((bytes(i * 2 + 1).toInt << 8) | (bytes(i * 2) & 0xff)).toShort
      energy += math.abs(s.toLong)
      csum += (i + 1).toLong * s.toLong // |Σ| < n²·2^15 ≈ 1e11, inside Long
      i += 1
    }
    AudioFeatures(r.doc_id, n.toLong, fmt.getSampleRate.toLong, energy,
      Digest.md5Hex(bytes), csum)
  }

  /** ====== STUB ======
    * Deterministic stand-in for a media decoder where the ORACLE needs
    * byte-determinism (md5-of-payload is replayable in DuckDB; decoded
    * pixels are not): md5 content hash + a fake "feature" (sum of payload
    * bytes). The REAL decode path is [[decodeImage]]/q195.
    */
  private def decodeStub(r: MediaRecord): MediaFeatures = {
    val hash = Digest.md5Hex(r.payload)
    val featNorm = r.payload.foldLeft(0L)((a, b) => a + (b & 0xff))
    MediaFeatures(r.doc_id, r.format, r.payload.length.toLong, hash, featNorm)
  }

  /** The documents table dressed as a media table: payload = utf-8 bytes of
    * the text (stand-in for image/audio bytes), metadata from real columns.
    */
  private def media(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      concat(lit("fake/"), col("source")).as("format"),
      col("n_chars").cast(LongType).as("declared_len"))

  /** q95: partition-batched decode + feature extraction through a typed
    * Dataset `mapPartitions` — the decoder runs once per partition batch,
    * exactly how a heavyweight codec handle would be amortized.
    */
  private def q95(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d).as[MediaRecord]
      .mapPartitions(_.map(decodeStub)) // one decoder per partition batch
      .toDF()
      .select(col("doc_id"), col("format"), col("byte_len"),
        col("content_hash"), col("feat_norm"))
      .orderBy(col("doc_id"))
  }

  // documents text is ascii (single-byte) — byte_len == length(text); the
  // byte-sum "feature" is the sum of code points for ascii payloads
  private val q95Sql =
    """SELECT doc_id, 'fake/' || source AS format,
      |  CAST(strlen(text) AS BIGINT) AS byte_len,
      |  md5(text) AS content_hash,
      |  CAST(list_sum(list_transform(range(1, strlen(text)+1),
      |       i -> ord(substr(text, i, 1)))) AS BIGINT) AS feat_norm
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q96: frame sampling — split each payload into fixed 64-byte frames,
    * keep every 4th, hash each kept frame (video keyframe-sampling shape:
    * explode a bounded per-row sequence, never materialize all frames).
    */
  private def q96(s: SparkSession, d: String): DataFrame =
    media(s, d)
      .withColumn("n_frames", ceil(col("declared_len") / lit(64.0)).cast(LongType))
      // guard n_frames > 0: Spark's sequence(0, -1) yields a DESCENDING
      // [0, -1] rather than an empty sequence, so an empty payload would
      // wrongly emit frame 0 (DuckDB's range(0, 0) is empty)
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("payload"), col("n_frames"),
        explode(expr("filter(sequence(0, CAST(n_frames AS INT) - 1), f -> f % 4 = 0)")).as("frame"))
      .select(
        col("doc_id"), col("n_frames"), col("frame").cast(LongType).as("frame"),
        md5(expr("substring(payload, CAST(frame AS INT) * 64 + 1, 64)")).as("frame_hash"))
      .orderBy(col("doc_id"), col("frame"))

  private val q96Sql =
    """SELECT doc_id, n_frames, frame, md5(substr(text, frame * 64 + 1, 64)) AS frame_hash
      |FROM (
      |  SELECT doc_id, text, CAST(CEIL(strlen(text) / 64.0) AS BIGINT) AS n_frames,
      |         unnest(list_filter(range(0, CAST(CEIL(strlen(text) / 64.0) AS BIGINT)),
      |                f -> f % 4 = 0)) AS frame
      |  FROM documents
      |) ORDER BY doc_id, frame""".stripMargin

  /** q97: resize — stride-downsample each payload to 1/4 (the image-resize
    * analog on opaque bytes: deterministic stride sampling stands in for a
    * real interpolating resampler), emitting the resized length and
    * content hash. Per-row projection, no shuffle.
    */
  private def q97(s: SparkSession, d: String): DataFrame =
    media(s, d)
      .withColumn("txt", decode(col("payload"), "UTF-8")) // "decode" step of the resize path
      .select(
        col("doc_id"),
        expr("""array_join(transform(
            filter(sequence(1, CAST(declared_len AS INT)), i -> (i - 1) % 4 = 0),
            i -> substring(txt, i, 1)), '')""").as("resized"))
      .select(
        col("doc_id"),
        length(col("resized")).cast(LongType).as("resized_len"),
        md5(col("resized")).as("resized_hash"))
      .orderBy(col("doc_id"))

  private val q97Sql =
    """SELECT doc_id,
      |  CAST(strlen(resized) AS BIGINT) AS resized_len,
      |  md5(resized) AS resized_hash
      |FROM (
      |  SELECT doc_id,
      |    array_to_string(list_transform(range(1, strlen(text) + 1, 4),
      |      i -> substr(text, CAST(i AS INT), 1)), '') AS resized
      |  FROM documents
      |) ORDER BY doc_id""".stripMargin

  /** q100: feature extraction + corpus reduce — each payload is mapped to
    * a fixed-width feature vector (8-bin byte histogram; the stand-in for
    * an embedding or color-histogram extractor) inside the same partition-batched
    * typed `mapPartitions` as q95, then reduced element-wise per format.
    * Scale shape: payload bytes never leave the scan stage — only the
    * 8-long vector shuffles into the partial-agg; the element-wise
    * reduction is 8 codegen'd integer sums, not an array UDAF.
    */
  private def q100(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val feats = media(s, d).as[MediaRecord]
      .mapPartitions(_.map { r =>
        val h = new Array[Long](8)
        r.payload.foreach(b => h((b & 0xff) >> 5) += 1L)
        MediaHist(r.doc_id, r.format, h)
      })
      .toDF()
    feats.groupBy(col("format"))
      .agg(
        count(lit(1)).as("n_media"),
        // serialize the fixed-width vector for the result surface: the
        // driver's oracle compare hashes scalar cells only
        concat_ws(",", array((0 until 8).map(i =>
          sum(col("hist")(i)).cast(LongType)): _*)).as("hist"))
      .orderBy(col("format"))
  }

  // ascii payloads: byte value == ord(char), so bin = ord // 32 (bins 4-7
  // stay zero but remain part of the fixed-width vector)
  private val q100Sql =
    """WITH m AS (SELECT 'fake/' || source AS format, doc_id, text FROM documents),
      |n AS (SELECT format, CAST(COUNT(*) AS BIGINT) AS n_media FROM m GROUP BY 1),
      |c AS (
      |  SELECT format, ord(substr(text, i, 1)) // 32 AS bin
      |  FROM (SELECT format, text, unnest(range(1, strlen(text) + 1)) AS i FROM m)),
      |h AS (
      |  SELECT format, [
      |    CAST(COALESCE(SUM(CASE WHEN bin = 0 THEN 1 END), 0) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN bin = 1 THEN 1 END), 0) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN bin = 2 THEN 1 END), 0) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN bin = 3 THEN 1 END), 0) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN bin = 4 THEN 1 END), 0) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN bin = 5 THEN 1 END), 0) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN bin = 6 THEN 1 END), 0) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN bin = 7 THEN 1 END), 0) AS BIGINT)] AS hist
      |  FROM c GROUP BY format)
      |SELECT n.format, n.n_media,
      |  array_to_string(COALESCE(h.hist, [CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0, 0]), ',') AS hist
      |FROM n LEFT JOIN h ON n.format = h.format
      |ORDER BY n.format""".stripMargin

  /** q195: REAL image decode — each document's fixture image is encoded
    * to genuine PNG bytes (binary payload column) and decoded back with
    * JDK ImageIO inside the same partition-batched typed `mapPartitions`
    * as q95; output is (dims, decoded-pixel hash). The output depends
    * only on the recovered PIXELS — any spec-compliant PNG encoder
    * yields the same rows — which is exactly what makes it a decode
    * test rather than a byte-hash test. Oracle-checked (r7 verdict #8):
    * SQL cannot decode PNG, but the emitted columns are integer-exact
    * functions of the decoded pixels — dims plus two position-weighted
    * checksums — and the fixture pixel is a closed integer form of
    * (doc_id, x, y), so DuckDB recomputes the SAME columns from the
    * formula without any decoder. A decode that recovered even one wrong
    * pixel shifts both weighted sums. The md5-of-pixels fingerprint stays
    * pinned bit-for-bit in MultimodalSpec (it cannot travel through a SQL
    * oracle).
    *
    * Scale shape: identical to q95 — payload bytes are born and die
    * inside one partition; only fixed-width features leave the stage.
    */
  private def q195(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).filter(col("doc_id") < 50)
      .as[Long]
      .mapPartitions(_.map { id =>
        val (w, h) = fixtureDims(id)
        MediaRecord(id, encodePng(id, w, h), "image/png", (w * h).toLong)
      })
      .mapPartitions(_.map(decodeImage)) // one ImageIO reader per batch
      .toDF()
      .select(col("doc_id"), col("width"), col("height"),
        col("pix_csum"), col("pix_csum2"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of q195/q215's decoded-pixel checksums from the fixture
    * closed form: w=4+id%5, h=3+id%4, rgb(x,y) = (id·2654435761 + y·131 +
    * x·17) mod 2^24 (the `& 0xffffff` of [[pixel]] — the argument is
    * non-negative, so mod = mask), weight = row-major position + 1.
    */
  private val pngChecksumSql =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
      |ys AS (SELECT doc_id, 4 + doc_id % 5 AS w,
      |              unnest(range(0, 3 + doc_id % 4)) AS y FROM ids),
      |px AS (SELECT doc_id, w, y, unnest(range(0, w)) AS x FROM ys),
      |v AS (SELECT doc_id, w, (y * w + x + 1) AS wgt,
      |             (doc_id * 2654435761 + y * 131 + x * 17) % 16777216 AS rgb
      |      FROM px)
      |SELECT doc_id,
      |  CAST(MAX(w) AS BIGINT) AS width,
      |  CAST(3 + doc_id % 4 AS BIGINT) AS height,
      |  CAST(SUM(wgt * rgb) AS BIGINT) AS pix_csum,
      |  CAST(SUM(wgt * rgb * rgb) AS BIGINT) AS pix_csum2
      |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q217: REAL audio decode — the WAV twin of q195. Each document's
    * fixture clip is encoded to a genuine RIFF/WAVE container (binary
    * payload column) and decoded back with javax.sound.sampled inside the
    * same partition-batched typed `mapPartitions`; output is (frame
    * count, rate, integer energy, decoded-PCM hash). This retires the
    * "audio stays on the stub path" caveat for the one audio container
    * the JDK ships a codec for; compressed codecs (mp3/ogg) remain
    * stubbed, as the container has no decoder. Oracle-checked (r7 verdict
    * #8, same scheme as q195): SQL cannot parse RIFF, but every emitted
    * column — frame count, rate, Σ|sample|, Σ (i+1)·sample — is an
    * integer-exact function of the DECODED samples, and the fixture
    * sample is a closed integer form of (doc_id, i), so DuckDB recomputes
    * them all without a decoder. The decoded-PCM md5 stays pinned
    * bit-for-bit in MultimodalSpec.
    *
    * Scale shape: identical to q95/q195 — payload bytes are born and die
    * inside one partition; only fixed-width features leave the stage.
    */
  private def q217(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).filter(col("doc_id") < 50)
      .as[Long]
      .mapPartitions(_.map { id =>
        MediaRecord(id, encodeWav(id), "audio/wav", fixtureSamples(id).toLong)
      })
      .mapPartitions(_.map(decodeWav)) // one decoder per partition batch
      .toDF()
      .select(col("doc_id"), col("n_samples"), col("sample_rate"),
        col("energy"), col("pcm_csum"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of q217's decoded-PCM features from the fixture closed
    * form: n = 800 + (id%7)·160, sample(i) = (id·2654435761 + i·104729)
    * mod 2^16 − 32768 (the unsigned-to-signed fold of [[pcmSample]]).
    */
  private val wavChecksumSql =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
      |s AS (SELECT doc_id,
      |             unnest(range(0, 800 + (doc_id % 7) * 160)) AS i FROM ids),
      |v AS (SELECT doc_id, i,
      |             (doc_id * 2654435761 + i * 104729) % 65536 - 32768 AS smp
      |      FROM s)
      |SELECT doc_id,
      |  CAST(800 + (doc_id % 7) * 160 AS BIGINT) AS n_samples,
      |  CAST(16000 AS BIGINT) AS sample_rate,
      |  CAST(SUM(ABS(smp)) AS BIGINT) AS energy,
      |  CAST(SUM((i + 1) * smp) AS BIGINT) AS pcm_csum
      |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Land the q195 fixture PNGs as individual files once per
    * (session, dataset) — the reference's land-then-re-read cycle
    * (`main.py:187-199` → the `data` dir) applied to binary artifacts. The
    * staging dir is keyed by applicationId + sanitized dataset path
    * (same non-racing scheme as q203's ORC round trip) and published by
    * an atomic rename, so a partially-written corpus is never readable.
    * The 50-file fixture corpus is written driver-side (bounded — it IS
    * the fixture); at real scale the land step is itself a distributed
    * write and only the re-read side below changes size.
    */
  private val landLock = new Object
  private[operators] def landedPngDir(s: SparkSession, d: String): String =
    landLock.synchronized {
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_png_${s.sparkContext.applicationId}_" +
          d.replaceAll("[^A-Za-z0-9.-]", "_"))
      if (!root.exists()) {
        import s.implicits._
        val ids = Tables.documents(s, d).select(col("doc_id"))
          .filter(col("doc_id") < 50).as[Long].collect().sorted
        val tmp = new java.io.File(root.getParentFile, root.getName + ".staging")
        if (tmp.exists()) { tmp.listFiles().foreach(_.delete()); tmp.delete() }
        tmp.mkdirs()
        ids.foreach { id =>
          val (w, h) = fixtureDims(id)
          java.nio.file.Files.write(
            new java.io.File(tmp, f"doc_$id%05d.png").toPath,
            encodePng(id, w, h))
        }
        require(tmp.renameTo(root), s"atomic publish of $root failed")
      }
      graft.StagingDirs.register(root.getAbsolutePath)
    }

  /** q215: binaryFile ingestion — the REAL on-disk surface for images.
    * q195 synthesizes payload bytes in-plan; here the same fixture PNGs
    * are landed as files and re-read through Spark's `binaryFile` source
    * (path, modificationTime, length, content), with the doc id recovered
    * from the filename and the pixels decoded from the `content` column.
    * MultimodalSpec pins the output row-identical to q195 and the scan
    * node to a binaryFile FileScan. Oracle-checked like q195 (same
    * checksum replay — the landed files carry the same fixture pixels).
    *
    * Scale shape: binaryFile splits per FILE (one row per artifact), so a
    * 100 TB image corpus parallelizes across files with no splitting
    * hazard; `pathGlobFilter` prunes non-image artifacts at listing time;
    * payload bytes are born in the scan and die in the same-stage decode
    * — only fixed-width features leave it.
    */
  private def q215(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = landedPngDir(s, d)
    val FileId = ".*doc_(\\d+)\\.png$".r
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.png")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (path, bytes) =>
        val id = path match { case FileId(n) => n.toLong }
        decodeImage(MediaRecord(id, bytes, "image/png", bytes.length.toLong))
      })
      .toDF()
      .select(col("doc_id"), col("width"), col("height"),
        col("pix_csum"), col("pix_csum2"))
      .orderBy(col("doc_id"))
  }

  /** Average-hash of a decoded image (LAION-style perceptual dedup): the
    * per-pixel integer gray vs the image's mean gray, one bit per pixel
    * (row-major `y·w+x`), division-free (`gray·n > Σgray`) so the bit
    * pattern is integer-exact and a SQL oracle replays it from the
    * fixture's closed form. Fixture grids are ≤ 8×6 → the hash fits a
    * Long without the canonical 8×8 resample step (which would only add
    * a second interpolation formula to verify, not a new property).
    */
  private[operators] def aHashImage(r: MediaRecord): PerceptualHash = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.payload))
    require(img != null, s"undecodable image payload for doc ${r.doc_id}")
    val (w, h) = (img.getWidth, img.getHeight)
    val grays = new Array[Long](w * h)
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y) & 0xffffff
        val g = ((rgb >> 16) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
        grays(y * w + x) = g.toLong
        sum += g
        x += 1
      }
      y += 1
    }
    val n = (w * h).toLong
    var hash = 0L
    var i = 0
    while (i < grays.length) {
      if (grays(i) * n > sum) hash |= 1L << i
      i += 1
    }
    PerceptualHash(r.doc_id, r.format, w.toLong, h.toLong, hash)
  }

  /** The fixture image re-encoded after a uniform +delta brightness shift
    * with per-channel saturation — a byte-level DIFFERENT PNG holding a
    * perceptually near-identical picture.
    */
  private[operators] def encodePngBright(id: Long, w: Int, h: Int,
                                         delta: Int): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = pixel(id, x, y)
      val r = math.min((rgb >> 16) + delta, 255)
      val g = math.min(((rgb >> 8) & 0xff) + delta, 255)
      val b = math.min((rgb & 0xff) + delta, 255)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** q356: PERCEPTUAL near-dup IMAGE dedup — the multimodal twin of the
    * text near-dup family (q74/q75): every fixture image ships in two
    * BYTE-DIFFERENT encodings (the original and a +3 brightness-shifted
    * re-encode), exact byte dedup (md5 of payload) catches NONE of the
    * pairs — the negative control the output carries — while the
    * average-hash of the DECODED pixels lands within a small Hamming
    * radius for almost every pair (bit flips only where a gray sat at the
    * threshold or saturated at 255), which is precisely why image
    * pipelines dedup on perceptual hashes, not bytes. Both variants run
    * the REAL path: encode to genuine PNG, decode with ImageIO, hash the
    * recovered pixels; the oracle replays hash/Hamming/verdict from the
    * fixture's closed form (the q195 discipline), so a decoder that
    * recovered one wrong pixel breaks the compare.
    *
    * Scale: payload bytes are born and die inside one partition (the
    * module's invariant); only 64-bit hashes leave the stage, and the
    * variant pairing is a doc_id-keyed join of hash rows. At corpus
    * scale the pairing generalizes to the q75 band-bucket join over
    * hash prefixes — same downstream plan as text LSH.
    */
  private def q356(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val both = Tables.documents(s, d).select(col("doc_id"))
      .filter(col("doc_id") < 50).as[Long]
      .mapPartitions(_.flatMap { id =>
        val (w, h) = fixtureDims(id)
        Seq(
          MediaRecord(id, encodePng(id, w, h), "a", (w * h).toLong),
          MediaRecord(id, encodePngBright(id, w, h, 3), "b", (w * h).toLong))
      })
    val hashed = both
      .mapPartitions(_.map { r =>
        val ph = aHashImage(r)
        (ph.doc_id, ph.variant, ph.width, ph.height, ph.ahash,
          Digest.md5Hex(r.payload))
      })
      .toDF("doc_id", "variant", "width", "height", "ahash", "byte_md5")
    val a = hashed.filter(col("variant") === "a")
      .select(col("doc_id"), col("width"), col("height"),
        col("ahash").as("hash_a"), col("byte_md5").as("md5_a"))
    val b = hashed.filter(col("variant") === "b")
      .select(col("doc_id"), col("ahash").as("hash_b"),
        col("byte_md5").as("md5_b"))
    a.join(b, "doc_id")
      .select(col("doc_id"), col("width"), col("height"),
        col("hash_a"), col("hash_b"),
        expr("CAST(bit_count(hash_a ^ hash_b) AS BIGINT)").as("hamming"),
        when(expr("bit_count(hash_a ^ hash_b)") <= 2, lit(1L))
          .otherwise(lit(0L)).as("near_dup"),
        when(col("md5_a") === col("md5_b"), lit(1L))
          .otherwise(lit(0L)).as("byte_dup"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of q356 from the fixture closed form: gray channels
    * from the q195 pixel formula, +3 saturated for variant b, the
    * division-free threshold bit `gray·n > Σgray`, row-major bit packing,
    * Hamming via xor/bit_count. byte_dup is identically 0: the two PNG
    * encodings differ by construction (brightness shifts the pixels), so
    * the oracle states the control as a constant.
    */
  private val q356Sql =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
      |ys AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
      |              unnest(range(0, 3 + doc_id % 4)) AS y FROM ids),
      |px AS (SELECT doc_id, w, h, y, unnest(range(0, w)) AS x FROM ys),
      |v AS (SELECT doc_id, w, h, y, x,
      |        (doc_id * 2654435761 + y * 131 + x * 17) % 16777216 AS rgb
      |      FROM px),
      |g AS (SELECT doc_id, w, h, (y * w + x) AS idx,
      |        ((rgb // 65536) + ((rgb // 256) % 256) + (rgb % 256)) // 3 AS ga,
      |        (LEAST((rgb // 65536) + 3, 255) + LEAST(((rgb // 256) % 256) + 3, 255)
      |         + LEAST((rgb % 256) + 3, 255)) // 3 AS gb
      |      FROM v),
      |m AS (SELECT doc_id, SUM(ga) AS sa, SUM(gb) AS sb, COUNT(*) AS n
      |      FROM g GROUP BY doc_id),
      |bits AS (
      |  SELECT g.doc_id, MAX(g.w) AS w, MAX(g.h) AS h,
      |    CAST(SUM(CASE WHEN g.ga * m.n > m.sa
      |         THEN (CAST(1 AS BIGINT) << g.idx) ELSE 0 END) AS BIGINT) AS hash_a,
      |    CAST(SUM(CASE WHEN g.gb * m.n > m.sb
      |         THEN (CAST(1 AS BIGINT) << g.idx) ELSE 0 END) AS BIGINT) AS hash_b
      |  FROM g JOIN m ON g.doc_id = m.doc_id GROUP BY g.doc_id)
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  hash_a, hash_b,
      |  CAST(bit_count(xor(hash_a, hash_b)) AS BIGINT) AS hamming,
      |  CAST(CASE WHEN bit_count(xor(hash_a, hash_b)) <= 2
      |       THEN 1 ELSE 0 END AS BIGINT) AS near_dup,
      |  CAST(0 AS BIGINT) AS byte_dup
      |FROM bits ORDER BY doc_id""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q356_phash_dedup" -> q356,
    "q95_multimodal_decode" -> q95,
    "q96_multimodal_frames" -> q96,
    "q97_multimodal_resize" -> q97,
    "q100_multimodal_features" -> q100,
    "q195_multimodal_imageio" -> q195,
    "q215_multimodal_binaryfile" -> q215,
    "q217_multimodal_wav" -> q217
  )

  override def oracles: Map[String, String] = Map(
    "q356_phash_dedup" -> q356Sql,
    "q95_multimodal_decode" -> q95Sql,
    "q96_multimodal_frames" -> q96Sql,
    "q97_multimodal_resize" -> q97Sql,
    "q100_multimodal_features" -> q100Sql,
    "q195_multimodal_imageio" -> pngChecksumSql,
    "q215_multimodal_binaryfile" -> pngChecksumSql,
    "q217_multimodal_wav" -> wavChecksumSql
  )
}
