package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus distributed feature
  * extraction over the raw bytes.
  *
  * Design for 100 TB: the payload never leaves its partition — metadata
  * and features are computed where the bytes sit (codegen'd builtins for
  * the scalar stats, `mapPartitions` for the imperative extractor), and
  * only small fixed-width results shuffle. The binary column itself is a
  * normal Parquet BYTE_ARRAY: scans prune it away unless selected.
  *
  * Decode is real and dependency-free: [[decodeMeta]] reads image
  * dimensions via the JDK's ImageIO (header-only — no pixel decode) and
  * audio sample rates via javax.sound.sampled, falling back to a
  * deterministic synthetic header for payloads no codec recognizes so
  * the operators stay total over a dirty corpus. [[resize]] does a real
  * bilinear downscale + PNG re-encode for decodable images.
  */
object Multimodal {

  /** A media row: opaque payload + modality tag. */
  final case class MediaItem(id: Long, modality: String, content: Array[Byte])

  /** Typed metadata the (stubbed) decoder yields. */
  final case class MediaMeta(id: Long, modality: String, nBytes: Long,
      width: Int, height: Int, sampleRate: Int)

  /** Per-item fixed-width feature vector (16-bin byte histogram, L1-normalized). */
  final case class MediaFeatures(id: Long, features: Array[Float])

  /** Real media header decode, zero extra dependencies:
    *
    *   - images (PNG/JPEG/GIF/BMP — whatever the JDK's ImageIO registry
    *     knows): width/height come from `ImageReader.getWidth/getHeight`,
    *     which parse the CONTAINER HEADER only — no pixel decode, so the
    *     per-row cost is O(header), not O(pixels), exactly what a
    *     100 TB metadata pass wants;
    *   - audio (WAV/AIFF/AU via `javax.sound.sampled`): sample rate from
    *     `AudioSystem.getAudioFileFormat`, again header-only;
    *   - anything neither stack recognizes falls back to the original
    *     deterministic synthetic header (first bytes → width/height,
    *     length → sampleRate), keeping the function TOTAL over arbitrary
    *     payloads — a dirty 100 TB corpus must never kill the job on one
    *     truncated file.
    *
    * `ImageIO.setUseCache(false)` keeps the readers off executor-local
    * temp files: payloads are already in memory, spilling them back to
    * disk per row would be an I/O storm.
    */
  def decodeMeta(item: MediaItem): MediaMeta = {
    val b = item.content
    imageSize(b) match {
      case Some((w, h)) =>
        MediaMeta(item.id, item.modality, b.length.toLong, w, h, 0)
      case None =>
        audioSampleRate(b) match {
          case Some(sr) => MediaMeta(item.id, item.modality, b.length.toLong, 0, 0, sr)
          case None     => syntheticMeta(item)
        }
    }
  }

  /** Header-only image dimensions via the JDK ImageIO registry; None if no
    * installed reader claims the payload or the header is corrupt.
    */
  private[graft] def imageSize(b: Array[Byte]): Option[(Int, Int)] =
    // one catch-all around the WHOLE codec interaction: reader SPIs'
    // canDecodeInput / header parsing are known to throw unchecked
    // exceptions (not just IOException) on crafted or bit-rotted bytes,
    // and even close() can propagate — none of that may kill a job
    try {
      javax.imageio.ImageIO.setUseCache(false)
      val iis = javax.imageio.ImageIO
        .createImageInputStream(new java.io.ByteArrayInputStream(b))
      if (iis == null) None
      else try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis, true, true)
            Some((r.getWidth(0), r.getHeight(0)))
          } finally r.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => None }

  /** Header-only audio sample rate via javax.sound.sampled; None for
    * non-audio payloads.
    */
  private[ops] def audioSampleRate(b: Array[Byte]): Option[Int] =
    try {
      val fmt = javax.sound.sampled.AudioSystem
        .getAudioFileFormat(new java.io.ByteArrayInputStream(b))
      Some(fmt.getFormat.getSampleRate.toInt)
    } catch { case _: Exception => None }

  /** The deterministic synthetic header for payloads no codec recognizes
    * (and the previous stub's contract, kept so opaque-blob tables — e.g.
    * the documents-as-bytes fixture — still yield stable metadata).
    */
  private[ops] def syntheticMeta(item: MediaItem): MediaMeta = {
    val b = item.content
    def at(i: Int): Int = if (b.length > i) b(i) & 0xff else 0
    MediaMeta(
      id = item.id,
      modality = item.modality,
      nBytes = b.length.toLong,
      width = 1 + at(0) % 64,
      height = 1 + at(1) % 64,
      sampleRate = 8000 + (b.length % 8) * 1000)
  }

  /** Decode metadata for a whole table — one pass, no shuffle: the
    * decoder runs inside each input partition (`mapPartitions`), the
    * Spark-idiomatic shape for per-row imperative work over binary
    * payloads (the Scala analogue of `mapInPandas` batch processing).
    */
  def extractMeta(items: Dataset[MediaItem]): Dataset[MediaMeta] = {
    import items.sparkSession.implicits._
    items.mapPartitions(_.map(decodeMeta))
  }

  /** 16-bin byte histogram, L1-normalized — a real (non-stub) feature
    * extractor: each partition iterates its payloads once and emits a
    * fixed 16-float vector per item.
    */
  def byteHistogram(items: Dataset[MediaItem]): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions(_.map { it =>
      val bins = new Array[Long](16)
      var i = 0
      while (i < it.content.length) {
        bins((it.content(i) & 0xff) >> 4) += 1
        i += 1
      }
      val total = math.max(1L, it.content.length.toLong).toFloat
      MediaFeatures(it.id, bins.map(_ / total))
    })
  }

  /** Payload down-scale, where the bytes sit (`mapPartitions`):
    * decodable images get a REAL bilinear resample (ImageIO decode →
    * Graphics2D scale by 1/factor → PNG re-encode, all JDK-built-in);
    * opaque payloads fall back to deterministic byte decimation (keep
    * every `factor`-th byte) so the operator stays total.
    */
  def resize(items: Dataset[MediaItem], factor: Int = 4): Dataset[MediaItem] = {
    import items.sparkSession.implicits._
    items.mapPartitions(_.map { it =>
      val out = resizeImage(it.content, factor).getOrElse {
        val src = it.content
        val dec = new Array[Byte]((src.length + factor - 1) / factor)
        var i = 0
        while (i < dec.length) { dec(i) = src(i * factor); i += 1 }
        dec
      }
      MediaItem(it.id, it.modality, out)
    })
  }

  /** Bilinear image downscale by 1/`factor`, re-encoded as PNG; None if
    * the payload doesn't decode as an image.
    */
  private[ops] def resizeImage(b: Array[Byte], factor: Int): Option[Array[Byte]] = {
    javax.imageio.ImageIO.setUseCache(false)
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      if (img == null) None
      else {
        val w = math.max(1, img.getWidth / factor)
        val h = math.max(1, img.getHeight / factor)
        val scaled = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = scaled.createGraphics()
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(scaled, "png", bos)
        Some(bos.toByteArray)
      }
    } catch { case _: Exception => None }
  }

  /** Frame sampling: split the payload into fixed `frameBytes` chunks and
    * keep every `stride`-th one — pure builtins (`sequence` + binary
    * `substring`), no data leaves the row.
    */
  def sampleFrames(df: DataFrame, contentCol: String = "content",
      frameBytes: Int = 1024, stride: Int = 10): DataFrame =
    df.withColumn(
      "frames",
      expr(
        s"""transform(
           |  filter(sequence(0, greatest(int(ceil(octet_length($contentCol) / $frameBytes.0)) - 1, 0)),
           |         f -> f % $stride = 0),
           |  f -> substring($contentCol, f * $frameBytes + 1, $frameBytes))""".stripMargin))

  // -------------------------------------------------------------------
  // Perceptual image near-dup: dHash (difference hash) — the LAION-style
  // image dedup primitive. 64-bit hash = 8×8 horizontal-gradient bits of
  // a 9×8 grayscale downscale; near-dups differ in a few bits, so
  // candidates come from the simhash band discipline (4 × 16-bit bands,
  // pigeonhole-complete for hamming <= 3) and exact Hamming verifies.
  // -------------------------------------------------------------------

  /** 64-bit dHash of a payload. Decodable images take the REAL path:
    * ImageIO decode → 9×8 bilinear grayscale (integer ITU-R 601 luma) →
    * gradient bits. Anything else falls back to a deterministic
    * byte-sampled 9×8 grid over the raw payload — same gradient-bit
    * construction, so the operator is TOTAL and the synthetic-payload
    * catalog query (q126) stays oracle-replayable (the q34 discipline).
    * Empty/null payloads hash to 0.
    */
  def dHash64(content: Array[Byte]): Long = {
    val grid =
      if (content == null || content.isEmpty) new Array[Int](72)
      else imageGray9x8(content).getOrElse(byteGrid9x8(content))
    gradientBits(grid)
  }

  /** Row-major 9×8 integer-luma grid of a decodable image; None otherwise. */
  private[ops] def imageGray9x8(b: Array[Byte]): Option[Array[Int]] =
    try {
      javax.imageio.ImageIO.setUseCache(false)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      if (img == null) None
      else {
        val scaled = new java.awt.image.BufferedImage(
          9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = scaled.createGraphics()
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, 9, 8, null)
        g.dispose()
        val grid = new Array[Int](72)
        var r = 0
        while (r < 8) {
          var c = 0
          while (c < 9) {
            val rgb = scaled.getRGB(c, r)
            // integer ITU-R 601 luma — deterministic, no float rounding
            grid(r * 9 + c) = (((rgb >> 16) & 0xff) * 299 +
              ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            c += 1
          }
          r += 1
        }
        Some(grid)
      }
    } catch { case _: Exception => None }

  /** Deterministic 9×8 grid sampled from raw payload bytes: cell i reads
    * the unsigned byte at offset (i·len) div 72 — evenly spaced, exact
    * integer arithmetic (long multiply: i·len overflows Int on large
    * payloads). The q126 oracle replays this via codepoints, exact for
    * the ASCII corpus.
    */
  private[ops] def byteGrid9x8(b: Array[Byte]): Array[Int] = {
    val grid = new Array[Int](72)
    var i = 0
    while (i < 72) {
      grid(i) = b((i.toLong * b.length / 72).toInt) & 0xff
      i += 1
    }
    grid
  }

  /** Gradient bits of a row-major 9×8 grid: bit r·8+c set iff
    * grid(r,c+1) > grid(r,c) — strictly-greater, both engines agree on
    * integer comparison trivially.
    */
  private[ops] def gradientBits(grid: Array[Int]): Long = {
    var bits = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (grid(r * 9 + c + 1) > grid(r * 9 + c)) bits |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    bits
  }

  /** (id, dhash) for a media table — the decode/hash map runs where the
    * bytes sit (`mapPartitions`, the q34 codec discipline), spread at
    * cluster width first (the r13 AQE-coalesce lesson: this map is
    * CPU-bound, an unspread scan would serialize it on one task).
    */
  def dHashes(items: Dataset[MediaItem]): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    items
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .mapPartitions(_.map(it => (it.id, dHash64(it.content))))
      .toDF("id", "dhash")
  }

  /** Perceptual near-duplicate image pairs: dHash per payload, then the
    * shared band/verify machinery ([[hammingPairs]]). Output
    * (id_a, id_b, hamming).
    */
  def imageNearDupPairs(items: Dataset[MediaItem], maxHamming: Int = 3): DataFrame =
    hammingPairs(dHashes(items), "dhash", maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")

  /** The shared band → candidate → Hamming body behind the image, audio
    * and video near-dups: 4 × 16-bit band equi-join for candidates (two
    * 64-bit hashes within hamming ≤ 3 must share ≥ 1 band — pigeonhole,
    * so banding loses nothing), the id_a < 100 slice broadcast
    * ([[Lsh.candidatePairs]]), exact Hamming verify on the candidate
    * hashes only — payload bytes never cross the wire after the hash
    * pass. `hashed` is (id, <carried>..., <hashCol>); the output is
    * (id_a, id_b, c_a, c_b per carried and hash column, hamming) for
    * every distinct candidate pair within `maxHamming`.
    */
  private def hammingPairs(
      hashed0: DataFrame,
      hashCol: String,
      maxHamming: Int,
      carried: Seq[String] = Nil): DataFrame = {
    require(maxHamming <= 3, "4 x 16-bit bands are pigeonhole-complete only to hamming 3")
    // checkpoint, not persist: the decode pass materializes ONCE (both
    // candidate-join sides read the checkpointed blocks) and the blocks
    // are reference-tracked away when the frame is dropped (the r14
    // advisory); dir-aware RELIABLE form so an executor loss between the
    // two join-side reads can't abort the run at cluster scale
    val hashed = Checkpoints.materialize(hashed0)
    Lsh.candidatePairs(Lsh.bitBands(hashed, hashCol, 4, 16), Seq("band", "bv"),
        "id", "id_a", "id_b", Some(100L), carried = carried :+ hashCol)
      .withColumn("hamming", expr(s"CAST(bit_count(${hashCol}_a ^ ${hashCol}_b) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
  }

  /** q126's media fixture: [[mediaFromDocuments]] payloads PLUS a
    * deterministic "re-encoded copy" of every doc_id ≡ 0 (mod 7) — the
    * first character rewritten to 'x', id offset by 10⁶ — the LAION
    * shape where the same image circulates under slightly different
    * encodes. The copies land within hamming ≤ 1 of their originals
    * (one grid cell moves), while distinct docs sit ≥ 13 bits apart in
    * this corpus — so the query's output is exactly the planted
    * re-encode pairs, non-vacuously (the q116 derived-snapshot
    * discipline: variants derived from the input, never synthesized
    * from thin air).
    */
  def mediaWithReencodes(spark: SparkSession, dir: String): Dataset[MediaItem] = {
    import spark.implicits._
    // doc_id null-filtered too: MediaItem.id is a primitive Long, and a
    // dirty corpus must not kill the encoder (NullInputSpec's contract)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull && col("doc_id").isNotNull)
    val base = docs.select(
      col("doc_id").as("id"),
      concat(lit("img_"), col("source")).as("modality"),
      encode(col("text"), "UTF-8").as("content"))
    val reenc = docs.filter(col("doc_id") % 7 === 0).select(
      (col("doc_id") + lit(1000000L)).as("id"),
      concat(lit("img_"), col("source")).as("modality"),
      encode(concat(lit("x"), expr("substring(text, 2)")), "UTF-8").as("content"))
    base.unionByName(reenc).as[MediaItem]
  }

  /** DuckDB oracle for [[imageNearDupPairs]] over [[mediaWithReencodes]]
    * payloads (UTF-8 text bytes — never decodable as images, so every
    * row takes the byte-grid fallback, which this SQL replays via
    * codepoints; exact because the corpus is ASCII, where byte(i) =
    * unicode(char(i)). Same variant derivation, same banding, same
    * slice, same Hamming verify.
    */
  def imageNearDupOracleSql(maxHamming: Int = 3, sliceMax: Long = 100L): String = {
    // grid cell i (0..71): codepoint at 1-based position (i*len)//72 + 1
    val bandRows = (0 until 4)
      .map(b => s"SELECT id, dhash, $b AS band, (dhash >> ${16 * b}) & 65535 AS bv FROM hashed")
      .mkString("\n  UNION ALL\n  ")
    // bit weights as Scala-computed literals (the TextOps fpExpr
    // pattern): DuckDB raises on `1::BIGINT << 63`, while 1L << 63
    // prints as the valid BIGINT literal -9223372036854775808
    val dhashExpr = (0 until 64)
      .map { k =>
        val hi = (k / 8) * 9 + (k % 8) + 2
        val lo = hi - 1
        s"CASE WHEN g[$hi] > g[$lo] THEN ${1L << k} ELSE 0 END"
      }
      .mkString("\n      + ")
    s"""WITH media AS (
       |  SELECT doc_id AS id, text FROM documents
       |  WHERE text IS NOT NULL AND doc_id IS NOT NULL
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS id, 'x' || substr(text, 2) AS text
       |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL AND doc_id % 7 = 0),
       |grids AS (
       |  SELECT id,
       |    CASE WHEN len(text) = 0 THEN list_transform(range(0, 72), i -> CAST(0 AS BIGINT))
       |      ELSE list_transform(range(0, 72),
       |        i -> greatest(CAST(unicode(substr(text, CAST(i * len(text) // 72 AS BIGINT) + 1, 1)) AS BIGINT), 0))
       |    END AS g
       |  FROM media),
       |hashed AS (
       |  SELECT id,
       |    CAST($dhashExpr AS BIGINT) AS dhash
       |  FROM grids),
       |banded AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, c.id AS id_b,
       |    a.dhash AS dhash_a, c.dhash AS dhash_b
       |  FROM banded a JOIN banded c ON a.band = c.band AND a.bv = c.bv
       |  WHERE a.id < $sliceMax AND a.id < c.id)
       |SELECT id_a, id_b, CAST(bit_count(xor(dhash_a, dhash_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(dhash_a, dhash_b)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // Audio fingerprint near-dup: deterministic band-energy bits over
  // decoded PCM — the audio member of the modality matrix (text q25,
  // embedding q94, image q126). The public construction family is the
  // Philips/Haitsma-Kalker energy-difference fingerprint; this variant
  // keeps the repo's exact-integer discipline: 72 time-cell energy SUMS
  // (|sample| is exact, sums are exact longs, NO float spectrum), then
  // the same 9×8 gradient-bit comparison as dHash. Gain invariance is
  // EXACT by construction: scaling every sample by g > 0 scales every
  // cell sum by exactly g, so all comparisons — hence all 64 bits —
  // are unchanged (MultimodalSpec pins hash equality under gain). A
  // resample shifts cell boundaries by at most a sample, so bits move
  // only where adjacent cells nearly tie — within the banding budget.
  // -------------------------------------------------------------------

  /** 64-bit audio fingerprint. Decodable PCM (WAV/AIFF/AU via
    * javax.sound.sampled — the [[decodeMeta]] codec stack) takes the
    * real path: channel-0 samples → 72-cell |sample| sums → gradient
    * bits. Anything else falls back to the same construction over raw
    * payload bytes (unsigned-byte sums per cell), keeping the operator
    * TOTAL and the catalog query (q134) oracle-replayable — the q126/
    * q34 totality discipline. Empty/null payloads hash to 0.
    */
  def audioHash64(content: Array[Byte]): Long = {
    val grid =
      if (content == null || content.isEmpty) new Array[Long](72)
      else pcmSamples(content) match {
        case Some(s) if s.nonEmpty => sumGrid72(s.length)(j => math.abs(s(j).toLong))
        case _ => sumGrid72(content.length)(j => (content(j) & 0xff).toLong)
      }
    gradientBitsL(grid)
  }

  /** Channel-0 integer samples of a decodable PCM payload; None when no
    * installed codec claims the bytes or the encoding is not plain
    * 8/16-bit PCM (compressed encodings would need float paths — those
    * payloads take the deterministic byte fallback instead).
    */
  private[graft] def pcmSamples(b: Array[Byte]): Option[Array[Int]] =
    try {
      val ais = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(b))
      try {
        val fmt = ais.getFormat
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val frameSize = fmt.getFrameSize
        val ok = (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED) &&
          (bits == 8 || bits == 16) && frameSize > 0
        if (!ok) None
        else {
          val raw = ais.readAllBytes()
          val n = raw.length / frameSize
          val out = new Array[Int](n)
          var i = 0
          while (i < n) {
            val o = i * frameSize // channel 0 = first sample of the frame
            out(i) =
              if (bits == 8) {
                val v = raw(o) & 0xff
                if (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED)
                  v - 128
                else raw(o).toInt
              } else {
                val (lo, hi) = if (fmt.isBigEndian) (o + 1, o) else (o, o + 1)
                val v = ((raw(hi) & 0xff) << 8) | (raw(lo) & 0xff)
                val s = v.toShort.toInt
                if (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED)
                  s - 32768
                else s
              }
            i += 1
          }
          Some(out)
        }
      } finally ais.close()
    } catch { case _: Exception => None }

  /** Row-major 9×8 grid of exact long sums over 72 equal index ranges:
    * cell i sums f(j) for j in [i·n div 72, (i+1)·n div 72) — the same
    * evenly-spaced boundaries as [[byteGrid9x8]], summed instead of
    * point-sampled (energy, not luma). Cells beyond a short payload
    * sum to 0.
    */
  private[ops] def sumGrid72(n: Int)(f: Int => Long): Array[Long] = {
    val grid = new Array[Long](72)
    var i = 0
    while (i < 72) {
      var j = (i.toLong * n / 72).toInt
      val hi = ((i + 1).toLong * n / 72).toInt
      var acc = 0L
      while (j < hi) { acc += f(j); j += 1 }
      grid(i) = acc
      i += 1
    }
    grid
  }

  /** [[gradientBits]] over exact long sums. */
  private[ops] def gradientBitsL(grid: Array[Long]): Long = {
    var bits = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (grid(r * 9 + c + 1) > grid(r * 9 + c)) bits |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    bits
  }

  /** (id, ahash) for a media table — the decode/hash map runs where the
    * bytes sit (the [[dHashes]] codec discipline, CPU-spread first).
    */
  def audioHashes(items: Dataset[MediaItem]): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    items
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .mapPartitions(_.map(it => (it.id, audioHash64(it.content))))
      .toDF("id", "ahash")
  }

  /** Audio near-duplicate pairs: [[audioHash64]] per payload, then the
    * shared band/verify machinery ([[hammingPairs]]). Output
    * (id_a, id_b, hamming).
    */
  def audioNearDupPairs(items: Dataset[MediaItem], maxHamming: Int = 3): DataFrame =
    hammingPairs(audioHashes(items), "ahash", maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")

  /** q134's media fixture: the corpus texts as opaque payloads PLUS a
    * deterministic near-variant of every doc_id ≡ 0 (mod 7) — first
    * character rewritten to 'x', id offset by 10⁶ (the
    * [[mediaWithReencodes]] derived-snapshot discipline). A variant
    * moves ONE byte inside cell 0, so at most the first row's leading
    * comparisons flip; distinct docs differ in energy everywhere.
    */
  def audioWithVariants(spark: SparkSession, dir: String): Dataset[MediaItem] = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull && col("doc_id").isNotNull)
    val base = docs.select(
      col("doc_id").as("id"),
      concat(lit("aud_"), col("source")).as("modality"),
      encode(col("text"), "UTF-8").as("content"))
    val variant = docs.filter(col("doc_id") % 7 === 0).select(
      (col("doc_id") + lit(1000000L)).as("id"),
      concat(lit("aud_"), col("source")).as("modality"),
      encode(concat(lit("x"), expr("substring(text, 2)")), "UTF-8").as("content"))
    base.unionByName(variant).as[MediaItem]
  }

  /** DuckDB oracle for [[audioNearDupPairs]] over [[audioWithVariants]]
    * payloads (UTF-8 text bytes — never decodable as audio, so every
    * row takes the byte-sum fallback, replayed here via codepoint sums;
    * exact for the ASCII corpus). Same banding, slice, Hamming verify.
    */
  def audioNearDupOracleSql(maxHamming: Int = 3, sliceMax: Long = 100L): String = {
    val bandRows = (0 until 4)
      .map(b => s"SELECT id, ahash, $b AS band, (ahash >> ${16 * b}) & 65535 AS bv FROM hashed")
      .mkString("\n  UNION ALL\n  ")
    // bit weights as Scala-computed literals (the TextOps fpExpr pattern)
    val ahashExpr = (0 until 64)
      .map { k =>
        val hi = (k / 8) * 9 + (k % 8) + 2
        val lo = hi - 1
        s"CASE WHEN g[$hi] > g[$lo] THEN ${1L << k} ELSE 0 END"
      }
      .mkString("\n      + ")
    s"""WITH media AS (
       |  SELECT doc_id AS id, text FROM documents
       |  WHERE text IS NOT NULL AND doc_id IS NOT NULL
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS id, 'x' || substr(text, 2) AS text
       |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL AND doc_id % 7 = 0),
       |grids AS (
       |  SELECT id,
       |    CASE WHEN len(text) = 0 THEN list_transform(range(0, 72), i -> CAST(0 AS BIGINT))
       |      ELSE list_transform(range(0, 72),
       |        i -> coalesce(list_sum(list_transform(
       |               range(CAST(i * len(text) // 72 AS BIGINT),
       |                     CAST((i + 1) * len(text) // 72 AS BIGINT)),
       |               j -> greatest(CAST(unicode(substr(text, CAST(j AS BIGINT) + 1, 1)) AS BIGINT), 0))),
       |             0))
       |    END AS g
       |  FROM media),
       |hashed AS (
       |  SELECT id,
       |    CAST($ahashExpr AS BIGINT) AS ahash
       |  FROM grids),
       |banded AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, c.id AS id_b,
       |    a.ahash AS ahash_a, c.ahash AS ahash_b
       |  FROM banded a JOIN banded c ON a.band = c.band AND a.bv = c.bv
       |  WHERE a.id < $sliceMax AND a.id < c.id)
       |SELECT id_a, id_b, CAST(bit_count(xor(ahash_a, ahash_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(ahash_a, ahash_b)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  // -------------------------------------------------------------------
  // Video perceptual near-dup (q136): frame-sampled per-frame hashes +
  // temporal-alignment vote — the public frame-fingerprint video-dedup
  // construction (per-frame perceptual hash, pairs vote on a constant
  // frame OFFSET; a trimmed/re-encoded copy of the same footage aligns
  // all its frame matches on one offset, unrelated clips scatter). No
  // video codec ships in the JDK, so the per-frame hash is the
  // deterministic byte-grid gradient construction ([[byteGrid9x8]] over
  // each fixed-size frame slice) — the q126/q34 totality discipline: a
  // real deployment swaps in a decoded-keyframe [[dHash64]] per frame
  // and the ENTIRE candidate/vote plumbing below is unchanged.
  // -------------------------------------------------------------------

  /** Per-frame 64-bit hashes: the payload split into fixed `frameBytes`
    * slices (up to `maxFrames`), each hashed by the same 9×8
    * byte-sampled gradient construction as [[dHash64]]'s fallback —
    * cell i of frame f reads the unsigned byte at frame offset
    * (i·flen) div 72 where flen is the (possibly partial) slice length.
    * Empty/null payloads yield no frames.
    */
  private[graft] def videoFrameHash64(
      content: Array[Byte], frameBytes: Int, maxFrames: Int): Array[Long] = {
    if (content == null || content.isEmpty) return Array.empty
    val nf = math.min(
      (content.length + frameBytes - 1) / frameBytes, maxFrames)
    Array.tabulate(nf) { f =>
      val off = f * frameBytes
      val flen = math.min(frameBytes, content.length - off)
      val grid = new Array[Int](72)
      var i = 0
      while (i < 72) {
        grid(i) = content(off + (i.toLong * flen / 72).toInt) & 0xff
        i += 1
      }
      gradientBits(grid)
    }
  }

  /** (id, fidx, vhash) per sampled frame — the hash map runs where the
    * bytes sit ([[dHashes]]'s CPU-spread discipline); each payload emits
    * at most `maxFrames` 64-bit rows, so the post-hash footprint is
    * O(maxFrames · 8 bytes) per video regardless of payload size.
    */
  def videoFrameHashes(
      items: Dataset[MediaItem],
      frameBytes: Int = 64,
      maxFrames: Int = 16): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    items
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .mapPartitions(_.flatMap { it =>
        videoFrameHash64(it.content, frameBytes, maxFrames).iterator
          .zipWithIndex.map { case (h, f) => (it.id, f, h) }
      })
      .toDF("id", "fidx", "vhash")
  }

  /** Video near-duplicate pairs with temporal alignment: per-frame
    * hashes ([[videoFrameHashes]]), 16-bit band equi-join for candidate
    * FRAME pairs (pigeonhole-complete to hamming ≤ 3, the
    * [[imageNearDupPairs]] contract — NOT keyed on frame index, so a
    * trimmed copy still matches), exact Hamming verify on the candidate
    * longs, then a vote per (pair, frame-offset): `(id_a, id_b,
    * foffset, votes)` for every alignment with at least `minVotes`
    * agreeing frames. Payload bytes never cross the wire after the hash
    * pass; the vote is ONE keyed aggregate over verified frame pairs.
    */
  def videoNearDupPairs(
      items: Dataset[MediaItem],
      maxHamming: Int = 3,
      minVotes: Int = 3,
      frameBytes: Int = 64,
      maxFrames: Int = 16): DataFrame =
    // a frame pair sharing 2+ bands counts ONE vote: the pairs are distinct
    hammingPairs(videoFrameHashes(items, frameBytes, maxFrames), "vhash", maxHamming,
        carried = Seq("fidx"))
      .groupBy(col("id_a"), col("id_b"),
        (col("fidx_b") - col("fidx_a")).cast("long").as("foffset"))
      .agg(count(lit(1)).as("votes"))
      .filter(col("votes") >= minVotes)
      .orderBy("id_a", "id_b", "foffset")

  /** q136's media fixture: corpus texts as opaque "footage" PLUS a
    * deterministic TRIMMED re-encode of every doc_id ≡ 0 (mod 9) long
    * enough to carry 5+ frames — the first frame dropped and the new
    * leading byte rewritten ('x' || text[frameBytes+2..]), id offset by
    * 10⁶. Frame f of the variant is byte-identical to frame f+1 of the
    * original for f ≥ 1 (hamming 0) and differs in ONE sampled cell at
    * f = 0, so the pair's votes concentrate at foffset = −1 — the
    * derived-snapshot discipline (variants derived from the input,
    * never synthesized from thin air).
    */
  def videoWithVariants(
      spark: SparkSession, dir: String, frameBytes: Int = 64): Dataset[MediaItem] = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull && col("doc_id").isNotNull)
    val base = docs.select(
      col("doc_id").as("id"),
      concat(lit("vid_"), col("source")).as("modality"),
      encode(col("text"), "UTF-8").as("content"))
    val variant = docs
      .filter(col("doc_id") % 9 === 0 && length(col("text")) >= 5 * frameBytes)
      .select(
        (col("doc_id") + lit(1000000L)).as("id"),
        concat(lit("vid_"), col("source")).as("modality"),
        encode(concat(lit("x"), expr(s"substring(text, ${frameBytes + 2})")), "UTF-8")
          .as("content"))
    base.unionByName(variant).as[MediaItem]
  }

  /** DuckDB oracle for [[videoNearDupPairs]] over [[videoWithVariants]]
    * payloads (ASCII text bytes, so byte(i) = unicode(char(i)) and the
    * per-frame byte-grid replays via codepoints — the q126 discipline).
    * Same frame slicing, same banding, same Hamming verify, same
    * offset vote.
    */
  def videoNearDupOracleSql(
      maxHamming: Int = 3,
      minVotes: Int = 3,
      frameBytes: Int = 64,
      maxFrames: Int = 16,
      sliceMax: Long = 100L): String = {
    val W = frameBytes
    val bandRows = (0 until 4)
      .map(b => s"SELECT id, fidx, vhash, $b AS band, (vhash >> ${16 * b}) & 65535 AS bv FROM hashed")
      .mkString("\n  UNION ALL\n  ")
    // bit weights as Scala-computed literals (the TextOps fpExpr pattern)
    val vhashExpr = (0 until 64)
      .map { k =>
        val hi = (k / 8) * 9 + (k % 8) + 2
        val lo = hi - 1
        s"CASE WHEN g[$hi] > g[$lo] THEN ${1L << k} ELSE 0 END"
      }
      .mkString("\n      + ")
    s"""WITH media AS (
       |  SELECT doc_id AS id, text FROM documents
       |  WHERE text IS NOT NULL AND doc_id IS NOT NULL
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS id, 'x' || substr(text, ${W + 2}) AS text
       |  FROM documents
       |  WHERE text IS NOT NULL AND doc_id IS NOT NULL
       |    AND doc_id % 9 = 0 AND len(text) >= ${5 * W}),
       |frames AS (
       |  SELECT id, text,
       |    unnest(range(0, least(CAST((len(text) + ${W - 1}) // $W AS BIGINT), $maxFrames)))
       |      AS fidx
       |  FROM media),
       |ftext AS (
       |  SELECT id, fidx, substr(text, CAST(fidx * $W AS BIGINT) + 1, $W) AS ft
       |  FROM frames),
       |grids AS (
       |  SELECT id, fidx, list_transform(range(0, 72),
       |    i -> greatest(CAST(unicode(substr(ft, CAST(i * len(ft) // 72 AS BIGINT) + 1, 1)) AS BIGINT), 0)) AS g
       |  FROM ftext),
       |hashed AS (
       |  SELECT id, fidx,
       |    CAST($vhashExpr AS BIGINT) AS vhash
       |  FROM grids),
       |banded AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, c.id AS id_b, a.fidx AS fidx_a, c.fidx AS fidx_b,
       |    a.vhash AS h_a, c.vhash AS h_b
       |  FROM banded a JOIN banded c ON a.band = c.band AND a.bv = c.bv
       |  WHERE a.id < $sliceMax AND a.id < c.id)
       |SELECT id_a, id_b, CAST(fidx_b - fidx_a AS BIGINT) AS foffset,
       |  CAST(count(*) AS BIGINT) AS votes
       |FROM cand WHERE bit_count(xor(h_a, h_b)) <= $maxHamming
       |GROUP BY 1, 2, 3
       |HAVING count(*) >= $minVotes
       |ORDER BY id_a, id_b, foffset""".stripMargin
  }

  /** Synthesize a media table from the driver's documents parquet: the
    * UTF-8 text bytes stand in for an opaque payload. Used by specs and
    * the q34 oracle query so the binary plumbing runs against real
    * distributed data.
    */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaItem] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(
        col("doc_id").as("id"),
        concat(lit("img_"), col("source")).as("modality"),
        encode(col("text"), "UTF-8").as("content"))
      .as[MediaItem]
  }

  /** Binary-column metadata as a plain DataFrame query (oracle-checkable):
    * byte length, first-8-bytes hex, and content digest, computed with
    * codegen'd builtins straight off the binary column.
    */
  def binaryMeta(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      .select(
        col("doc_id"),
        octet_length(col("content")).cast("long").as("n_bytes"),
        substring(hex(col("content")), 1, 16).as("head_hex"),
        md5(col("content")).as("content_md5"))
      .orderBy("doc_id")

  /** DuckDB SQL replicating [[binaryMeta]]. DuckDB lacks md5(BLOB) and
    * substring(BLOB), so the digest uses the VARCHAR (same UTF-8 bytes)
    * and the head slices the hex string.
    */
  def binaryMetaOracleSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  substr(hex(encode(text)), 1, 16) AS head_hex,
      |  md5(text) AS content_md5
      |FROM documents ORDER BY doc_id""".stripMargin
}
