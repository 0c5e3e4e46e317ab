package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.I — multimodal column plumbing for a training-data
  * pipeline: media as opaque `binary` columns plus typed metadata, with
  * decode / feature-extract / resize / frame-sample stages.
  *
  * DECODE BOUNDARY: image payloads decode for REAL through the JDK's own
  * `javax.imageio` (the PNG/BMP readers ship with Java 17 — public API,
  * no network, no native codec), so `decodeFeatures` and the pixel aHash
  * work on genuine pixels. Payloads no in-JDK codec can read (the audio
  * family, raw text bytes) fall back to a documented deterministic
  * 16-bin byte histogram — the schema, batch shape, partitioning, and
  * UDF signature (binary -> features) are the same plumbing an external
  * codec drop-in would use; only the fallback body would change.
  *
  * 100 TB notes: binary payloads dominate I/O — keep them in their own
  * parquet column chunk (automatic), filter on metadata columns first so
  * pushdown prunes row groups before bytes are read, and repartition by
  * size (`bytes` ranges) before the decode stage so the expensive UDF is
  * load-balanced rather than file-order-balanced.
  */
object MediaPipeline {

  /** Decoded image surface: integer luma (299R + 587G + 114B — the ITU-R
    * 601 weights scaled ×1000, never divided) per pixel, row-major
    * top-down. Integer end to end so decode-derived results hash-match a
    * pure-arithmetic oracle with no float boundary. */
  case class Decoded(w: Int, h: Int, luma: Array[Long])

  /** Magic sniff before handing bytes to ImageIO: reader lookup isn't
    * free, and the opaque-payload families (text/audio bytes) should hit
    * the histogram fallback without paying it. */
  private def looksLikeImage(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 &&
      ((b(0) == 'B'.toByte && b(1) == 'M'.toByte) ||
        (b(0) == 0x89.toByte && b(1) == 'P'.toByte &&
          b(2) == 'N'.toByte && b(3) == 'G'.toByte))

  /** REAL pixel decode via the JDK's ImageIO; null when no reader claims
    * the payload (corrupt image, or not an image at all). */
  // ImageIO's default InputStream path spools through a DISK-backed
  // cache file PER CALL (FileCacheImageInputStream) — a hidden temp-file
  // create/delete per image that dominates small-blob decode. One static
  // switch makes it memory-backed; executed once per JVM.
  private lazy val imageIoNoDiskCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  // ImageIO.read's convenience path walks the service registry for a
  // reader PER CALL — at millions of small blobs that lookup, not the
  // pixel work, is the decode cost. ImageReader instances are not
  // thread-safe, so each executor thread keeps its own BMP/PNG reader
  // and resets its input per blob.
  private def threadReader(fmt: String) = ThreadLocal.withInitial[javax.imageio.ImageReader](
    () => javax.imageio.ImageIO.getImageReadersByFormatName(fmt).next())
  private val bmpReader = threadReader("bmp")
  private val pngReader = threadReader("png")

  private def decodeImage(bytes: Array[Byte]): Decoded = {
    if (!looksLikeImage(bytes)) return null
    imageIoNoDiskCache
    val reader = (if (bytes(0) == 'B'.toByte) bmpReader else pngReader).get()
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    // NonFatal, not just IIOException: decodeFeatures feeds this arbitrary
    // opaque payloads, and a blob that happens to start with 'BM' plus
    // garbage header bytes can drive the BMP reader into runtime errors
    // (negative array sizes from a garbage height, OOM from a huge
    // declared width) — a corrupt blob must fall back, never fail the task
    val img =
      try { reader.setInput(iis); reader.read(0) }
      catch { case scala.util.control.NonFatal(_) => null }
      finally { reader.setInput(null); iis.close() }
    if (img == null) return null
    val (w, h) = (img.getWidth, img.getHeight)
    // header-declared dimensions are attacker-controlled in a real lake:
    // bound the pixel count (64 MP ≫ any fixture) before the Int-typed
    // allocation, and compute the bound in Long so w*h cannot overflow
    if (w <= 0 || h <= 0 || w.toLong * h > 64L * 1024 * 1024) return null
    val luma = new Array[Long](w * h)
    val raster = img.getRaster
    if (raster.getNumBands == 3) {
      // bulk raster read: one getPixels call returns band-ordered
      // (R,G,B) samples row-major — the per-pixel getRGB path crawls
      // through SampleModel + ColorModel per call, and at millions of
      // pixels that bookkeeping IS the decode cost
      val px = raster.getPixels(0, 0, w, h, null: Array[Int])
      var i = 0
      while (i < luma.length) {
        luma(i) = 299L * px(3 * i) + 587L * px(3 * i + 1) + 114L * px(3 * i + 2)
        i += 1
      }
    } else {
      // palette/alpha color models: the portable per-pixel path
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          luma(y * w + x) = 299L * ((rgb >> 16) & 0xff) +
            587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
          x += 1
        }
        y += 1
      }
    }
    Decoded(w, h, luma)
  }

  /** binary -> (w, h, integer luma grid); the decode stage behind the
    * pixel aHash. The one UDF in the family — ImageIO is a JVM call, not
    * an expression — and everything downstream of it is codegen'd array
    * arithmetic. */
  val decodeLuma = udf((bytes: Array[Byte]) => decodeImage(bytes))

  /** Decoded-and-hashed in one pass: (w, h, ahash_hi, ahash_lo). Same
    * block bounds, threshold, and packing as the SQL hash stage
    * ([[pixelAhash]] — which q_multimodal_ahash keeps demonstrating and the
    * oracle keeps pinning); fused here because the hash is 8 integer ops
    * per pixel, and at millions of images the SQL formulation's per-block
    * array materializations (3 arrays × 64 blocks × row) cost ~25× the
    * arithmetic. Still the family's ONE UDF — decode+hash share the pass.
    */
  case class Hashed(w: Int, h: Int, ahash_hi: Long, ahash_lo: Long)

  /** Bits 0..63 of `bit` packed into two non-negative BIGINTs (hi = bits
    * 63..32, lo = 31..0) so neither engine touches the sign bit. */
  private def packBits(bit: Int => Boolean): (Long, Long) = {
    var hi = 0L; var lo = 0L
    var k = 0
    while (k < 64) {
      if (bit(k)) { if (k >= 32) hi |= 1L << (k - 32) else lo |= 1L << k }
      k += 1
    }
    (hi, lo)
  }

  /** (sums, counts, total) of luma per cell of an n×n block grid — pixel
    * (x, y) in cell (y·n div h)·n + x·n div w — in one allocation-free pass. */
  private def blockSums(d: Decoded, n: Int): (Array[Long], Array[Long], Long) = {
    val sums = new Array[Long](n * n)
    val counts = new Array[Long](n * n)
    var total = 0L
    var y = 0
    while (y < d.h) {
      val row = y * n / d.h * n
      var x = 0
      while (x < d.w) {
        val k = row + x * n / d.w
        val v = d.luma(y * d.w + x)
        sums(k) += v; counts(k) += 1; total += v
        x += 1
      }
      y += 1
    }
    (sums, counts, total)
  }

  /** The 8×8 block-mean aHash: bit k sets iff block k's luma sum
    * cross-multiplies above the global mean (sum_k·w·h > total·n_k). */
  private def ahashBits(d: Decoded): (Long, Long) = {
    val (sums, counts, total) = blockSums(d, 8)
    val np = d.w.toLong * d.h
    packBits(k => sums(k) * np > total * counts(k))
  }

  val decodeAhash = udf((bytes: Array[Byte]) => {
    val d = decodeImage(bytes)
    if (d == null) null
    else { val (hi, lo) = ahashBits(d); Hashed(d.w, d.h, hi, lo) }
  })

  /** A media table derived deterministically from the documents fixture:
    * content = utf-8 bytes of text, kind alternates image/audio, metadata
    * is typed columns (never packed inside the blob).
    */
  def mediaFrame(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents").select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("kind"),
      encode(col("text"), "UTF-8").as("content"),
      octet_length(col("text")).cast("bigint").as("bytes"),
      col("lang").as("meta_lang"),
      col("source").as("meta_source"))

  /** Feature decode: binary -> normalized 16-bin histogram as
    * Array[Float]. Image containers the JDK can read (BMP/PNG) decode to
    * PIXELS and bin by 8-bit luma — a real luminance signature; payloads
    * with no in-JDK codec keep the deterministic byte histogram this
    * stage always served (same bins, same normalization), so opaque
    * families stay stable while images got real. */
  val decodeFeatures = udf((bytes: Array[Byte]) => {
    val bins = new Array[Float](16)
    val img = decodeImage(bytes)
    var i = 0
    if (img != null)
      while (i < img.luma.length) { bins((img.luma(i) / 1000L).toInt >> 4) += 1f; i += 1 }
    else if (bytes != null)
      while (i < bytes.length) { bins((bytes(i) & 0xff) >> 4) += 1f; i += 1 }
    val n = math.max(1, i).toFloat
    var b = 0
    while (b < 16) { bins(b) /= n; b += 1 }
    bins
  })

  /** Feature extraction stage: repartitions by size bucket so the decode
    * UDF is load-balanced, then appends the feature vector.
    */
  def withFeatures(df: DataFrame): DataFrame =
    df.repartition(col("bytes") / 100)
      .withColumn("features", decodeFeatures(col("content")))

  /** "Resize": re-bin a 16-dim histogram to 4 dims (sum of each 4-run) —
    * the stub analog of image downscaling, done with codegen'd built-ins.
    */
  def resize(df: DataFrame): DataFrame =
    df.withColumn("features_small",
      expr("transform(sequence(0, 3), i -> " +
        "aggregate(slice(features, i * 4 + 1, 4), CAST(0.0 AS FLOAT), (a, x) -> a + x))"))

  /** "Frame sample": every k-th byte of the payload (video frame-sampling
    * analog) as a short binary.
    */
  def frameSample(df: DataFrame, k: Int): DataFrame =
    df.withColumn("frames",
      expr(s"transform(sequence(1, CAST(octet_length(content) AS INT), $k), " +
        s"i -> substr(hex(content), (i - 1) * 2 + 1, 2))"))

  // ---- Header-format stage: REAL byte-level parsing (no stub) --------
  //
  // The fixture set ships no media payloads, so the blobs are synthesized
  // — but with REAL container headers (BMP's BITMAPFILEHEADER +
  // BITMAPINFOHEADER at the standard offsets; canonical RIFF/WAVE fmt +
  // data chunks), and the parse stage reads every served field from the
  // BYTES at those offsets, exactly as a media-lake profiler sniffs
  // dimensions without decoding pixels. Both engines build and parse in
  // hex-string space (DuckDB has no blob substring); the Spark side
  // round-trips through a genuine BinaryType column (unhex -> binary ->
  // hex) and serves md5 over the canonical hex, so a byte-level
  // construction divergence fails the hash gate. All ops are codegen'd
  // built-ins — no UDF in the path.

  /** Little-endian hex of an integer SQL expr, `n` bytes. `div` is the
    * engine's integer-division operator (Spark `DIV`, DuckDB `//`).
    */
  private def leHex(e: String, n: Int, div: String): String =
    (0 until n).map(i =>
        s"lpad(hex((($e) $div ${1L << (8 * i)}) % 256), 2, '0')")
      .mkString("concat(", ", ", ")")

  /** Big-endian hex of an integer SQL expr, `n` bytes — hex() already
    * emits big-endian digits, so BE is one lpad (vs leHex's per-byte
    * shuffle): the whole point of network-byte-order containers.
    */
  private def beHex(e: String, n: Int): String =
    s"lpad(hex($e), ${2 * n}, '0')"

  /** Canonical 16-bit PCM RIFF/WAVE hex (little-endian fields) over a
    * row carrying doc_id and the data length `__len`: rate 8000·(1 +
    * doc_id % 5), 1 or 2 channels from doc_id (`stereoIds`) or mono.
    */
  private def wavHex(div: String, payloadHex: String,
      stereoIds: Boolean = true): String = {
    def le(e: String, n: Int) = leHex(e, n, div)
    val rate = "8000 * (1 + doc_id % 5)"
    val ch = s"1 + (doc_id $div 3) % 2"
    val (chans, byteRate, align) =
      if (stereoIds) (ch, s"($rate) * ($ch) * 2", s"($ch) * 2")
      else ("1", s"($rate) * 2", "2")
    Seq(
      "'52494646'",                  // "RIFF"
      le("36 + __len", 4),           // chunk size
      "'57415645'", "'666D7420'",    // "WAVE", "fmt "
      le("16", 4), le("1", 2),       // fmt size, PCM
      le(chans, 2), le(rate, 4),     // channels, sample rate
      le(byteRate, 4),               // byte rate
      le(align, 2), le("16", 2),     // block align, bits
      "'64617461'", le("__len", 4),  // "data", data length
      payloadHex).mkString("concat(", ", ", ")")
  }

  /** Canonical PNG hex (BIG-endian fields — the endianness dual of
    * BMP/WAV): 8-byte signature, IHDR at the fixed offsets (width BE at
    * byte 17, height at 21, depth/color/compression/filter/interlace),
    * one IDAT carrying the payload, and the constant IEND chunk. Chunk
    * CRCs are zeroed except IEND's spec constant — a header profiler
    * reads dimensions by offset and never validates checksums, and the
    * md5-over-bytes gate pins the construction either way.
    */
  private def pngHex(payloadHex: String): String = {
    def be(e: String, n: Int) = beHex(e, n)
    Seq(
      "'89504E470D0A1A0A'",            // signature
      be("13", 4), "'49484452'",       // IHDR length, "IHDR"
      be("16 + doc_id % 1000", 4),     // width (BE)
      be(s"16 + (doc_id * 7) % 1000", 4), // height (BE)
      be("8", 1), be("6", 1),          // bit depth, color type (RGBA)
      be("0", 1), be("0", 1), be("0", 1), // compression, filter, interlace
      "'00000000'",                    // IHDR CRC (unvalidated)
      be("__len", 4), "'49444154'",    // IDAT length (BE), "IDAT"
      payloadHex,
      "'00000000'",                    // IDAT CRC (unvalidated)
      "'0000000049454E44AE426082'"     // IEND + its spec-constant CRC
    ).mkString("concat(", ", ", ")")
  }

  /** Hex-string expression for the headered blob over (doc_id, text).
    * Even ids: BMP (width/height derived from the id); odd ids: WAV
    * (sample rate/channels derived from the id); payload = utf-8 text.
    */
  private def headeredHex(div: String, payloadHex: String): String = {
    val bmp = (bmpHeaderHex(div, "16 + doc_id % 1000",
      "16 + (doc_id * 7) % 1000", "__len") :+ payloadHex).mkString("concat(", ", ", ")")
    val wav = wavHex(div, payloadHex)
    s"CASE WHEN doc_id % 2 = 0 THEN $bmp ELSE $wav END"
  }

  /** The 54-byte 24-bpp BMP header as little-endian hex fields over the
    * width, height and pixel-data-length exprs `w`, `h`, `dlen`. */
  private def bmpHeaderHex(div: String, w: String, h: String,
      dlen: String): Seq[String] = {
    def le(e: String, n: Int) = leHex(e, n, div)
    Seq(
      "'424D'",                      // "BM"
      le(s"54 + $dlen", 4),          // file size
      "'00000000'", le("54", 4),     // reserved, pixel offset
      le("40", 4),                   // DIB header size
      le(w, 4), le(h, 4),            // dimensions (positive h: bottom-up)
      le("1", 2), le("24", 2),       // planes, bpp
      le("0", 4), le(dlen, 4),       // BI_RGB, image size
      le("2835", 4), le("2835", 4),  // x/y pixels-per-metre
      le("0", 4), le("0", 4))        // palette sizes
  }

  /** The mixed-endianness blob family: even ids PNG (big-endian), odd
    * ids WAV (little-endian) — one column carrying both byte orders.
    */
  private def pngWavHex(div: String, payloadHex: String): String =
    s"CASE WHEN doc_id % 2 = 0 THEN ${pngHex(payloadHex)} " +
      s"ELSE ${wavHex(div, payloadHex)} END"

  /** Spark construction: the hex expr materialized into a real binary
    * column — (media_id, content). The parse stage must recover
    * everything else from `content` alone.
    */
  def headeredBlobs(spark: SparkSession, sfDir: String): DataFrame =
    textBlobs(spark, sfDir, headeredHex)

  /** (media_id, content) blobs wrapping each document's utf-8 text in
    * the container `hexOf(div, payloadHex)` builds. */
  private def textBlobs(spark: SparkSession, sfDir: String,
      hexOf: (String, String) => String): DataFrame =
    Tables(spark, sfDir, "documents")
      .selectExpr("doc_id", "octet_length(text) AS __len",
        "hex(encode(text, 'UTF-8')) AS __payload")
      .selectExpr("doc_id AS media_id",
        s"unhex(${hexOf("DIV", "__payload")}) AS content")

  /** The `WITH name AS (...)` DuckDB CTE constructing the same text blobs
    * through a real BLOB (unhex -> hex), as (media_id, h). */
  private def textBlobsDuck(name: String,
      hexOf: (String, String) => String): String =
    s"WITH $name AS (SELECT doc_id AS media_id, " +
      s"hex(unhex(${hexOf("//", "hex(encode(text))")})) AS h FROM (SELECT doc_id, text, " +
      s"octet_length(encode(text)) AS __len FROM documents))"

  /** A header-profile query: construct -> binary -> `parse`-from-bytes. */
  private def profile(spark: SparkSession, sfDir: String,
      hexOf: (String, String) => String,
      parse: (String, String, String => String) => Seq[String]): DataFrame =
    textBlobs(spark, sfDir, hexOf)
      .selectExpr("media_id", "hex(content) AS __h",
        "CAST(octet_length(content) AS BIGINT) AS __n")
      .selectExpr("media_id" +: parse("__h", "__n", sparkInt): _*)
      .orderBy("media_id")

  /** The DuckDB oracle of [[profile]]: identical construct + parse, through
    * a real BLOB so the round trip is certified on both engines. */
  private def profileOracle(hexOf: (String, String) => String,
      parse: (String, String, String => String) => Seq[String]): String = {
    val cols = parse("h", "CAST(octet_length(unhex(h)) AS BIGINT)", duckInt)
      .map(_.replace(" DIV ", " // "))
    s"${textBlobsDuck("b", hexOf)} " +
      s"SELECT media_id, ${cols.mkString(", ")} FROM b ORDER BY media_id"
  }

  /** Little-endian field parse out of hex string `h` at 1-based BYTE
    * offset `off`, `n` bytes; `toInt` wraps the big-endian hex digits
    * into the engine's hex->int form.
    */
  private def leParse(h: String, off: Int, n: Int, toInt: String => String): String =
    toInt((n - 1 to 0 by -1).map(i =>
        s"substr($h, ${(off - 1 + i) * 2 + 1}, 2)")
      .mkString("concat(", ", ", ")"))

  /** Big-endian field parse: the container's digits are already in
    * wire order, so the field is ONE contiguous hex substring — no
    * per-byte reassembly (the leParse dual).
    */
  private def beParse(h: String, off: Int, n: Int,
      toInt: String => String): String =
    toInt(s"substr($h, ${(off - 1) * 2 + 1}, ${2 * n})")

  private def sparkInt(hexDigits: String): String =
    s"CAST(conv($hexDigits, 16, 10) AS BIGINT)"
  private def duckInt(hexDigits: String): String =
    s"CAST(concat('0x', $hexDigits) AS BIGINT)"

  /** The parsed-header projection over a hex-string column `h` plus a
    * byte-length expr — shared shape of the Spark query and the DuckDB
    * oracle so the two parsers cannot drift.
    */
  private def parseCols(h: String, nBytes: String,
      toInt: String => String): Seq[String] = {
    def f(off: Int, n: Int) = leParse(h, off, n, toInt)
    val isBmp = s"substr($h, 1, 4) = '424D'"
    val isWav = s"substr($h, 1, 8) = '52494646'"
    Seq(
      s"CASE WHEN $isBmp THEN 'image' WHEN $isWav THEN 'audio' END AS kind",
      s"$nBytes AS n_bytes",
      s"md5($h) AS blob_md5",
      s"CASE WHEN $isBmp THEN ${f(19, 4)} END AS width",
      s"CASE WHEN $isBmp THEN ${f(23, 4)} END AS height",
      s"CASE WHEN $isBmp THEN ${f(29, 2)} END AS bpp",
      s"CASE WHEN $isWav THEN ${f(25, 4)} END AS sample_rate",
      s"CASE WHEN $isWav THEN ${f(23, 2)} END AS channels",
      s"CASE WHEN $isWav THEN (${f(41, 4)}) * 1000 DIV (${f(29, 4)}) END AS duration_ms")
  }

  /** Header parsing from BYTES: the BMP/WAV header profile. */
  def headerProfile(spark: SparkSession, sfDir: String): DataFrame =
    profile(spark, sfDir, headeredHex, parseCols)

  def headerOracleSql: String = profileOracle(headeredHex, parseCols)

  /** Decode-free perceptual-style content fingerprint (the aHash shape)
    * over each blob's PAYLOAD bytes: the payload splits into 16 equal
    * byte blocks, each block's mean byte value thresholds against the
    * whole payload's mean, and the 16 bits pack into one BIGINT. The
    * media-lake triage pass that needs no codec — near-identical
    * payloads land at small Hamming distance, and the REAL pixel aHash
    * ([[pixelAhash]], via the JDK's own ImageIO decode) runs the same
    * block/mean/threshold pipeline on genuine pixels. ALL-integer: the
    * mean comparison is cross-multiplied (sum_b·L > total·n_b), so
    * there is no division anywhere and no rounding boundary; empty
    * tail blocks (payload < 16 bytes) compare 0 > 0 = false — a stated
    * rule, not an error.
    *
    * Robustness contract, stated honestly: identical payloads collide
    * exactly, and IN-PLACE byte edits move few bits — but INSERTIONS
    * shift every later block boundary, so text near-dups (word edits)
    * scatter. That is the physics of block hashing on byte streams;
    * pixel grids don't shift under content edits, which is exactly why
    * the real image aHash ([[pixelAhash]]) hashes decoded pixels instead.
    */
  def byteFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val m = headeredBlobs(spark, sfDir)
      .selectExpr("media_id", "hex(content) AS h",
        "CAST(octet_length(content) AS BIGINT) AS nb")
      .selectExpr("media_id",
        "CASE WHEN substr(h, 1, 4) = '424D' THEN 'image' ELSE 'audio' END AS kind",
        // payload starts after the 54-byte BMP / 44-byte WAV header
        "CASE WHEN substr(h, 1, 4) = '424D' THEN substr(h, 109) ELSE substr(h, 89) END AS ph",
        "CASE WHEN substr(h, 1, 4) = '424D' THEN nb - 54 ELSE nb - 44 END AS L")
    val blocks = m
      .select(col("media_id"), col("kind"), col("L"), col("ph"),
        explode(expr("sequence(0, 15)")).as("b"))
      .withColumn("s0", expr("b * L DIV 16"))
      .withColumn("e0", expr("(b + 1) * L DIV 16"))
      .withColumn("sum_b", expr("CASE WHEN e0 > s0 THEN " +
        "aggregate(transform(sequence(s0, e0 - 1), " +
        "i -> CAST(conv(substr(ph, CAST(i * 2 + 1 AS INT), 2), 16, 10) AS BIGINT)), " +
        "CAST(0 AS BIGINT), (acc, x) -> acc + x) ELSE CAST(0 AS BIGINT) END"))
      .withColumn("n_b", col("e0") - col("s0"))
      .drop("ph")
    val tot = blocks.groupBy("media_id").agg(sum("sum_b").as("total"))
    blocks.join(tot, "media_id")
      .groupBy(col("media_id"), col("kind"), col("L"))
      .agg(sum(when(col("sum_b") * col("L") > col("total") * col("n_b"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))")).otherwise(0L)).as("fp"))
      .select(col("media_id"), col("kind"), col("L").as("n_payload"), col("fp"))
      .orderBy("media_id")
  }

  /** DuckDB mirror of [[byteFingerprint]]: identical construct, payload
    * slice, block bounds (integer division), byte sums, and the same
    * cross-multiplied threshold. */
  def byteFingerprintOracleSql: String =
    textBlobsDuck("blob", headeredHex) + ", " +
      "m AS (SELECT media_id, " +
      "CASE WHEN substr(h, 1, 4) = '424D' THEN 'image' ELSE 'audio' END AS kind, " +
      "CASE WHEN substr(h, 1, 4) = '424D' THEN substr(h, 109) ELSE substr(h, 89) END AS ph, " +
      "CASE WHEN substr(h, 1, 4) = '424D' THEN CAST(octet_length(unhex(h)) - 54 AS BIGINT) " +
      "ELSE CAST(octet_length(unhex(h)) - 44 AS BIGINT) END AS L FROM blob), " +
      "blk AS (SELECT media_id, kind, L, t.b, (t.b * L) // 16 AS s0, " +
      "((t.b + 1) * L) // 16 AS e0, ph FROM m, range(16) t(b)), " +
      "sums AS (SELECT media_id, kind, L, b, e0 - s0 AS n_b, " +
      "CASE WHEN e0 > s0 THEN CAST(list_sum(" +
      "[CAST(concat('0x', substr(ph, CAST(i * 2 + 1 AS INT), 2)) AS BIGINT) " +
      "for i in range(s0, e0)]) AS BIGINT) ELSE 0 END AS sum_b FROM blk), " +
      "tot AS (SELECT media_id, CAST(sum(sum_b) AS BIGINT) AS total " +
      "FROM sums GROUP BY media_id) " +
      "SELECT s.media_id, s.kind, s.L AS n_payload, " +
      "CAST(sum(CASE WHEN s.sum_b * s.L > t.total * s.n_b " +
      "THEN 1 << s.b ELSE 0 END) AS BIGINT) AS fp " +
      "FROM sums s JOIN tot t USING (media_id) " +
      "GROUP BY s.media_id, s.kind, s.L ORDER BY s.media_id"

  // ---- Real pixel aHash: valid BMPs -> ImageIO decode -> 8x8 block
  // threshold hash, oracle-checked against the arithmetic pixel grid ----

  private def chan(e: String) = s"($e) % 256"

  /** Valid-BMP hex assembly over a row carrying (w, h, pad, dlen) plus
    * whatever the channel exprs reference: 54-byte header with exact
    * size fields, bottom-up rows (image row y = h-1 stored first),
    * B,G,R per pixel, 4-byte row padding. `pixelHex` overrides the
    * 3-channel assembly (the grayscale family hexes one byte and
    * repeats it — a third of the per-pixel string churn). */
  private def bmpHex(chanB: String, chanG: String, chanR: String,
      pixelHex: String = null): String = {
    val header = bmpHeaderHex("DIV", "w", "h", "dlen").mkString("concat(", ", ", ")")
    val perPixel = if (pixelHex != null) pixelHex else "concat(" +
      s"lpad(hex($chanB), 2, '0'), " +
      s"lpad(hex($chanG), 2, '0'), " +
      s"lpad(hex($chanR), 2, '0'))"
    val px = "array_join(transform(sequence(h - 1, CAST(0 AS BIGINT), CAST(-1 AS BIGINT)), y -> " +
      "concat(array_join(transform(sequence(CAST(0 AS BIGINT), w - 1), x -> " +
      s"$perPixel), ''), " +
      "repeat('00', CAST(pad AS INT)))), '')"
    s"concat($header, $px)"
  }

  /** Adds the BMP geometry columns (w, h — by default in 8..16 from
    * doc_id — row padding, pixel-data length) to a frame carrying doc_id. */
  private def withBmpGeometry(df: DataFrame, w: String = "8 + doc_id % 9",
      h: String = "8 + (doc_id * 3) % 9"): DataFrame = df
    .withColumn("w", expr(w))
    .withColumn("h", expr(h))
    .withColumn("pad", expr("(4 - (w * 3) % 4) % 4"))
    .withColumn("dlen", expr("(w * 3 + pad) * h"))

  /** (media_id, content) BMPs over `base`'s rows: the three channel
    * formulas of (doc_id, x, y), each wrapped by `ch`. */
  private def rgbBmpBlobs(base: DataFrame, mediaId: String,
      ch: String => String): DataFrame =
    withBmpGeometry(base)
      .selectExpr(s"$mediaId AS media_id",
        s"unhex(${bmpHex(ch("doc_id + 7 * x + 13 * y"),
          ch("3 * doc_id + 11 * x + 5 * y"),
          ch("5 * doc_id + 3 * x + 17 * y"))}) AS content")

  /** Genuinely VALID 24-bpp BMPs — not just valid headers: w×h in 8..16
    * derived from doc_id, per-channel pixel bytes integer formulas of
    * (doc_id, x, y), rows stored bottom-up with 4-byte padding, file and
    * image sizes exact. Built from codegen'd hex built-ins like the other
    * blob families, so construction itself is an engine-checked query
    * shape; the JDK's own BMP reader decodes these back to the SAME
    * integer pixel grid (MediaPipelineSpec pins decode == construction
    * against the formulas, the oracle pins it cross-engine).
    */
  def validBmpBlobs(spark: SparkSession, sfDir: String): DataFrame =
    rgbBmpBlobs(Tables(spark, sfDir, "documents").select(col("doc_id")),
      "doc_id", chan)

  /** blobs (media_id, content) → (media_id, w, h, luma) through the
    * [[decodeLuma]] UDF — the decode stage of the SQL pixel keys. */
  private def lumaOf(blobs: DataFrame): DataFrame =
    blobs
      .withColumn("d", decodeLuma(col("content")))
      .selectExpr("media_id", "CAST(d.w AS BIGINT) AS w",
        "CAST(d.h AS BIGINT) AS h", "d.luma AS luma")

  /** (luma sum, pixel count) SQL exprs of cell k of an n×n block grid over
    * (w, h, luma). Pixel x belongs to column (n·x) div w (ditto y/h), so
    * column i covers x ∈ [(i·w+n−1) div n, ((i+1)·w+n−1) div n) — the
    * same integer bounds the oracles' pixel→block floor mapping inverts;
    * every cell is nonempty because w, h ≥ 8 ≥ n. */
  private def blockSumExprs(n: Int): (String, String) = {
    def bound(idx: String, dim: String) = s"((($idx) * $dim + ${n - 1}) DIV $n)"
    val ys = bound(s"k DIV $n", "h"); val ye = bound(s"(k DIV $n) + 1", "h")
    val xs = bound(s"k % $n", "w"); val xe = bound(s"(k % $n) + 1", "w")
    (s"aggregate(flatten(transform(sequence($ys, $ye - 1), y -> " +
      s"transform(sequence($xs, $xe - 1), x -> " +
      "element_at(luma, CAST(y * w + x + 1 AS INT))))), " +
      "CAST(0 AS BIGINT), (a, v) -> a + v)",
      s"(($ye) - ($ys)) * (($xe) - ($xs))")
  }

  /** The REAL pixel average-hash over the valid BMPs: decode to the luma
    * grid (the family's one UDF — ImageIO is a JVM call), then an 8×8
    * block mean-threshold in pure codegen'd array arithmetic
    * ([[blockSumExprs]]). Bit k (= by·8+bx) sets iff the block's luma sum
    * cross-multiplies above the global mean (sum_k·w·h > total·n_k — no
    * division, no rounding boundary), packed into two non-negative
    * BIGINTs (hi = bits 63..32, lo = 31..0) so neither engine touches the
    * sign bit. MAP-ONLY end to end: no shuffle until the output ordering,
    * which is the shape that survives a billion images. [[decodeAhash]]
    * is the same hash fused into the decode UDF (spec-pinned identical).
    */
  def pixelAhash(spark: SparkSession, sfDir: String): DataFrame = {
    val (sumK, nK) = blockSumExprs(8)
    lumaOf(validBmpBlobs(spark, sfDir))
      .withColumn("total", expr("aggregate(luma, CAST(0 AS BIGINT), (a, v) -> a + v)"))
      .withColumn("np", expr("w * h"))
      .withColumn("blocks", expr("transform(sequence(0, 63), k -> " +
        s"named_struct('k', k, 'hot', ($sumK) * np > total * ($nK)))"))
      .selectExpr("media_id", "w", "h",
        "aggregate(filter(blocks, b -> b.hot AND b.k >= 32), CAST(0 AS BIGINT), " +
          "(a, b) -> a + shiftleft(CAST(1 AS BIGINT), CAST(b.k - 32 AS INT))) AS ahash_hi",
        "aggregate(filter(blocks, b -> b.hot AND b.k < 32), CAST(0 AS BIGINT), " +
          "(a, b) -> a + shiftleft(CAST(1 AS BIGINT), CAST(b.k AS INT))) AS ahash_lo")
      .orderBy("media_id")
  }

  /** REAL pixel downscaling — the resize stage that was previously only
    * the stub-analog histogram re-bin: each decoded image reduces to a
    * 4×4 block-mean luma thumbnail (the first stage of every thumbnail /
    * preview / coarse-vision pipeline). Same integer block bounds as the
    * aHash ([[blockSumExprs]] at n = 4); each cell is
    * the FLOOR of its block's luma sum over its pixel count — exact
    * integer division, identical cross-engine. Served as a
    * comma-joined string of the 16 exact integers (row-major) plus
    * min/max cell — the gate hashes strings and scalars natively.
    * MAP-ONLY until the output ordering.
    */
  def pixelThumb(spark: SparkSession, sfDir: String): DataFrame = {
    val (sumK, nK) = blockSumExprs(4)
    lumaOf(validBmpBlobs(spark, sfDir))
      .withColumn("cells", expr(
        s"transform(sequence(0, 15), k -> ($sumK) DIV ($nK))"))
      .selectExpr("media_id", "w", "h",
        "array_join(transform(cells, c -> CAST(c AS STRING)), ',') AS thumb",
        "array_min(cells) AS t_min", "array_max(cells) AS t_max")
      .orderBy("media_id")
  }

  /** DuckDB luma of pixel (xx.x, yy.y) under the three channel formulas
    * of [[rgbBmpBlobs]] and [[videoBlob]]: content seed `seed`, each
    * channel plus `drift`, % `mod`. */
  private def lumaDuck(seed: String, mod: Int, drift: String = ""): String =
    s"299 * ((5 * $seed + 3 * xx.x + 17 * yy.y$drift) % $mod) + " +
      s"587 * ((3 * $seed + 11 * xx.x + 5 * yy.y$drift) % $mod) + " +
      s"114 * (($seed + 7 * xx.x + 13 * yy.y$drift) % $mod)"

  /** The [[rgbBmpBlobs]] pixel grid as the DuckDB CTE `g` (`id`, w, h, y,
    * x, luma + `extra`) over geometry CTE `src` — NO bytes, NO decode. */
  private def lumaGridDuck(id: String, src: String, mod: Int,
      extra: String = ""): String =
    s"g AS (SELECT $id, w, h, yy.y AS y, xx.x AS x, " +
      s"${lumaDuck("doc_id", mod)}$extra AS luma " +
      // DuckDB's range() takes no lateral column args; w,h <= 16 by
      // construction, so a fixed 16x16 grid filtered per doc is exact
      s"FROM $src, range(16) yy(y), range(16) xx(x) " +
      s"WHERE yy.y < $src.h AND xx.x < $src.w), "

  /** [[validBmpBlobs]]' geometry `d` and luma grid `g`. */
  private def validBmpGridDuck: String =
    "WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id * 3) % 9 AS h FROM documents), " +
      lumaGridDuck("doc_id", "d", 256)

  /** DuckDB twin of [[packBits]]: bits k (an expr) where `cond` holds,
    * summed as shifted ones into BIGINT columns `hi` and `lo`. */
  private def packDuck(cond: String, k: String, hi: String, lo: String): String =
    s"CAST(sum(CASE WHEN $cond AND $k >= 32 " +
      s"THEN (CAST(1 AS BIGINT) << CAST($k - 32 AS INT)) ELSE 0 END) AS BIGINT) AS $hi, " +
      s"CAST(sum(CASE WHEN $cond AND $k < 32 " +
      s"THEN (CAST(1 AS BIGINT) << CAST($k AS INT)) ELSE 0 END) AS BIGINT) AS $lo"

  /** DuckDB twin of [[ahashBits]] over luma grid `g` keyed by `id`: (CTEs
    * `blk`, `tot`; SELECT of blk.`id``as`, w, h, ahash_hi, ahash_lo). */
  private def ahashDuck(id: String, as: String): (String, String) = (
    s"blk AS (SELECT $id, w, h, (y * 8) // h AS by, (x * 8) // w AS bx, " +
      "CAST(sum(luma) AS BIGINT) AS sum_k, count(*) AS n_k " +
      s"FROM g GROUP BY $id, w, h, (y * 8) // h, (x * 8) // w), " +
      s"tot AS (SELECT $id, CAST(sum(luma) AS BIGINT) AS total FROM g GROUP BY $id)",
    s"SELECT blk.$id$as, w, h, " +
      packDuck("sum_k * (w * h) > total * n_k", "by * 8 + bx", "ahash_hi", "ahash_lo") +
      s" FROM blk JOIN tot ON blk.$id = tot.$id GROUP BY blk.$id, w, h")

  /** DuckDB mirror of [[pixelThumb]] from the arithmetic pixel grid —
    * same block mapping ((x·4)//w), same floor division, same CSV join
    * order; a pass certifies the REAL decode feeds the resize too. */
  def thumbOracleSql: String =
    validBmpGridDuck +
      "blk AS (SELECT doc_id, w, h, (y * 4) // h AS by, (x * 4) // w AS bx, " +
      "CAST(sum(luma) AS BIGINT) // count(*) AS m " +
      "FROM g GROUP BY doc_id, w, h, (y * 4) // h, (x * 4) // w) " +
      "SELECT doc_id AS media_id, w, h, " +
      "array_to_string(list(CAST(m AS VARCHAR) ORDER BY by * 4 + bx), ',') AS thumb, " +
      "CAST(min(m) AS BIGINT) AS t_min, CAST(max(m) AS BIGINT) AS t_max " +
      "FROM blk GROUP BY doc_id, w, h ORDER BY media_id"

  /** DuckDB mirror of [[pixelAhash]] with NO bytes and NO decode: the
    * pixel grid is arithmetically known from the construction, so the
    * oracle recomputes the hash from the (doc_id, x, y) formulas — a pass
    * certifies construct → real ImageIO decode → hash end to end against
    * ground-truth integers (the multimodal_header pattern, one level
    * deeper). Same luma weights, same pixel→block floor mapping, same
    * cross-multiplied threshold, same hi/lo packing.
    */
  def ahashOracleSql: String = {
    val (ctes, hash) = ahashDuck("doc_id", " AS media_id")
    s"$validBmpGridDuck$ctes $hash ORDER BY media_id"
  }

  // ---- Perceptual near-dup image dedup: aHash + banded Hamming join ----

  /** Two valid BMPs per document: the original (media_id = 2·doc_id) and
    * a NEAR-DUPLICATE variant (2·doc_id + 1) — every channel brightened
    * by +17 (a pure brightness shift: the aHash is PROVABLY invariant,
    * because adding c to every pixel moves sum_k·np and total·n_k by the
    * same c·n_k·np), and for doc_id % 3 == 0 additionally +40 on the
    * left quarter (a LOCAL edit that may flip a few blocks' bits — the
    * realistic crop/logo-stamp near-dup). Channels ride % 190 so the
    * brightest variant byte (189+17+40) still fits. */
  def imageVariantBlobs(spark: SparkSession, sfDir: String): DataFrame = {
    val delta = "(CASE WHEN variant = 1 THEN 17 + (CASE WHEN doc_id % 3 = 0 " +
      "AND x * 4 < w THEN 40 ELSE 0 END) ELSE 0 END)"
    val base = Tables(spark, sfDir, "documents").select(col("doc_id"))
      .select(col("doc_id"), explode(expr("array(0, 1)")).as("variant"))
    rgbBmpBlobs(base, "doc_id * 2 + variant", f => s"(($f) % 190 + $delta)")
  }

  /** Near-duplicate IMAGE pairs over real decoded pixels — the
    * perceptual-dedup pass a multimodal training pipeline runs before
    * training (the PDQ/aHash production shape): hash every image
    * ([[decodeAhash]] — the real ImageIO decode with the hash fused into
    * the same pass), split the 64-bit hash
    * into 4 sixteen-bit BANDS, equi-join on (band index, band value,
    * width, height) — the dimension columns are the metadata prefilter a
    * real media pipeline applies first, any pair within Hamming ≤ 3
    * shares an exact band by pigeonhole, and the brightness twins
    * collide in all 4 — then verify the full Hamming distance ≤ 4 with
    * two bit_counts. The radius is deliberately tight: aHash over smooth
    * synthetic gradients is structurally collision-prone (half-plane bit
    * patterns recur across documents), and production PDQ-style
    * pipelines re-verify candidates pixel-level anyway. A pair colliding
    * in several bands is counted ONCE by the ownership rule (only its
    * LOWEST shared band reports it — the interval join's no-DISTINCT
    * trick). Scale: candidates are bounded by band-bucket populations
    * (never an all-pairs), the join is a plain equi-join AQE can
    * skew-split, and the verify is two integer popcounts per candidate.
    */
  def imageNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    // the localCheckpoint is a PLAN boundary, not a cache hint (the
    // graph family's passPinner idiom): both self-join sides and every
    // downstream reference (4 band values per side, the ownership CASE,
    // the popcounts) must consume ahash_hi/lo as plain COLUMNS of a
    // materialized 5-column table. Left in the plan, the construct +
    // decode expression tree is re-derived per side and re-inlined per
    // reference, and the optimizer/codegen grinds for minutes on the
    // multiplied tree. It is also the honest scale shape: hash once
    // map-side, keep only the per-image hash rows.
    val hashed = imageVariantBlobs(spark, sfDir)
      .withColumn("d", decodeAhash(col("content")))
      .selectExpr("media_id", "CAST(d.w AS BIGINT) AS w",
        "CAST(d.h AS BIGINT) AS h", "d.ahash_hi AS ahash_hi",
        "d.ahash_lo AS ahash_lo")
      .localCheckpoint()
    bandedHammingPairs(hashed).orderBy("media_a", "media_b")
  }

  /** The banded-Hamming join KERNEL over a hashed table (media_id, the
    * `meta` prefilter columns, the `hi`/`lo` hash halves) — shared by the
    * image and audio near-dup keys, and factored so SkewSpec can drive it
    * with a pathological corpus: the one 100 TB hazard of every banded
    * scheme is a HOT BAND (a monochrome-heavy corpus piles into one
    * (band, value) bucket and candidate volume there is n²). The bucket
    * join is a plain equi-join, so the production answer is AQE's
    * skew-join split — SkewSpec pins skew=true firing on a synthetic hot
    * band with pair counts unchanged. */
  private[graft] def bandedHammingPairs(hashed: DataFrame, radius: Int = 4,
      meta: Seq[String] = Seq("w", "h"), hi: String = "ahash_hi",
      lo: String = "ahash_lo"): DataFrame = {
    val bandArr = "array(" +
      s"struct(0 AS bi, $lo % 65536 AS bv), " +
      s"struct(1 AS bi, $lo DIV 65536 AS bv), " +
      s"struct(2 AS bi, $hi % 65536 AS bv), " +
      s"struct(3 AS bi, $hi DIV 65536 AS bv))"
    val cols = ("media_id" +: meta :+ hi :+ lo).map(col)
    val bands = hashed
      .select(cols :+ explode(expr(bandArr)).as("b"): _*)
      .select(cols :+ col("b.bi").as("bi") :+ col("b.bv").as("bv"): _*)
    def side(s: String) = bands.select(Seq(col("media_id").as(s"media_$s"),
      col(hi).as(s"hi_$s"), col(lo).as(s"lo_$s")) ++
      (meta :+ "bi" :+ "bv").map(col): _*)
    side("a").join(side("b"), Seq("bi", "bv") ++ meta)
      .where(col("media_a") < col("media_b"))
      .where(expr("bi = CASE WHEN lo_a % 65536 = lo_b % 65536 THEN 0 " +
        "WHEN lo_a DIV 65536 = lo_b DIV 65536 THEN 1 " +
        "WHEN hi_a % 65536 = hi_b % 65536 THEN 2 ELSE 3 END"))
      .withColumn("hamming",
        expr("CAST(bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b) AS BIGINT)"))
      .where(col("hamming") <= radius)
      .select("media_a", "media_b", "hamming")
  }

  /** DuckDB mirror of [[imageNearDups]] — again NO bytes, NO decode: the
    * variant pixel grids are arithmetic (base channels % 190 plus the
    * brightness/local deltas folded into luma as 1000·delta), so the
    * oracle recomputes hash → bands → lowest-band ownership → popcount
    * from ground-truth integers. */
  def imageDedupOracleSql: String = {
    val (ctes, hash) = ahashDuck("media_id", "")
    "WITH m AS (SELECT doc_id, v.variant, doc_id * 2 + v.variant AS media_id, " +
      "8 + doc_id % 9 AS w, 8 + (doc_id * 3) % 9 AS h " +
      "FROM documents, (VALUES (0), (1)) v(variant)), " +
      lumaGridDuck("media_id", "m", 190, " + 1000 * (CASE WHEN variant = 1 " +
        "THEN 17 + (CASE WHEN doc_id % 3 = 0 AND xx.x * 4 < w THEN 40 ELSE 0 END) ELSE 0 END)") +
      s"$ctes, hsh AS ($hash), " +
      bandedHammingDuck("hsh", Seq("w", "h"), "ahash_hi", "ahash_lo")
  }

  /** DuckDB twin of [[bandedHammingPairs]] over CTE `src` (media_id,
    * `meta`, `hi`, `lo`): bands `bnd`, candidates `p`, lowest-band
    * ownership and the Hamming ≤ 4 verify. */
  private def bandedHammingDuck(src: String, meta: Seq[String], hi: String,
      lo: String): String =
    s"bnd AS (SELECT media_id, ${meta.mkString(", ")}, $hi, $lo, b.bi, " +
      s"CASE b.bi WHEN 0 THEN $lo % 65536 WHEN 1 THEN $lo // 65536 " +
      s"WHEN 2 THEN $hi % 65536 ELSE $hi // 65536 END AS bv " +
      s"FROM $src, (VALUES (0), (1), (2), (3)) b(bi)), " +
      "p AS (SELECT a.media_id AS media_a, b2.media_id AS media_b, " +
      s"a.$hi AS hi_a, a.$lo AS lo_a, " +
      s"b2.$hi AS hi_b, b2.$lo AS lo_b, a.bi " +
      "FROM bnd a JOIN bnd b2 ON a.bi = b2.bi AND a.bv = b2.bv " +
      meta.map(m => s"AND a.$m = b2.$m ").mkString +
      "AND a.media_id < b2.media_id) " +
      "SELECT media_a, media_b, " +
      "CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS BIGINT) AS hamming " +
      "FROM p WHERE bi = (CASE WHEN lo_a % 65536 = lo_b % 65536 THEN 0 " +
      "WHEN lo_a // 65536 = lo_b // 65536 THEN 1 " +
      "WHEN hi_a % 65536 = hi_b % 65536 THEN 2 ELSE 3 END) " +
      "AND bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 4 " +
      "ORDER BY media_a, media_b"

  // ---- DCT pHash + the hash-robustness ledger: which perceptual hash
  // survives which perturbation, MEASURED as oracle-checked integers ----

  /** cos(k·π/32) × 10000, k = 0..63 — the 16-point DCT-II basis as exact
    * scaled-integer literals (cos((2x+1)uπ/32) has period 64 in its
    * integer argument; entries 32..63 are the negations of 0..31). ONE
    * table, shared verbatim with the DuckDB oracle, so the DCT is exact
    * integer arithmetic on both engines — no trig at query time. */
  private val cos64: Array[Long] = {
    val half = Array[Long](10000, 9952, 9808, 9569, 9239, 8819, 8315,
      7730, 7071, 6344, 5556, 4714, 3827, 2903, 1951, 980, 0, -980,
      -1951, -2903, -3827, -4714, -5556, -6344, -7071, -7730, -8315,
      -8819, -9239, -9569, -9808, -9952)
    half ++ half.map(-_)
  }

  private[multimodal] def cos64DuckLiteral: String =
    cos64.mkString("[", ", ", "]")
  private val cos64Spark: String = cos64.mkString("array(", "L, ", "L)")

  /** Grayscale pixel value for the perceptual-hash family, as a SQL expr
    * over (doc_id, v, bw, h, x, y) — natural-spectrum content (a
    * doc-keyed pseudo-random value PER 16×16 CELL of the base geometry,
    * so every low-frequency DCT coefficient is content-driven — the
    * regime real images live in) plus small high-frequency noise, with
    * the perturbation folded in per variant:
    *   v=0 base; v=1 same content, re-seeded noise (the re-encode /
    *   sensor-noise near-dup); v=2 two-column crop (content sampled at
    *   x+2 in BASE geometry, width shrinks by 2); v=3 gamma tone-map
    *   (g → floor(sqrt(255·g)) — integer-exact monotone nonlinearity).
    * All % and DIV operands are NONNEGATIVE by construction (Spark DIV
    * truncates toward zero, DuckDB // floors — they agree only above
    * zero), and g stays in 62..222 so the byte never wraps. */
  private def grayExpr: String = {
    val cx = "((x + (CASE WHEN v = 2 THEN 2 ELSE 0 END)) * 16) DIV bw"
    val cy = "(y * 16) DIV h"
    val cell = s"62 + (doc_id * 73 + ($cx) * 149 + ($cy) * 211 + ($cx) * ($cy) * 31) % 121"
    val noise = "((x * 37 + y * 61 + (doc_id * 13 + " +
      "(CASE WHEN v = 1 THEN 7 ELSE 0 END)) * 29) % 25) DIV 2"
    val g0 = s"($cell) + ($noise)"
    s"CASE WHEN v = 3 THEN CAST(floor(sqrt(CAST(($g0) * 255 AS DOUBLE))) AS BIGINT) ELSE $g0 END"
  }

  /** [[grayExpr]] replicated in Scala — every op on nonnegative operands
    * so / == DIV == //; the same IEEE sqrt+floor for the gamma map.
    * MediaPipelineSpec pins [[perceptualBlobs]] byte-identical to the
    * SQL-hex construction ([[perceptualBlobsSql]]) over a sample, so the
    * two formulations cannot drift. */
  private def grayByte(docId: Long, v: Int, bw: Int, h: Int,
      x: Int, y: Int): Int = {
    val xp = x + (if (v == 2) 2 else 0)
    val cx = (xp * 16) / bw; val cy = (y * 16) / h
    val cell = 62 + (docId * 73 + cx * 149L + cy * 211L + cx.toLong * cy * 31) % 121
    val noise = ((x * 37L + y * 61L + (docId * 13 + (if (v == 1) 7 else 0)) * 29) % 25) / 2
    val g0 = cell + noise
    (if (v == 3) math.floor(math.sqrt((g0 * 255).toDouble)).toLong else g0).toInt
  }

  /** `value` little-endian into `n` bytes of `out` at `off`. */
  private def le(out: Array[Byte], off: Int, n: Int, value: Long): Unit = {
    var i = 0
    while (i < n) { out(off + i) = ((value >> (8 * i)) & 0xff).toByte; i += 1 }
  }

  private def bmpRowPad(w: Int): Int = (4 - (w * 3) % 4) % 4
  private def bmpSize(w: Int, h: Int): Int = 54 + (w * 3 + bmpRowPad(w)) * h

  /** One valid 24-bpp BMP (`bmpSize(w, h)` bytes) into `out` at `off` —
    * the byte twin of [[bmpHex]]: bottom-up rows, B,G,R, zero padding.
    * `rgb(x, y)` (y top-down) packs R << 16 | G << 8 | B; the specialized
    * (Int, Int) => Int call keeps the pixel loop free of boxing. */
  private def writeBmp(out: Array[Byte], off: Int, w: Int, h: Int,
      rgb: (Int, Int) => Int): Unit = {
    val dlen = bmpSize(w, h) - 54
    out(off) = 'B'; out(off + 1) = 'M'
    le(out, off + 2, 4, 54L + dlen); le(out, off + 10, 4, 54); le(out, off + 14, 4, 40)
    le(out, off + 18, 4, w); le(out, off + 22, 4, h)
    le(out, off + 26, 2, 1); le(out, off + 28, 2, 24)
    le(out, off + 34, 4, dlen); le(out, off + 38, 4, 2835); le(out, off + 42, 4, 2835)
    var p = off + 54
    var y = h - 1
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val c = rgb(x, y)
        out(p) = c.toByte; out(p + 1) = (c >> 8).toByte; out(p + 2) = (c >> 16).toByte
        p += 3; x += 1
      }
      p += bmpRowPad(w)
      y -= 1
    }
  }

  private def rgb(r: Int, g: Int, b: Int): Int =
    (r & 0xff) << 16 | (g & 0xff) << 8 | (b & 0xff)
  private def gray(g: Int): Int = rgb(g, g, g)

  val grayBmp = udf((docId: Long, v: Int) => {
    val bw = (18 + docId % 6).toInt; val h = (16 + (docId * 3) % 8).toInt
    val w = if (v == 2) bw - 2 else bw
    val out = new Array[Byte](bmpSize(w, h))
    writeBmp(out, 0, w, h, (x, y) => gray(grayByte(docId, v, bw, h, x, y)))
    out
  })

  /** Valid grayscale 24-bpp BMPs for the perceptual-hash family: base
    * width 18..23, height 16..23 (≥ 16 so the 16×16 mean grid has no
    * empty cell), one row per (doc, variant) with media_id = 4·doc_id+v.
    * `variants = false` constructs only the base images (v = 0).
    * Assembled by [[grayBmp]] — direct byte assembly: the SQL-hex
    * formulation ([[perceptualBlobsSql]], spec-pinned byte-identical)
    * costs ~8 s at sf0.1 in per-pixel string churn; the byte UDF ~0.5 s.
    * Correctness never rests on the construction path anyway: the oracle
    * recomputes from the arithmetic grids and the decode must invert
    * whatever bytes were built. */
  def perceptualBlobs(spark: SparkSession, sfDir: String,
      variants: Boolean): DataFrame = {
    val base = Tables(spark, sfDir, "documents").select(col("doc_id"))
    val withV =
      if (variants) base.select(col("doc_id"),
        explode(expr("array(0, 1, 2, 3)")).as("v"))
      else base.withColumn("v", lit(0))
    withV.select(expr("doc_id * 4 + v").as("media_id"),
      grayBmp(col("doc_id"), col("v").cast("int")).as("content"))
  }

  /** The SQL-hex formulation of the same construction — the
    * engine-checked query shape the other blob families demonstrate;
    * kept as the spec's cross-formulation pin (byte-identical to
    * [[perceptualBlobs]] over the fixture sample). */
  private[graft] def perceptualBlobsSql(spark: SparkSession,
      sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents").select(col("doc_id"))
      .select(col("doc_id"), explode(expr("array(0, 1, 2, 3)")).as("v"))
      .withColumn("bw", expr("18 + doc_id % 6"))
      .transform(withBmpGeometry(_, "CASE WHEN v = 2 THEN bw - 2 ELSE bw END",
        "16 + (doc_id * 3) % 8"))
      .selectExpr("doc_id * 4 + v AS media_id",
        s"unhex(${bmpHex(null, null, null,
          s"repeat(lpad(hex($grayExpr), 2, '0'), 3)")}) AS content")

  /** Both perceptual hashes in one decode pass (the [[decodeAhash]]
    * fusion, one level up): the 8×8 block-mean aHash AND the published
    * DCT pHash — 16×16 floor block-mean grid, 16-point integer DCT-II,
    * keep the top-left (low-frequency) 8×8 coefficients, bit k set iff
    * coefficient k exceeds the UPPER MEDIAN of the 64 (sorted index 32;
    * exact integer comparisons, no float anywhere). Grayscale pixels
    * (R=G=B=g) make luma exactly 1000·g. */
  case class PHashed(w: Int, h: Int, ahash_hi: Long, ahash_lo: Long,
      phash_hi: Long, phash_lo: Long)

  private def perceptualOf(bytes: Array[Byte]): PHashed = {
    val d = decodeImage(bytes)
    if (d == null || d.w < 16 || d.h < 16) return null
    val (ahi, alo) = ahashBits(d)
    val (s16, c16, _) = blockSums(d, 16)
    val m = new Array[Long](256)
    var k = 0
    while (k < 256) { m(k) = s16(k) / c16(k); k += 1 }
    val coef = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var q = 0
      while (q < 8) {
        var s = 0L
        var bx = 0
        while (bx < 16) {
          val cu = cos64(((2 * bx + 1) * u) % 64)
          var by = 0
          while (by < 16) {
            s += m(by * 16 + bx) * cu * cos64(((2 * by + 1) * q) % 64)
            by += 1
          }
          bx += 1
        }
        coef(u * 8 + q) = s
        q += 1
      }
      u += 1
    }
    val sorted = coef.clone(); java.util.Arrays.sort(sorted)
    val med = sorted(32)
    val (phi, plo) = packBits(k => coef(k) > med)
    PHashed(d.w, d.h, ahi, alo, phi, plo)
  }

  val decodePerceptual = udf((bytes: Array[Byte]) => perceptualOf(bytes))

  /** The DCT pHash over the real decode — the industry-standard
    * perceptual hash (pHash.org / imagehash's phash shape) the
    * `q_multimodal_phash` row promised: media_id, dims, and the 64
    * median-thresholded low-frequency DCT bits packed hi/lo. */
  def pixelDctHash(spark: SparkSession, sfDir: String): DataFrame =
    perceptualBlobs(spark, sfDir, variants = false)
      .withColumn("d", decodePerceptual(col("content")))
      .selectExpr("media_id DIV 4 AS media_id", "CAST(d.w AS BIGINT) AS w",
        "CAST(d.h AS BIGINT) AS h", "d.phash_hi AS phash_hi",
        "d.phash_lo AS phash_lo")
      .orderBy("media_id")

  /** The hash-robustness LEDGER: for each perturbation (re-encode noise,
    * 2-column crop, gamma tone-map) and each hash family (aHash, DCT
    * pHash), how many of the doc-pairs (base, perturbed) land within
    * Hamming 2 / 4 / 8 — the measured, oracle-checked answer to "which
    * hash survives what", replacing folklore with integers. Measured at
    * 500 docs: noise 366 vs 300 @≤2, crop 24 vs 7 @≤8, gamma 451 vs 429
    * @≤2 — the median-DCT dominates on ALL THREE for natural-spectrum
    * content (every ordering pinned in MediaPipelineSpec), while aHash
    * keeps the higher base-hash distinctness (497 vs 323 of 500) — the
    * trade a production pipeline picks per use case. Scale shape: one
    * decode+hash pass map-side (localCheckpoint as the plan boundary —
    * the q_dedup_image lesson), one doc_id equi-join, global aggregate
    * over 6 groups. */
  def hashRobustness(spark: SparkSession, sfDir: String): DataFrame = {
    val hashed = perceptualBlobs(spark, sfDir, variants = true)
      .withColumn("d", decodePerceptual(col("content")))
      .selectExpr("media_id DIV 4 AS doc_id", "media_id % 4 AS v",
        "d.ahash_hi AS a_hi", "d.ahash_lo AS a_lo",
        "d.phash_hi AS p_hi", "d.phash_lo AS p_lo")
      .localCheckpoint()
    val b = hashed.where(col("v") === 0)
      .select(col("doc_id"), col("a_hi").as("a_hi0"), col("a_lo").as("a_lo0"),
        col("p_hi").as("p_hi0"), col("p_lo").as("p_lo0"))
    hashed.where(col("v") > 0).join(b, "doc_id")
      .selectExpr(
        "CASE v WHEN 1 THEN 'noise' WHEN 2 THEN 'crop' ELSE 'gamma' END AS perturb",
        "bit_count(a_hi ^ a_hi0) + bit_count(a_lo ^ a_lo0) AS ham_a",
        "bit_count(p_hi ^ p_hi0) + bit_count(p_lo ^ p_lo0) AS ham_p")
      .selectExpr("perturb",
        "stack(2, 'ahash', ham_a, 'dcthash', ham_p) AS (family, ham)")
      .groupBy("family", "perturb")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ham") <= 2, 1L).otherwise(0L)).as("hits_le2"),
        sum(when(col("ham") <= 4, 1L).otherwise(0L)).as("hits_le4"),
        sum(when(col("ham") <= 8, 1L).otherwise(0L)).as("hits_le8"))
      .orderBy("family", "perturb")
  }

  /** Shared oracle CTE chain `... hsh` — (doc_id, v, a_hi, a_lo, p_hi,
    * p_lo) recomputed from the arithmetic pixel grids with NO bytes and
    * NO decode (the [[ahashOracleSql]] pattern): same gray formula
    * ([[grayExpr]] verbatim, DIV→//), same block maps, same integer DCT
    * via the shared cosine VALUES table, same upper-median rule
    * (row_number 33 ascending — the value at sorted index 32). */
  private def perceptualHashCtes(variantsValues: String): String = {
    val gray = grayExpr.replace(" DIV ", " // ")
    s"WITH mm AS (SELECT doc_id, vv.v, 18 + doc_id % 6 AS bw, " +
      "16 + (doc_id * 3) % 8 AS h, " +
      "CASE WHEN vv.v = 2 THEN 18 + doc_id % 6 - 2 ELSE 18 + doc_id % 6 END AS w " +
      s"FROM documents, (VALUES $variantsValues) vv(v)), " +
      "g0 AS (SELECT doc_id, v, bw, h, w, xx.x AS x, yy.y AS y " +
      "FROM mm, range(23) xx(x), range(23) yy(y) " +
      "WHERE xx.x < mm.w AND yy.y < mm.h), " +
      s"g AS (SELECT doc_id, v, bw, h, w, x, y, 1000 * ($gray) AS luma FROM g0), " +
      "blk8 AS (SELECT doc_id, v, w, h, (y * 8) // h * 8 + (x * 8) // w AS k, " +
      "CAST(sum(luma) AS BIGINT) AS sk, count(*) AS nk " +
      "FROM g GROUP BY doc_id, v, w, h, (y * 8) // h * 8 + (x * 8) // w), " +
      "tot AS (SELECT doc_id, v, CAST(sum(luma) AS BIGINT) AS total " +
      "FROM g GROUP BY doc_id, v), " +
      "ah AS (SELECT blk8.doc_id, blk8.v, " +
      packDuck("sk * (w * h) > total * nk", "k", "a_hi", "a_lo") + " " +
      "FROM blk8 JOIN tot ON blk8.doc_id = tot.doc_id AND blk8.v = tot.v " +
      "GROUP BY blk8.doc_id, blk8.v), " +
      "blk16 AS (SELECT doc_id, v, (x * 16) // w AS bx, (y * 16) // h AS by, " +
      "CAST(sum(luma) AS BIGINT) // count(*) AS m " +
      "FROM g GROUP BY doc_id, v, (x * 16) // w, (y * 16) // h), " +
      // SEPARABLE 2-D DCT — row pass then column pass (exact integer
      // sums, so associativity is free): cells×64 single-pass costs 327M
      // list-indexing rows at sf0.1 (measured 94 s); the two 8-wide
      // passes cost ~60M. The cosine table lives in a ONE-ROW CTE
      // cross-joined in (a VALUES-table double join invites a
      // catastrophic join order; an inline literal re-builds the list
      // per row — both measured dead ends).
      s"ctab AS (SELECT $cos64DuckLiteral AS cc), " +
      "dx AS (SELECT doc_id, v, by, uu.u AS u, " +
      "CAST(sum(m * cc[((2 * bx + 1) * uu.u) % 64 + 1]) AS BIGINT) AS t " +
      "FROM blk16, range(8) uu(u), ctab " +
      "GROUP BY doc_id, v, by, uu.u), " +
      "dct AS (SELECT doc_id, v, u * 8 + qq.q AS k, " +
      "CAST(sum(t * cc[((2 * by + 1) * qq.q) % 64 + 1]) AS BIGINT) AS coef " +
      "FROM dx, range(8) qq(q), ctab " +
      "GROUP BY doc_id, v, u * 8 + qq.q), " +
      "rk AS (SELECT doc_id, v, k, coef, " +
      "row_number() OVER (PARTITION BY doc_id, v ORDER BY coef, k) AS rn " +
      "FROM dct), " +
      "md AS (SELECT doc_id, v, coef AS med FROM rk WHERE rn = 33), " +
      "ph AS (SELECT rk.doc_id, rk.v, " +
      packDuck("coef > med", "k", "p_hi", "p_lo") + " " +
      "FROM rk JOIN md ON rk.doc_id = md.doc_id AND rk.v = md.v " +
      "GROUP BY rk.doc_id, rk.v), " +
      "hsh AS (SELECT ah.doc_id, ah.v, a_hi, a_lo, p_hi, p_lo " +
      "FROM ah JOIN ph ON ah.doc_id = ph.doc_id AND ah.v = ph.v)"
  }

  def dctHashOracleSql: String =
    perceptualHashCtes("(0)") +
      ", dims AS (SELECT doc_id, 18 + doc_id % 6 AS w, " +
      "16 + (doc_id * 3) % 8 AS h FROM documents) " +
      "SELECT hsh.doc_id AS media_id, CAST(dims.w AS BIGINT) AS w, " +
      "CAST(dims.h AS BIGINT) AS h, p_hi AS phash_hi, p_lo AS phash_lo " +
      "FROM hsh JOIN dims ON hsh.doc_id = dims.doc_id ORDER BY media_id"

  def hashRobustOracleSql: String =
    perceptualHashCtes("(0), (1), (2), (3)") +
      ", hams AS (SELECT b.doc_id, " +
      "CASE o.v WHEN 1 THEN 'noise' WHEN 2 THEN 'crop' ELSE 'gamma' END AS perturb, " +
      "bit_count(xor(b.a_hi, o.a_hi)) + bit_count(xor(b.a_lo, o.a_lo)) AS ham_a, " +
      "bit_count(xor(b.p_hi, o.p_hi)) + bit_count(xor(b.p_lo, o.p_lo)) AS ham_p " +
      "FROM hsh b JOIN hsh o ON b.doc_id = o.doc_id AND b.v = 0 AND o.v > 0), " +
      "fam AS (SELECT perturb, f.family, " +
      "CASE f.family WHEN 'ahash' THEN ham_a ELSE ham_p END AS ham " +
      "FROM hams, (VALUES ('ahash'), ('dcthash')) f(family)) " +
      "SELECT family, perturb, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(CASE WHEN ham <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS hits_le2, " +
      "CAST(sum(CASE WHEN ham <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS hits_le4, " +
      "CAST(sum(CASE WHEN ham <= 8 THEN 1 ELSE 0 END) AS BIGINT) AS hits_le8 " +
      "FROM fam GROUP BY family, perturb ORDER BY family, perturb"

  // ---- Real audio decode: valid 16-bit PCM WAVs -> javax.sound.sampled
  // decode -> per-window RMS-energy / peak / zero-crossing integers ----

  /** Decoded PCM surface: sample rate, channel count, and the signed
    * 16-bit samples widened to Int — integer end to end so decode-derived
    * window stats hash-match a pure-arithmetic oracle (the [[Decoded]]
    * pattern, replayed for sound). */
  case class Pcm(rate: Int, channels: Int, samples: Array[Int])

  /** REAL PCM decode via the JDK's own `javax.sound.sampled` (the WAV
    * parser ships with Java 17 — public API, no network, no native codec;
    * the exact precedent [[decodeImage]] set for images). Null when the
    * payload isn't a signed-16-bit PCM WAV the JDK can read — corrupt
    * blob, wrong encoding, or not audio at all. NonFatal-guarded like the
    * image path: arbitrary bytes must fall back, never fail the task. */
  // AudioSystem.getAudioInputStream re-queries the AudioFileReader
  // service providers ON EVERY CALL (the sound registry has no ImageIO-
  // style per-format reader cache) — at millions of small clips the
  // registry walk, not the PCM parse, is the decode cost. The provider
  // set is JVM-static: resolve it once and drive the readers directly
  // (same public SPI AudioSystem itself dispatches to, same first-claim
  // semantics, same parse). Readers are stateless per the SPI contract —
  // each call builds its own stream objects — so one shared instance
  // serves all executor threads. Empty-loader fallback keeps behavior
  // identical if the platform loader hides the providers.
  private lazy val audioReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.toSeq
  }

  private def audioStreamOf(
      bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    if (audioReaders.isEmpty)
      return javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
    val it = audioReaders.iterator
    while (it.hasNext) {
      try return it.next().getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => ()
      }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "no installed AudioFileReader claims the payload")
  }

  private def decodeWav(bytes: Array[Byte]): Pcm = {
    if (bytes == null || bytes.length < 44 ||
      bytes(0) != 'R'.toByte || bytes(1) != 'I'.toByte ||
      bytes(2) != 'F'.toByte || bytes(3) != 'F'.toByte) return null
    val in =
      try audioStreamOf(bytes)
      catch { case scala.util.control.NonFatal(_) => return null }
    try {
      val fmt = in.getFormat
      if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
        fmt.getSampleSizeInBits != 16) return null
      val raw = in.readAllBytes()
      val n = raw.length / 2
      val samples = new Array[Int](n)
      var i = 0
      if (fmt.isBigEndian)
        while (i < n) { samples(i) = (raw(2 * i) << 8) | (raw(2 * i + 1) & 0xff); i += 1 }
      else
        while (i < n) { samples(i) = (raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff); i += 1 }
      Pcm(fmt.getSampleRate.toInt, fmt.getChannels, samples)
    } finally in.close()
  }

  /** binary -> decoded PCM; the audio family's one UDF (AudioSystem is a
    * JVM codec call, not an expression) — everything downstream is
    * codegen'd array arithmetic, the [[decodeLuma]] contract for sound. */
  val decodePcm = udf((bytes: Array[Byte]) => decodeWav(bytes))

  /** Genuinely VALID mono 16-bit PCM WAVs — not just valid headers: n in
    * 64..192 samples derived from doc_id, each sample a signed integer
    * formula of (doc_id, i) in -2000..2000, two's-complement
    * little-endian at the canonical RIFF offsets, chunk sizes exact.
    * Built from codegen'd hex built-ins like the BMP family, so
    * construction is itself an engine-checked query shape; the JDK's own
    * WAV reader decodes these back to the SAME integer sample grid
    * (MediaPipelineSpec pins decode == construction, the oracle pins it
    * cross-engine). */
  def validWavBlobs(spark: SparkSession, sfDir: String): DataFrame =
    pcmWavBlobs(Tables(spark, sfDir, "documents").select(col("doc_id")),
      "doc_id", "(((doc_id * 131 + i * 73) % 4001) - 2000 + 65536) % 65536")

  /** (media_id, content) mono PCM WAVs over `base`'s rows: n in 64..192
    * samples from doc_id, sample i's two's-complement 16-bit value `u`
    * (an expr of doc_id, i, n and `base`'s columns) stored as an LE byte
    * pair. */
  private def pcmWavBlobs(base: DataFrame, mediaId: String, u: String): DataFrame = {
    val payload = "array_join(transform(sequence(0, CAST(n - 1 AS INT)), i -> " +
      s"concat(lpad(hex(($u) % 256), 2, '0'), " +
      s"lpad(hex(($u) DIV 256), 2, '0'))), '')"
    base
      .withColumn("n", expr("64 + (doc_id * 7) % 129"))
      .withColumn("__len", expr("2 * n"))
      .selectExpr(s"$mediaId AS media_id",
        s"unhex(${wavHex("DIV", payload, stereoIds = false)}) AS content")
  }

  /** Per-window audio profile over the REAL decode: each clip splits into
    * 4 windows with the aHash family's integer bounds (window k covers
    * i ∈ [(k·n+3) div 4, ((k+1)·n+3) div 4), nonempty since n ≥ 64), and
    * each window serves its sample count, energy (Σs² — the RMS integer
    * core, no sqrt so no float boundary), peak |s|, and zero-crossing
    * count (sign flips between adjacent samples WITHIN the window). The
    * VAD/silence-trim/clipping-triage pass every audio training pipeline
    * runs after decode. MAP-ONLY until the output ordering: decode and
    * window stats are per-row, no shuffle until the sort — the shape that
    * survives a billion clips. */
  def pcmWindows(spark: SparkSession, sfDir: String): DataFrame =
    validWavBlobs(spark, sfDir)
      .withColumn("p", decodePcm(col("content")))
      .selectExpr("media_id", "CAST(p.rate AS BIGINT) AS sample_rate",
        "CAST(size(p.samples) AS BIGINT) AS n", "p.samples AS sm")
      .select(col("media_id"), col("sample_rate"), col("n"), col("sm"),
        explode(expr("sequence(CAST(0 AS BIGINT), CAST(3 AS BIGINT))")).as("win"))
      .withColumn("ws", expr("(win * n + 3) DIV 4"))
      .withColumn("we", expr("((win + 1) * n + 3) DIV 4"))
      .selectExpr("media_id", "sample_rate", "win",
        "we - ws AS n_win",
        "aggregate(slice(sm, CAST(ws + 1 AS INT), CAST(we - ws AS INT)), " +
          "CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT) * x) AS energy",
        "CAST(array_max(transform(slice(sm, CAST(ws + 1 AS INT), " +
          "CAST(we - ws AS INT)), x -> abs(x))) AS BIGINT) AS peak",
        // crossing at 0-based i (pair i-1, i): element_at is 1-based, so
        // the pair is (element_at(i), element_at(i + 1)) for i in ws+1..we-1
        "aggregate(sequence(ws + 1, we - 1), CAST(0 AS BIGINT), (a, i) -> " +
          "a + (CASE WHEN (element_at(sm, CAST(i AS INT)) < 0) != " +
          "(element_at(sm, CAST(i + 1 AS INT)) < 0) THEN 1 ELSE 0 END)) AS zcross")
      .orderBy("media_id", "win")

  /** DuckDB mirror of [[pcmWindows]] with NO bytes and NO decode: the
    * sample grid is arithmetically known from the construction, so the
    * oracle recomputes window energy/peak/crossings from the (doc_id, i)
    * formulas — a pass certifies construct → real javax.sound decode →
    * window stats end to end against ground-truth integers (the
    * [[ahashOracleSql]] pattern for audio). Same window floor mapping
    * ((i·4)//n inverts the (k·n+3)//4 bounds), same in-window-only
    * crossing rule (i > window start). */
  def pcmOracleSql: String =
    "WITH d AS (SELECT doc_id, 8000 * (1 + doc_id % 5) AS rate, " +
      "64 + (doc_id * 7) % 129 AS n FROM documents), " +
      "g AS (SELECT doc_id, rate, n, t.i AS i, " +
      "((doc_id * 131 + t.i * 73) % 4001) - 2000 AS s, " +
      "CASE WHEN t.i >= 1 THEN ((doc_id * 131 + (t.i - 1) * 73) % 4001) - 2000 END AS sp " +
      // range() takes no lateral column args; n <= 192 by construction
      "FROM d, range(192) t(i) WHERE t.i < d.n) " +
      "SELECT doc_id AS media_id, CAST(rate AS BIGINT) AS sample_rate, " +
      "CAST((i * 4) // n AS BIGINT) AS win, " +
      "CAST(count(*) AS BIGINT) AS n_win, " +
      "CAST(sum(s * s) AS BIGINT) AS energy, " +
      "CAST(max(abs(s)) AS BIGINT) AS peak, " +
      "CAST(sum(CASE WHEN i > (((i * 4) // n) * n + 3) // 4 " +
      "AND ((sp < 0) != (s < 0)) THEN 1 ELSE 0 END) AS BIGINT) AS zcross " +
      "FROM g GROUP BY doc_id, rate, n, (i * 4) // n " +
      "ORDER BY media_id, win"

  /** Integer SPECTROGRAM over the real PCM decode — the time-frequency
    * feature pass between [[pcmWindows]]' time-domain triage and any
    * audio fingerprint/ML feature (the MFCC precursor): the first 64
    * decoded samples split into 4 frames of 16, each frame through the
    * SAME 16-point integer DCT-II basis the image pHash uses ([[cos64]],
    * cos·10⁴ exact literals shared verbatim with the oracle), serving
    * per frame the DC coefficient and low/mid/high spectral-band masses
    * Σ|X_k| — exact integers end to end, no trig and no float at query
    * time. Everything after the decode UDF is codegen'd HOF arithmetic,
    * MAP-ONLY until the output ordering (the [[pcmWindows]] shape).
    * Frames are whole (n ≥ 64 by construction), so no ragged-tail rule
    * is needed on either engine. */
  def pcmSpectrogram(spark: SparkSession, sfDir: String): DataFrame =
    pcmFrameCoefs(spark, sfDir)
      .selectExpr("media_id", "frame",
        "element_at(coef, 1) AS dc",
        "abs(element_at(coef, 2)) + abs(element_at(coef, 3)) AS band_low",
        "abs(element_at(coef, 4)) + abs(element_at(coef, 5)) + " +
          "abs(element_at(coef, 6)) AS band_mid",
        "abs(element_at(coef, 7)) + abs(element_at(coef, 8)) AS band_high")
      .orderBy("media_id", "frame")

  /** decode → first 64 samples → 4 frames of 16 → each frame's 8-bin
    * integer DCT-II `coef` through [[cos64]]: (media_id, sm, frame, coef),
    * the spectrum under both the spectrogram and the MFCC chain. */
  private def pcmFrameCoefs(spark: SparkSession, sfDir: String): DataFrame =
    validWavBlobs(spark, sfDir)
      .withColumn("p", decodePcm(col("content")))
      .selectExpr("media_id", "slice(p.samples, 1, 64) AS sm")
      .select(col("media_id"), col("sm"),
        explode(expr("sequence(CAST(0 AS BIGINT), CAST(3 AS BIGINT))")).as("frame"))
      .withColumn("coef", expr("transform(sequence(0, 7), k -> aggregate(sequence(0, 15), " +
        "CAST(0 AS BIGINT), (a, i) -> a + " +
        "element_at(sm, CAST(frame * 16 + i + 1 AS INT)) * " +
        s"element_at($cos64Spark, CAST(((2 * i + 1) * k) % 64 + 1 AS INT))))"))

  /** DuckDB mirror of [[pcmSpectrogram]] with NO bytes and NO decode:
    * frame coefficients recomputed from the arithmetic (doc_id, i)
    * sample formula and the same scaled-cosine table — a pass certifies
    * construct → real javax.sound decode → integer DCT end to end. */
  def spectroOracleSql: String =
    pcmCoefsDuck + " " +
      "SELECT doc_id AS media_id, CAST(frame AS BIGINT) AS frame, " +
      "CAST(sum(CASE WHEN k = 0 THEN v END) AS BIGINT) AS dc, " +
      "CAST(sum(CASE WHEN k IN (1, 2) THEN abs(v) END) AS BIGINT) AS band_low, " +
      "CAST(sum(CASE WHEN k IN (3, 4, 5) THEN abs(v) END) AS BIGINT) AS band_mid, " +
      "CAST(sum(CASE WHEN k IN (6, 7) THEN abs(v) END) AS BIGINT) AS band_high " +
      "FROM coefs GROUP BY doc_id, frame ORDER BY media_id, frame"

  /** DuckDB twin of [[pcmFrameCoefs]] over the arithmetic sample grid:
    * CTEs `g`, `ct` (cos64) and `coefs` (doc_id, frame, k, v). */
  private def pcmCoefsDuck: String =
    "WITH g AS (SELECT doc_id, t.i // 16 AS frame, t.i % 16 AS j, " +
      "((doc_id * 131 + t.i * 73) % 4001) - 2000 AS s " +
      "FROM documents, range(64) t(i)), " +
      s"ct AS (SELECT $cos64DuckLiteral AS c), " +
      "coefs AS (SELECT doc_id, frame, k.k AS k, " +
      "sum(s * c[((2 * j + 1) * k.k) % 64 + 1]) AS v " +
      "FROM g, range(8) k(k), ct GROUP BY doc_id, frame, k.k)"

  /** The toy-scale mel filterbank for [[pcmMfcc]]: 4 triangular filters
    * over spectral bins k = 1..7 (DC excluded, the published rule) with
    * centers 1, 2, 4, 7 — the standard mel construction (each filter's
    * edges are its neighbors' centers, log-spaced) evaluated on the
    * 8-bin grid and scaled by 6 so every weight is an EXACT integer.
    * One (m, k, w) list shared verbatim with the DuckDB oracle, the
    * [[cos64]] discipline applied to the filterbank. */
  private val melWeights: Seq[(Int, Int, Int)] = Seq(
    (0, 1, 6),
    (1, 2, 6), (1, 3, 3),
    (2, 3, 3), (2, 4, 6), (2, 5, 4), (2, 6, 2),
    (3, 5, 2), (3, 6, 4), (3, 7, 6))

  /** MFCC over the real PCM decode — the published audio-ML feature
    * chain completed ([[pcmSpectrogram]]'s stated next stage): per
    * frame, (1) the 8-bin integer DCT-II spectrum (the spectrogram's
    * own coefficients, same shared [[cos64]] table), (2) mel energies
    * E_m = Σ_k w_mk·|X_k| through the exact-integer [[melWeights]]
    * filterbank, (3) log compression as the fixed-point 6-dp law
    * round(ln(1 + E_m)·10⁶) (q_text_logprob's determinism precedent;
    * the +1 floor keeps a silent filter finite on both engines), and
    * (4) the final 4-point DCT over the log-mel vector — angle
    * π(2m+1)j/8 = 4·(2m+1)j · (π/32), so the SAME cos64 table serves
    * the decorrelating transform with zero new literals. Everything
    * after the decode UDF is codegen'd HOF arithmetic, MAP-ONLY until
    * the output ordering; serve cost per clip is 8·16 + 10 + 4·4
    * multiplies — the shape that survives a billion clips. Both the
    * mel energies (exact integers) and the cepstral coefficients
    * (integers after the one rounded-ln boundary) are served, so the
    * oracle certifies the filterbank and the full chain separately. */
  def pcmMfcc(spark: SparkSession, sfDir: String): DataFrame = {
    def mel(m: Int): String = melWeights.collect { case (`m`, k, w) =>
      s"$w * abs(element_at(coef, ${k + 1}))" }.mkString(" + ")
    def mfcc(j: Int): String = (0 to 3).map { m =>
      s"lm$m * element_at($cos64Spark, CAST(${(4 * (2 * m + 1) * j) % 64} + 1 AS INT))"
    }.mkString(" + ")
    pcmFrameCoefs(spark, sfDir)
      .selectExpr(Seq("media_id", "frame") ++
        (0 to 3).map(m => s"${mel(m)} AS mel$m"): _*)
      .selectExpr(Seq("media_id", "frame") ++
        (0 to 3).map(m => s"mel$m") ++
        (0 to 3).map(m =>
          s"CAST(round(ln(1.0D + mel$m) * 1000000, 0) AS BIGINT) AS lm$m"): _*)
      .selectExpr(Seq("media_id", "frame") ++
        (0 to 3).map(m => s"mel$m") ++
        (0 to 3).map(j => s"CAST(${mfcc(j)} AS BIGINT) AS mfcc$j"): _*)
      .orderBy("media_id", "frame")
  }

  /** DuckDB mirror of [[pcmMfcc]] with NO bytes and NO decode: spectrum,
    * filterbank, rounded ln, and the cepstral DCT recomputed from the
    * arithmetic (doc_id, i) sample grid, the same melWeights rows and
    * the same cos64 table. */
  def mfccOracleSql: String = {
    val wvals = melWeights.map { case (m, k, w) => s"($m, $k, $w)" }
      .mkString(", ")
    pcmCoefsDuck + ", " +
      s"mel AS (SELECT doc_id, frame, w.m, " +
      "CAST(sum(w.w * abs(c.v)) AS BIGINT) AS e " +
      s"FROM coefs c JOIN (VALUES $wvals) w(m, k, w) ON c.k = w.k " +
      "GROUP BY doc_id, frame, w.m), " +
      "lm AS (SELECT doc_id, frame, m, e, " +
      "CAST(round(ln(1.0 + e) * 1000000, 0) AS BIGINT) AS lme FROM mel), " +
      "mf AS (SELECT doc_id, frame, j.j AS j, " +
      "CAST(sum(lme * ct.c[(4 * (2 * m + 1) * j.j) % 64 + 1]) AS BIGINT) AS v " +
      "FROM lm, range(4) j(j), ct GROUP BY doc_id, frame, j.j) " +
      "SELECT lm.doc_id AS media_id, CAST(lm.frame AS BIGINT) AS frame, " +
      (0 to 3).map(m =>
        s"CAST(sum(CASE WHEN lm.m = $m THEN lm.e END) AS BIGINT) AS mel$m, ")
        .mkString +
      (0 to 3).map(j =>
        s"CAST(sum(CASE WHEN mf.j = $j THEN mf.v END) AS BIGINT) AS mfcc$j")
        .mkString(", ") +
      " FROM lm JOIN mf ON lm.doc_id = mf.doc_id AND lm.frame = mf.frame " +
      "AND lm.m = mf.j " +
      "GROUP BY lm.doc_id, lm.frame ORDER BY media_id, frame"
  }

  // ---- Video frame pipeline: multi-frame container -> per-frame REAL
  // decode -> temporal delta profile (scene-cut detection) ----

  /** The "video" container for the frame family: a 4-byte little-endian
    * frame count followed by 4 concatenated genuinely-valid 24-bpp BMPs
    * (one per frame). Frame t's pixels drift slightly from t−1 (+5 per
    * channel per frame), and at the doc's CUT point (frame 1 + doc_id%3)
    * the content seed jumps by 1000 — a scene change. The frame walk,
    * decode, and temporal profile all read the BYTES; the construction
    * is a UDF for the same reason as [[grayBmp]] (per-pixel SQL hex
    * churn), and the oracle recomputes from the arithmetic grids, which
    * certifies construct → container walk → per-frame real decode →
    * temporal arithmetic end to end. */
  val videoBlob = udf((docId: Long) => {
    val ct = (1 + docId % 3).toInt
    videoContainer(docId, t => {
      val seed = docId + (if (t >= ct) 1000L else 0L)
      (x, y) => rgb(((5 * seed + 3 * x + 17 * y + 5 * t) % 256).toInt,
        ((3 * seed + 11 * x + 5 * y + 5 * t) % 256).toInt,
        ((seed + 7 * x + 13 * y + 5 * t) % 256).toInt)
    })
  })

  /** The 4-frame container of both video families: a 4-byte LE frame
    * count, then four w×h BMPs back to back (the [[validBmpBlobs]]
    * geometry); `frame(t)` is frame t's [[writeBmp]] pixel function. */
  private def videoContainer(docId: Long,
      frame: Int => ((Int, Int) => Int)): Array[Byte] = {
    val w = (8 + docId % 9).toInt; val h = (8 + (docId * 3) % 9).toInt
    val fsz = bmpSize(w, h)
    val out = new Array[Byte](4 + 4 * fsz)
    le(out, 0, 4, 4)
    for (t <- 0 until 4) writeBmp(out, 4 + t * fsz, w, h, frame(t))
    out
  }

  /** The one container walk: frame count from the 4-byte LE header, each
    * frame's size from ITS OWN BMP file-size field (never frame 0's — a
    * container with frames of different sizes would otherwise be
    * mis-sliced), each slice checked for the 'BM' magic and decoded for
    * real through ImageIO. Null when the clip is undecodable: a count
    * outside 1..64, bad magic, a truncated slice, or a decoder failure. */
  private[graft] def containerFrames(bytes: Array[Byte]): Array[Decoded] = {
    if (bytes == null || bytes.length < 66) return null
    def u32(off: Int): Long = {
      var v = 0L; var i = 3
      while (i >= 0) { v = (v << 8) | (bytes(off + i) & 0xff); i -= 1 }
      v
    }
    val nf = u32(0).toInt
    if (nf <= 0 || nf > 64) return null
    val frames = new Array[Decoded](nf)
    var off = 4
    var t = 0
    while (t < nf) {
      if (off + 6 > bytes.length ||
        bytes(off) != 'B'.toByte || bytes(off + 1) != 'M'.toByte) return null
      val fsz = u32(off + 2).toInt
      if (fsz < 54 || off.toLong + fsz > bytes.length) return null
      frames(t) = decodeImage(java.util.Arrays.copyOfRange(bytes, off, off + fsz))
      if (frames(t) == null) return null
      off += fsz
      t += 1
    }
    frames
  }

  val decodeFrames = udf((bytes: Array[Byte]) => containerFrames(bytes))

  /** Per-frame temporal profile over the REAL decode — the
    * frame-sample/scene-cut pass a video training pipeline runs: walk
    * the container FROM THE BYTES ([[containerFrames]]: one decode per
    * frame, each sliced by its own header's size), and serve per frame
    * the luma mass and the inter-frame delta energy
    * Σ|luma_t − luma_{t−1}| — the scene-cut statistic (the cut frame's
    * delta dwarfs the ±5 drift frames', and MediaPipelineSpec pins
    * argmax(delta) == the constructed cut for every doc). The rows come
    * from the container header's frame count (byte 1; <= 255 here), so a
    * row count never pays the decode; an undecodable clip serves null
    * stats. MAP-ONLY: the consecutive frame pair sits in the same row's
    * frame array, so there is no self-join and no window — the shape
    * that survives a billion clips. */
  def frameProfile(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents").select(col("doc_id"))
      .select(col("doc_id").as("media_id"), videoBlob(col("doc_id")).as("content"))
      .select(col("media_id"), col("content"), decodeFrames(col("content")).as("fr"))
      .select(col("media_id"), col("fr"), explode(expr(
        "sequence(0, CAST(conv(hex(substring(content, 1, 1)), 16, 10) AS INT) - 1)")).as("f"))
      .selectExpr("media_id", "CAST(f AS BIGINT) AS frame",
        "CAST(fr[f].w AS BIGINT) AS w", "CAST(fr[f].h AS BIGINT) AS h",
        "aggregate(fr[f].luma, CAST(0 AS BIGINT), (a, v) -> a + v) AS luma_sum",
        "CASE WHEN f >= 1 THEN aggregate(zip_with(fr[f].luma, fr[f - 1].luma, " +
          "(a, b) -> abs(a - b)), CAST(0 AS BIGINT), (a, v) -> a + v) END AS delta_sum")
      .orderBy("media_id", "frame")

  /** DuckDB mirror of [[frameProfile]] — NO bytes, NO decode: frame t's
    * luma grid and frame t−1's are both arithmetic, so the oracle
    * recomputes luma mass and delta energy from the (doc_id, t, x, y)
    * formulas directly (no lag needed — the previous frame is just the
    * formula at t−1). */
  def frameOracleSql: String = {
    def luma(t: String) = lumaDuck(
      s"(doc_id + (CASE WHEN ($t) >= ct THEN 1000 ELSE 0 END))", 256, s" + 5 * ($t)")
    "WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id * 3) % 9 AS h, " +
      "1 + doc_id % 3 AS ct FROM documents), " +
      "g AS (SELECT doc_id, w, h, ct, t.f AS f, " +
      s"${luma("t.f")} AS l1, " +
      s"CASE WHEN t.f >= 1 THEN ${luma("t.f - 1")} END AS l0 " +
      "FROM d, range(4) t(f), range(16) xx(x), range(16) yy(y) " +
      "WHERE xx.x < d.w AND yy.y < d.h) " +
      "SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame, w, h, " +
      "CAST(sum(l1) AS BIGINT) AS luma_sum, " +
      "CASE WHEN f >= 1 THEN CAST(sum(abs(l1 - l0)) AS BIGINT) END AS delta_sum " +
      "FROM g GROUP BY doc_id, f, w, h ORDER BY media_id, frame"
  }

  // ---- Perceptual near-dup AUDIO dedup: energy-envelope delta-sign
  // fingerprint over the real PCM decode + banded Hamming join ----

  /** Two valid PCM WAVs per document: the original (media_id = 2·doc_id)
    * and a NEAR-DUPLICATE variant (2·doc_id + 1) — every sample scaled
    * by gain 2 (the remaster/normalization near-dup: the envelope
    * fingerprint is PROVABLY invariant, because every window energy
    * scales by exactly 4 and the delta signs compare unchanged), and for
    * doc_id % 3 == 0 additionally +600 on the first eighth of the
    * samples (the intro-edit local change that may flip a few early
    * delta bits — the realistic re-cut). Samples stay within ±4600, far
    * inside 16-bit range. */
  def audioVariantBlobs(spark: SparkSession, sfDir: String): DataFrame = {
    val s0 = "(((doc_id * 131 + i * 73) % 4001) - 2000)"
    val sv = s"CASE WHEN v = 1 THEN 2 * $s0 + " +
      s"(CASE WHEN doc_id % 3 = 0 AND i * 8 < n THEN 600 ELSE 0 END) " +
      s"ELSE $s0 END"
    pcmWavBlobs(Tables(spark, sfDir, "documents").select(col("doc_id"))
      .select(col("doc_id"), explode(expr("array(0, 1)")).as("v")),
      "doc_id * 2 + v", s"((($sv) + 65536) % 65536)")
  }

  /** Decoded-and-fingerprinted in one pass (the [[decodeAhash]] fusion
    * for sound): 64 window energies over the real PCM samples (window k
    * covers i ∈ [(k·n+63) div 64, ((k+1)·n+63) div 64) — nonempty since
    * n ≥ 64), bit k = E_k > E_{k−1} (bit 0 fixed 0), packed into two
    * non-negative 32-bit halves. The chromaprint-lite envelope hash: a
    * global gain change scales every energy by the same factor, so the
    * delta SIGNS — and the whole fingerprint — are exactly invariant. */
  case class AudioFp(rate: Int, n: Int, fp_hi: Long, fp_lo: Long)

  private def audioFpOf(bytes: Array[Byte]): AudioFp = {
    val p = decodeWav(bytes)
    if (p == null || p.samples.length < 64) return null
    val n = p.samples.length
    val e = new Array[Long](64)
    var k = 0
    while (k < 64) {
      var i = (k * n + 63) / 64
      val end = ((k + 1) * n + 63) / 64
      var s = 0L
      while (i < end) { val v = p.samples(i).toLong; s += v * v; i += 1 }
      e(k) = s
      k += 1
    }
    val (hi, lo) = packBits(k => k >= 1 && e(k) > e(k - 1))
    AudioFp(p.rate, n, hi, lo)
  }

  val decodeAudioFp = udf((bytes: Array[Byte]) => audioFpOf(bytes))

  /** Near-duplicate AUDIO pairs over real decoded PCM — [[imageNearDups]]
    * replayed for sound: fingerprint every clip (decode + envelope hash
    * in one UDF pass), then the same [[bandedHammingPairs]] join with
    * (sample_rate, n_samples) as the metadata prefilter and the same
    * recall bound; gain twins collide in all 4 bands by the invariance
    * theorem. localCheckpoint is the same PLAN boundary. */
  def audioNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    val hashed = audioVariantBlobs(spark, sfDir)
      .withColumn("d", decodeAudioFp(col("content")))
      .selectExpr("media_id", "CAST(d.rate AS BIGINT) AS rate",
        "CAST(d.n AS BIGINT) AS n", "d.fp_hi AS fp_hi", "d.fp_lo AS fp_lo")
      .localCheckpoint()
    bandedHammingPairs(hashed, meta = Seq("rate", "n"), hi = "fp_hi", lo = "fp_lo")
      .orderBy("media_a", "media_b")
  }

  /** DuckDB mirror of [[audioNearDups]] — NO bytes, NO decode: the
    * variant sample grids are arithmetic, so the oracle recomputes
    * energies → delta bits → bands → lowest-band ownership → popcount
    * from ground-truth integers (the [[imageDedupOracleSql]] pattern for
    * sound; the delta compare reads E_{k−1} via lag over the window
    * index). */
  def audioDedupOracleSql: String =
    "WITH m AS (SELECT doc_id, v.v, doc_id * 2 + v.v AS media_id, " +
      "8000 * (1 + doc_id % 5) AS rate, 64 + (doc_id * 7) % 129 AS n " +
      "FROM documents, (VALUES (0), (1)) v(v)), " +
      "g AS (SELECT media_id, rate, n, t.i AS i, " +
      "CASE WHEN v = 1 THEN 2 * (((doc_id * 131 + t.i * 73) % 4001) - 2000) + " +
      "(CASE WHEN doc_id % 3 = 0 AND t.i * 8 < n THEN 600 ELSE 0 END) " +
      "ELSE ((doc_id * 131 + t.i * 73) % 4001) - 2000 END AS s " +
      "FROM m, range(192) t(i) WHERE t.i < m.n), " +
      "e AS (SELECT media_id, rate, n, (i * 64) // n AS k, " +
      "CAST(sum(s * s) AS BIGINT) AS ek " +
      "FROM g GROUP BY media_id, rate, n, (i * 64) // n), " +
      "bits AS (SELECT media_id, rate, n, k, " +
      "CASE WHEN k >= 1 AND ek > lag(ek) OVER " +
      "(PARTITION BY media_id ORDER BY k) THEN 1 ELSE 0 END AS bit " +
      "FROM e), " +
      "fp AS (SELECT media_id, rate, n, " +
      packDuck("bit = 1", "k", "fp_hi", "fp_lo") + " " +
      "FROM bits GROUP BY media_id, rate, n), " +
      bandedHammingDuck("fp", Seq("rate", "n"), "fp_hi", "fp_lo")

  // ---- Perceptual near-dup VIDEO dedup: per-frame aHash sequence over
  // the real container walk + decode, frame-equality candidate join ----

  /** Two videos per document for the dedup family: the original
    * (media_id = 2·doc_id) and a near-dup variant (2·doc_id + 1) — every
    * frame's pixels brightness-shifted by +16 (the re-encode/tone twin:
    * per-frame aHash is PROVABLY invariant, the q_dedup_image theorem
    * per frame — values stay ≤ 215, no wrap, so the shift is exact),
    * and for doc_id % 3 == 0 the LAST frame re-rolled (+5000 on the
    * content seed — the "different outro" edit). Grayscale 24-bpp
    * frames (luma exactly 1000·g) in the [[videoBlob]] container shape
    * (4-byte LE frame count + concatenated valid BMPs), w,h ∈ 8..16. */
  val videoVariantBlob = udf((docId: Long, v: Int) =>
    videoContainer(docId, t => {
      val base = docId * 59 + t * 17 +
        (if (v == 1 && t == 3 && docId % 3 == 0) 5000L else 0L)
      // the (docId DIV 180) slope breaks the mod-180 periodicity of the
      // affine grid: without it every 180th doc is an EXACT pixel twin
      // (same content class, same geometry cycle) and the fixture
      // accidentally carries huge duplicate classes — 278k pairs at
      // sf0.1 instead of the intended twins (measured before this term)
      val slope = (docId / 180) * 53
      (x, y) => gray((20 + (base * 73 + slope * (x + y) + x * 149L + y * 211L) % 180 +
        (if (v == 1) 16 else 0)).toInt)
    }))

  def videoVariantBlobs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents").select(col("doc_id"))
      .select(col("doc_id"), explode(expr("array(0, 1)")).as("v"))
      .select(expr("doc_id * 2 + v").as("media_id"),
        videoVariantBlob(col("doc_id"), col("v").cast("int")).as("content"))

  /** Walk the container and hash every frame in ONE UDF pass (the
    * [[decodeAhash]] fusion at the clip level): [[containerFrames]]
    * slices and decodes each frame, each decode is 8×8-block aHashed.
    * Returns per-clip geometry (the last frame's) plus the per-frame hash
    * sequence — the video fingerprint; null for an undecodable clip or a
    * frame under 8×8. */
  case class VideoFp(w: Int, h: Int, nf: Int, hi: Array[Long], lo: Array[Long])

  private def videoFpOf(bytes: Array[Byte]): VideoFp = {
    val frames = containerFrames(bytes)
    if (frames == null || frames.exists(d => d.w < 8 || d.h < 8)) return null
    val (hi, lo) = frames.map(ahashBits).unzip
    val last = frames.last
    VideoFp(last.w, last.h, frames.length, hi, lo)
  }

  val decodeVideoFp = udf((bytes: Array[Byte]) => videoFpOf(bytes))

  /** Near-duplicate VIDEO pairs over the real per-frame decode — the
    * modality triple's third leg ([[imageNearDups]], [[audioNearDups]],
    * and now clips): candidates are EQUI-JOINS on an identical
    * (frame index, frame hash) — the brightness twin collides on every
    * frame by the invariance theorem, the outro-edited twin on frames
    * 0..2 — plus the (w, h) geometry prefilter; the verify rule is
    * n_equal_frames ≥ 3 of 4 computed from the carried hash sequences.
    * Unlike the banded families' pigeonhole bound, this rule's recall
    * is EXACT: any pair with ≥ 3 equal frames shares an equal frame, so
    * the equi-join generates it. Pairs are counted once at their lowest
    * shared equal frame (no DISTINCT); candidates are bounded by
    * frame-hash bucket populations — never all-pairs. localCheckpoint
    * is the family's standard plan boundary. */
  def videoNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = videoVariantBlobs(spark, sfDir)
      .withColumn("d", decodeVideoFp(col("content")))
      .selectExpr("media_id", "CAST(d.w AS BIGINT) AS w",
        "CAST(d.h AS BIGINT) AS h", "d.hi AS hi", "d.lo AS lo")
      .localCheckpoint()
    val frames = fp
      .select(col("media_id"), col("w"), col("h"), col("hi"), col("lo"),
        explode(expr("sequence(0, 3)")).as("t"))
      .withColumn("fh", expr("element_at(hi, CAST(t + 1 AS INT))"))
      .withColumn("fl", expr("element_at(lo, CAST(t + 1 AS INT))"))
    val a = frames.selectExpr("media_id AS media_a", "w", "h", "t",
      "fh", "fl", "hi AS hi_a", "lo AS lo_a")
    val b = frames.selectExpr("media_id AS media_b", "w", "h", "t",
      "fh", "fl", "hi AS hi_b", "lo AS lo_b")
    def eq(i: Int) =
      s"element_at(hi_a, $i) = element_at(hi_b, $i) AND " +
        s"element_at(lo_a, $i) = element_at(lo_b, $i)"
    a.join(b, Seq("t", "fh", "fl", "w", "h"))
      .where(col("media_a") < col("media_b"))
      .where(expr(s"t = CASE WHEN ${eq(1)} THEN 0 WHEN ${eq(2)} THEN 1 " +
        s"WHEN ${eq(3)} THEN 2 ELSE 3 END"))
      .withColumn("n_equal", expr("aggregate(sequence(1, 4), CAST(0 AS BIGINT), " +
        "(acc, i) -> acc + (CASE WHEN " +
        "element_at(hi_a, CAST(i AS INT)) = element_at(hi_b, CAST(i AS INT)) AND " +
        "element_at(lo_a, CAST(i AS INT)) = element_at(lo_b, CAST(i AS INT)) " +
        "THEN 1 ELSE 0 END))"))
      .where(col("n_equal") >= 3)
      .withColumn("hamming", expr("aggregate(sequence(1, 4), CAST(0 AS BIGINT), " +
        "(acc, i) -> acc + bit_count(element_at(hi_a, CAST(i AS INT)) ^ " +
        "element_at(hi_b, CAST(i AS INT))) + " +
        "bit_count(element_at(lo_a, CAST(i AS INT)) ^ " +
        "element_at(lo_b, CAST(i AS INT))))"))
      .select("media_a", "media_b", "n_equal", "hamming")
      .orderBy("media_a", "media_b")
  }

  /** DuckDB mirror of [[videoNearDups]] — NO bytes, NO decode: every
    * frame's grayscale grid is arithmetic, so the oracle recomputes
    * block means → aHash bits → per-frame fingerprints, finds candidate
    * pairs by its own DISTINCT frame-equality join, and re-aggregates
    * equal-frame counts and total Hamming from the full sequences — an
    * independent formulation whose result must match the ownership
    * formulation exactly. */
  def videoDedupOracleSql: String =
    "WITH m AS (SELECT doc_id, v.v, doc_id * 2 + v.v AS media_id, " +
      "8 + doc_id % 9 AS w, 8 + (doc_id * 3) % 9 AS h " +
      "FROM documents, (VALUES (0), (1)) v(v)), " +
      "px AS (SELECT media_id, w, h, t.t AS t, xx.x AS x, yy.y AS y, " +
      "20 + ((doc_id * 59 + t.t * 17 + (CASE WHEN v = 1 AND t.t = 3 " +
      "AND doc_id % 3 = 0 THEN 5000 ELSE 0 END)) * 73 " +
      "+ (doc_id // 180) * 53 * (xx.x + yy.y) " +
      "+ xx.x * 149 + yy.y * 211) % 180 " +
      "+ (CASE WHEN v = 1 THEN 16 ELSE 0 END) AS g " +
      "FROM m, range(4) t(t), range(16) xx(x), range(16) yy(y) " +
      "WHERE xx.x < m.w AND yy.y < m.h), " +
      "bl AS (SELECT media_id, w, h, t, ((y * 8) // h) * 8 + (x * 8) // w AS k, " +
      "CAST(sum(1000 * g) AS BIGINT) AS sk, CAST(count(*) AS BIGINT) AS ck " +
      "FROM px GROUP BY media_id, w, h, t, ((y * 8) // h) * 8 + (x * 8) // w), " +
      "tt AS (SELECT media_id, t, CAST(sum(sk) AS BIGINT) AS total " +
      "FROM bl GROUP BY media_id, t), " +
      "fp AS (SELECT bl.media_id, w, h, bl.t, " +
      packDuck("sk * (w * h) > total * ck", "k", "fh", "fl") + " " +
      "FROM bl JOIN tt ON bl.media_id = tt.media_id AND bl.t = tt.t " +
      "GROUP BY bl.media_id, w, h, bl.t), " +
      "cand AS (SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b " +
      "FROM fp a JOIN fp b ON a.t = b.t AND a.fh = b.fh AND a.fl = b.fl " +
      "AND a.w = b.w AND a.h = b.h AND a.media_id < b.media_id), " +
      "j AS (SELECT c.media_a, c.media_b, fa.fh AS fha, fa.fl AS fla, " +
      "fb.fh AS fhb, fb.fl AS flb " +
      "FROM cand c JOIN fp fa ON fa.media_id = c.media_a " +
      "JOIN fp fb ON fb.media_id = c.media_b AND fb.t = fa.t), " +
      "agg AS (SELECT media_a, media_b, " +
      "CAST(sum(CASE WHEN fha = fhb AND fla = flb THEN 1 ELSE 0 END) AS BIGINT) AS n_equal, " +
      "CAST(sum(bit_count(xor(fha, fhb)) + bit_count(xor(fla, flb))) AS BIGINT) AS hamming " +
      "FROM j GROUP BY media_a, media_b) " +
      "SELECT media_a, media_b, n_equal, hamming FROM agg " +
      "WHERE n_equal >= 3 ORDER BY media_a, media_b"

  /** Parsed projection for the mixed-endianness family: PNG fields read
    * BIG-endian (width/height/depth/color at the IHDR offsets, the IDAT
    * length at byte 34), WAV fields little-endian — one projection
    * exercising both byte orders, shared verbatim with the oracle.
    */
  private def pngWavParseCols(h: String, nBytes: String,
      toInt: String => String): Seq[String] = {
    def be(off: Int, n: Int) = beParse(h, off, n, toInt)
    def le(off: Int, n: Int) = leParse(h, off, n, toInt)
    val isPng = s"substr($h, 1, 16) = '89504E470D0A1A0A'"
    val isWav = s"substr($h, 1, 8) = '52494646'"
    Seq(
      s"CASE WHEN $isPng THEN 'image' WHEN $isWav THEN 'audio' END AS kind",
      s"$nBytes AS n_bytes",
      s"md5($h) AS blob_md5",
      s"CASE WHEN $isPng THEN ${be(17, 4)} END AS width",
      s"CASE WHEN $isPng THEN ${be(21, 4)} END AS height",
      s"CASE WHEN $isPng THEN ${be(25, 1)} END AS bit_depth",
      s"CASE WHEN $isPng THEN ${be(26, 1)} END AS color_type",
      s"CASE WHEN $isWav THEN ${le(25, 4)} END AS sample_rate",
      s"CASE WHEN $isWav THEN ${le(23, 2)} END AS channels",
      s"CASE WHEN $isPng THEN ${be(34, 4)} ELSE ${le(41, 4)} END AS data_len")
  }

  /** The big-endian header-profile query (r13 verdict item 6):
    * construct PNG/WAV blobs -> real binary column -> parse every field
    * back from the bytes, big- and little-endian in one pass.
    */
  def pngProfile(spark: SparkSession, sfDir: String): DataFrame =
    profile(spark, sfDir, pngWavHex, pngWavParseCols)

  def pngOracleSql: String = profileOracle(pngWavHex, pngWavParseCols)

  /** Full pipeline: decode -> resize -> sample -> per-kind feature stats. */
  def pipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = frameSample(resize(withFeatures(mediaFrame(spark, sfDir))), 16)
    staged.groupBy("kind").agg(
      count(lit(1)).as("n_media"),
      sum(col("bytes")).as("total_bytes"),
      round(avg(expr("aggregate(features_small, CAST(0.0 AS FLOAT), (a, x) -> a + x)")), 3).as("avg_mass"),
      max(size(col("frames"))).as("max_frames"))
      .orderBy("kind")
  }
}
