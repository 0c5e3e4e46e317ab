package graft

import graft.multimodal.MediaPipeline
import org.scalatest.funsuite.AnyFunSuite

class MediaPipelineSpec extends AnyFunSuite {
  import TestSpark._

  test("media frame has the opaque-binary + typed-metadata schema") {
    val df = MediaPipeline.mediaFrame(spark, sf0001)
    assert(df.schema("content").dataType.typeName == "binary")
    assert(df.count() == 500)
  }

  test("opaque payloads fall back to the normalized 16-bin byte histogram") {
    val feats = MediaPipeline.withFeatures(MediaPipeline.mediaFrame(spark, sf0001))
      .select("features").collect().map(_.getSeq[Float](0))
    assert(feats.forall(_.length == 16))
    // histogram over ascii text normalizes to mass ~1
    assert(feats.forall(f => math.abs(f.sum - 1f) < 1e-3))
  }

  test("resize re-bins 16 -> 4 preserving mass; pipeline aggregates per kind") {
    val out = MediaPipeline.pipeline(spark, sf0001).collect()
    assert(out.map(_.getAs[String]("kind")).toSet == Set("image", "audio"))
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("avg_mass") - 1.0) < 1e-2)
      assert(r.getAs[Long]("n_media") == 250)
    }
  }

  test("decode pipeline is deterministic") {
    val a = MediaPipeline.pipeline(spark, sf0001).collect().map(_.toString).toSeq
    val b = MediaPipeline.pipeline(spark, sf0001).collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("ImageIO decode inverts the BMP construction: pixel-exact luma") {
    import org.apache.spark.sql.functions.col
    // the oracle certifies Spark==DuckDB on the HASH; this certifies the
    // JDK decoder hands back the exact constructed pixel grid, so the
    // hash is over real pixels, not a shared construction mistake
    val rows = MediaPipeline.validBmpBlobs(spark, sf0001)
      .withColumn("d", MediaPipeline.decodeLuma(col("content")))
      .selectExpr("media_id", "d.w AS w", "d.h AS h", "d.luma AS luma")
      .orderBy("media_id").limit(25).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val (w, h) = (r.getAs[Int]("w"), r.getAs[Int]("h"))
      assert(w == 8 + id % 9 && h == 8 + (id * 3) % 9, r.toString)
      val luma = r.getSeq[Long](r.fieldIndex("luma"))
      assert(luma.length == w * h, r.toString)
      for (y <- 0 until h; x <- 0 until w) {
        val b = (id + 7 * x + 13 * y) % 256
        val g = (3 * id + 11 * x + 5 * y) % 256
        val rr = (5 * id + 3 * x + 17 * y) % 256
        assert(luma(y * w + x) == 299 * rr + 587 * g + 114 * b,
          s"doc $id pixel ($x,$y): decoded ${luma(y * w + x)}")
      }
    }
  }

  test("decodeFeatures serves a REAL luma histogram for decodable images") {
    import org.apache.spark.sql.functions.col
    val rows = MediaPipeline.validBmpBlobs(spark, sf0001)
      .withColumn("f", MediaPipeline.decodeFeatures(col("content")))
      .orderBy("media_id").limit(10).collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val (w, h) = ((8 + id % 9).toInt, (8 + (id * 3) % 9).toInt)
      val expect = new Array[Float](16)
      for (y <- 0 until h; x <- 0 until w) {
        val luma = 299 * ((5 * id + 3 * x + 17 * y) % 256) +
          587 * ((3 * id + 11 * x + 5 * y) % 256) +
          114 * ((id + 7 * x + 13 * y) % 256)
        expect(((luma / 1000).toInt) >> 4) += 1f
      }
      for (b <- 0 until 16) expect(b) /= (w * h).toFloat
      assert(r.getSeq[Float](r.fieldIndex("f")) == expect.toSeq,
        s"doc $id: luma histogram mismatch")
    }
  }

  test("fused UDF hash is bit-identical to the SQL hash formulation") {
    import org.apache.spark.sql.functions.col
    // q_dedup_image hashes inside the decode UDF (the SQL formulation's
    // per-block array materializations cost ~25x the arithmetic at
    // fleet scale); the two must never drift — same blocks, same
    // threshold, same packing, pinned over the whole fixture
    val blobs = MediaPipeline.validBmpBlobs(spark, sf0001)
    val viaSql = SparkEntry.queries("q_multimodal_ahash")(spark, sf0001)
      .collect().map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Long]("ahash_hi"), r.getAs[Long]("ahash_lo")))).toMap
    val viaUdf = blobs.withColumn("d", MediaPipeline.decodeAhash(col("content")))
      .selectExpr("media_id", "d.ahash_hi AS hi", "d.ahash_lo AS lo")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(viaUdf == viaSql)
  }

  test("q_dedup_image: brightness twins ALL found at Hamming 0 (invariance theorem)") {
    val pairs = SparkEntry.queries("q_dedup_image")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b")) ->
        r.getAs[Long]("hamming")).toMap
    // adding a constant to every pixel moves sum_k·np and total·n_k by
    // the same c·n_k·np, so the aHash of a brightness-shifted image is
    // bit-identical: every non-locally-edited twin (doc_id % 3 != 0) MUST
    // appear at distance exactly 0
    val docs = Tables(spark, sf0001, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val pureTwins = docs.filter(_ % 3 != 0)
    pureTwins.foreach { d =>
      assert(pairs.get((2 * d, 2 * d + 1)).contains(0L),
        s"brightness twin of doc $d missing or nonzero: ${pairs.get((2 * d, 2 * d + 1))}")
    }
    // locally-edited twins may scatter past the radius; the op must still
    // find SOME of them (the small-edit survivors)
    val editedFound = docs.filter(_ % 3 == 0)
      .count(d => pairs.contains((2 * d, 2 * d + 1)))
    assert(editedFound > 0, "no locally-edited twin survived the radius")
    // every reported pair is within the radius and correctly ordered
    assert(pairs.values.forall(h => h >= 0 && h <= 4))
    assert(pairs.keys.forall { case (a, b) => a < b })
  }

  test("q_multimodal_thumb: cells equal the formula block means, row-major") {
    val rows = SparkEntry.queries("q_multimodal_thumb")(spark, sf0001)
      .limit(20).collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val (w, h) = ((8 + id % 9).toInt, (8 + (id * 3) % 9).toInt)
      def luma(x: Int, y: Int) =
        299 * ((5 * id + 3 * x + 17 * y) % 256) +
          587 * ((3 * id + 11 * x + 5 * y) % 256) +
          114 * ((id + 7 * x + 13 * y) % 256)
      val expect = (0 until 16).map { k =>
        val (bx, by) = (k % 4, k / 4)
        val xs = (bx * w + 3) / 4; val xe = ((bx + 1) * w + 3) / 4
        val ys = (by * h + 3) / 4; val ye = ((by + 1) * h + 3) / 4
        val px = for (y <- ys until ye; x <- xs until xe) yield luma(x, y)
        px.sum / px.length
      }
      assert(r.getAs[String]("thumb") == expect.mkString(","), s"doc $id")
      assert(r.getAs[Long]("t_min") == expect.min &&
        r.getAs[Long]("t_max") == expect.max, s"doc $id min/max")
    }
  }

  test("q_multimodal_ahash: hashes are 32-bit-packed, populated, discriminative") {
    val rows = SparkEntry.queries("q_multimodal_ahash")(spark, sf0001).collect()
    assert(rows.length == 500)
    val hashes = rows.map(r =>
      (r.getAs[Long]("ahash_hi"), r.getAs[Long]("ahash_lo")))
    // hi/lo never touch the sign bit and stay within 32 bits
    assert(hashes.forall { case (hi, lo) =>
      hi >= 0 && hi <= 0xFFFFFFFFL && lo >= 0 && lo <= 0xFFFFFFFFL })
    // the mean-threshold rule can't set all 64 or zero bits (some block
    // is above the mean and some below unless the image is flat — the
    // generated gradients never are)
    assert(hashes.forall { case (hi, lo) => (hi | lo) != 0 }, "empty hash")
    assert(hashes.forall { case (hi, lo) =>
      !(hi == 0xFFFFFFFFL && lo == 0xFFFFFFFFL) }, "saturated hash")
    // distinct formulas per doc ⇒ hashes spread (not a constant)
    assert(hashes.toSet.size > 100, s"only ${hashes.toSet.size} distinct hashes")
  }

  test("header parse inverts header construction — every field, from bytes") {
    // The oracle certifies Spark==DuckDB; this certifies the parse reads
    // the INTENDED values back out of the byte offsets (construct and
    // parse could agree on a shared mistake — the arithmetic ground
    // truth here cannot).
    val rows = MediaPipeline.headerProfile(spark, sf0001).collect()
    assert(rows.length == 500)
    val texts = Tables(spark, sf0001, "documents")
      .selectExpr("doc_id", "CAST(octet_length(text) AS BIGINT) AS len")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val len = texts(id)
      if (id % 2 == 0) {
        assert(r.getAs[String]("kind") == "image", r.toString)
        assert(r.getAs[Long]("width") == 16 + id % 1000, r.toString)
        assert(r.getAs[Long]("height") == 16 + (id * 7) % 1000, r.toString)
        assert(r.getAs[Long]("bpp") == 24, r.toString)
        assert(r.getAs[Long]("n_bytes") == 54 + len, r.toString)
        assert(r.isNullAt(r.fieldIndex("sample_rate")), r.toString)
      } else {
        val rate = 8000 * (1 + id % 5)
        val ch = 1 + (id / 3) % 2
        assert(r.getAs[String]("kind") == "audio", r.toString)
        assert(r.getAs[Long]("sample_rate") == rate, r.toString)
        assert(r.getAs[Long]("channels") == ch, r.toString)
        assert(r.getAs[Long]("duration_ms") == len * 1000 / (rate * ch * 2), r.toString)
        assert(r.getAs[Long]("n_bytes") == 44 + len, r.toString)
        assert(r.isNullAt(r.fieldIndex("width")), r.toString)
      }
    }
  }

  test("PNG parse reads big-endian IHDR/IDAT fields back from the bytes") {
    // the endianness dual: same arithmetic ground truth for the
    // big-endian family (PNG blobs), incl. the fixed PNG overhead
    // (8 sig + 25 IHDR + 12 IDAT framing + 12 IEND = 57 bytes)
    val rows = MediaPipeline.pngProfile(spark, sf0001).collect()
    assert(rows.length == 500)
    val texts = Tables(spark, sf0001, "documents")
      .selectExpr("doc_id", "CAST(octet_length(text) AS BIGINT) AS len")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filter(_.getAs[Long]("media_id") % 2 == 0).foreach { r =>
      val id = r.getAs[Long]("media_id")
      val len = texts(id)
      assert(r.getAs[String]("kind") == "image", r.toString)
      assert(r.getAs[Long]("width") == 16 + id % 1000, r.toString)
      assert(r.getAs[Long]("height") == 16 + (id * 7) % 1000, r.toString)
      assert(r.getAs[Long]("bit_depth") == 8, r.toString)
      assert(r.getAs[Long]("color_type") == 6, r.toString)
      assert(r.getAs[Long]("data_len") == len, r.toString)
      assert(r.getAs[Long]("n_bytes") == 57 + len, r.toString)
      assert(r.isNullAt(r.fieldIndex("sample_rate")), r.toString)
    }
    // the odd half is the SAME little-endian WAV family as
    // q_multimodal_header — spot-check it survives the mixed column
    val wav = rows.filter(_.getAs[Long]("media_id") % 2 == 1)
    assert(wav.nonEmpty && wav.forall(_.getAs[String]("kind") == "audio"))
    assert(wav.forall(r =>
      r.getAs[Long]("sample_rate") == 8000 * (1 + r.getAs[Long]("media_id") % 5)))
  }

  test("javax.sound decode inverts the WAV construction: sample-exact PCM") {
    import org.apache.spark.sql.functions.col
    // the oracle certifies Spark==DuckDB on the window stats; this
    // certifies the JDK's WAV reader hands back the exact constructed
    // sample grid, so the stats are over real decoded PCM, not a shared
    // construction mistake
    val rows = MediaPipeline.validWavBlobs(spark, sf0001)
      .withColumn("p", MediaPipeline.decodePcm(col("content")))
      .selectExpr("media_id", "p.rate AS rate", "p.channels AS channels",
        "p.samples AS samples")
      .orderBy("media_id").limit(25).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Int]("rate") == 8000 * (1 + id % 5), r.toString)
      assert(r.getAs[Int]("channels") == 1, r.toString)
      val n = (64 + (id * 7) % 129).toInt
      val samples = r.getSeq[Int](r.fieldIndex("samples"))
      assert(samples.length == n, s"doc $id: ${samples.length} != $n samples")
      for (i <- 0 until n)
        assert(samples(i) == ((id * 131 + i * 73) % 4001) - 2000,
          s"doc $id sample $i: decoded ${samples(i)}")
    }
  }

  test("q_multimodal_spectro: coefficients are the scalar DCT of the real decode") {
    // the oracle certifies Spark==DuckDB; this certifies both against a
    // third, direct scalar evaluation of the same integer DCT — and the
    // k=0 row is a THEOREM (cos(0)=1 scaled: dc = 10^4 * frame sum)
    val rows = SparkEntry.queries("q_multimodal_spectro")(spark, sf0001)
      .limit(80).collect()
    assert(rows.length == 80)
    def s(id: Long, i: Int): Long = ((id * 131 + i * 73) % 4001) - 2000
    def cos(k: Int): Long = {
      val half = Array[Long](10000, 9952, 9808, 9569, 9239, 8819, 8315,
        7730, 7071, 6344, 5556, 4714, 3827, 2903, 1951, 980, 0, -980,
        -1951, -2903, -3827, -4714, -5556, -6344, -7071, -7730, -8315,
        -8819, -9239, -9569, -9808, -9952)
      if (k < 32) half(k) else -half(k - 32)
    }
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id"); val f = r.getAs[Long]("frame").toInt
      def coef(k: Int): Long =
        (0 until 16).map(i => s(id, f * 16 + i) * cos(((2 * i + 1) * k) % 64)).sum
      assert(r.getAs[Long]("dc") == coef(0))
      assert(r.getAs[Long]("dc") == (0 until 16).map(i => s(id, f * 16 + i)).sum * 10000L)
      assert(r.getAs[Long]("band_low") == math.abs(coef(1)) + math.abs(coef(2)))
      assert(r.getAs[Long]("band_mid") ==
        math.abs(coef(3)) + math.abs(coef(4)) + math.abs(coef(5)))
      assert(r.getAs[Long]("band_high") == math.abs(coef(6)) + math.abs(coef(7)))
    }
  }

  test("q_multimodal_mfcc: one frame re-derived scalar-side through all four stages") {
    // spectrum -> integer mel filterbank -> rounded ln -> cepstral DCT,
    // each stage recomputed directly in Scala for the first 20 frames;
    // the j=0 cepstral row is a THEOREM: cos(0)=1 scaled, so
    // mfcc0 = 10^4 * sum of the log-mel vector
    val rows = SparkEntry.queries("q_multimodal_mfcc")(spark, sf0001)
      .limit(20).collect()
    assert(rows.length == 20)
    def s(id: Long, i: Int): Long = ((id * 131 + i * 73) % 4001) - 2000
    def cos(k: Int): Long = {
      val half = Array[Long](10000, 9952, 9808, 9569, 9239, 8819, 8315,
        7730, 7071, 6344, 5556, 4714, 3827, 2903, 1951, 980, 0, -980,
        -1951, -2903, -3827, -4714, -5556, -6344, -7071, -7730, -8315,
        -8819, -9239, -9569, -9808, -9952)
      if (k < 32) half(k) else -half(k - 32)
    }
    val weights = Map(
      0 -> Seq(1 -> 6L),
      1 -> Seq(2 -> 6L, 3 -> 3L),
      2 -> Seq(3 -> 3L, 4 -> 6L, 5 -> 4L, 6 -> 2L),
      3 -> Seq(5 -> 2L, 6 -> 4L, 7 -> 6L))
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id"); val f = r.getAs[Long]("frame").toInt
      def coef(k: Int): Long =
        (0 until 16).map(i => s(id, f * 16 + i) * cos(((2 * i + 1) * k) % 64)).sum
      val mel = (0 to 3).map(m =>
        weights(m).map { case (k, w) => w * math.abs(coef(k)) }.sum)
      (0 to 3).foreach(m => assert(r.getAs[Long](s"mel$m") == mel(m),
        s"doc $id frame $f mel$m"))
      val lm = mel.map(e => math.round(math.log(1.0 + e) * 1000000))
      def mfcc(j: Int): Long =
        (0 to 3).map(m => lm(m) * cos((4 * (2 * m + 1) * j) % 64)).sum
      (0 to 3).foreach(j => assert(r.getAs[Long](s"mfcc$j") == mfcc(j),
        s"doc $id frame $f mfcc$j"))
      assert(r.getAs[Long]("mfcc0") == lm.sum * 10000L)
    }
  }

  test("q_dedup_video: every brightness twin found; edits keep exactly 3 frames") {
    val pairs = SparkEntry.queries("q_dedup_video")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b")) ->
        (r.getAs[Long]("n_equal"), r.getAs[Long]("hamming"))).toMap
    val nDocs = Tables(spark, sf0001, "documents").count()
    (0L until nDocs).foreach { d =>
      val got = pairs.get((2 * d, 2 * d + 1))
      assert(got.isDefined, s"twin pair for doc $d missed")
      val (nEq, ham) = got.get
      if (d % 3 == 0) {
        // outro edit: frames 0..2 exactly equal (invariance theorem),
        // frame 3 re-rolled — found through the equal prefix
        assert(nEq == 3, s"doc $d: edited twin served n_equal $nEq")
        assert(ham > 0, s"doc $d: re-rolled outro hashed identical")
      } else
        assert(nEq == 4 && ham == 0,
          s"doc $d: +16 brightness twin not hash-identical ($nEq, $ham)")
    }
  }

  test("decodeWav rejects non-audio payloads (and decodePcm survives garbage)") {
    import org.apache.spark.sql.functions.col
    // arbitrary opaque bytes — including a 'RIFF' prefix with a garbage
    // body — must decode to null, never throw (the NonFatal guard)
    val out = MediaPipeline.mediaFrame(spark, sf0001).limit(20)
      .withColumn("p", MediaPipeline.decodePcm(col("content")))
      .selectExpr("p IS NULL AS isnull").collect()
    assert(out.nonEmpty && out.forall(_.getBoolean(0)))
    val riffGarbage = spark.range(1)
      .selectExpr("unhex('52494646FFFFFFFF00112233') AS content")
      .withColumn("p", MediaPipeline.decodePcm(col("content")))
      .selectExpr("p IS NULL AS isnull").collect()
    assert(riffGarbage.head.getBoolean(0))
  }

  test("q_dedup_audio: gain twins ALL found at Hamming 0 (invariance theorem)") {
    val pairs = SparkEntry.queries("q_dedup_audio")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b")) ->
        r.getAs[Long]("hamming")).toMap
    // scaling every sample by the gain scales every window energy by the
    // gain squared, so every delta sign — and the whole envelope
    // fingerprint — is exactly invariant: every non-intro-edited twin
    // (doc_id % 3 != 0) MUST appear at distance exactly 0
    val docs = Tables(spark, sf0001, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    docs.filter(_ % 3 != 0).foreach { d =>
      assert(pairs.get((2 * d, 2 * d + 1)).contains(0L),
        s"gain twin of doc $d missing or nonzero: ${pairs.get((2 * d, 2 * d + 1))}")
    }
    // intro-edited twins perturb only the first eighth's windows; the op
    // must still find some of them within the radius
    val editedFound = docs.filter(_ % 3 == 0)
      .count(d => pairs.contains((2 * d, 2 * d + 1)))
    assert(editedFound > 0, "no intro-edited twin survived the radius")
    assert(pairs.values.forall(h => h >= 0 && h <= 4))
    assert(pairs.keys.forall { case (a, b) => a < b })
  }

  test("q_multimodal_frames: argmax inter-frame delta detects every constructed cut") {
    val rows = SparkEntry.queries("q_multimodal_frames")(spark, sf0001).collect()
    assert(rows.length == 2000, s"expected 500 docs x 4 frames, got ${rows.length}")
    val byDoc = rows.groupBy(_.getAs[Long]("media_id"))
    byDoc.foreach { case (id, fr) =>
      assert(fr.length == 4, s"doc $id: ${fr.length} frames")
      // frame 0 has no predecessor; frames 1..3 carry the delta
      assert(fr.count(_.isNullAt(fr.head.fieldIndex("delta_sum"))) == 1)
      // the scene-change frame's delta (content re-roll, ~85/channel avg)
      // dwarfs the +-5 drift frames': argmax(delta) IS the constructed cut
      val cut = fr.filter(!_.isNullAt(fr.head.fieldIndex("delta_sum")))
        .maxBy(r => (r.getAs[Long]("delta_sum"), -r.getAs[Long]("frame")))
        .getAs[Long]("frame")
      assert(cut == 1 + id % 3, s"doc $id: detected cut $cut != ${1 + id % 3}")
    }
    // a container whose frames differ in size: the walker reads each
    // frame's size from that frame's own header, never from frame 0's
    val bmps = MediaPipeline.validBmpBlobs(spark, sf0001)
      .where("media_id IN (0, 1)").collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Array[Byte]]("content")).toMap
    val mixed = Array[Byte](3, 0, 0, 0) ++ bmps(0L) ++ bmps(1L) ++ bmps(0L)
    val frames = MediaPipeline.containerFrames(mixed)
    assert(frames != null, "walker rejected a valid mixed-size container")
    val dims = frames.map(d => (d.w, d.h)).toSeq
    assert(dims == Seq((8, 8), (9, 11), (8, 8)), s"walked frames $dims")
  }

  test("perceptual blob UDF bytes == SQL-hex construction, byte for byte") {
    import org.apache.spark.sql.functions.col
    // the hot path assembles BMP bytes in a UDF (the SQL-hex form costs
    // ~8s at sf0.1 in per-pixel string churn); the two formulations must
    // never drift — pinned over the whole sf0.001 fixture, all variants
    def md5s(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("media_id", "md5(content) AS m")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaUdf = md5s(MediaPipeline.perceptualBlobs(spark, sf0001, variants = true))
    val viaSql = md5s(MediaPipeline.perceptualBlobsSql(spark, sf0001))
    assert(viaUdf.size == 2000 && viaUdf == viaSql)
    // the video container's frame 0 uses validBmpBlobs' channel formulas
    // at t = 0, so the byte writer behind every UDF-built BMP is pinned
    // against the SQL-hex bmpHex construction too
    val bmps = MediaPipeline.validBmpBlobs(spark, sf0001)
    val frame0 = md5s(bmps
      .withColumn("video", MediaPipeline.videoBlob(col("media_id")))
      .selectExpr("media_id", "substring(video, 5, octet_length(content)) AS content"))
    assert(frame0.size == 500 && frame0 == md5s(bmps))
  }

  test("q_multimodal_dcthash: pHash bits well-formed and discriminative") {
    val rows = SparkEntry.queries("q_multimodal_dcthash")(spark, sf0001).collect()
    assert(rows.length == 500)
    val hashes = rows.map(r =>
      (r.getAs[Long]("phash_hi"), r.getAs[Long]("phash_lo")))
    assert(hashes.forall { case (hi, lo) =>
      hi >= 0 && hi <= 0xFFFFFFFFL && lo >= 0 && lo <= 0xFFFFFFFFL })
    // the upper-median rule sets at most 31 of 64 bits and (with 64
    // distinct-enough coefficients) at least a handful
    assert(hashes.forall { case (hi, lo) =>
      val n = java.lang.Long.bitCount(hi) + java.lang.Long.bitCount(lo)
      n >= 1 && n <= 31
    })
    assert(hashes.toSet.size > 250, s"only ${hashes.toSet.size} distinct")
  }

  test("hash-robustness ledger: median-DCT dominates on all three perturbations") {
    val rows = SparkEntry.queries("q_multimodal_hashrobust")(spark, sf0001)
      .collect().map(r => (r.getAs[String]("family"), r.getAs[String]("perturb")) ->
        ((r.getAs[Long]("hits_le2"), r.getAs[Long]("hits_le4"), r.getAs[Long]("hits_le8"),
          r.getAs[Long]("n_docs")))).toMap
    assert(rows.size == 6 && rows.values.forall(_._4 == 500))
    def a(p: String) = rows(("ahash", p)); def d(p: String) = rows(("dcthash", p))
    // the MEASURED orderings (deterministic integers — exact, not noisy):
    // re-encode noise: low-freq DCT averages the noise out, aHash's
    // near-threshold blocks flip (366 vs 300 at <=2)
    assert(d("noise")._1 > a("noise")._1, s"${d("noise")} !> ${a("noise")}")
    // 2-column crop scatters both (the honest physics of global hashes
    // under geometric edits) but pHash keeps 3.4x the survivors at <=8
    assert(d("crop")._3 > a("crop")._3, s"${d("crop")} !> ${a("crop")}")
    // gamma tone-map: both strong, pHash ahead at the tight radius
    assert(d("gamma")._1 > a("gamma")._1, s"${d("gamma")} !> ${a("gamma")}")
    // and both families fully survive noise/gamma at <=8 (sanity anchor)
    assert(a("noise")._3 == 500 && d("noise")._3 == 500)
    assert(a("gamma")._3 == 500 && d("gamma")._3 == 500)
  }

  test("byte fingerprint: 16-bit range, deterministic, discriminative, in-place robust") {
    def run() = SparkEntry.queries("q_multimodal_phash")(TestSpark.spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val fp = run()
    assert(fp.size == 500)
    assert(fp.values.forall(v => v >= 0 && v <= 0xFFFF), "fp outside 16 bits")
    // payload bytes fully determine the fingerprint
    assert(run() == fp, "fingerprint not deterministic")
    // and it's discriminative on distinct payloads (496/500 measured)
    assert(fp.values.toSet.size > fp.size / 2, "fingerprint degenerated")
    // the robustness contract: an IN-PLACE byte edit (no length change)
    // perturbs at most its block's bit neighborhood — flip one byte of a
    // payload locally and recompute the model arithmetic in Scala
    import org.apache.spark.sql.functions.col
    val doc = graft.Tables(TestSpark.spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("text")).where(col("doc_id") === 0).head
    val bytes = doc.getString(1).getBytes("UTF-8")
    def model(bs: Array[Byte]): Long = {
      val L = bs.length
      val sums = (0 until 16).map { b =>
        val (s0, e0) = (b * L / 16, (b + 1) * L / 16)
        (s0 until e0).map(i => (bs(i) & 0xFF).toLong).sum
      }
      val total = sums.sum
      (0 until 16).map { b =>
        val nB = (b + 1) * L / 16 - b * L / 16
        if (sums(b) * L > total * nB) 1L << b else 0L
      }.sum
    }
    val edited = bytes.clone(); edited(bytes.length / 2) = 'Z'.toByte
    val ham = java.lang.Long.bitCount(model(bytes) ^ model(edited))
    assert(ham <= 2, s"one in-place byte edit moved $ham bits")
  }
}
