package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.server.QueryDoor

class ServerMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("query door classifies and executes SELECT / SHOW / DESC / EXPLAIN") {
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("nation")
    assert(QueryDoor.detect("select 1") == QueryDoor.Select)
    assert(QueryDoor.detect(" SHOW TABLES") == QueryDoor.Show)
    assert(QueryDoor.detect("create table t(a int)") == QueryDoor.DdlDml)
    assert(QueryDoor.detect("EXPLAIN select 1") == QueryDoor.Explain)

    val rows = QueryDoor.execute(spark, "SELECT count(*) AS n FROM nation").collect()
    assert(rows.head.getLong(0) == 25L)

    val tables = QueryDoor.execute(spark, "SHOW TABLES")
      .select("TABLE_NAME").as[String].collect()
    assert(tables.contains("nation"))

    val desc = QueryDoor.execute(spark, "DESC nation").collect()
    assert(desc.length == 3 && desc(0).getString(1) == "n_nationkey")

    val plan = QueryDoor.execute(spark, "EXPLAIN SELECT * FROM nation WHERE n_nationkey = 1")
      .as[String].collect().mkString("\n")
    assert(plan.contains("Scan parquet") || plan.contains("FileScan"))

    // explain option tokens (fm_dbsrc_internal_test.go splitExplainSQLText):
    // --full / bare full / bare -- delimiter; missing statement errors
    val p2 = QueryDoor.execute(spark, "EXPLAIN --full select * from nation")
      .as[String].collect().mkString("\n")
    assert(p2.nonEmpty)
    val p3 = QueryDoor.execute(spark, "explain full with cte as (select 1 AS x) select * from cte")
      .as[String].collect().mkString("\n")
    assert(p3.nonEmpty)
    val p4 = QueryDoor.execute(spark, "explain -- select * from nation")
      .as[String].collect().mkString("\n")
    assert(p4.nonEmpty)
    val err = intercept[IllegalArgumentException] {
      QueryDoor.execute(spark, "explain --full")
    }
    assert(err.getMessage == "f(SQL) missing statement after explain options")
  }

  test("query door renders the JSON envelope wire format") {
    val out = QueryDoor.query(spark, "SELECT 1 AS one", "JSON")
    assert(out.contains("\"columns\":[\"one\"]") && out.contains("\"rows\":[[1]]"))
  }

  test("BMP decoder: real header walk, padded scanlines, top-down flag") {
    val codes = (0 until 18).map(i => 10 + i * 7).toArray
    val bmp = Multimodal.synthBmp(codes, 3, 2) // rowSize 12, 3 pad bytes/row
    val info = Multimodal.decodeBmp(bmp).get
    assert(info.width == 3 && info.height == 2 && info.bpp == 24)
    // mean over exactly the first 18 cycled codes — pad bytes excluded
    val want = codes.map(_ & 0xFF).sum.toDouble / 18
    assert(math.abs(info.pixelMean - want) < 1e-12, s"${info.pixelMean} vs $want")

    // negative height = top-down; same pixel bytes, same mean
    val buf = java.nio.ByteBuffer.wrap(bmp).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(22, -2)
    val td = Multimodal.decodeBmp(bmp).get
    assert(td.height == 2 && math.abs(td.pixelMean - want) < 1e-12)

    assert(Multimodal.decodeBmp("BMxx".getBytes).isEmpty) // truncated
    assert(Multimodal.decodeBmp(Array.fill[Byte](60)(1)).isEmpty) // no magic
  }

  test("WAV decoder: RIFF chunk walk with extra word-aligned chunks") {
    val codes = Array(200, 50, 128, 255)
    val wav = Multimodal.synthWav(codes, 12000, 8)
    val info = Multimodal.decodeWav(wav).get
    assert(info.channels == 1 && info.sampleRate == 12000 &&
      info.bits == 16 && info.nSamples == 8)
    val samples = codes ++ codes
    val want = math.sqrt(samples.map(c => {
      val s = ((c & 0xFF) - 128) * 128; s.toDouble * s
    }).sum / 8)
    assert(math.abs(info.rms - want) < 1e-9)
    assert(info.peak == samples.map(c => math.abs(((c & 0xFF) - 128) * 128)).max)

    // insert an odd-length LIST chunk between fmt and data: the walker
    // must skip it via word alignment and still find the data chunk
    val head = wav.take(36) // RIFF..fmt chunk end
    val tail = wav.drop(36) // data chunk
    val list = "LIST".getBytes("ISO-8859-1") ++
      Array[Byte](3, 0, 0, 0) ++ Array[Byte](7, 8, 9, 0) // len 3 + 1 align pad
    val patched = head ++ list ++ tail
    val pb = java.nio.ByteBuffer.wrap(patched).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    pb.putInt(4, patched.length - 8)
    val info2 = Multimodal.decodeWav(patched).get
    assert(info2.nSamples == 8 && math.abs(info2.rms - want) < 1e-9)

    assert(Multimodal.decodeWav("RIFFxxxxWAVE".getBytes).isEmpty) // no chunks
  }

  test("ImageIO decode: PNG round-trips exactly, JPEG channel mean within lossy tolerance") {
    val codes = (0 until 60).map(i => (i * 37 + 11) % 256).toArray
    val (w, h) = (5, 4)
    val exactMean = (0 until w * h * 3).map(i => codes(i % codes.length)).sum.toDouble / (w * h * 3)

    // PNG is lossless: decoded bytes are EXACTLY the cycled codes
    val png = Multimodal.decodeImage(Multimodal.synthPng(codes, w, h)).get
    assert(png.mediaType == "image/png" && png.width == w && png.height == h)
    assert((0 until w * h * 3).forall(i => (png.rgb(i) & 0xFF) == codes(i % codes.length)))
    assert(math.abs(png.pixelMean - exactMean) < 1e-12)

    // JPEG is lossy: dimensions exact, channel mean within DCT error.
    // 4.0 bounds the mean shift for this fixture (observed ~1); a decode
    // bug (channel swap, raster offset) lands far outside it.
    val jpg = Multimodal.decodeImage(Multimodal.synthJpeg(codes, w, h)).get
    assert(jpg.mediaType == "image/jpeg" && jpg.width == w && jpg.height == h)
    assert(math.abs(jpg.pixelMean - exactMean) < 4.0,
      s"jpeg mean ${jpg.pixelMean} vs source $exactMean")

    // empty codes: substituted fixed byte, no division by zero
    val empty = Multimodal.decodeImage(Multimodal.synthPng(Array.empty, 2, 2)).get
    assert(empty.pixelMean == 63.0)
  }

  test("streaming decodeImageStats equals the full-raster statistics") {
    val codes = (0 until 60).map(i => (i * 37 + 11) % 256).toArray
    val (w, h) = (5, 4)
    // PNG (ImageIO row walk) and BMP (direct byte walk) against ImgInfo
    for (payload <- Seq(Multimodal.synthPng(codes, w, h),
                        Multimodal.synthBmp(codes, w, h))) {
      val full = Multimodal.decodeImage(payload).get
      val st = Multimodal.decodeImageStats(payload, 16).get
      assert(st.mediaType == full.mediaType)
      assert(st.width == w && st.height == h)
      assert(math.abs(st.pixelMean - full.pixelMean) < 1e-12,
        s"${st.mediaType}: ${st.pixelMean} vs ${full.pixelMean}")
      assert(st.lumaHistogram.toSeq == full.lumaHistogram(16).toSeq,
        s"${st.mediaType} histogram diverged")
    }
    // non-image payloads still route to None
    assert(Multimodal.decodeImageStats("not an image".getBytes).isEmpty)
  }

  test("decodeMedia routes real decoders by magic and falls back cleanly") {
    val codes = Array(1, 2, 3, 4, 5, 6)
    val rows = Seq(
      (1L, Multimodal.synthBmp(codes, 2, 1)),
      (2L, Multimodal.synthWav(codes, 8000, 4)),
      (3L, Array[Byte](9, 9, 9)))
    val df = rows.toDF("id", "payload")
    val got = Multimodal.decodeMedia(df, "id", "payload").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "image/bmp", 2L -> "audio/wav",
      3L -> "application/octet-stream"))
  }

  test("decodeFeatures produces deterministic fixed-dim vectors in batches") {
    val df = (0L until 10L).map(i => (i, Array.fill((i + 1).toInt * 10)(i.toByte)))
      .toDF("id", "payload")
    val feats = Multimodal.decodeFeatures(df, "id", "payload", dim = 8, batchSize = 3)
    val rows = feats.collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getSeq[Float](1).size == 8))
    // deterministic: same input → same feature
    val again = Multimodal.decodeFeatures(df, "id", "payload", dim = 8, batchSize = 7).collect()
    assert(rows.map(r => (r.getLong(0), r.getSeq[Float](1))).toMap ==
      again.map(r => (r.getLong(0), r.getSeq[Float](1))).toMap)
  }

  test("sampleFrames windows a blob into frames") {
    val blob = (0 until 100).map(_.toByte).toArray
    val df = Seq((1L, blob)).toDF("id", "payload")
    val frames = Multimodal.sampleFrames(df, "id", "payload", frameBytes = 10, everyNth = 2)
    val got = frames.select("frame_idx", "frame").collect()
    assert(got.length == 5)
    assert(got.head.getAs[Array[Byte]](1).length == 10)
  }

  test("splitMjpegFrames walks SOI/EOI markers, not fixed offsets") {
    val codes = "frame-test-payload".map(_.toInt & 0xFF).toArray
    val stream = Multimodal.synthMjpeg(codes, id = 5L, nFrames = 5)
    val frames = Multimodal.splitMjpegFrames(stream)
    assert(frames.length == 5, frames.length)
    // each split frame is an independently decodable JPEG with the
    // synthesized per-frame dimensions (w=2+((5+k)%4), h=2+((5+k)%3))
    frames.zipWithIndex.foreach { case (f, k) =>
      assert((f(0) & 0xFF) == 0xFF && (f(1) & 0xFF) == 0xD8)
      assert((f(f.length - 2) & 0xFF) == 0xFF && (f(f.length - 1) & 0xFF) == 0xD9)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f))
      assert(img.getWidth == 2 + ((5 + k) % 4), s"frame $k width")
      assert(img.getHeight == 2 + ((5 + k) % 3), s"frame $k height")
    }
  }

  test("sampleMjpegFrames decodes every-nth frame distributedly") {
    val mk = (id: Long) =>
      (id, Multimodal.synthMjpeg(s"doc-$id".map(_.toInt & 0xFF).toArray, id, 3 + (id % 4).toInt))
    val df = Seq(mk(0L), mk(1L), mk(7L)).toDF("doc_id", "mjpeg")
    val got = Multimodal.sampleMjpegFrames(df, "doc_id", "mjpeg", everyNth = 2)
      .orderBy("doc_id", "frame_idx").collect()
    // doc 0: 3 frames → idx 0,2; doc 1: 4 frames → 0,2; doc 7: 6 → 0,2,4
    assert(got.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((0L, 0), (0L, 2), (1L, 0), (1L, 2), (7L, 0), (7L, 2), (7L, 4)))
    got.foreach { r =>
      val (id, k) = (r.getLong(0), r.getInt(1))
      assert(r.getInt(2) == 2 + ((id + k) % 4).toInt, s"doc $id frame $k width")
      assert(r.getInt(3) == 2 + ((id + k) % 3).toInt, s"doc $id frame $k height")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 255.0)
    }
  }

  test("resizeRgb: integer source mapping, identity at same size") {
    // 2x2 source, distinct per-pixel values: (x,y) channel base 10*(y*2+x)
    val rgb = Array.tabulate(2 * 2 * 3)(i => (10 * (i / 3) + i % 3).toByte)
    val src = Multimodal.ImgInfo("image/bmp", 2, 2, rgb)
    // downscale to 1x1 picks source (0,0)
    val one = Multimodal.resizeRgb(src, 1, 1)
    assert(one.rgb.toSeq == Seq[Byte](0, 1, 2))
    // upscale to 4x4: output x in 0..3 maps to source x/2 (0,0,1,1)
    val four = Multimodal.resizeRgb(src, 4, 4)
    assert(four.width == 4 && four.height == 4)
    assert(four.rgb(0) == 0 && four.rgb(3 * 3) == 10 * 1) // (3,0) → src (1,0)
    assert(Multimodal.resizeRgb(src, 2, 2).rgb.toSeq == rgb.toSeq) // identity
  }

  test("encodeBmp24 round-trips through the public decoder, any padding") {
    for (w <- 1 to 5; h <- 1 to 3) {
      val rgb = Array.tabulate(w * h * 3)(i => ((i * 7 + 3) % 256).toByte)
      val enc = Multimodal.encodeBmp24(Multimodal.ImgInfo("image/bmp", w, h, rgb))
      val back = Multimodal.decodeImage(enc).get
      assert(back.width == w && back.height == h, s"${w}x$h dims")
      assert(back.rgb.toSeq == rgb.toSeq, s"${w}x$h raster")
    }
  }

  test("resizeMedia resizes PNG payloads too (decode routing by magic)") {
    val codes = "resize me please".map(_.toInt & 0xFF).toArray
    val df = Seq(
      (1L, Multimodal.synthPng(codes, 4, 3)),
      (2L, Multimodal.synthBmp(codes, 4, 3)),
      (3L, Array[Byte](1, 2, 3))).toDF("doc_id", "bin")
    val got = Multimodal.resizeMedia(df, "doc_id", "bin", 2, 2)
      .orderBy("doc_id").collect()
    // PNG is lossless and both sources share the raster formula modulo
    // BGR file order; resized pixel sets differ, but dims + decodability
    // must hold for both, and the undecodable row passes through null
    assert(got(0).getInt(2) == 2 && got(0).getInt(3) == 2)
    val backPng = Multimodal.decodeImage(got(0).getAs[Array[Byte]](1)).get
    assert(backPng.width == 2 && backPng.height == 2)
    assert(got(1).getDouble(4) >= 0 && got(1).getDouble(4) <= 255)
    assert(got(2).isNullAt(1) && got(2).isNullAt(4))
  }

  test("ahash64: exact brightness-shift invariance and content discrimination") {
    val codes = "the quick brown fox jumps".map(_.toInt).toArray
    val a = Multimodal.ahash64(decode24(Multimodal.synthBmp(codes, 4, 3)))
    val aShift = Multimodal.ahash64(decode24(Multimodal.synthBmp(codes.map(_ + 10), 4, 3)))
    assert(a == aShift, s"brightness shift changed the hash: $a vs $aShift")
    val other = Multimodal.ahash64(decode24(
      Multimodal.synthBmp("zzzz aaaa zzzz aaaa zzzz".map(_.toInt).toArray, 4, 3)))
    assert(a != other, "distinct content hashed alike")
  }

  test("ahashMedia: decodes, hashes, nulls on junk payloads") {
    val rows = Seq(
      (1L, Multimodal.synthBmp("hello world sample".map(_.toInt).toArray, 3, 2)),
      (2L, Array[Byte](1, 2, 3))).toDF("id", "bin")
    val got = Multimodal.ahashMedia(rows, "id", "bin").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got(1L).isDefined && got(2L).isEmpty, got)
  }

  private def decode24(payload: Array[Byte]): Multimodal.ImgInfo =
    Multimodal.decodeImage(payload).getOrElse(fail("undecodable payload"))
}
