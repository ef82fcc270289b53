package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Multimodal, Video}

/** The video container is REAL: blobs are concatenated binary-P6 frames
  * (the ffmpeg image2pipe ppm-stream format), the walker parses every
  * frame header in sequence, and corrupt mid-stream frames are loud
  * failures.
  */
class VideoSpec extends SparkSpec {
  import spark.implicits._

  test("buildPpmStream concatenates complete P6 frames that walkFrames round-trips") {
    val payload = (0 until 500).map(i => ((i % 93) + 33).toByte).toArray // printable
    val blob = Video.buildPpmStream(payload, frameBytes = 192)
    var frames = List.empty[(Int, Int, Int)]
    val n = Video.walkFrames(blob) { (idx, w, h, _) => frames ::= ((idx, w, h)) }
    assert(n == 3, "500 bytes at 192/frame is 3 frames")
    frames = frames.reverse
    // frames 0-1 carry 192 bytes → 64 pixels → 8×8; frame 2 carries 116 → ceil
    assert(frames(0) == (0, 8, 8) && frames(1) == (1, 8, 8))
    val lastPix = (116 + 2) / 3
    val lw = math.ceil(math.sqrt(lastPix.toDouble)).toInt
    assert(frames(2) == (2, lw, math.ceil(lastPix.toDouble / lw).toInt))
  }

  test("empty payload is a legal zero-frame stream; corrupt frame raises") {
    assert(Video.buildPpmStream(Array.emptyByteArray).isEmpty)
    assert(Video.walkFrames(Array.emptyByteArray)((_, _, _, _) => ()) == 0)

    val good = Video.buildPpmStream((1 to 400).map(_.toByte).toArray)
    // corrupt the SECOND frame's magic: first frame is 192 bytes + header
    val secondFrameOff = {
      val (w, h, off) = Multimodal.parsePpmHeaderAt(good, 0)
      off + 3 * w * h
    }
    val bad = good.clone()
    bad(secondFrameOff) = 'X'.toByte
    val e = intercept[IllegalArgumentException](
      Video.walkFrames(bad)((_, _, _, _) => ()))
    assert(e.getMessage.contains("P6"))
    // truncated final frame raises too
    val trunc = good.dropRight(5)
    intercept[IllegalArgumentException](Video.walkFrames(trunc)((_, _, _, _) => ()))
  }

  test("frameStats decodes per-frame geometry and byte statistics exactly") {
    val payload = (0 until 300).map(i => (40 + (i % 50)).toByte).toArray
    val docs = Seq((9L, new String(payload.map(_.toChar)))).toDF("doc_id", "text")
    val rows = Video.frameStats(Video.synthVideoTable(docs)).collect()
      .map(r => (r.getInt(1), r.getLong(4), r.getInt(5))).sortBy(_._1)
    assert(rows.length == 2)
    val (s0, m0) = (payload.take(192).map(_ & 0xff).map(_.toLong).sum,
      payload.take(192).map(_ & 0xff).max)
    val (s1, m1) = (payload.drop(192).map(_ & 0xff).map(_.toLong).sum,
      payload.drop(192).map(_ & 0xff).max)
    assert(rows(0) == (0, s0, m0) && rows(1) == (1, s1, m1))
  }

  test("keyframes emits frame 0 plus frames whose sum delta exceeds the threshold") {
    // three constant frames with a spike in the middle: sums 192·50, 192·120, 192·50
    val payload = Array.fill(192)(50.toByte) ++ Array.fill(192)(120.toByte) ++
      Array.fill(192)(50.toByte)
    val docs = Seq((1L, new String(payload.map(_.toChar)))).toDF("doc_id", "text")
    val table = Video.synthVideoTable(docs)
    val rows = Video.keyframes(table, threshold = 5000L).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    // deltas: f0 = 9600 (own sum), f1 = |23040−9600| = 13440, f2 = 13440
    assert(rows.toSeq == Seq((0, 192L * 50, 192L * 50),
      (1, 192L * 120, 192L * 70), (2, 192L * 50, 192L * 70)))
    // a high threshold keeps only frame 0
    val only0 = Video.keyframes(table, threshold = 20000L).collect()
    assert(only0.map(_.getInt(1)).toSeq == Seq(0))
  }

  test("videoFingerprint matches a scalar reimplementation; empty clip hashes to 0") {
    val payload = (0 until 700).map(i => (33 + (i * 7) % 90).toByte).toArray
    val docs = Seq((3L, new String(payload.map(_.toChar))), (4L, ""))
      .toDF("doc_id", "text")
    val rows = Video.videoFingerprint(Video.synthVideoTable(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // scalar twin: decoded stream = per frame slice + raster zero padding
    val stream = payload.grouped(192).flatMap { slice =>
      val npix = (slice.length + 2) / 3
      val w = math.ceil(math.sqrt(npix.toDouble)).toInt
      val h = math.ceil(npix.toDouble / w).toInt
      slice ++ Array.fill(3 * w * h - slice.length)(0.toByte)
    }.toArray
    val n = stream.length
    val e = new Array[Long](65)
    for (b <- 0 until 65) {
      val lo = (b.toLong * n / 65).toInt
      val hi = ((b + 1).toLong * n / 65).toInt
      for (g <- lo until hi) {
        val v = stream(g) & 0xff
        e(b) += v.toLong * v
      }
    }
    var expected = 0L
    for (b <- 0 until 64) if (e(b) > e(b + 1)) expected |= 1L << b
    assert(rows(0) == ((3L, n.toLong, expected)))
    assert(rows(1) == ((4L, 0L, 0L)), "empty clip: zero bytes, zero hash")
  }

  test("videoNearDups equals brute-force Hamming over wide fingerprints (sf0.001)") {
    // edit-augmented corpus (mirrors Fixtures.nearDupCorpus): the raw
    // synth corpus has no true video near-dups under the wide fingerprint,
    // so inject length-preserving edited twins to give the parity check a
    // real separated signal
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val docs = d.unionByName(
      d.where(length(col("text")) >= 61)
        .select((col("doc_id") + lit(1L << 40)).as("doc_id"),
          concat(substring(col("text"), 1, 50), lit("x" * 10),
            expr("substring(text, 61)")).as("text")))
    val table = Video.synthVideoTable(docs)
    val got = Video.videoNearDups(table, maxDist = 24)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fp = Video.videoFingerprintWide(table)
      .select("doc_id", "vfp").collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Long]]("vfp").toArray))
    val brute = (for {
      (ia, fa) <- fp; (ib, fb) <- fp if ia < ib
      d = fa.zip(fb).map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
      if d <= 24
    } yield (ia, ib, d)).toSet
    assert(brute.nonEmpty, "fixture corpus must contain video near-dups")
    assert(got == brute)
  }

  test("sampleFrames keeps exactly the evenly-spaced indices, all when short, none when empty") {
    // 6 frames (1060 bytes), k=4 → indices ⌊i·6/4⌋ = 0,1,3,4
    val long = new String(Array.tabulate(1060)(i => (33 + i % 90).toChar))
    // 2 frames, k=4 → ⌊i·2/4⌋ = 0,0,1,1 → distinct 0,1 (every frame)
    val short = new String(Array.tabulate(200)(i => (40 + i % 50).toChar))
    val docs = Seq((1L, long), (2L, short), (3L, "")).toDF("doc_id", "text")
    val table = Video.synthVideoTable(docs)
    val rows = Video.sampleFrames(table, k = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1))).groupBy(_._1)
      .map { case (id, fs) => id -> fs.map(_._2).sorted.toSeq }
    assert(rows(1L) == Seq(0, 1, 3, 4))
    assert(rows(2L) == Seq(0, 1))
    assert(!rows.contains(3L), "empty clip emits no sampled frames")
    // sampled pixel sums agree with the full frame walk
    val full = Video.frameStats(table).select("doc_id", "frame_idx", "pixel_sum")
    val sampled = Video.sampleFrames(table, k = 4)
    assert(sampled.join(full, Seq("doc_id", "frame_idx"), "left_anti").count() == 0)
    assert(sampled.join(full.withColumnRenamed("pixel_sum", "ps"),
      Seq("doc_id", "frame_idx")).where(col("pixel_sum") =!= col("ps")).count() == 0)
  }

  test("video queries run end-to-end on sf0.001; frame counts match metadata") {
    val dir = "/root/testdata/sf0.001"
    val table = Video.synthVideoTable(spark.read.parquet(s"$dir/documents.parquet"))
    val fromMeta = table.select(sum(col("video_meta.n_frames"))).as[Long].head()
    val walked = SparkEntry.queries("video_frames")(spark, dir).count()
    assert(walked == fromMeta && walked > 0)
    val kf = SparkEntry.queries("video_keyframes")(spark, dir)
    val n = kf.count()
    assert(n > 0 && n < walked, "keyframes must select a strict subset")
  }

  test("frameHashes: one hash per frame, driver parity; frameDups links an in-place edit to its source") {
    val rnd = new scala.util.Random(17)
    val base = Seq.fill(500)(('a' + rnd.nextInt(26)).toChar).mkString
    // doc 2: chars 10-19 replaced IN PLACE -> frame 0 differs, frames 1/2 shared
    val edited = base.substring(0, 10) + "XXXXXXXXXX" + base.substring(20)
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val table = Video.synthVideoTable(docs)
    val got = Video.frameHashes(table).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("frame_idx")) ->
        r.getAs[Long]("frame_hash")).toMap
    // 500 bytes -> 3 frames per doc (192+192+116)
    assert(got.keySet == (for (d <- Seq(1L, 2L); f <- 0 to 2) yield (d, f)).toSet)
    // driver replay: fold over the decoded raster (slice + zero padding)
    def refHash(payload: Array[Byte], f: Int): Long = {
      val start = f * 192
      val slice = java.util.Arrays.copyOfRange(payload, start,
        math.min(start + 192, payload.length))
      val npix = (slice.length + 2) / 3
      val w = math.ceil(math.sqrt(npix.toDouble)).toInt
      val h = math.ceil(npix.toDouble / w).toInt
      val raster = java.util.Arrays.copyOf(slice, 3 * w * h)
      raster.foldLeft(0L)((a, b) =>
        ((a * 31 + (b & 0xff)) % 1000000007L + 1000000007L) % 1000000007L)
    }
    val p1 = base.getBytes("UTF-8")
    (0 to 2).foreach(f => assert(got((1L, f)) == refHash(p1, f), s"frame $f"))
    // frame 0 differs, frames 1 and 2 identical across the pair
    assert(got((1L, 0)) != got((2L, 0)))
    assert(got((1L, 1)) == got((2L, 1)) && got((1L, 2)) == got((2L, 2)))
    // the dedup face links exactly this pair with 2 shared frames
    val pairs = Video.frameDups(table, minShared = 2).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Long]("n_shared"))).toMap
    assert(pairs == Map((1L, 2L) -> 2L))
    intercept[IllegalArgumentException](Video.frameDups(table, maxDf = 1))
  }
}
