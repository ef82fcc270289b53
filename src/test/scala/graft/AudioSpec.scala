package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Audio

/** The audio codec is REAL: blobs are valid RIFF/WAVE PCM16 files, the
  * parser is an actual chunk walk (magic, fmt validation, unknown-chunk
  * skipping, RIFF padding), and decoded statistics round-trip the source
  * samples exactly.
  */
class AudioSpec extends SparkSpec {
  import spark.implicits._

  private def wavOf(text: String): Array[Byte] =
    Audio.buildWav(Audio.payloadSamples(text.getBytes("UTF-8")))

  test("buildWav produces a valid RIFF/WAVE that parseWavHeader round-trips") {
    val samples = Array[Short](0, 100, -100, 32512, -32768, 7)
    val blob = Audio.buildWav(samples)
    assert(new String(blob, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(blob, 8, 4, "US-ASCII") == "WAVE")
    val (rate, off, n) = Audio.parseWavHeader(blob)
    assert(rate == Audio.SampleRate && n == samples.length)
    val decoded = (0 until n).map { k =>
      ((blob(off + 2 * k) & 0xff) | ((blob(off + 2 * k + 1) & 0xff) << 8)).toShort
    }
    assert(decoded == samples.toSeq, "PCM16LE round trip must be exact")
  }

  test("payloadSamples maps bytes to centred PCM16 within Short range") {
    val s = Audio.payloadSamples(Array[Byte](0, 127.toByte, 128.toByte, 255.toByte))
    assert(s.toSeq == Seq[Short](-32768, -256, 0, 32512))
  }

  test("parser skips unknown chunks and RIFF pad bytes before data") {
    val base = Audio.buildWav(Array[Short](5, -5, 9))
    // splice an odd-size LIST chunk (3 bytes + 1 pad) between fmt and data
    val extra = Array[Byte]('L', 'I', 'S', 'T', 3, 0, 0, 0, 1, 2, 3, 0)
    val spliced = new Array[Byte](base.length + extra.length)
    System.arraycopy(base, 0, spliced, 0, 36) // through end of fmt chunk
    System.arraycopy(extra, 0, spliced, 36, extra.length)
    System.arraycopy(base, 36, spliced, 36 + extra.length, base.length - 36)
    // patch the RIFF size for the extra bytes
    val riffLen = spliced.length - 8
    spliced(4) = (riffLen & 0xff).toByte
    spliced(5) = ((riffLen >>> 8) & 0xff).toByte
    spliced(6) = ((riffLen >>> 16) & 0xff).toByte
    spliced(7) = ((riffLen >>> 24) & 0xff).toByte
    val (rate, _, n) = Audio.parseWavHeader(spliced)
    assert(rate == Audio.SampleRate && n == 3)
  }

  test("parser rejects malformed blobs with real errors") {
    def rejects(bytes: Array[Byte], hint: String): Unit = {
      val e = intercept[IllegalArgumentException](Audio.parseWavHeader(bytes))
      assert(e.getMessage.contains("WAV"), s"$hint: ${e.getMessage}")
    }
    val good = Audio.buildWav(Array[Short](1, 2))
    rejects("JUNK".getBytes("US-ASCII") ++ good.drop(4), "bad RIFF magic")
    rejects(good.updated(10, 'X'.toByte), "bad WAVE magic")
    rejects(good.dropRight(1), "RIFF size exceeds blob")
    rejects(good.updated(20, 3.toByte), "non-PCM format")
    rejects(good.updated(22, 2.toByte), "stereo")
    rejects(good.take(12), "no data chunk")
  }

  test("extractFeatures computes exact integer statistics") {
    // samples: -32768, -256, 0, 32512 → handcomputed stats
    val blob = Audio.buildWav(Audio.payloadSamples(Array[Byte](0, 127.toByte, 128.toByte, 255.toByte)))
    val table = Seq((1L, blob)).toDF("doc_id", "audio")
    val r = Audio.extractFeatures(table).collect().head
    assert(r.getAs[Long]("n_samples") == 4)
    assert(r.getAs[Long]("duration_ms") == 4L * 1000 / 16000) // 0 (floor)
    assert(r.getAs[Long]("sum_sq") ==
      32768L * 32768 + 256L * 256 + 0L + 32512L * 32512)
    assert(r.getAs[Int]("peak") == 32768)
    // sign sequence: -, -, 0, + → only one strict sign product < 0? pairs:
    // (-32768,-256) >0 no; (-256,0) =0 no; (0,32512) =0 no → 0 crossings
    assert(r.getAs[Long]("zero_crossings") == 0)

    val blob2 = Audio.buildWav(Array[Short](5, -3, 2, -1))
    val r2 = Audio.extractFeatures(Seq((2L, blob2)).toDF("doc_id", "audio")).collect().head
    assert(r2.getAs[Long]("zero_crossings") == 3)
  }

  test("resampleAudio keeps every f-th sample and re-encodes at rate/f") {
    val samples = (0 until 23).map(i => (i * 100 - 1000).toShort).toArray
    val table = Seq((7L, Audio.buildWav(samples))).toDF("doc_id", "audio")
    val out = Audio.resampleAudio(table, factor = 4).collect().head
    val blob = out.getAs[Array[Byte]]("audio")
    val (rate, off, n) = Audio.parseWavHeader(blob)
    assert(rate == 4000 && n == 6) // ceil(23/4)
    val kept = (0 until n).map { k =>
      ((blob(off + 2 * k) & 0xff) | ((blob(off + 2 * k + 1) & 0xff) << 8)).toShort
    }
    assert(kept == Seq(0, 4, 8, 12, 16, 20).map(samples(_)))
    val meta = out.getAs[org.apache.spark.sql.Row]("audio_meta")
    assert(meta.getAs[Int]("sample_rate") == 4000 && meta.getAs[Long]("n_samples") == 6L)
  }

  test("chunkEnergy windows are exact and ragged at the tail; empty clip emits none") {
    val samples = (0 until 10).map(i => (i + 1).toShort).toArray // 1..10
    val table = Seq((1L, Audio.buildWav(samples)),
      (2L, Audio.buildWav(Array.empty[Short]))).toDF("doc_id", "audio")
    val rows = Audio.chunkEnergy(table, chunkSamples = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .sortBy(t => (t._1, t._2))
    assert(rows.forall(_._1 == 1L), "empty clip must emit no chunks")
    assert(rows.toSeq == Seq(
      (1L, 0, 4L, (1 + 4 + 9 + 16).toLong, 4),
      (1L, 1, 4L, (25 + 36 + 49 + 64).toLong, 8),
      (1L, 2, 2L, (81 + 100).toLong, 10)))
  }

  test("synthAudioTable → features equals direct byte statistics (ASCII corpus)") {
    val docs = Seq((1L, "abc"), (2L, ""), (3L, "zz zz")).toDF("doc_id", "text")
    val feats = Audio.extractFeatures(Audio.synthAudioTable(docs))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    def expected(text: String): (Long, Int) = {
      val s = text.getBytes("UTF-8").map(b => ((b & 0xff) - 128) * 256)
      (s.map(v => v.toLong * v).sum, if (s.isEmpty) 0 else s.map(math.abs).max)
    }
    for ((id, text) <- Seq(1L -> "abc", 2L -> "", 3L -> "zz zz")) {
      val (ss, pk) = expected(text)
      assert(feats(id).getAs[Long]("sum_sq") == ss, s"doc $id sum_sq")
      assert(feats(id).getAs[Int]("peak") == pk, s"doc $id peak")
      assert(feats(id).getAs[Long]("n_samples") == text.length, s"doc $id n")
    }
  }

  test("audioFingerprint encodes the energy contour exactly") {
    // 130 samples, 65 windows of 2: amplitudes strictly decreasing →
    // every e(b) > e(b+1) → all 64 bits set → two's-complement −1
    val falling = (0 until 130).map(i => (32000 - i * 200).toShort).toArray
    val rising = falling.reverse
    val flat = Array.fill(130)(1000.toShort)
    val table = Seq((1L, Audio.buildWav(falling)), (2L, Audio.buildWav(rising)),
      (3L, Audio.buildWav(flat)), (4L, Audio.buildWav(Array.empty[Short])))
      .toDF("doc_id", "audio")
    val fp = Audio.audioFingerprint(table).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("afp")).toMap
    assert(fp(1L) == -1L, "strictly falling energy sets every bit")
    assert(fp(2L) == 0L, "strictly rising energy sets none")
    assert(fp(3L) == 0L, "constant energy has no strict decreases")
    assert(fp(4L) == 0L, "empty clip hashes to 0")
  }

  test("audioNearDups equals brute-force Hamming over wide fingerprints (sf0.001)") {
    // edit-augmented corpus (mirrors Fixtures.nearDupCorpus): the raw
    // synth corpus has no true audio near-dups under the wide fingerprint
    // (min pairwise distance ~62), so inject length-preserving edited twins
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val docs = d.unionByName(
      d.where(length(col("text")) >= 61)
        .select((col("doc_id") + lit(1L << 40)).as("doc_id"),
          concat(substring(col("text"), 1, 50), lit("x" * 10),
            expr("substring(text, 61)")).as("text")))
    val table = Audio.synthAudioTable(docs)
    val got = Audio.audioNearDups(table, maxDist = 24)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fp = Audio.audioFingerprintWide(table)
      .select("doc_id", "afp").collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Long]]("afp").toArray))
    val brute = (for {
      (ia, fa) <- fp; (ib, fb) <- fp if ia < ib
      d = fa.zip(fb).map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
      if d <= 24
    } yield (ia, ib, d)).toSet
    assert(brute.nonEmpty, "fixture corpus must contain audio near-dups")
    assert(got == brute)
  }

  test("audio queries run end-to-end on sf0.001 with nonzero output") {
    val dir = "/root/testdata/sf0.001"
    val f = SparkEntry.queries("audio_features")(spark, dir)
    val rz = SparkEntry.queries("audio_resample")(spark, dir)
    val ch = SparkEntry.queries("audio_chunks")(spark, dir)
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(f.count() == nDocs)
    assert(rz.count() == nDocs)
    assert(ch.count() >= nDocs, "every nonempty doc has at least one chunk")
    // resample invariant: every clip's decimated count is ceil(n/4)
    val joined = f.select(col("doc_id"), col("n_samples").as("n_full"))
      .join(rz.select(col("doc_id"), col("n_samples").as("n_dec")), "doc_id")
    assert(joined.where(col("n_dec") =!= ceil(col("n_full") / lit(4.0)).cast("long")).count() == 0)
  }
  test("cdcChunks tiles every clip exactly and re-syncs after a prefix insert") {
    // pseudo-random payload: a repeated phrase can cycle PAST the mask
    // (no boundary in the cycle) and leave too few chunks to measure
    val rnd = new scala.util.Random(5)
    val base = Seq.fill(600)(('a' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq((1L, base), (2L, "XYZQW-12345 " + base))
      .toDF("doc_id", "text")
    val chunks = Audio.cdcChunks(Audio.synthAudioTable(docs))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"),
        r.getAs[Long]("start"), r.getAs[Long]("n_chunk_samples"),
        r.getAs[Long]("chunk_hash")))
    // chunks tile [0, n) contiguously per clip
    Seq(1L, 2L).foreach { id =>
      val cs = chunks.filter(_._1 == id).sortBy(_._2)
      assert(cs.head._3 == 0L)
      cs.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 == b._3, s"gap at ${b._2}")
        case _ =>
      }
      assert(cs.map(_._4).sum == base.length + (if (id == 2L) 12 else 0))
    }
    // shift robustness: the prefixed copy re-synchronizes after the first
    // boundary — it must share almost every chunk hash with the original
    // (fixed-width chunking would share none)
    val h1 = chunks.filter(_._1 == 1L).map(_._5).toSet
    val h2 = chunks.filter(_._1 == 2L).map(_._5).toSet
    assert(h1.size >= 4, s"corpus too short for the test: ${h1.size} chunks")
    val shared = (h1 intersect h2).size
    assert(shared >= h1.size - 2,
      s"only $shared of ${h1.size} chunks survive a prefix insert")
    // and the dedup face links exactly this pair
    val pairs = Audio.audioCdcDups(Audio.synthAudioTable(docs), minShared = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L)))
  }
}
