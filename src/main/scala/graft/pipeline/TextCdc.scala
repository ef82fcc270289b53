package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Sessions

/** Content-defined chunking over document TEXT — the sub-document dedup
  * face of the text family (the LBFS/FastCDC storage-dedup technique the
  * audio modality already has in [[Audio.cdcChunks]]).
  *
  * A chunk boundary falls AFTER character k wherever the rolling hash of
  * the last `window` codepoints is ≡ 0 mod 2^maskBits, so boundaries are
  * functions of LOCAL CONTENT: a doc with a sentence inserted at the front
  * re-synchronizes after one chunk, where fixed-width chunking (and the
  * whole-doc MinHash signature) misaligns every block. Two docs sharing a
  * long passage share its chunks regardless of WHERE the passage sits —
  * the signal behind boilerplate/quotation dedup at sub-document
  * granularity (suffix-array dedup à la Lee et al. 2022 approximated at
  * chunk resolution).
  *
  * The per-char scan is a [[Dataset.mapPartitions]] kernel, not column
  * algebra, deliberately: Catalyst evaluates higher-order-function
  * lambdas INTERPRETED (no codegen), and the O(n·window) boundary scan
  * through that path measured ~1000× slower than this JITed loop at
  * sf0.1 — the same judgment call as the audio/video codecs, where the
  * per-element imperative walk is the hot loop and no whole-stage-codegen
  * expression exists for it. The input is spread by id first so the scan
  * parallelizes across cores instead of riding one small-parquet
  * partition. Everything is exact non-negative integer arithmetic mod
  * 1e9+7 — bit-reproducible cross-engine (the DuckDB twin folds the same
  * `(a·31 + c) mod p` over `ord` of the same char slices).
  */
object TextCdc {

  private val CdcMod = 1000000007L

  private val cdcSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("chunk_idx", IntegerType),
    StructField("start", LongType),
    StructField("n_chunk_chars", LongType),
    StructField("chunk_hash", LongType)))

  /** Per-doc content-defined chunks: (doc_id, chunk_idx, start,
    * n_chunk_chars, chunk_hash), chunks tiling [0, n) contiguously.
    * `start` is the 0-based char offset; chunk identity is the polynomial
    * fold of the chunk's codepoints. Expected chunk length 2^maskBits.
    */
  def cdcChunks(docs: DataFrame, window: Int = 4, maskBits: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(maskBits >= 1 && maskBits <= 20, s"maskBits must be in [1,20], got $maskBits")
    val mask = (1L << maskBits) - 1
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(cdcSchema)
    val projected = docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__t"))
      .where(col("__t").isNotNull && length(col("__t")) > 0)
      // pinned width: REPARTITION_BY_COL is AQE-coalescable back to one
      // partition on small inputs, which serializes the per-char kernel
      .repartition(
        Sessions.partsOf(docs.sparkSession),
        col("doc_id"))
    val out: Dataset[Row] = projected.mapPartitions { it =>
      it.flatMap { row =>
        val t = row.getString(1)
        // codepoint stream, matching the twin's per-char `ord` (surrogate
        // pairs yield one codepoint per char slot only for BMP text; the
        // fixture corpus is ASCII, same contract as the audio twins)
        val n = t.length
        if (n == 0) Iterator.empty
        else {
          @inline def cp(i: Int): Long = t.codePointAt(i).toLong
          @inline def winHash(k: Int): Long = { // over chars [k-w+1 .. k], 0-based end k
            var a = 0L
            var j = k - window + 1
            while (j <= k) { a = ((a * 31 + cp(j)) % CdcMod + CdcMod) % CdcMod; j += 1 }
            a
          }
          val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
          var k = window - 1
          while (k < n) {
            if ((winHash(k) & mask) == 0L) ends += (k + 1) // boundary AFTER k
            k += 1
          }
          if (ends.isEmpty || ends.last != n) ends += n
          var prev = 0
          val id = row.getLong(0)
          ends.iterator.zipWithIndex.map { case (end, ci) =>
            var h = 0L
            var j = prev
            while (j < end) { h = ((h * 31 + cp(j)) % CdcMod + CdcMod) % CdcMod; j += 1 }
            val r = Row(id, ci, prev.toLong, (end - prev).toLong, h)
            prev = end
            r
          }
        }
      }
    }(enc)
    out
  }

  /** Sub-document near-duplicate pairs by shared content-defined chunks:
    * postings capped at `maxDf` (boilerplate chunks present everywhere
    * carry no pair signal and would quadratically blow the index), pairs
    * counted over the chunk-hash inverted index — the same candidate-only
    * scale shape as every LSH family here. Output (id_a, id_b, n_shared).
    */
  def cdcDups(docs: DataFrame, window: Int = 4, maskBits: Int = 5,
      minShared: Int = 3, maxDf: Int = 50,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"need minShared >= 1, maxDf >= 2; got minShared=$minShared maxDf=$maxDf")
    val fps = cdcChunks(docs, window, maskBits, idCol, textCol)
      .select(col("doc_id").as("id"), col("chunk_hash")).distinct()
    val keep = fps.groupBy("chunk_hash").agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDf).select("chunk_hash")
    val indexed = fps.join(keep, "chunk_hash")
    indexed.select(col("chunk_hash"), col("id").as("id_a"))
      .join(indexed.select(col("chunk_hash"), col("id").as("id_b")), "chunk_hash")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }
}
