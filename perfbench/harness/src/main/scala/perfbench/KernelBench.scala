package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{SimHash64, TextHashKernels, VecKernels}
import graft.operators.{Dedup, TextAnalysis}

/** The `functions` layer, measured by direct calls into the per-row kernels
  * that generated code calls, over the sf0.1 documents and embeddings.
  * Each kernel gets the inputs the `pipeline` queries hand it: text
  * normalized by `Dedup.normalize`, the MinHash lanes of d08's config, the
  * word-token hashes of `Dedup.simhashColumn`, the 1024-bucket classifier
  * weights t33 fits, and the embedding pairs of s01.
  * Each kernel sweeps every input row; the rate is rows per second over as
  * many sweeps as fit in [[minSeconds]], after one untimed sweep for the
  * JIT. A checksum of one sweep's outputs is checked against the committed
  * value, so a faster kernel that computes something else fails. */
object KernelBench {

  val minSeconds = 0.4

  /** d08_cross_dedup's MinHash config. */
  val minhash = Dedup.MinHashConfig(numHashes = 64, bands = 16, threshold = 0.35)
  /** t33_quality_classifier's hashed-gram model size. */
  val gramDim = 1024
  val gramMaxN = 2

  private final class Inputs(spark: SparkSession, dir: String) {
    private val docs = graft.core.Tables.load(spark, dir, "documents").orderBy("doc_id")
    /** normalized text, NULL as empty text (the classifier's contract) */
    val texts: Array[UTF8String] =
      docs.select(Dedup.normalize(coalesce(col("text"), lit("")))).collect()
        .map(r => UTF8String.fromString(r.getString(0)))
    /** raw text, as p04 hands it to the repetition kernel */
    val rawTexts: Array[UTF8String] =
      docs.select(coalesce(col("text"), lit(""))).collect()
        .map(r => UTF8String.fromString(r.getString(0)))
    /** word-token xxhash64s, as `Dedup.simhashColumn` builds them */
    val tokenHashes: Array[ArrayData] =
      docs.select(transform(
          filter(split(Dedup.normalize(col("text")), " "), t => length(t) > 0),
          t => xxhash64(t)))
        .collect().filterNot(_.isNullAt(0))
        .map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Long](0).toArray))
    val vectors: Array[ArrayData] =
      graft.core.Tables.load(spark, dir, "embeddings").orderBy("vec_id")
        .select("embedding").collect()
        .map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](0).toArray))
    val shingles: Array[ArrayData] =
      texts.map(TextHashKernels.shingleHashSet(_, minhash.shingleSize))
    // the lanes MinHashSig draws from (numHashes, seed)
    private val rnd = new scala.util.Random(minhash.seed)
    val as: Array[Long] = Array.fill(minhash.numHashes)(rnd.nextLong() | 1L)
    val bs: Array[Long] = Array.fill(minhash.numHashes)(rnd.nextLong())
    val (weights: Array[Double], bias: Double) = TextAnalysis.qualityClassifierFit(
      graft.core.Tables.load(spark, dir, "documents"), "text",
      TextAnalysis.gopherSignals(col("text"), minStopHits = 1L).last,
      gramDim, gramMaxN)
  }

  private def longs(a: ArrayData): Long = {
    var s = 0L
    var i = 0
    while (i < a.numElements()) { s = s * 31 + a.getLong(i); i += 1 }
    s
  }

  /** name -> (rows per sweep, one sweep returning its checksum) */
  private def kernels(in: Inputs): Seq[(String, Int, () => Long)] = Seq(
    ("shingle", in.texts.length, () =>
      in.texts.foldLeft(0L)((s, t) =>
        s * 31 + longs(TextHashKernels.shingleHashSet(t, minhash.shingleSize)))),
    ("minhash", in.shingles.length, () =>
      in.shingles.foldLeft(0L)((s, a) => s * 31 + longs(TextHashKernels.minhashSig(a, in.as, in.bs)))),
    ("gopher", in.rawTexts.length, () =>
      in.rawTexts.foldLeft(0L) { (s, t) =>
        val out = TextHashKernels.gopherRepetition(t)
        (0 until out.numElements()).foldLeft(s)((h, i) =>
          h * 31 + java.lang.Double.doubleToLongBits(out.getDouble(i)))
      }),
    ("gram_score", in.texts.length, () =>
      in.texts.foldLeft(0L)((s, t) => s * 31 + java.lang.Double.doubleToLongBits(
        TextHashKernels.hashedGramScore(t, in.weights, in.bias, gramMaxN)))),
    ("simhash", in.tokenHashes.length, () =>
      in.tokenHashes.foldLeft(0L)((s, a) => s * 31 + SimHash64.compute(a))),
    ("dot", in.vectors.length, () => {
      val n = in.vectors.length
      (0 until n).foldLeft(0L)((s, i) => s * 31 + java.lang.Double.doubleToLongBits(
        VecKernels.dot(in.vectors(i), in.vectors((i + 1) % n), true, true)))
    }))

  def checksums(spark: SparkSession, dir: String): Seq[(String, Long)] =
    kernels(new Inputs(spark, dir)).map { case (name, _, sweep) => name -> sweep() }

  /** Keeps the timed sweeps' results observable to the JIT. */
  @volatile private var sink = 0L

  final case class Result(name: String, rowsPerSecond: Double, checksum: Long)

  def run(spark: SparkSession, dir: String): Seq[Result] =
    kernels(new Inputs(spark, dir)).map { case (name, rows, sweep) =>
      val checksum = sweep()
      var sweeps = 0
      val t0 = System.nanoTime()
      var elapsed = 0.0
      while (sweeps == 0 || elapsed < minSeconds) {
        sink ^= sweep()
        sweeps += 1
        elapsed = (System.nanoTime() - t0) / 1e9
      }
      Result(name, rows.toDouble * sweeps / elapsed, checksum)
    }
}
