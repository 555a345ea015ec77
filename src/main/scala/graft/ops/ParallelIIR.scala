package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import graft.dsp.IIR
import graft.ops.PerChannel.Sample

/** Distributed IIR filtering within a channel — the parallel linear-
  * recurrence scan (SURVEY §2.9 "v2 path", Blelloch-style).
  *
  * An IIR filter's state after a chunk is affine in its initial
  * state: z_out = A^L z_in + d(chunk), where A is the one-step
  * homogeneous state-transition matrix of the direct-form-II-
  * transposed recurrence (depends only on the a-coefficients) and
  * d(chunk) is the final state when filtering the chunk from zero
  * state. So, over one chunking per call:
  *   pass 1 (parallel): per chunk, filter from zero state; collect
  *     d_i, the first sample and the length L_i — m+2 numbers per
  *     chunk for a filter of order m;
  *   combine (driver):  z_{i+1} = A^{L_i} z_i + d_i per channel;
  *   pass 2 (parallel): re-filter each chunk with its true initial
  *     state, read from the task closure — outputs are the exact
  *     sequential recurrence per chunk.
  *
  * Cost: 2x the filter FLOPs, parallel across chunks of the SAME
  * channel. Matches sequential lfilter to fp-roundoff of the state
  * handoff (~1e-12 relative).
  */
object ParallelIIR {

  /** The `i`-th `chunk`-row slice of a channel's (t, v)-sorted samples. */
  private case class Chunk(channel: String, i: Int, t: Array[Double], v: Array[Double])

  /** One-step homogeneous DF2T state matrix for normalized a
    * (a(0)=1, length n): with input 0, y = z_0 and
    * z_j' = z_{j+1} - a_{j+1} y (z_{m} taken as 0).
    */
  def stepMatrix(a: Array[Double]): Array[Array[Double]] = {
    val m = a.length - 1
    Array.tabulate(m, m) { (j, k) =>
      (if (k == 0) -a(j + 1) else 0.0) + (if (k == j + 1) 1.0 else 0.0)
    }
  }

  private def matMul(x: Array[Array[Double]], y: Array[Array[Double]]): Array[Array[Double]] = {
    val n = x.length
    Array.tabulate(n, n) { (i, j) =>
      var s = 0.0
      var k = 0
      while (k < n) { s += x(i)(k) * y(k)(j); k += 1 }
      s
    }
  }

  /** M^steps by repeated squaring (m is the filter order: 2-8). */
  def matPow(m: Array[Array[Double]], steps: Long): Array[Array[Double]] = {
    val n = m.length
    var result = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var base = m
    var k = steps
    while (k > 0) {
      if ((k & 1L) == 1L) result = matMul(result, base)
      base = matMul(base, base)
      k >>= 1
    }
    result
  }

  private def matVec(m: Array[Array[Double]], v: Array[Double]): Array[Double] =
    Array.tabulate(m.length) { i =>
      var s = 0.0
      var k = 0
      while (k < m.length) { s += m(i)(k) * v(k); k += 1 }
      s
    }

  /** The chunking: each channel sorted by (t, v) in one task (the
    * tie-break chunks duplicate timestamps the same way in every pass),
    * cut into `chunk`-row chunks and spread over the tasks. Every pass
    * reads this RDD, so Spark runs its shuffles once; nothing is persisted.
    */
  private def chunked(df: DataFrame, chunk: Int): RDD[Chunk] = {
    require(chunk > 0)
    val spark = df.sparkSession
    import spark.implicits._
    df.selectExpr("channel", "cast(t as double) t", "cast(v as double) v").as[Sample]
      .repartition(col("channel")).sortWithinPartitions("channel", "t", "v")
      .rdd.mapPartitions { rows =>
        val it = rows.buffered
        var (prev, i) = (null: String, -1)
        Iterator.continually(it).takeWhile(_.hasNext).map { _ =>
          val ch = it.head.channel
          i = if (i >= 0 && ch == prev) i + 1 else 0
          prev = ch
          val run = mutable.ArrayBuffer.empty[Sample]
          while (run.size < chunk && it.hasNext && it.head.channel == ch) run += it.next()
          Chunk(ch, i, run.map(_.t).toArray, run.map(_.v).toArray)
        }
      }
      .keyBy(c => (c.channel, c.i))
      .partitionBy(new HashPartitioner(spark.sparkContext.defaultParallelism))
      .values
  }

  /** Pass 1 and the driver combine for filtering each chunk's `x(c)`
    * in scan order (last chunk first when `reversed`): every chunk's
    * initial state. Pass 1 collects (channel, i, d, first sample, L).
    * z_0 is zero, or `zi` scaled by the channel's first sample in scan
    * order (the steady state of a step).
    */
  private def initialStates(chunks: RDD[Chunk], b: Array[Double], a: Array[Double],
                            reversed: Boolean, zi: Array[Double])(
      x: Chunk => Array[Double]): Map[(String, Int), Array[Double]] = {
    val summaries = chunks.map { c =>
      val xs = x(c)
      (c.channel, c.i, IIR.lfilterWithState(b, a, xs, null)._2, xs(0), xs.length.toLong)
    }.collect()
    val step = stepMatrix(IIR.normalized(b, a)._2)
    val powers = mutable.Map.empty[Long, Array[Array[Double]]]
    summaries.groupBy(_._1).values.flatMap { cs =>
      val order = cs.sortBy(s => if (reversed) -s._2 else s._2)
      var z = if (zi == null) new Array[Double](step.length) else zi.map(_ * order.head._4)
      order.map { case (ch, i, d, _, len) =>
        val z0 = z
        val propagated = matVec(powers.getOrElseUpdate(len, matPow(step, len)), z0)
        z = Array.tabulate(z0.length)(k => propagated(k) + d(k))
        (ch, i) -> z0
      }
    }.toMap
  }

  /** The result frame (channel, t, v): `y(c)` at each chunk's t. */
  private def samples(df: DataFrame, chunks: RDD[Chunk])(y: Chunk => Array[Double]): DataFrame =
    df.sparkSession.createDataFrame(chunks.flatMap { c =>
      val ys = y(c)
      Iterator.tabulate(ys.length)(k => Sample(c.channel, c.t(k), ys(k)))
    })

  /** Distributed lfilter over (channel, t, v) with `chunk` rows per
    * task from zero initial state: `IIR.lfilter` over each channel's
    * (t, v)-sorted samples. Pass 1 runs now; the frame is pass 2.
    */
  def lfilterDistributed(df: DataFrame, b: Array[Double], a: Array[Double],
                         chunk: Int = 1 << 20): DataFrame = {
    val chunks = chunked(df, chunk)
    val z = initialStates(chunks, b, a, reversed = false, zi = null)(_.v)
    samples(df, chunks)(c => IIR.lfilterWithState(b, a, c.v, z((c.channel, c.i)))._1)
  }

  /** Chunk-parallel zero-phase filtering, scipy.signal.filtfilt(...,
    * padtype=None): forward, then backward over the reversed output,
    * each seeded with the steady state scaled by its first input (the
    * padded variant is the per-channel `IIR.filtfilt`). Three passes
    * over one chunking: the forward summaries; each chunk's forward
    * re-filter with the backward summary of its reversed output (the
    * last chunk's last forward sample seeds the backward steady state);
    * the returned frame, forward then backward per chunk.
    */
  def filtfiltDistributed(df: DataFrame, b: Array[Double], a: Array[Double],
                          chunk: Int = 1 << 20): DataFrame = {
    val zi = IIR.lfilterZi(b, a)
    val chunks = chunked(df, chunk)
    val zf = initialStates(chunks, b, a, reversed = false, zi)(_.v)
    def reversedForward(c: Chunk): Array[Double] =
      IIR.lfilterWithState(b, a, c.v, zf((c.channel, c.i)))._1.reverse
    val zb = initialStates(chunks, b, a, reversed = true, zi)(reversedForward)
    samples(df, chunks) { c =>
      IIR.lfilterWithState(b, a, reversedForward(c), zb((c.channel, c.i)))._1.reverse
    }
  }
}
