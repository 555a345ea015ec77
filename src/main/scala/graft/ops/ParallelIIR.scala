package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.dsp.IIR

/** Distributed IIR filtering for channels too large for one task —
  * the parallel linear-recurrence scan (SURVEY §2.9 "v2 path",
  * classic Blelloch-style formulation).
  *
  * An IIR filter's state after a chunk is affine in its initial
  * state: z_out = A^L z_in + d(chunk), where A is the one-step
  * homogeneous state-transition matrix of the direct-form-II-
  * transposed recurrence (depends only on the a-coefficients) and
  * d(chunk) is the final state when filtering the chunk from zero
  * state. So:
  *
  *   pass 1 (parallel): per chunk, filter from zero state, keep only
  *     the final state d_i and length L_i;
  *   combine (driver):  z_{i+1} = A^{L_i} z_i + d_i — a few doubles
  *     per chunk, sequential but trivial (tree-combinable if ever
  *     needed);
  *   pass 2 (parallel): re-filter each chunk with its true initial
  *     state — outputs are the exact sequential recurrence per chunk.
  *
  * Cost: 2x the filter FLOPs, fully parallel across chunks of the
  * SAME channel. Matches sequential lfilter to fp-roundoff of the
  * state handoff (~1e-12 relative).
  */
object ParallelIIR {

  case class ChunkRow(channel: String, chunkId: Long, t: Double, v: Double)
  case class ChunkState(channel: String, chunkId: Long, state: Array[Double], len: Long)
  case class InitState(channel: String, chunkId: Long, zi: Array[Double])
  case class OutRow(channel: String, t: Double, v: Double)

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

  /** Distributed lfilter over (channel, t, v) with `chunk` rows per
    * task. Exact same operator contract as Kernels-level lfilter but
    * parallel WITHIN a channel.
    *
    * FULLY LAZY — no job runs until the returned frame is consumed:
    * the per-channel affine combine is itself a (tiny) distributed
    * stage (a few doubles per chunk, grouped by channel), and pass 2
    * joins chunks with their true initial states via cogroup instead
    * of a driver collect + broadcast, so building the frame runs no
    * job.
    */
  def lfilterDistributed(df: DataFrame, b: Array[Double], a: Array[Double],
                         chunk: Int = 1 << 20, ziFromFirst: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(chunk > 0)
    val aNorm = a.map(_ / a(0))
    // (t, v) tie-break: duplicate timestamps must chunk identically in
    // the pass-1 states and the pass-2 recomputation (row_number over
    // t alone is nondeterministic under ties)
    val w = Window.partitionBy("channel").orderBy("t", "v")
    val chunked = df
      .withColumn("chunkId", ((row_number().over(w) - 1) / chunk).cast("long"))
      .selectExpr("channel", "chunkId", "cast(t as double) t", "cast(v as double) v")
      .as[ChunkRow]

    def sortedVals(rows: Iterator[ChunkRow]): (Array[ChunkRow], Array[Double]) = {
      val arr = rows.toArray.sortBy(r => (r.t, r.v))
      (arr, arr.map(_.v))
    }

    // pass 1: zero-state final states per chunk (+ each chunk's first
    // sample appended, so the steady-state zi option can seed chunk 0)
    val states = chunked.groupByKey(r => (r.channel, r.chunkId))
      .mapGroups { (key, rows) =>
        val (_, vs) = sortedVals(rows)
        val (_, st) = IIR.lfilterWithState(b, a, vs, null)
        ChunkState(key._1, key._2, st :+ (if (vs.isEmpty) 0.0 else vs(0)), vs.length.toLong)
      }

    val ziUnit = if (ziFromFirst) IIR.lfilterZi(b, a) else null
    val stateDim = math.max(aNorm.length - 1, 0)

    // distributed combine: z_{i+1} = A^{L_i} z_i + d_i, sequential per
    // CHANNEL but over chunk-level summaries only — a few doubles per
    // chunk, so one task per channel handles millions of chunks. d is
    // the zero-init chunk response; the recurrence is affine, so a
    // nonzero channel-initial state adds exactly its homogeneous
    // propagation.
    val inits = states.groupByKey(_.channel)
      .flatMapGroups { (ch, it) =>
        val sorted = it.toArray.sortBy(_.chunkId)
        val m = stepMatrix(aNorm)
        val powCache = scala.collection.mutable.Map.empty[Long, Array[Array[Double]]]
        var z =
          if (ziFromFirst) ziUnit.map(_ * sorted.head.state.last)
          else new Array[Double](stateDim)
        sorted.iterator.map { c =>
          val zi = z
          val aL = powCache.getOrElseUpdate(c.len, matPow(m, c.len))
          val propagated = matVec(aL, zi)
          z = Array.tabulate(zi.length)(i => propagated(i) + c.state(i))
          InitState(ch, c.chunkId, zi)
        }
      }

    // pass 2: exact outputs with the true initial state per chunk —
    // cogroup on (channel, chunkId), the init side is one tiny row
    chunked.groupByKey(r => (r.channel, r.chunkId))
      .cogroup(inits.groupByKey(s => (s.channel, s.chunkId))) { (key, rows, zis) =>
        val (arr, vs) = sortedVals(rows)
        if (arr.isEmpty) Iterator.empty
        else {
          val zi = zis.toSeq.headOption.map(_.zi).orNull
          val (y, _) = IIR.lfilterWithState(b, a, vs, zi)
          Iterator.tabulate(arr.length)(i => OutRow(key._1, arr(i).t, y(i)))
        }
      }.toDF("channel", "t", "v")
  }

  /** Chunk-parallel zero-phase filtering: forward pass with
    * steady-state initial conditions, then the backward pass over the
    * time-reversed axis — scipy.signal.filtfilt(..., padtype=None)
    * semantics, with BOTH directions running the parallel scan. (The
    * padded variant stays in the per-channel kernel, `IIR.filtfilt`.)
    */
  def filtfiltDistributed(df: DataFrame, b: Array[Double], a: Array[Double],
                          chunk: Int = 1 << 20): DataFrame = {
    import org.apache.spark.sql.functions.col
    val fwd = lfilterDistributed(df, b, a, chunk, ziFromFirst = true)
    val rev = fwd.select(col("channel"), (-col("t")).as("t"), col("v"))
    val bwd = lfilterDistributed(rev, b, a, chunk, ziFromFirst = true)
    bwd.select(col("channel"), (-col("t")).as("t"), col("v"))
  }
}
