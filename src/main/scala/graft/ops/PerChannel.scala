package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import scala.collection.mutable.ArrayBuilder

/** Harness for the operators whose semantics are inherently sequential
  * per channel (IIR filters, FFT, rainflow — SURVEY §2.9/§2.14): the
  * one place that establishes Spark's missing ordering guarantee.
  *
  * `repartition(channel) + sortWithinPartitions(channel, t)` is the
  * spill-friendly secondary-sort idiom: Spark's external sorter does
  * the ordering (can spill to disk), and `mapPartitions` then streams
  * the rows, slicing consecutive same-channel runs into arrays. One
  * task processes many channels; one channel must fit in task memory
  * (v1 contract; the parallel linear-recurrence scan over chunks is
  * the documented v2 path for single giant channels). Every
  * whole-channel analysis gathers here: the IIR filters, SRS,
  * rainflow, the periodogram, Welch (all segments of a channel in its
  * task), the time-window mov_rms and the cubic resample.
  */
object PerChannel {

  case class Sample(channel: String, t: Double, v: Double)
  case class NullableSample(channel: String, t: Double, v: Option[Double])

  /** Stream each channel's time-sorted (t[], v[]) arrays through `f`,
    * collecting rows of type T. A NULL t or v fails the task.
    */
  def transform[T: Encoder](df: DataFrame)(
      f: (String, Array[Double], Array[Double]) => Iterator[T]): Dataset[T] = {
    val spark = df.sparkSession
    import spark.implicits._
    byChannel(df.selectExpr("channel", "cast(t as double) t", "cast(v as double) v")
        .as[Sample])(_.channel) { (ch, run) =>
      val tb = new ArrayBuilder.ofDouble
      val vb = new ArrayBuilder.ofDouble
      run.foreach { s => tb += s.t; vb += s.v }
      f(ch, tb.result(), vb.result())
    }
  }

  /** Like `transform`, for kernels that give a NULL v a meaning: the
    * third array is true where v is NULL, and v reads 0.0 there.
    */
  private[graft] def transformNullable[T: Encoder](df: DataFrame)(
      f: (String, Array[Double], Array[Double], Array[Boolean]) => Iterator[T]): Dataset[T] = {
    val spark = df.sparkSession
    import spark.implicits._
    byChannel(df.selectExpr("channel", "cast(t as double) t", "cast(v as double) v")
        .as[NullableSample])(_.channel) { (ch, run) =>
      val tb = new ArrayBuilder.ofDouble
      val vb = new ArrayBuilder.ofDouble
      val nb = new ArrayBuilder.ofBoolean
      run.foreach { s => tb += s.t; vb += s.v.getOrElse(0.0); nb += s.v.isEmpty }
      f(ch, tb.result(), vb.result(), nb.result())
    }
  }

  /** The secondary sort: hands `f` each channel's consecutive run of
    * rows in t order. `f` must read its run to the end before it
    * returns (the run and the next channel share one partition
    * iterator).
    */
  private def byChannel[S, T: Encoder](ds: Dataset[S])(channelOf: S => String)(
      f: (String, Iterator[S]) => Iterator[T]): Dataset[T] =
    ds.repartition(org.apache.spark.sql.functions.col("channel"))
      .sortWithinPartitions("channel", "t")
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[Iterator[T]] {
          def hasNext: Boolean = it.hasNext
          def next(): Iterator[T] = {
            val ch = channelOf(it.head)
            f(ch, new Iterator[S] {
              def hasNext: Boolean = it.hasNext && channelOf(it.head) == ch
              def next(): S = it.next()
            })
          }
        }.flatten
      }

  case class ChunkedSample(channel: String, chunk: Int, t: Double, v: Double)

  /** Like `transform`, but keyed by (channel, chunk) — for kernels
    * that replicate or slice a channel across parallel work units
    * (frequency-chunked SRS, overlap-chunked splines). The composite
    * key is real columns, not an in-band delimiter, so channel names
    * need no reserved characters.
    */
  def transformChunked[T: Encoder](df: DataFrame)(
      f: (String, Int, Array[Double], Array[Double]) => Iterator[T]): Dataset[T] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.selectExpr("channel", "cast(chunk as int) chunk",
        "cast(t as double) t", "cast(v as double) v").as[ChunkedSample]
      .repartition(org.apache.spark.sql.functions.col("channel"),
        org.apache.spark.sql.functions.col("chunk"))
      .sortWithinPartitions("channel", "chunk", "t")
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[Iterator[T]] {
          def hasNext: Boolean = it.hasNext
          def next(): Iterator[T] = {
            val ch = it.head.channel
            val ck = it.head.chunk
            val tb = new ArrayBuilder.ofDouble
            val vb = new ArrayBuilder.ofDouble
            while (it.hasNext && it.head.channel == ch && it.head.chunk == ck) {
              val s = it.next()
              tb += s.t
              vb += s.v
            }
            f(ch, ck, tb.result(), vb.result())
          }
        }.flatten
      }
  }

  /** Same-shape transform: each channel's arrays map to new (t, v)
    * rows (filters, spectra in long layout, etc.).
    */
  def transformSamples(df: DataFrame)(
      f: (String, Array[Double], Array[Double]) => (Array[Double], Array[Double])): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    transform[Sample](df) { (ch, ts, vs) =>
      val (t2, v2) = f(ch, ts, vs)
      require(t2.length == v2.length, "kernel must return equal-length arrays")
      Iterator.tabulate(t2.length)(i => Sample(ch, t2(i), v2(i)))
    }.toDF()
  }
}
