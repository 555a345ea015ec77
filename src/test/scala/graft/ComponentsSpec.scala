package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.datapipe.Dedup

/** Connected components (`Dedup.connectedComponentsCounted`) on both
  * sides of its node gate: the same labels, member counts, round counts
  * and schema whether the node maps live on the driver, stay
  * distributed, or move to the driver mid-run; how many jobs a run
  * under the gate takes; and that a run releases what it persisted.
  */
class ComponentsSpec extends AnyFunSuite with GraftSpark {

  override lazy val spark: SparkSession = GraftSession.local(4).newSession()

  private def pairs(edges: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    edges.toDF("a", "b")
  }

  private def path(n: Long): Seq[(Long, Long)] = (0L until n - 1).map(i => (i, i + 1))

  /** The CC graphs of `PipelineSpec`, `Round7Spec` and `Round6Spec`:
    * (name, edges, maxIters).
    */
  private val graphs: Seq[(String, Seq[(Long, Long)], Int)] = {
    val rng = new scala.util.Random(7)
    val random = (1 to 80).map { _ =>
      val a = rng.nextInt(60).toLong; val b = rng.nextInt(60).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    Seq(
      ("random 60-node graph", random, 8),
      ("chain, clique and pair",
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)), 16),
      ("10-node path", path(10), 16),
      ("300-node path under maxIters = 2", path(300), 2),
      ("100-node path", path(100), 16),
      ("500-node path", path(500), 16),
      ("21-node path", path(21), 16))
  }

  /** doc_id -> (component, n_members), the round count and the schema
    * of one run at node gate `gate`.
    */
  private def run(p: DataFrame, maxIters: Int, gate: Long,
                  dir: Option[String] = None): (Map[Long, (Long, Long)], Int, StructType) = {
    val (out, rounds) = Dedup.components(p, maxIters, verbose = false, dir, gate)
    (out.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap, rounds, out.schema)
  }

  /** Component minimum of every node, by union-find. */
  private def minLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(x => x -> find(x)).toMap
  }

  test("labels, member counts, rounds and schema agree at every node gate") {
    val schema = StructType(Seq("doc_id", "component", "n_members")
      .map(StructField(_, LongType, nullable = false)))
    graphs.foreach { case (name, edges, maxIters) =>
      val p = pairs(edges)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.size.toLong
      val driver = run(p, maxIters, Dedup.CcBroadcastMaxNodes)
      // round 1 distributed, every later round on the driver
      val switched = run(p, maxIters, nodes - 1)
      val table = run(p, maxIters, 0L)
      assert(switched == driver, name)
      assert(table == driver, name)
      assert(driver._3 == schema, name)
      val (labels, rounds, _) = driver
      assert(labels.keySet == minLabels(edges).keySet, name)
      if (maxIters == 2) {
        // the runaway guard: the far end of the path stays under-merged
        assert(rounds == 2 && labels(299L)._1 != 0L, name)
      } else {
        assert(rounds < maxIters, name)
        assert(labels.map { case (d, (c, _)) => d -> c } == minLabels(edges), name)
        val sizes = labels.values.groupBy(_._1).map { case (c, ms) => c -> ms.size.toLong }
        assert(labels.values.forall { case (c, n) => sizes(c) == n }, name)
      }
      if (name == "100-node path") assert(rounds <= 6, name)
    }
  }

  test("under the gate the labels come back in doc_id order") {
    for ((name, edges, maxIters) <- graphs) {
      val (out, _) = Dedup.connectedComponentsCounted(pairs(edges), maxIters)
      val ids = out.collect().map(_.getLong(0)).toSeq
      assert(ids === ids.sorted, name)
    }
  }

  test("nullable pair columns give nullable labels at every node gate") {
    val p = spark.createDataFrame(pairs(path(30)).rdd,
      StructType(Seq("a", "b").map(StructField(_, LongType, nullable = true))))
    val runs = Seq(Dedup.CcBroadcastMaxNodes, 29L, 0L).map(run(p, 16, _))
    assert(runs.distinct.size == 1)
    assert(runs.head._3.map(_.nullable) == Seq(true, true, false))
  }

  test("reliable checkpoint mode converges identically at every node gate") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    try {
      val p = pairs(path(21))
      val local = run(p, 16, Dedup.CcBroadcastMaxNodes)
      Seq(Dedup.CcBroadcastMaxNodes, 20L, 0L).foreach { gate =>
        assert(run(p, 16, gate, Some(tmp.toString)) == local, s"gate $gate")
      }
      assert(local._1.values.forall(_._1 == 0L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("a graph under the gate takes one job per round plus two") {
    // the 100-node path converges in 2 rounds: t^64 contracts a
    // monotone path by 64 nodes per round. Each round's collect of t,
    // the collect that finds no edges left, and the caller's collect
    // of the labels; the parent form ran about 20 jobs per round.
    val p = pairs(path(100))
    var rounds = 0
    val jobs = jobsOf {
      val (out, r) = Dedup.connectedComponentsCounted(p)
      rounds = r
      out.collect()
    }
    assert(rounds == 2)
    assert(jobs <= rounds + 3, s"$jobs jobs for $rounds rounds")
  }

  test("a run releases its edge and quotient RDDs on both sides of the gate") {
    val sc = spark.sparkContext
    val p = pairs(path(100))
    Seq(Dedup.CcBroadcastMaxNodes, 99L, 0L).foreach { gate =>
      val before = sc.getPersistentRDDs.keySet
      val (out, rounds) = Dedup.components(p, 16, verbose = false, None, gate)
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      // under the gate nothing stays persisted; above it only the
      // checkpointed tables the labels are read from: each round's f
      // and round 1's t
      if (gate == Dedup.CcBroadcastMaxNodes) assert(left.isEmpty, left.values.mkString(", "))
      if (gate == 0L) assert(left.size <= rounds + 1, s"${left.size} RDDs after $rounds rounds")
      assert(!left.values.exists(r => Option(r.name).exists(_.startsWith("cc "))), s"gate $gate")
      // and the labels are still readable after the release
      assert(out.collect().forall(_.getLong(1) == 0L), s"gate $gate")
    }
  }

  test("the driver-side collect of t proves its count in one job, or two on a skewed partition") {
    val sc = spark.sparkContext
    def star(keys: Seq[Long], parts: Int = 4) =
      sc.parallelize(keys.flatMap(k => Seq((k, 0L), (0L, k))), parts)
    val expect = (0L to 8L).map(k => 4 * k -> 0L).toMap
    // keys 0, 4, ..., 32 all hash to partition 0 of 4: nine nodes
    // against a per-task share of 2 * (9 / 4) = 4 — the second collect
    val skewed = star((1L to 8L).map(4 * _))
    var got: Option[collection.Map[Long, Long]] = None
    assert(jobsOf { got = Dedup.driverHops(skewed, 9L) } == 2)
    assert(got.contains(expect))
    assert(jobsOf { got = Dedup.driverHops(skewed, 8L) } == 1)
    assert(got.isEmpty)
    // an unbounded gate over one partition: the share does not overflow
    assert(jobsOf { got = Dedup.driverHops(star((1L to 8L).map(4 * _), 1), Long.MaxValue) } == 1)
    assert(got.contains(expect))
    // keys 0 to 8 spread over the partitions: one job
    assert(jobsOf { got = Dedup.driverHops(star(1L to 8L), 9L) } == 1)
    assert(got.contains((0L to 8L).map(_ -> 0L).toMap))
  }
}
