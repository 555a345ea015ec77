package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up fixture generator: clone-with-reseed of an
  * existing sf directory (TESTDATA.md schema contract) at `factor`×
  * the rows — the substrate for the scale-ladder proof (per-query
  * scaling exponents between sf0.1 and sf1).
  *
  * Reseed rules (all pure column expressions — rerunning produces
  * byte-identical data):
  *  - dimension tables region/nation copy as-is (dimensions don't
  *    grow with fact volume);
  *  - every other table's keys shift by `clone * KEY_STRIDE` with
  *    foreign keys remapped consistently, so join fanout per key is
  *    UNCHANGED (the per-key work a 10x cluster would see);
  *  - events timestamps shift by clone * (span + 1h): each channel
  *    becomes a 10x-longer time series — the realistic growth axis
  *    for the sequential signal kernels — and user_ids shift so
  *    sessionization sees 10x users;
  *  - document text is RESEEDED (every 5th word rewritten per clone),
  *    so clones are NOT near-duplicates of their source — corpus-wide
  *    dup density stays comparable to the source instead of every doc
  *    gaining factor-1 planted clones;
  *  - embeddings cyclically rotate dimensions per clone (norms and
  *    per-dim distributions preserved, clones decorrelated).
  */
object GenScale {

  val KEY_STRIDE = 10000000L

  /** Reseed-scheme version, written to `<dst>/.genscale_v` and
    * compared by the ladder scripts before REUSING a fixture
    * directory: an existence-only guard silently reused fixtures from
    * an OLDER generator, so the two ladder legs could carry different
    * dup densities — the exact candidate-explosion artifact the
    * clone-unique salts fixed — with no error (r15 advice). Bump on
    * ANY semantic change to the clone/reseed rules.
    *  v3: clone-unique text salts (r15) + clone n_chars recomputed
    *      from the salted text (r16).
    *  v4: 8 MB parquet row groups (content identical to v3 — layout
    *      only, so single-file tables scan at real parallelism).
    *  v5: production-shaped MULTI-FILE tables (content identical to
    *      v4): each fact table is a directory `<t>.parquet/` of 32
    *      key-hash-partitioned part files, so byte-range splitting
    *      parallelizes scans at default-ish split sizes and the
    *      harness no longer needs 4 MB maxPartitionBytes or substrate
    *      repartitions to compensate for a single compressed file.
    */
  val SCHEME_VERSION = "genscale-v5"

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--version")) { println(SCHEME_VERSION); return }
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "fixtures/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local(GraftSession.cpus)
    generate(spark, src, dst, factor)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // production-shaped MULTI-FILE tables (v5): a directory
    // `<t>.parquet/` of `files` part files, hash-partitioned on the
    // table's key (deterministic row→file assignment, so reruns are
    // reproducible). A 100 TB table is thousands of ~100 MB-1 GB
    // files; a fixture that is ONE well-compressed file instead sits
    // in a single byte-range scan partition no matter its row-group
    // count, and rounds 15-16 had to compensate with 4 MB
    // maxPartitionBytes overrides and substrate repartitions in every
    // harness main. Batch readers take the dir as-is; the streaming
    // readers handle both layouts (StreamingOps.tableStream).
    // Dimension tables (region/nation) stay single-file — they are
    // broadcast-sized and a 32-way split of 4 kB is pure overhead.
    def wr(df: DataFrame, t: String, dictionary: Boolean = true,
           blockSize: Long = 8L * 1024 * 1024, files: Int = 32,
           partKey: Option[String] = None): Unit = {
      val out = s"$dst/$t.parquet"
      // a prior v<=4 fixture at this path is a plain FILE — remove it
      // or the directory write dies on a non-dir parent
      val prior = new java.io.File(out)
      if (prior.isFile) prior.delete()
      val shaped =
        if (files <= 1) df.coalesce(1)
        else partKey.fold(df.repartition(files))(k => df.repartition(files, col(k)))
      // 8 MB parquet row groups (a row group is Spark's minimum split
      // unit) keep even the per-file scans splittable; embeddings
      // additionally turn dictionary encoding OFF and shrink the
      // block: clone vectors are permutations of source vectors, so
      // the float dictionary keeps the writer's BUFFERED (compressed)
      // size under the flush threshold and a whole file lands in one
      // group.
      shaped.write
        .option("parquet.block.size", blockSize)
        .option("parquet.enable.dictionary", dictionary.toString)
        .mode("overwrite").parquet(out)
      System.err.println(s"[genscale] $t: ${spark.read.parquet(out).count()} rows")
    }
    // one row per clone id — crossJoin fans every source row out
    val clones = spark.range(factor).select(col("id").cast("int").as("clone"))
    def cloned(df: DataFrame): DataFrame = df.crossJoin(broadcast(clones))
    val off = col("clone").cast("long") * KEY_STRIDE

    wr(rd("region"), "region", files = 1)
    wr(rd("nation"), "nation", files = 1)

    wr(cloned(rd("customer")).select(
      (col("c_custkey") + off).as("c_custkey"),
      concat(col("c_name"), lit("#"), col("clone")).as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")), "customer",
      partKey = Some("c_custkey"))

    wr(cloned(rd("supplier")).select(
      (col("s_suppkey") + off).as("s_suppkey"),
      concat(col("s_name"), lit("#"), col("clone")).as("s_name"),
      col("s_nationkey"), col("s_acctbal")), "supplier", partKey = Some("s_suppkey"))

    wr(cloned(rd("part")).select(
      (col("p_partkey") + off).as("p_partkey"),
      concat(col("p_name"), lit("#"), col("clone")).as("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")), "part",
      partKey = Some("p_partkey"))

    wr(cloned(rd("orders")).select(
      (col("o_orderkey") + off).as("o_orderkey"),
      (col("o_custkey") + off).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders", partKey = Some("o_orderkey"))

    wr(cloned(rd("lineitem")).select(
      (col("l_orderkey") + off).as("l_orderkey"),
      (col("l_partkey") + off).as("l_partkey"),
      (col("l_suppkey") + off).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate")), "lineitem", partKey = Some("l_orderkey"))

    // channel time axis grows factor-x: shift each clone past the
    // source span (+1h guard so no duplicate timestamps across clones)
    val ev = rd("events")
    val Array(spanRow) = ev.agg(
      (max(col("ts").cast("timestamp")).cast("long") -
        min(col("ts").cast("timestamp")).cast("long") + 3600L).as("span")).collect()
    val spanSec = spanRow.getLong(0)
    wr(cloned(ev).select(
      (col("event_id") + off).as("event_id"),
      (col("ts").cast("timestamp") +
        make_dt_interval(lit(0), lit(0), lit(0),
          col("clone").cast("long") * spanSec)).cast(ev.schema("ts").dataType).as("ts"),
      (col("user_id") + off).as("user_id"),
      col("event_type"), col("value"), col("props")), "events", partKey = Some("event_id"))

    // reseed: every word of every clone > 0 gets a clone-UNIQUE
    // 2-char salt injected every <=3 body chars, so every 5-char
    // shingle window of a clone contains salt chars no other clone
    // shares — cross-clone shingle Jaccard ~0 for ALL clone pairs
    // (collision-free to factor 26*26). The r13 prefix/suffix scheme
    // left clone-PAIR Jaccard ~0.31 (word bodies kept their interior
    // 5-char windows): harmless at factor 10 (~4% of C(10,2) pairs
    // band-collide = bounded candidate noise), but candidate pairs
    // grow as C(factor, 2) — at factor 100 that is ~1M planted
    // near-dup candidates and the verify stage's work grew ~100x at
    // 10x the rows, violating this generator's own constant-density
    // contract (the sf10 decade rung caught it: q_neardup_pairs
    // warmup went 40 s -> 35+ min). Dup DENSITY must stay scale-free
    // for exponents to mean anything.
    val reseeded = expr(
      """concat_ws(' ', transform(split(text, ' '),
        |  w -> CASE WHEN clone = 0 THEN w
        |            ELSE regexp_replace(w, '(.{1,3})',
        |                   concat('$1', char(97 + pmod(clone, 26)),
        |                          char(97 + clone div 26)))
        |       END))""".stripMargin)
    // n_chars is RECOMPUTED for clones: the salt grows every
    // clone>0 text ~1.67x, and copying the source's n_chars would
    // leave clone metadata disagreeing with length(text) — quality
    // stats (avg/p50/p90 chars) would then report source-scale
    // numbers on scaled fixtures (r15 advice). Clone 0 keeps the
    // source value verbatim (its text is byte-identical).
    val nCharsT = rd("documents").schema("n_chars").dataType
    wr(cloned(rd("documents")).select(
      (col("doc_id") + off).as("doc_id"),
      when(col("text").isNull, lit(null).cast("string"))
        .otherwise(reseeded).as("text"),
      col("lang"), col("source"),
      when(col("clone") === 0 || col("text").isNull, col("n_chars"))
        .otherwise(length(reseeded).cast(nCharsT)).as("n_chars")), "documents",
      partKey = Some("doc_id"))

    // per-clone dimension PERMUTATION: norm-preserving (each output
    // vector is a reshuffle of its source's values), decorrelates
    // clones from their source vector. Pure rotation alone gives only
    // `dim` distinct permutations — at factor > dim, clones c and
    // c+dim would be IDENTICAL (pigeonhole), planting bogus exact-dup
    // vectors that corrupt the near-dup/semdedup tier's scale
    // exponents — so clones past the first `dim` use the REVERSED
    // rotation (order-reversing, never equal to any pure rotation on
    // non-palindromic data): collision-free up to factor = 2*dim.
    val dim = rd("embeddings").selectExpr("size(embedding) d")
      .filter(col("d").isNotNull).head().getInt(0)
    require(factor <= 2 * dim,
      s"GenScale: factor $factor > 2*dim ${2 * dim} would repeat embedding permutations")
    wr(cloned(rd("embeddings")).select(
      (col("vec_id") + off).as("vec_id"),
      expr(s"""transform(sequence(0, size(embedding) - 1),
             |  d -> element_at(embedding, int(pmod(
             |         IF(clone < $dim, d, size(embedding) - 1 - d) + clone,
             |         size(embedding))) + 1))
             |""".stripMargin).cast("array<float>").as("embedding"),
      col("label")), "embeddings", dictionary = false, partKey = Some("vec_id"),
      // the flush check sees COMPRESSED buffered bytes and the
      // permuted-clone floats snappy-compress ~10x, so the block
      // threshold must be ~10x under the desired raw group size
      blockSize = 128L * 1024)

    // scheme marker LAST — a crashed partial run leaves no marker, so
    // the scripts treat the directory as stale and regenerate
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dst/.genscale_v"),
      s"$SCHEME_VERSION factor=$factor src=$src\n")
  }
}
