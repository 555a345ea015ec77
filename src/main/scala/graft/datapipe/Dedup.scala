package graft.datapipe

import scala.collection.mutable.{ArrayBuffer, HashMap, LongMap}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines: exact
  * (fingerprint groupBy), MinHash+LSH, SimHash, and n-gram Jaccard.
  * Everything is expression-level (codegen'd, shuffle-aggregated) —
  * the MinHash signature is an explode + min-aggregate, which is the
  * shape that scales: at 100 TB the shuffle keys are (doc, hashIdx)
  * and the band join is an equi-join on small band signatures.
  * Hashes are md5-derived (TextAnalysis.hash52) so results are
  * engine-portable for the DuckDB oracle.
  */
object Dedup {

  /** The shared band-bucket star cap (see `lshCandidates`): full
    * pairing among the first 64 members per (band, sig) bucket,
    * representative links beyond. One constant so the batch candidate
    * pipeline and the stream-static admission probe
    * (`q_stream_lsh_match_capped`) shed over-full buckets at the
    * identical bound.
    */
  val DefaultMaxBucket: Int = 64

  /** Exact dedup decision per document: keep = first doc_id within the
    * normalized-text fingerprint group.
    */
  def exact(docs: DataFrame): DataFrame = {
    val fp = TextAnalysis.fingerprint(col("text"))
    val w = Window.partitionBy("fp")
    docs.select(col("doc_id"), fp.as("fp"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === min("doc_id").over(w))
  }

  /** Character shingles (n-grams of the normalized text), one row per
    * distinct (doc_id, shingle). NULL-text documents are dropped —
    * they have no shingle set, no signature and no bands, matching
    * the per-row kernels (`bandKeysOf` via `explodedBandKeys` skips
    * null text), so batch and streaming paths agree on them.
    */
  def shingles(docs: DataFrame, n: Int = 5, distinct: Boolean = true): DataFrame = {
    // slice BYTES, not chars: UTF8String has no random access, so a
    // char substring at position p walks the string from byte 0 —
    // per-doc shingling becomes O(L²) and a 150 kB doc takes minutes
    // (caught by the r15 long-doc fixture; invisible at 300-char
    // fixtures). `normalized` output is strictly [a-z0-9 ] ASCII, so
    // the byte slice IS the char slice and the decoded shingle —
    // and every md5 downstream — is byte-identical to the old form.
    val raw = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        to_binary(TextAnalysis.normalized(col("text")), lit("utf-8")).as("nb"))
      .select(col("doc_id"),
        explode(sequence(lit(1), greatest(length(col("nb")) - (n - 1), lit(1)))).as("pos"),
        col("nb"))
      .select(col("doc_id"),
        substring(col("nb"), col("pos"), lit(n)).cast("string").as("shingle"))
    if (distinct) raw.distinct() else raw
  }

  /** (doc_id, h1, h2) — each shingle reduced to the two 52-bit halves
    * of ONE md5 (h1 + 15*h2 < 2^56, so downstream double-hashing
    * arithmetic is exact BIGINT in any engine). h1 doubles as the set
    * element for Jaccard; (h1, h2) seed the Kirsch-Mitzenmacher
    * minhash family. Hash once, share the table across the whole
    * dedup pipeline.
    */
  def shingleHashes(shingleDf: DataFrame): DataFrame = {
    val m = md5(to_binary(col("shingle"), lit("utf-8")))
    shingleDf.select(col("doc_id"),
      conv(substring(m, 1, 13), 16, 10).cast("long").as("h1"),
      conv(substring(m, 14, 13), 16, 10).cast("long").as("h2"))
  }

  def minhashSignatures(docs: DataFrame, k: Int = 16, shingleN: Int = 5): DataFrame =
    minhashSignaturesFromHashes(shingleHashes(shingles(docs, shingleN, distinct = false)), k)

  /** Minhash over a (possibly cached/shared) `shingleHashes` table:
    * g_i = (h1 + i*h2) mod 2^52, reduced as k min-columns in a single
    * map-side-combinable aggregate, unpivoted to the long layout.
    */
  def minhashSignaturesFromHashes(hashes: DataFrame, k: Int = 16): DataFrame = {
    val mins = (0 until k).map(i =>
      min(pmod(col("h1") + lit(i.toLong) * col("h2"), lit(1L << 52))).as(s"m$i"))
    val stackArgs = (0 until k).map(i => s"$i, m$i").mkString(", ")
    hashes
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .selectExpr("doc_id", s"stack($k, $stackArgs) AS (i, minhash)")
  }

  /** LSH candidate pairs: band signature = md5 of the concatenated
    * minhashes in each band; docs sharing any band signature are
    * candidates. Self-join on (band, sig) — a plain equi-join that
    * Spark shuffles on the band key (the 100 TB-safe shape).
    *
    * OVERSIZED-BUCKET GUARD: an unbounded self-join emits m^2 pairs
    * inside ONE join key for a bucket of m members — a 1M-doc
    * boilerplate cluster would be 10^12 pairs in a single task, and
    * AQE cannot split one key's output. Buckets larger than
    * `maxBucket` therefore switch to representative-vs-rest pairing:
    * the first `maxBucket` members (by doc_id — deterministic and
    * engine-replayable) pair fully, and every member beyond the cap
    * pairs ONCE with the bucket representative (the min doc_id).
    * Pair count per bucket drops from C(m,2) to C(K,2) + (m - K)
    * while every member stays connected, so the downstream Jaccard
    * verify + connected-components still merge the whole cluster —
    * an oversized bucket is by definition a near-dup cluster, and
    * the star keeps its members one verified hop from the
    * representative. The per-bucket ranking window sorts m rows in
    * one task (linear — the m^2 blowup was the join output, not the
    * bucket itself).
    *
    * DEFAULT CAP = 64, sized by the sf10 decade rung (round 15): band
    * buckets of template-collision NOISE grow linearly with corpus
    * size, so full pairing below the cap is quadratic in scale until
    * the cap bites — at 500k docs a 256 cap admitted 71M candidate
    * pairs (32k per capped bucket) and the exact-Jaccard verify
    * became the pipeline's cost center. C(64,2) + stars caps a
    * bucket at ~2k pairs; every gate-scale fixture (sf0.001-sf0.1)
    * has no bucket above 64, so outputs there are bit-identical to
    * the old default.
    */
  def lshCandidates(signatures: DataFrame, rowsPerBand: Int = 4,
                    maxBucket: Int = DefaultMaxBucket): DataFrame =
    lshCandidatesCounted(signatures, rowsPerBand, maxBucket).select("a", "b")

  /** `lshCandidates` with the free collision evidence kept: n_bands =
    * how many of the capped band buckets the pair co-occurred in — the
    * standard LSH match-count similarity estimate (P[band collision] =
    * sim^rowsPerBand per band, so more shared bands ⇒ higher estimated
    * similarity). Same shuffle as the distinct form (the dedup IS a
    * groupBy on (a, b); counting is free), which is why the shared
    * candidate memo stores this and the plain form is a projection.
    * The ranking consumer is [[neardupTopKByBands]].
    */
  def lshCandidatesCounted(signatures: DataFrame, rowsPerBand: Int = 4,
                           maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandedPairs(lshBands(signatures, rowsPerBand), Seq("band", "sig"), maxBucket,
      Seq.empty).groupBy("a", "b").agg(count(lit(1)).as("n_bands"))

  /** The (doc_id, band, sig) band table the LSH join family keys on:
    * band signature = md5 of the band's sorted "i:minhash" strings.
    * Shared by `lshCandidates` (self-join → candidate pairs),
    * `lshBucketStats` (occupancy diagnostics), and the stream-static
    * admission join (`q_stream_lsh_match`) — at scale this table is
    * the thing a production pipeline PERSISTS (bucketed by (band,
    * sig)) so newly arriving documents can match against it without
    * recomputing corpus signatures.
    */
  def lshBands(signatures: DataFrame, rowsPerBand: Int = 4): DataFrame =
    signatures
      .withColumn("band", (col("i") / rowsPerBand).cast("int"))
      .groupBy("doc_id", "band")
      .agg(md5(to_binary(concat_ws(",", sort_array(collect_list(
        concat(col("i"), lit(":"), col("minhash"))))), lit("utf-8"))).as("sig"))

  /** Stream-static admission probe with the corpus side of every
    * (band, sig) bucket rank-capped at `maxBucket` members (ordered
    * by doc_id — the same bound [[lshCandidates]] full-pairs under):
    * each probe band key meets ≤ maxBucket partners, so match output
    * is LINEAR in probes regardless of bucket occupancy. The rank-1
    * member (the bucket-min doc_id) is always within the cap, so a
    * probe hitting an over-full bucket still reaches the bucket's
    * representative and the admission decision (min over partner
    * clusters) is unchanged — only exhaustive partner enumeration is
    * shed, mirroring the batch star cap. Output: (doc_id, partner,
    * n_shared_bands).
    */
  def cappedBandProbe(probeBands: DataFrame, corpusBands: DataFrame,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val w = Window.partitionBy(col("band"), col("sig")).orderBy(col("doc_id"))
    val capped = corpusBands
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= maxBucket)
      .select(col("doc_id").as("partner"), col("band"), col("sig"))
    probeBands.join(capped, Seq("band", "sig"))
      .filter(col("partner") =!= col("doc_id"))
      .groupBy("doc_id", "partner").agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Per-bucket overflow diagnostic for the band join: one row per
    * (band, sig) bucket larger than `maxBucket`, with member and
    * dropped-pair counts — the observability half of the cap (a
    * bucket showing up here IS a boilerplate cluster worth logging).
    */
  def lshBucketStats(signatures: DataFrame, rowsPerBand: Int = 4,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val bands = lshBands(signatures, rowsPerBand)
    bands.groupBy("band", "sig")
      .agg(count(lit(1)).as("n_members"), min("doc_id").as("representative"))
      .filter(col("n_members") > maxBucket)
      .select(col("band"), col("representative"), col("n_members"),
        (col("n_members") - maxBucket).as("n_starred"))
  }

  /** Shared capped self-join over a banded table: full pairing among
    * the first `maxBucket` members per bucket (ranked by doc_id),
    * plus star edges (representative, member) for members beyond the
    * cap. `carry` columns (e.g. each side's simhash) ride along as
    * carry_a / carry_b.
    */
  private[datapipe] def bandedPairs(banded: DataFrame, keys: Seq[String], maxBucket: Int,
                                    carry: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy("doc_id")
    val ranked = banded.withColumn("r", row_number().over(w))
    def side(suffix: String) =
      ranked.select(keys.map(col) ++ Seq(col("r").as(s"r_$suffix"),
        col("doc_id").as(suffix)) ++ carry.map(c => col(c).as(s"${c}_$suffix")): _*)
    val carryCols = carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b")))
    // full pairing inside the cap …
    val full = side("a").filter(col("r_a") <= maxBucket)
      .join(side("b").filter(col("r_b") <= maxBucket), keys)
      .filter(col("a") < col("b"))
    // … star edges for the overflow: rank 1 holds the bucket-min
    // doc_id, so (rep, member) is already (a < b)-ordered
    val star = side("a").filter(col("r_a") === 1)
      .join(side("b").filter(col("r_b") > maxBucket), keys)
    full.select(Seq(col("a"), col("b")) ++ carryCols: _*)
      .unionAll(star.select(Seq(col("a"), col("b")) ++ carryCols: _*))
  }

  /** Per-row LSH band keys as a PLAIN SCALA kernel: the same
    * (band, sig) keys the explode/aggregate pipeline
    * (`minhashSignatures` → `lshCandidates`) derives, for one
    * document's text. Byte-identical by construction (asserted in
    * tests): same normalize (lower → [^a-z0-9]+ → space → trim-space,
    * matching `TextAnalysis.normalized`), same 5-char shingles with
    * the short/empty-text edge cases of Spark's `substr`, same
    * Kirsch-Mitzenmacher g_i = (h1 + i*h2) mod 2^52 over the md5's
    * two 13-hex-char halves, same sorted "i:minhash" band digest
    * (String ordering == UTF8 binary ordering on this ASCII
    * alphabet).
    *
    * Why typed and not a Column expression: a Catalyst formulation of
    * this kernel — even split across staged projections — gets its
    * full tree SUBSTITUTED into inferred predicates
    * (InferFiltersFromGenerate + pushdown-through-project), so the
    * whole shingle/md5/minhash pass re-evaluates per reference:
    * 423 s for the sf0.1 corpus stream vs seconds for this kernel.
    * Heavy per-row hashing is exactly the "genuine per-partition
    * imperative logic" case for typed execution.
    */
  private val hexDigits = "0123456789abcdef".toCharArray
  private def md5hex(md: java.security.MessageDigest, s: String): String = {
    val d = md.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Normalize exactly like `TextAnalysis.normalized`: Spark's
    * lower() lowercases via the same JVM String path; trim() strips
    * ' ' only (every other whitespace is already collapsed by the
    * regex).
    */
  private def normalizeOf(text: String): String = {
    // Locale.ROOT: Spark's lower() lowercases locale-independently; a
    // default-locale toLowerCase would diverge under tr/az JVMs
    // (ASCII 'I' -> dotless ı) and break the byte-for-byte parity
    // with the aggregate pipeline
    val norm = text.toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9]+", " ")
    var b0 = 0
    var e0 = norm.length
    while (b0 < e0 && norm.charAt(b0) == ' ') b0 += 1
    while (e0 > b0 && norm.charAt(e0 - 1) == ' ') e0 -= 1
    norm.substring(b0, e0)
  }

  /** Visit each shingle's (h1, h2) md5 halves — the shared scan
    * under `bandKeysOf` and `shingleH1sOf`. Positions 1..max(n-4, 1);
    * substr clips at the end (n<5 → the whole short string; n==0 →
    * the empty shingle), same as Spark's substr.
    */
  private def foreachShingleHash(text: String, shingleN: Int)
                                (f: (Long, Long) => Unit): Unit = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val norm = normalizeOf(text)
    val n = norm.length
    val hi = math.max(n - (shingleN - 1), 1)
    var p = 0
    while (p < hi) {
      val sh = norm.substring(p, math.min(p + shingleN, n))
      val hex = md5hex(md, sh)
      f(java.lang.Long.parseLong(hex.substring(0, 13), 16),
        java.lang.Long.parseLong(hex.substring(13, 26), 16))
      p += 1
    }
  }

  def bandKeysOf(text: String, k: Int = 16, rowsPerBand: Int = 4,
                 shingleN: Int = 5): Seq[(Int, String)] = {
    val mod = 1L << 52
    val mins = Array.fill(k)(Long.MaxValue)
    foreachShingleHash(text, shingleN) { (h1, h2) =>
      // g_0 = h1 mod 2^52; g_{i+1} = g_i + h2 (mod 2^52) — operands
      // stay positive and below 2^53, no overflow, pmod == %
      var g = h1 % mod
      var i = 0
      while (i < k) {
        if (g < mins(i)) mins(i) = g
        g = (g + h2) % mod
        i += 1
      }
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until k / rowsPerBand).map { b =>
      val parts = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"$i:${mins(i)}").sorted
      (b, md5hex(md, parts.mkString(",")))
    }
  }

  /** ONE shingle-hash pass feeding BOTH admission artifacts: the
    * distinct-h1 membership set (the `shingleH1sOf` output) and the
    * k-slot minhash band keys (the `bandKeysOf` output). The streaming
    * curation kernel called the two separately, running the
    * normalize + per-shingle-md5 scan TWICE per document — the md5
    * stream is ~|chars| digests per doc, the kernel's dominant cost
    * (r19 profile: q_stream_curate addBatch 3.2 s of a 4.4 s call).
    * Values are bit-identical to the two separate calls by
    * construction (same visitor, same fold).
    */
  def h1SetAndBandKeysOf(text: String, k: Int = 16, rowsPerBand: Int = 4,
                         shingleN: Int = 5)
      : (scala.collection.immutable.Set[Long], Seq[(Int, String)]) = {
    val mod = 1L << 52
    val mins = Array.fill(k)(Long.MaxValue)
    val sb = scala.collection.immutable.Set.newBuilder[Long]
    foreachShingleHash(text, shingleN) { (h1, h2) =>
      sb += h1
      var g = h1 % mod
      var i = 0
      while (i < k) {
        if (g < mins(i)) mins(i) = g
        g = (g + h2) % mod
        i += 1
      }
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val bands = (0 until k / rowsPerBand).map { b =>
      val parts = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"$i:${mins(i)}").sorted
      (b, md5hex(md, parts.mkString(",")))
    }
    (sb.result(), bands)
  }

  /** The document's DISTINCT 52-bit shingle-hash set (the h1 side) —
    * the per-row twin of `shingleHashes(...).select(h1).distinct`,
    * for admission-time membership checks against a broadcast
    * benchmark set.
    */
  def shingleH1sOf(text: String, shingleN: Int = 5): scala.collection.immutable.Set[Long] = {
    val b = scala.collection.immutable.Set.newBuilder[Long]
    foreachShingleHash(text, shingleN)((h1, _) => b += h1)
    b.result()
  }

  /** One (doc_id, band, sig) row per band per document — the per-row
    * twin of `lshBands`, runnable on a STREAM (each document arrives
    * whole, so its keys are a pure function of the row; zero
    * shuffle). This is the ingestion-time half of the admission
    * pattern: arriving docs compute keys map-side and probe the
    * persisted corpus band table. Null text yields no rows, matching
    * the aggregate path (no shingles → no signature).
    */
  def explodedBandKeys(df: DataFrame, k: Int = 16, rowsPerBand: Int = 4,
                       shingleN: Int = 5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        if (t == null) Seq.empty
        else bandKeysOf(t, k, rowsPerBand, shingleN).map { case (b, s) => (id, b, s) }
      }
      .toDF("doc_id", "band", "sig")
  }

  /** Exact Jaccard similarity for the given candidate pairs (the
    * verify stage after LSH) over a (possibly cached/shared)
    * `shingleHashes` table. Each document's set rides the pair join
    * once as a sorted hash array — the exploded alternative (joining
    * pairs against per-shingle rows) shuffles |pairs| x |shingles per
    * doc| rows through a composite join and loses by the average
    * shingle count per document. The set is its distinct h1 values
    * (52-bit md5 collisions are ~1e-11 per doc, so the count equals
    * the string-set count), sorted once so the per-pair intersection
    * is a primitive merge scan (built-in array_intersect builds a
    * boxed hash set per ROW). The set table is doc-count-sized
    * (small next to the pair list), so BROADCAST it: the skinny pair
    * rows join map-side and the arrays are never shuffled at all.
    */
  def jaccardByHashes(hashes: DataFrame, pairs: DataFrame,
                      broadcastMaxDocs: Long = DefaultBroadcastMaxDocs,
                      neededDocsHint: Option[Long] = None,
                      prebuiltSets: Option[DataFrame] = None): DataFrame =
    pairOverlap(hashes, pairs, broadcastMaxDocs, neededDocsHint, prebuiltSets)
      .select(col("a"), col("b"),
        (col("inter").cast("double") / (col("sza") + col("szb") - col("inter"))).as("jaccard"))

  /** Above this many candidate-touched documents the verify stage
    * abandons the broadcast hint (see `pairOverlap`): the per-doc
    * sorted shingle arrays average kilobytes each, so ~100k docs is
    * already a few-hundred-MB broadcast — near the edge of a default
    * driver/executor budget, and far past it at 100 TB dup density.
    */
  val DefaultBroadcastMaxDocs: Long = 100000L

  /** The (a, b, inter, sza, szb) overlap counts behind both Jaccard
    * and containment: distinct-set sizes per side plus the merge-scan
    * intersection.
    *
    * JOIN-STRATEGY GATE: the set table is bounded by the candidate
    * list, not the corpus — but "candidate-bounded" is not
    * "constant-bounded". At fixture dup density the candidate-touched
    * docs are few and broadcasting their arrays lets the skinny pair
    * rows join map-side (arrays never shuffle). At 100 TB with
    * 10-30% dup density they are billions of rows of arrays and a
    * forced broadcast hint would OOM the driver regardless of config.
    * So the strategy is decided by a COUNT of the candidate-touched
    * docs: at or below `broadcastMaxDocs` the hint is applied; above
    * it the hint is dropped and the planner runs two shuffle joins on
    * `a`/`b` (sort-merge at scale), which only moves each needed
    * array once per side. Both paths compute identical values — the
    * gate changes the plan, never the answer.
    *
    * The count itself runs eagerly at plan-build — but it is ONE
    * aggregate per MATERIALIZED pair list, so callers that verify the
    * same shared candidate table more than once (Jaccard + containment
    * + threshold cut over one memoized LSH output — exactly the
    * SparkEntry shape, or any production pipeline's fan-out) should
    * count once and pass `neededDocsHint`: round 6 paid this
    * aggregate three times per bench sweep and the verify queries
    * doubled in wall time for no plan change.
    */
  /** The per-document sorted distinct-shingle arrays behind the
    * pair-verify family — `pairOverlap`'s set table, exposed so a
    * caller verifying SEVERAL pair lists over one shared candidate
    * table (Jaccard + containment + the bounded top-k — exactly the
    * SparkEntry fan-out) can build it ONCE and pass it back via
    * `prebuiltSets`. Without sharing, every verify query pays the
    * corpus-shingle aggregate TWICE (each join side plans its own
    * copy of the `sets` subtree — plan-audited at r18: two
    * ObjectHashAggregate towers per query, six per bench sweep over
    * the three pair queries). The prebuilt table is candidate-
    * bounded (one row per candidate-touched doc), and a SUPERSET set
    * table never changes any verify result: the pair joins select
    * exactly the (a, b) rows they need.
    */
  def candidateSets(hashes: DataFrame, pairs: DataFrame,
                    broadcastMaxDocs: Long = DefaultBroadcastMaxDocs,
                    neededDocsHint: Option[Long] = None): DataFrame = {
    val needed = pairs.select(col("a").as("doc_id"))
      .union(pairs.select(col("b").as("doc_id"))).distinct()
    val nNeeded = neededDocsHint.getOrElse(needed.count())
    // see pairOverlap for the counted join-strategy gate
    hashes.join(
        if (nNeeded <= broadcastMaxDocs) broadcast(needed)
        else needed.hint("shuffle_hash"),
        "doc_id")
      .groupBy("doc_id").agg(sort_array(collect_set(col("h1"))).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).cast("long").as("sz"))
  }

  private def pairOverlap(hashes: DataFrame, pairs: DataFrame,
                          broadcastMaxDocs: Long,
                          neededDocsHint: Option[Long] = None,
                          prebuiltSets: Option[DataFrame] = None): DataFrame = {
    import graft.functions.SortedIntersectCount.sortedIntersectCount
    // restrict the set table to documents that actually appear in a
    // candidate pair BEFORE joining: whichever strategy wins, the
    // arrays built are bounded by the candidate list, not the corpus
    lazy val needed = pairs.select(col("a").as("doc_id"))
      .union(pairs.select(col("b").as("doc_id"))).distinct()
    val nNeeded = neededDocsHint.getOrElse(needed.count())
    // the id-set join's strategy is gated on the COUNTED candidate-doc
    // cardinality, never on size estimates: below the gate the id list
    // (single longs) broadcasts and the corpus-scale hashes side
    // streams through unshuffled; above it the shuffle join is PINNED
    // on the id side as SHUFFLE_HASH — size ESTIMATES lie (an
    // unmaterialized cached hashes relation inherits its child's
    // compressed-scan estimate, and the planner broadcast the 150M-row
    // shingle table into the driver at the r16 sf10 gate: >1 GiB
    // collect, killed by maxResultSize). The pin's BUILD side is the
    // id list itself — counted longs, ~32 B/entry spread over the
    // shuffle partitions, bounded at any corpus size — so the hash
    // join is as driver-safe as the r17 merge pin was, without the
    // merge pin's full sort of the corpus-scale hashes table (~30 s of
    // the 68 s q_containment decade leg at sf10; the hashes side still
    // exchanges on doc_id, which the groupBy below reuses either way).
    val sets = prebuiltSets.getOrElse(
      candidateSets(hashes, pairs, broadcastMaxDocs, Some(nNeeded)))
    def side(nm: String) =
      sets.select(col("doc_id").as(nm), col("sh").as(s"sh$nm"), col("sz").as(s"sz$nm"))
    // above the gate the hint is not merely DROPPED — the shuffle join
    // is PINNED ("merge"): the array rows compress ~10x in shuffle
    // files, so AQE's bytes-based estimate re-promotes the join to
    // broadcast and the build collect blows the driver's result budget
    // (r16 sf10 gate: 13 tasks, 1082 MiB > 1 GiB maxResultSize, for a
    // table whose compressed shuffle size sat under the 64 MB
    // threshold). MERGE here, not shuffle_hash: the in-memory build
    // side of a hash pin would be the array table itself, whose
    // per-partition bytes grow with dup density — sort-merge spills;
    // the sets/pairs sorts are candidate-bounded and cheap next to
    // the corpus-table sort the id-set join above avoids. The pin
    // changes the plan, never the answer.
    def hint(df: DataFrame) =
      if (nNeeded <= broadcastMaxDocs) broadcast(df) else df.hint("merge")
    pairs
      .join(hint(side("a")), "a")
      .join(hint(side("b")), "b")
      .select(col("a"), col("b"),
        sortedIntersectCount(col("sha"), col("shb")).cast("long").as("inter"),
        col("sza"), col("szb"))
  }

  /** Asymmetric overlap scores for candidate pairs: containment
    * |A∩B|/|A| (and /|B|) alongside Jaccard. Containment is what
    * catches SUBSET duplication — a short document quoted whole
    * inside a long one scores near 1.0 containment while its Jaccard
    * stays far below any dedup threshold (the union is dominated by
    * the long side). Same broadcast-bounded plan as
    * `jaccardByHashes`; one extra column projection, no extra
    * shuffle.
    */
  def overlapScores(hashes: DataFrame, pairs: DataFrame,
                    broadcastMaxDocs: Long = DefaultBroadcastMaxDocs,
                    neededDocsHint: Option[Long] = None,
                    prebuiltSets: Option[DataFrame] = None): DataFrame =
    pairOverlap(hashes, pairs, broadcastMaxDocs, neededDocsHint, prebuiltSets)
      .select(col("a"), col("b"), col("inter"), col("sza"), col("szb"),
        round(col("inter") / col("sza"), 6).as("containment_a"),
        round(col("inter") / col("szb"), 6).as("containment_b"),
        round(col("inter") / (col("sza") + col("szb") - col("inter")), 6).as("jaccard"))

  /** The WORK-bounded top-k near-dup surface: each anchor keeps its
    * `finalK` best verified partners, but — unlike ranking the full
    * verified pair list — the expensive exact-Jaccard verify runs on a
    * per-anchor SHORTLIST of at most `shortK` candidates, ranked by
    * the free LSH collision evidence `n_bands` from
    * [[lshCandidatesCounted]] (ties broken by partner id — a total
    * order, so the cut is deterministic and oracle-replayable).
    *
    * Scale shape, in order:
    *  - the shortlist is a bounded AGGREGATE
    *    ([[graft.functions.BoundedTopK]]), not a window: a boilerplate
    *    family whose star representative meets millions of clones
    *    ships k-entry partial buffers to the shuffle, never the
    *    full candidate list into one window task;
    *  - exact verification touches ≤ shortK pairs per anchor, so the
    *    per-pair merge-scan intersection — the super-linear term in
    *    the exact-recall surface `q_neardup_pairs` measures — is
    *    capped at shortK × anchors = LINEAR in the corpus;
    *  - the final (jaccard DESC, b ASC) cut re-ranks ≤ shortK rows
    *    per anchor, a window over bounded groups.
    * The tradeoff is recall at the cut: a partner outside the anchor's
    * top-`shortK` collision counts cannot surface even with a higher
    * exact Jaccard — with 4 bands the evidence has 4 levels and ties
    * fall back to id order. That is the standard LSH-rank contract;
    * widen `shortK` (or the band count) to trade cost for recall.
    */
  def neardupTopKByBands(hashes: DataFrame, countedCands: DataFrame,
                         shortK: Int = 8, finalK: Int = 3,
                         threshold: Double = 0.5,
                         broadcastMaxDocs: Long = DefaultBroadcastMaxDocs,
                         neededDocsHint: Option[Long] = None,
                         prebuiltSets: Option[DataFrame] = None): DataFrame = {
    import graft.functions.BoundedTopK
    val short = countedCands.groupBy("a")
      .agg(BoundedTopK.topKIds(shortK)(col("n_bands"), col("b")).as("bs"))
      .select(col("a"), explode(col("bs")).as("b"))
    val verified = jaccardByHashes(hashes, short, broadcastMaxDocs, neededDocsHint,
      prebuiltSets)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val w = Window.partitionBy("a").orderBy(col("jaccard").desc, col("b").asc)
    verified.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= finalK)
      .select(col("a"), col("b"), col("jaccard"), col("rk").cast("int").as("rk"))
  }

  /** Test-set decontamination: per-document count of distinct
    * shingles shared with a BENCHMARK corpus (reference semantics:
    * the n-gram-overlap decontamination step every published
    * training-data pipeline runs before pretraining — e.g. the
    * 13-gram filters of the GPT-3/PaLM data cards). Both inputs are
    * `shingleHashes` tables (doc_id, h1, h2); a document whose
    * shingle set overlaps the benchmark set by ≥ 10% is flagged.
    *
    * Scale shape: the benchmark n-gram set is tiny next to a 100 TB
    * corpus (benchmarks are megabytes), so it BROADCASTS as a marker
    * onto the corpus shingle table, and set size + hit count come out
    * of ONE aggregate over ONE per-doc distinct — the corpus is
    * shuffled exactly once (the partial-combined distinct exchange),
    * never joined shuffle-side, and never computed twice. Distinct h1
    * stands in for the distinct shingle set exactly as in
    * `jaccardByHashes` (52-bit md5 collisions ~1e-11).
    */
  def benchmarkOverlap(corpusHashes: DataFrame, benchHashes: DataFrame): DataFrame = {
    val bench = benchHashes.select(col("h1")).distinct().withColumn("bmark", lit(1))
    corpusHashes.select(col("doc_id"), col("h1")).distinct()
      .join(broadcast(bench), Seq("h1"), "left")
      .groupBy("doc_id")
      // count(bmark) counts non-null rows = benchmark-matched shingles
      .agg(count(lit(1)).as("n_shingles"), count(col("bmark")).as("hits"))
      .select(col("doc_id"), col("n_shingles"), col("hits"),
        round(col("hits") / col("n_shingles"), 6).as("overlap"),
        // hits*10 >= n_shingles ⇔ overlap >= 0.1, decided in exact
        // integer arithmetic (no float threshold at the boundary)
        when(col("hits") * 10 >= col("n_shingles"), 1).otherwise(0).as("contaminated"))
  }

  /** `benchmarkOverlap` for benchmark sets TOO BIG TO BROADCAST — the
    * 100 TB shape when the contamination blocklist is itself billions
    * of n-grams (a full eval-suite union, or a copyright blocklist). A
    * broadcast hash-join build side at that size is 30-60 GB; its
    * 1%-FPR Bloom filter is ~1.2 GB and rides the plan as one binary.
    *
    * Exactness is preserved by construction: the Bloom probe has no
    * false negatives, and its false positives are removed by an exact
    * semi-join over only the SURVIVORS — so the output hash-matches
    * `benchmarkOverlap` row for row while the semi-join shuffles
    * ~(true hits + FPR·corpus) rows instead of every corpus shingle.
    * Build is a distributed OR-merge aggregate (keys never leave the
    * executors); probe is a codegen'd bit test
    * ([[graft.functions.BloomMightContain]]).
    *
    * The per-doc shingle counts and the hit counts come from two
    * passes over the distinct corpus table — callers feed it the
    * shared cached shingle table, so the second pass is an
    * InMemoryTableScan, not a re-read (and at 100 TB the counts pass
    * is a cheap map-side partial aggregate either way).
    */
  def benchmarkOverlapBloom(corpusHashes: DataFrame, benchHashes: DataFrame,
                            mBits: Long = 0L, k: Int = 7): DataFrame = {
    import graft.functions.Bloom
    val bench = benchHashes.select(col("h1")).distinct()
    val m = if (mBits > 0) mBits else Bloom.sizeFor(bench.count())
    val bloomBytes: Array[Byte] = bench
      .agg(Bloom.buildAgg(m, k)(col("h1")).as("bloom"))
      .head().getAs[Array[Byte]]("bloom")
    // small filters fold as plan literals (codegen constant); big ones
    // ship once per executor as a torrent broadcast so task binaries
    // and plan strings stay bounded
    val probe =
      if (bloomBytes.length <= (4 << 20)) Bloom.bloomMightContain(lit(bloomBytes), col("h1"))
      else Bloom.bloomMightContainBc(
        corpusHashes.sparkSession.sparkContext.broadcast(bloomBytes), col("h1"))
    val dist = corpusHashes.select(col("doc_id"), col("h1")).distinct()
    val counts = dist.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val hits = dist
      .filter(probe)
      .join(bench, Seq("h1"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
    counts.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .select(col("doc_id"), col("n_shingles"), col("hits"),
        round(col("hits") / col("n_shingles"), 6).as("overlap"),
        when(col("hits") * 10 >= col("n_shingles"), 1).otherwise(0).as("contaminated"))
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band →
    * candidate join → Jaccard verify at `threshold`.
    */
  def minhashNearDups(docs: DataFrame, k: Int = 16, rowsPerBand: Int = 4,
                      shingleN: Int = 5, threshold: Double = 0.5): DataFrame = {
    val hashes = shingleHashes(shingles(docs, shingleN, distinct = false))
    val sig = minhashSignaturesFromHashes(hashes, k)
    jaccardByHashes(hashes, lshCandidates(sig, rowsPerBand))
      .filter(col("jaccard") >= threshold)
  }

  /** Round count of the most recent `connectedComponents` run — the
    * observability dial for sizing `maxIters` (and what the
    * convergence property tests assert against).
    */
  val lastCcRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Node-count gate of `connectedComponents`: a per-round node map
    * (t, f = t^64, the resolved labels) of at most this many entries
    * lives on the driver; a larger one stays a checkpointed table
    * joined by shuffle. 2M (node, tgt) long pairs is ~32 MB — safely
    * inside any driver budget — while a 100 TB candidate graph's
    * quotient (billions of nodes in early rounds) stays distributed.
    * Counted, never estimated.
    */
  val CcBroadcastMaxNodes: Long = 2000000L

  /** Near-duplicate CLUSTERS from candidate pairs by STAR CONTRACTION
    * with capped path compression, iterated until the quotient graph
    * has no edges. Each round:
    *   - t(x) = min(x, min neighbour id), one aggregate over the live
    *     edges;
    *   - f = t^64, path compression of the t-forest by six composition
    *     squarings;
    *   - E' = f(E) with self-loops dropped and duplicates removed: the
    *     QUOTIENT graph the next round works on;
    *   - M = f ∘ M, the resolved-label map.
    * Rounds scale as ~log2(diameter) because each later hop crosses
    * quotient edges — many original edges at once — where min-label
    * flooding (the pre-r18 form) needed one original edge hop per
    * round (the sf0.1 candidate graph took 9 full-table rounds against
    * 3 contraction rounds); star contraction after Kiveris et al.,
    * "Connected Components in MapReduce and Beyond".
    *
    * Correctness: t maps every node to a node of its own component
    * and t(z) <= z, so f = t^64 and every composed M keep the
    * min-label invariant (labels only decrease, always ids inside the
    * component). The component minimum is a fixed point of every
    * round's t and is never contracted away, so when the quotient has
    * no edges each component has collapsed to exactly its minimum id
    * — M carries the same fixpoint labels as any converged min-label
    * propagation. Every component — any diameter — ends carrying its
    * minimum doc_id.
    *
    * Where the state lives: the edge table is always distributed. A
    * node map whose counted size is at most `CcBroadcastMaxNodes`
    * lives on the driver, a larger one is a checkpointed table joined
    * by shuffle:
    *   - below the gate each round collects t in ONE job (the collect
    *     also proves the count, and an empty t ends the loop),
    *     squares and folds on the driver, and remaps the live edge
    *     pair RDD on the executors through one broadcast variable; the
    *     labels come back through `parallelize`. A graph under the gate
    *     costs rounds + 1 jobs, plus the caller's action on the labels;
    *   - above the gate t, f and the labels are checkpointed tables and
    *     every join shuffles; node counts only shrink under
    *     contraction, so the first round whose t counts under the gate
    *     moves to the driver form for the rest of the run.
    * The fixpoint of a graph above the gate therefore never sits on
    * the driver.
    *
    * `maxIters` is a runaway guard — hitting the bound with edges
    * remaining leaves deterministic, conservatively under-merged
    * labels, i.e. a WRONG answer that callers must treat as a failure:
    * check `lastCcRounds < maxIters` after any run whose labels feed a
    * dedup decision. An edgeless graph reports one round, the one that
    * found no edges.
    *
    * CHECKPOINT DURABILITY (above the gate): the default
    * `localCheckpoint` stores round tables only on executors, with no
    * lineage to recompute them — a lost executor mid-iteration fails
    * the job. Pass `checkpointDir` to write them through the reliable
    * checkpoint path (HDFS/object store) instead, at the cost of one
    * FS round-trip per round. Below the gate the quotient RDDs keep
    * their (rounds-deep) lineage and `checkpointDir` is not used.
    *
    * Everything a run persists or broadcasts for its own rounds — the
    * edge table, the quotient RDDs, the per-round broadcasts — is
    * released before it returns. Above the gate each round's
    * checkpointed t and edge table are released as soon as a newer
    * checkpoint supersedes them; the f maps and round 1's t, which the
    * labels are read from, stay until the context cleaner reclaims
    * them with the returned frame.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 16,
                          verbose: Boolean = false,
                          checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsCounted(pairs, maxIters, verbose, checkpointDir)._1

  /** As `connectedComponents`, but returns (labels, rounds) so a
    * caller's convergence assertion is tied to ITS run — the global
    * `lastCcRounds` reads whichever run happened last in the process,
    * which under a shared test SparkSession may not be the one under
    * test.
    */
  def connectedComponentsCounted(pairs: DataFrame, maxIters: Int = 16,
                                 verbose: Boolean = false,
                                 checkpointDir: Option[String] = None): (DataFrame, Int) =
    components(pairs, maxIters, verbose, checkpointDir, CcBroadcastMaxNodes)

  /** `connectedComponentsCounted` with the node gate as a parameter,
    * so one graph can run on either side of it or switch mid-run.
    */
  private[graft] def components(pairs: DataFrame, maxIters: Int, verbose: Boolean,
                                checkpointDir: Option[String],
                                driverMaxNodes: Long): (DataFrame, Int) = {
    val sp = pairs.sparkSession
    val sc = sp.sparkContext
    checkpointDir.foreach(d => if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d))
    // the RDD each checkpointed table is stored in, until it is
    // released; the tables the labels read are dropped from it
    val stored = HashMap.empty[DataFrame, RDD[_]]
    def release(df: DataFrame): Unit = stored.remove(df).foreach(_.unpersist(blocking = false))
    // STATS SHEDDING: Dataset.checkpoint carries the origin plan's
    // estimated Statistics into the checkpointed LogicalRDD. For an
    // iterated fixpoint sizeInBytes is a BigInt PRODUCT across each
    // round's joins, so its digit count grows every round until the
    // stats visitor multiplies million-digit BigIntegers on the driver
    // (round 6's 28x regression; jstack: SizeInBytesOnlyStatsPlanVisitor
    // -> BigInteger.multiplyToomCook3). Rebuilding the frame from the
    // checkpointed RDD restarts each round from leaf defaults, and
    // every join above the gate is an intentional shuffle join anyway.
    def ckpt(df: DataFrame): DataFrame = {
      val snap =
        if (checkpointDir.isDefined) df.checkpoint(eager = true)
        else df.localCheckpoint(eager = true)
      val out = sp.createDataFrame(snap.rdd, snap.schema)
      snap.queryExecution.logical match { case r: LogicalRDD => stored(out) = r.rdd }
      out
    }
    // the labels keep the pair columns' nullability
    val nullableIds = pairs.schema("a").nullable || pairs.schema("b").nullable
    // the symmetric edge list, persisted once: round 1 reads it twice
    // (t and the contraction), and each read would otherwise re-run
    // its lineage (the whole LSH candidate pipeline)
    val edges = pairs.select(col("a").cast("long"), col("b").cast("long")).rdd
      .flatMap { r => val a = r.getLong(0); val b = r.getLong(1); Iterator((a, b), (b, a)) }
      .setName("cc edges").persist(StorageLevel.MEMORY_AND_DISK)
    val held = ArrayBuffer[RDD[_]](edges)
    val bcs = ArrayBuffer.empty[Broadcast[_]]
    // below the gate: live edges as a pair RDD, and the labels of the
    // nodes of the first driver round's t
    var live: RDD[(Long, Long)] = edges
    var labels: Option[LongMap[Long]] = None
    // above the gate: live edges as a table, round 1's nodes, and the
    // checkpointed round maps
    var table: Option[DataFrame] = None
    var nodes: Option[DataFrame] = None
    val fs = ArrayBuffer.empty[DataFrame]
    // t as a checkpointed leaf: squaring an unmaterialized plan would
    // re-evaluate the aggregate 2^k times
    def hops(df: DataFrame): DataFrame =
      ckpt(df.groupBy("x").agg(min("y").as("ny"))
        .select(col("x").as("node"), least(col("x"), col("ny")).as("tgt")))
    var round = 0
    var done = false
    while (!done && round < maxIters) {
      val t0 = System.nanoTime()
      // this round's t: Left on the driver, Right a checkpointed table
      val t: Either[LongMap[Long], DataFrame] = table match {
        case None => driverHops(live, driverMaxNodes).toLeft {
          // only round 1 can be above the gate here
          val df = sp.createDataFrame(edges.map { case (x, y) => Row(x, y) },
            idPairSchema("x", "y", nullableIds))
          table = Some(df)
          hops(df)
        }
        case Some(df) =>
          val tt = hops(df)
          if (tt.count() > driverMaxNodes) Right(tt)
          else {
            table = None
            live = df.rdd.map(r => (r.getLong(0), r.getLong(1)))
            val tm = LongMap.from(tt.collect().iterator.map(r => r.getLong(0) -> r.getLong(1)))
            release(tt)
            Left(tm)
          }
      }
      t match {
        case Left(tm) if tm.isEmpty => done = true
        case Left(tm) =>
          round += 1
          // capped compression: f = t^64 by six composition squarings
          // (every tgt is a node of t, so each lookup is total). NOTE
          // (r19, measured and reverted): t^8 cut each round's cost on
          // the fixture graphs, but on a MONOTONE-ID CHAIN the t-forest
          // is one path and contraction shrinks ADDITIVELY by the
          // compression depth per round: the 100-node path took 13
          // rounds and a 500-node path blew the maxIters=16 guard (both
          // pinned by tests). Depth 64 stays.
          var f = tm
          for (_ <- 1 to 6) { val g = f; f = g.mapValuesNow(g) }
          val m = labels.getOrElse(LongMap.from(tm.keysIterator.map(x => x -> x)))
          labels = Some(m.mapValuesNow(l => f.getOrElse(l, l)))
          val bc = sc.broadcast(f)
          bcs += bc
          live = live.map { case (x, y) => val g = bc.value; (g(x), g(y)) }
            .filter { case (x, y) => x != y }.distinct()
            .setName(s"cc quotient $round").persist(StorageLevel.MEMORY_AND_DISK)
          held += live
        case Right(tt) =>
          round += 1
          if (nodes.isEmpty) {
            nodes = Some(tt.select(col("node").as("doc_id")))
            stored -= tt
          }
          var f = tt
          for (_ <- 1 to 6) {
            f = f.join(f.select(col("node").as("n2"), col("tgt").as("t2")),
                col("tgt") === col("n2"))
              .select(col("node"), col("t2").as("tgt"))
          }
          f = ckpt(f)
          stored -= f
          fs += f
          release(tt)
          table = table.map { df =>
            val next = ckpt(df
              .join(f.select(col("node").as("x"), col("tgt").as("fx")), "x")
              .join(f.select(col("node").as("y"), col("tgt").as("fy")), "y")
              .select(col("fx").as("x"), col("fy").as("y"))
              .filter(col("x") =!= col("y"))
              .distinct())
            release(df)
            next
          }
      }
      // observability: per-round wall time and where the round ran —
      // gated off by default (a library must not write to stderr)
      if (verbose) System.err.println(f"[cc] round $round " +
        f"${if (t.isLeft) "driver" else "table"} ${(System.nanoTime() - t0) / 1e6}%.0f ms")
    }
    val rounds = if (round == 0) math.min(1, maxIters) else round
    lastCcRounds.set(rounds)
    val out = nodes match {
      case None =>
        val m = labels.getOrElse(LongMap.empty[Long])
        val size = LongMap.empty[Long]
        m.foreachValue(l => size(l) = size.getOrElse(l, 0L) + 1L)
        // rows in doc_id order: a LongMap iterates in slot order, which
        // follows the order driverHops' tasks returned
        val ids = m.keysIterator.toArray
        java.util.Arrays.sort(ids)
        val rows = ids.iterator.map { d => val l = m(d); Row(d, l, size(l)) }.toVector
        sp.createDataFrame(sc.parallelize(rows, sc.defaultParallelism),
          StructType(idPairSchema("doc_id", "component", nullableIds).fields :+
            StructField("n_members", LongType, nullable = false)))
      case Some(n) =>
        // resolve every node through the round maps (a label absent
        // from a map keeps its value: the left join), then through the
        // driver rounds' labels if the run crossed the gate
        val tail = labels.map(m => sp.createDataFrame(
          sc.parallelize(m.iterator.map { case (x, l) => Row(x, l) }.toVector, sc.defaultParallelism),
          idPairSchema("node", "tgt", nullable = false)))
        val m = (fs ++ tail).zipWithIndex.foldLeft(n.withColumn("label", col("doc_id"))) {
          case (acc, (f, i)) =>
            acc.join(f.select(col("node"), col("tgt").as(s"t$i")),
                acc("label") === col("node"), "left")
              .select(col("doc_id"), coalesce(col(s"t$i"), col("label")).as("label"))
        }
        m.select(col("doc_id"), col("label").as("component"),
          count(lit(1)).over(Window.partitionBy("label")).as("n_members"))
    }
    // the labels read neither the edge and quotient RDDs, the last
    // edge table nor the broadcasts: release them now instead of at
    // the next GC
    held.foreach(_.unpersist(blocking = false))
    stored.valuesIterator.foreach(_.unpersist(blocking = false))
    bcs.foreach(_.destroy())
    (out, rounds)
  }

  private def idPairSchema(a: String, b: String, nullable: Boolean): StructType =
    StructType(Seq(StructField(a, LongType, nullable), StructField(b, LongType, nullable)))

  /** t(x) = min(x, min neighbour) of the live edges, collected to the
    * driver in one job if it has at most `maxNodes` entries; None
    * (nothing kept) above that. Each task ships its partition only up
    * to twice an even share of the gate (hash partitions are near
    * even) and its count otherwise, so far above the gate the driver
    * receives about two gates' worth, never the whole map; a partition
    * skewed past its share while the total is under the gate costs one
    * more collect.
    */
  private[graft] def driverHops(live: RDD[(Long, Long)], maxNodes: Long): Option[LongMap[Long]] = {
    val hop = live.reduceByKey((a, b) => math.min(a, b))
      .map { case (x, ny) => (x, math.min(x, ny)) }
    val share = maxNodes / math.max(hop.getNumPartitions, 1)
    val cap = if (share > maxNodes / 2) maxNodes else 2 * share
    val got = LongMap.empty[Long]
    var n = 0L
    var skewed = false
    live.sparkContext.runJob(hop, (it: Iterator[(Long, Long)]) => {
      val buf = Array.newBuilder[Long]
      var k = 0L
      it.foreach { case (x, tx) => k += 1; if (k <= cap) { buf += x; buf += tx } }
      (k, if (k <= cap) buf.result() else null)
    }, (_: Int, part: (Long, Array[Long])) => {
      n += part._1
      if (n > maxNodes) got.clear()
      else if (part._2 == null) skewed = true
      else {
        val kv = part._2
        var i = 0
        while (i < kv.length) { got(kv(i)) = kv(i + 1); i += 2 }
      }
    })
    if (n > maxNodes) None
    else if (skewed) Some(LongMap.from(hop.collect()))
    else Some(got)
  }

  /** One row per w-token rolling window of the normalized text:
    * (doc_id, pos, h) with h = 52-bit md5 of the space-joined window.
    * The substring-granular half of dedup — document-level MinHash
    * misses a hot paragraph pasted into thousands of otherwise-unique
    * pages, while span counting catches exactly that (the repeated-
    * substring dedup of Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", restated over rolling token
    * windows). Spans are hashed before they shuffle: 8-byte keys
    * instead of ~60-byte strings is the difference between a
    * manageable and a monstrous exchange at 100 TB (md5-52 collisions
    * are ~1e-11 at fixture scale and only ever over-count a duplicate
    * — acceptable for a statistic that gates curation).
    */
  def spanTable(docs: DataFrame, w: Int = 10): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        split(TextAnalysis.normalized(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${w - 1}), " +
          s"i -> struct(i AS pos, concat_ws(' ', slice(toks, i, $w)) AS span))")).as("p"))
      .select(col("doc_id"), col("p.pos").as("pos"), col("p.span").as("span"),
        TextAnalysis.hash52(col("p.span")).as("h"))

  /** Chunk-level exact dedup with document REWRITE — the CCNet /
    * RefinedWeb "line-level dedup" stage generalized to fixed w-token
    * chunks (this corpus has no newline structure; with newline-split
    * chunks the shape is identical). Each exact chunk keeps only its
    * lexicographically-first occurrence (doc_id, idx) corpus-wide;
    * every document is returned with its surviving chunks re-joined
    * in order, plus kept/total counts.
    *
    * Scale shape (the dup-span-top discipline — chunk STRINGS never
    * shuffle on the hash key): ownership is decided on a narrow
    * (doc_id, idx, h) projection — one h-keyed aggregate
    * (min-first + count, partial-agg'd) and one h-keyed join whose
    * rows are 24 bytes of integers, so a corpus-universal boilerplate
    * chunk bounds its hot partition at |occurrences| × 24 B (AQE
    * skew-split rebalances; same argument as `duplicateSpanStats`).
    * The join emits ONLY the dropped (doc_id, idx) pairs — at real
    * dup density a small table — which anti-mark the string-bearing
    * chunk rows via a doc-keyed left join (uniformly distributed,
    * broadcast when small). Reassembly is one per-doc aggregate:
    * collect_list(kept struct) → array_sort by idx → join. The corpus
    * text is scanned twice (once narrow, once with strings) — at
    * 100 TB the second scan is map-side CPU against a cached/columnar
    * source, cheaper than shuffling every chunk string on a skewable
    * key.
    */
  def chunkDedup(docs: DataFrame, w: Int = 20): DataFrame = {
    def chunkTable(withStrings: Boolean): DataFrame = {
      val base = docs.filter(col("text").isNotNull)
        .select(col("doc_id"),
          split(TextAnalysis.normalized(col("text")), " ").as("toks"))
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, 1 + int((size(toks) - 1) / $w)), " +
            s"i -> struct(i AS idx, concat_ws(' ', slice(toks, (i - 1) * $w + 1, $w)) AS chunk))"))
          .as("p"))
      val cols = Seq(col("doc_id"), col("p.idx").as("idx"),
        TextAnalysis.hash52(col("p.chunk")).as("h")) ++
        (if (withStrings) Seq(col("p.chunk").as("chunk")) else Nil)
      base.select(cols: _*)
    }
    val narrow = chunkTable(withStrings = false)
    val own = narrow.groupBy("h")
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
    val drops = narrow.join(own, Seq("h"))
      .filter(col("first.doc_id") =!= col("doc_id") || col("first.idx") =!= col("idx"))
      .select(col("doc_id"), col("idx"), lit(1).as("dropped"))
    chunkTable(withStrings = true)
      .join(drops, Seq("doc_id", "idx"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dropped").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN dropped IS NULL " +
            "THEN struct(idx, chunk) END)), x -> x.chunk)"), " ").as("joined"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        when(col("n_kept") > 0, col("joined")).as("clean_text"))
  }

  /** Exact-substring dedup with document REWRITE — the span-granular
    * big sibling of `chunkDedup` (Lee et al 2022's ExactSubstr
    * policy, window-approximated): every w-token window that appears
    * verbatim in another document is a duplicated REGION; the first
    * occurrence (lexicographic (doc_id, pos) per window hash) keeps
    * its region, every other occurrence has its covered tokens
    * removed, and documents are re-joined from the surviving tokens.
    * Unlike chunk grain, overlapping windows mean a duplicated
    * PASSAGE of any length ≥ w is excised exactly (its every window
    * is duplicated), while unique text bordering it survives.
    *
    * Scale shape: ownership rides the (w-token) span-hash aggregate
    * from `spanTable` — min-first + count per h, narrow integer rows,
    * the `duplicateSpanStats` exchange discipline. Dropped spans
    * fan out ×w into covered (doc_id, pos) slots — integers only,
    * distinct-collapsed before the anti-join — and the token table
    * anti-joins on (doc_id, pos), a uniformly distributed key (never
    * the skewable h). Reassembly is the chunkDedup collect/sort
    * aggregate. Corpus text is scanned twice (spans + tokens), the
    * strings-never-shuffle-on-h trade every span operator here makes.
    */
  def substrDedup(docs: DataFrame, w: Int = 10): DataFrame = {
    val spans = spanTable(docs, w).select(col("doc_id"), col("pos"), col("h"))
    val own = spans.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
    val covered = spans.join(own, Seq("h"))
      .filter(col("first.doc_id") =!= col("doc_id") || col("first.pos") =!= col("pos"))
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${w - 1})")).as("pos"))
      .distinct()
    rewriteFromCoverage(docs, covered)
  }

  /** The 1-based (doc_id, pos, tok) position table of the normalized
    * text — the shared substrate of the exact-substring dedup family.
    */
  private def tokTable(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(split(TextAnalysis.normalized(col("text")), " ")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))

  /** Shared rewrite tail of the exact-substring dedup family: given
    * the covered (doc_id, pos) set, rebuild each document from its
    * surviving tokens with kept/total counts.
    */
  private def rewriteFromCoverage(docs: DataFrame, covered: DataFrame): DataFrame =
    rewriteFromToks(tokTable(docs), covered)

  /** `rewriteFromCoverage` over a PREBUILT token table — callers that
    * already materialized the tokenization (saSubstrDedup's snapshot)
    * reuse it instead of re-tokenizing the corpus a second time.
    */
  private def rewriteFromToks(toks: DataFrame, covered: DataFrame): DataFrame = {
    toks.join(covered.withColumn("cov", lit(1)), Seq("doc_id", "pos"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cov").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN cov IS NULL " +
            "THEN struct(pos, tok) END)), x -> x.tok)"), " ").as("joined"))
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        when(col("n_kept") > 0, col("joined")).as("clean_text"))
  }

  /** Exact-substring dedup via SUFFIX-ARRAY-STYLE equivalence-class
    * refinement (the Lee et al. 2022 ExactSubstr algorithm class,
    * distributed): instead of hashing every w-token window (md5 over
    * ~w×corpus characters, collision-probabilistic), positions are
    * grouped into prefix-equivalence classes that DOUBLE in length
    * each round — class id = the class's min (doc_id, pos), refined
    * by grouping on (class(p), class(p+k)) — with one final
    * overlapped step (class_k(p), class_k(p + w − k)) giving EXACT
    * length-w equality in ⌈log₂ w⌉ rounds, zero hash collisions by
    * construction.
    *
    * A duplicated substring of length ≥ w contains a duplicated
    * w-window and vice versa, so the covered-position set equals the
    * windowed `substrDedup`'s (same first-occurrence-kept tie-break:
    * min (doc_id, pos) per class) — which is exactly what lets the
    * two INDEPENDENT implementations share one oracle. Scale trade,
    * MEASURED (r12, PLANS.md "SA vs windowed" table): the windowed
    * form wins at every tested shape — 0.3–0.4 s vs 4.1–5.1 s at
    * sf0.1, 1.2 s vs 19.5–26.8 s at sf1, and 1.6 s vs 31–40 s on a
    * long-doc fixture (1083-token avg, where w=50 hashing reaches its
    * full 270M-token input) — because md5 over the span stream is
    * map-side CPU at GB/s while each of the ⌈log₂ w⌉+1 refinement
    * rounds pays a full groupBy + self-join exchange over every token
    * position. w barely moves the windowed cost (1.6 s at BOTH w=10
    * and w=50 on long docs). The SA form's value is EXACTNESS (zero
    * hash collisions by construction) and its round count's scale
    * invariance (exponent 0.51–0.72), not throughput; the windowed
    * 52-bit-hash form is the production path at any w ≤ 50.
    *
    * Refinement is UNRESOLVED-ONLY (the Larsson–Sadakane trick from
    * the suffix-sorting literature): a position whose class is
    * singleton at ANY length sits inside no duplicated window of any
    * longer length (refinement only ever splits classes), so it exits
    * the loop immediately — singleton classes are dropped after every
    * round, and a head whose partner was dropped (inner join finds no
    * (doc, pos−shift) row: the partner's sub-block is corpus-unique,
    * or the head is within w of its document's end and heads no full
    * window) is itself provably singleton and dropped with it. On
    * real text the alive set collapses within a few rounds — unique
    * prose dominates any corpus — so the later (and previously most
    * expensive, full-token-table) rounds run over a small residue;
    * the measured effect is in PLANS.md's "SA vs windowed" table.
    * Dropping whole classes never perturbs a surviving class's min
    * (doc_id, pos) id, so the keep-first tie-break is unchanged.
    *
    * Positions within w of their document's end can never conflate
    * with full-window classes: their refined key pairs a class whose
    * block crosses the document end, and class ids (min member) are
    * distinct across distinct classes — only full windows
    * (pos + w − 1 ≤ len) are eligible for duplication, and a partner
    * needed by a full-window head always has its whole sub-block
    * inside the head's window, so the inner join never starves a
    * valid head.
    */
  def saSubstrDedup(docs: DataFrame, w: Int = 10): DataFrame = {
    require(w >= 2, "saSubstrDedup needs w >= 2")
    def snap(df: DataFrame): DataFrame = {
      val s = df.localCheckpoint(true)
      df.sparkSession.createDataFrame(s.rdd, s.schema)
    }
    // ONE corpus tokenization, snapshotted (r19): the seed round, the
    // doc-length table and the rewrite tail all read this
    // materialized position table — the pre-r19 form re-evaluated the
    // normalize+split+posexplode chain three times (seed, lens,
    // rewrite), i.e. two extra corpus text passes per call.
    val toks = snap(tokTable(docs))
    // doc lengths from the snapshot: a map-side partial aggregate to
    // |docs| rows — no corpus re-tokenize, near-zero exchange
    val lens = toks.groupBy("doc_id").agg(max("pos").as("len"))
    // class id = (doc_id, pos) PACKED into one long (pos gets 20
    // bits): preserves (doc_id, pos) lexicographic order under long
    // compare, and every refinement round then shuffles/aggregates
    // 8-byte keys instead of 16-byte structs. The guard fails loudly
    // on a >1M-token document rather than mis-packing (same contract
    // style as pqEncode).
    val posBits = 20
    val posMask = (1L << posBits) - 1
    val packed = when(col("pos") < (1 << posBits),
        shiftleft(col("doc_id"), posBits) + col("pos"))
      .otherwise(raise_error(concat(
        lit(s"saSubstrDedup: pos >= 2^$posBits for doc_id="), col("doc_id"))))
      .cast("long")
    // length-1 classes: min packed (doc_id, pos) per distinct token;
    // corpus-unique tokens exit before the first refinement round.
    // WINDOW aggregation, not groupBy + join-back (r18): the class id
    // and the class size land on every member row out of ONE exchange
    // of the position table, where the aggregate-then-rejoin form
    // paid that exchange for the aggregate AND again for the join
    // side (2 corpus-scale exchanges per round -> 1; values identical
    // — min/count over the whole partition frame, no ordering).
    // Rows carry ONLY (pk, cid) through the rounds (r19): the packed
    // key IS the position, so (doc_id, pos) never ride the refinement
    // exchanges — 16 bytes/row instead of 28.
    val wTok = Window.partitionBy("tok")
    var cur = snap(toks
      .withColumn("pk", packed)
      .withColumn("cid", min(col("pk")).over(wTok))
      .withColumn("n", count(lit(1)).over(wTok))
      .filter(col("n") >= 2)
      .select(col("pk"), col("cid")))
    var k = 1
    def refine(shift: Int): Unit = {
      // partner key arithmetic stays inside one document: head pos =
      // partner pos − shift ≥ 1, so partner rows with pos ≤ shift are
      // filtered BEFORE the subtraction (an underflowed pk would
      // borrow into the doc_id bits and could alias a real position
      // near another document's 2^20 boundary)
      val right = cur.filter(col("pk").bitwiseAND(lit(posMask)) > shift)
        .select((col("pk") - shift).as("pk"), col("cid").as("cid2"))
      // inner: a missing partner row means the head's refined class is
      // singleton (partner pruned as unique, or head too close to the
      // document end to head a full window) — drop it now. Single
      // 8-byte join key (r19): the (doc_id, pos) self-join now
      // exchanges one long per side.
      val paired = cur.join(right, Seq("pk"))
      val wCls = Window.partitionBy("cid", "cid2")
      cur = snap(paired
        .withColumn("ncid", min(col("pk")).over(wCls))
        .withColumn("n", count(lit(1)).over(wCls))
        .filter(col("n") >= 2)
        .select(col("pk"), col("ncid").as("cid")))
    }
    while (k * 2 <= w) { refine(k); k *= 2 }
    if (k < w) refine(w - k) // overlapped final step -> exact length w
    val winCls = cur
      .select(col("pk"), col("cid"),
        shiftrightunsigned(col("pk"), posBits).as("doc_id"),
        col("pk").bitwiseAND(lit(posMask)).cast("int").as("pos"))
      .join(lens, "doc_id").filter(col("pos") + (w - 1) <= col("len"))
    // same window-over-groupBy+join trade as the refinement rounds
    val covered = winCls
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy("cid")))
      .filter(col("n_occ") >= 2)
      .filter(col("cid") =!= col("pk"))
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${w - 1})")).as("pos"))
      .distinct()
    rewriteFromToks(toks, covered)
  }

  /** Per-document duplicate-span statistics: of a document's
    * n_windows rolling w-token windows, n_dup appear verbatim in at
    * least one OTHER document; dup_ratio = n_dup / n_windows is the
    * curation signal (a high ratio on a document that survived
    * document-level dedup means boilerplate stitching).
    *
    * Scale shape: one (doc_id, h) aggregate — partial-aggregated, the
    * only corpus-wide exchange on the span table — one h-keyed count
    * to find cross-document spans, and one equi-join back on the
    * 8-byte hash. The join-back operates at (doc_id, h) GRAIN with the
    * per-doc window count carried as one long: a corpus-universal
    * boilerplate span (every doc carries it) still concentrates its h
    * on one shuffle key, but each of its rows is now 24 bytes of
    * integers — the per-(doc, h) minimum payload — instead of a span
    * STRING per window position, so the hot partition is bounded by
    * |docs carrying h| × 24 B and AQE's skew-join split can rebalance
    * it (left as a shuffle join: at real dup density the hot-span
    * table is NOT small, and AQE will broadcast it when it is). No
    * window functions, no per-string shuffles; Round8Spec exercises a
    * 50-clone universal-span fixture against a literal re-derivation.
    */
  def duplicateSpanStats(docs: DataFrame, w: Int = 10): DataFrame = {
    val spans = spanTable(docs, w)
    // (doc_id, h) grain with the within-doc window multiplicity: the
    // distinct the dup-count needs AND the n_windows total in one
    // aggregate (sum(n_win) = the old count over raw windows)
    val docSpans = spans.groupBy("doc_id", "h").agg(count(lit(1)).as("n_win"))
    // docSpans has one row per (doc, h), so a plain count IS the
    // per-span document count — no second distinct aggregate
    val dup = docSpans.groupBy("h")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("h"), lit(1).as("dup"))
    docSpans.join(dup, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(sum("n_win").as("n_windows"),
        coalesce(sum(when(col("dup").isNotNull, col("n_win"))), lit(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        round(col("n_dup") / col("n_windows"), 6).as("dup_ratio"))
  }

  /** Duplicate-span statistics for SEVERAL window lengths in one
    * corpus pass — the window-size sweep of Lee et al. 2022 (how much
    * duplication lives at paragraph vs page granularity). The corpus
    * is tokenized ONCE; a single generator emits (w, h) for every
    * length from the same token array (flatten-of-transforms, one
    * explode), so adding a length adds map-side hashing CPU but never
    * another scan. md5 is not rolling-composable, so the per-window
    * hash cost is paid per length — the scan count, not the hash CPU,
    * is what hurts at 100 TB (the corpus read dominates).
    *
    * Downstream shape is `duplicateSpanStats` at (doc_id, w, h) grain:
    * the same skew-guarded integer-only join-back, now keyed (w, h).
    * Docs shorter than a given w simply have no rows at that w.
    */
  def spanSweepStats(docs: DataFrame, ws: Seq[Int] = Seq(10, 20, 50)): DataFrame = {
    require(ws.nonEmpty && ws.forall(_ >= 2) && ws.distinct == ws, "ws must be distinct, >= 2")
    val arms = ws.map { w =>
      s"""IF(size(toks) >= $w,
         |   transform(sequence(1, size(toks) - ${w - 1}),
         |     i -> named_struct('w', $w,
         |            'h', CAST(conv(substring(md5(to_binary(concat_ws(' ', slice(toks, i, $w)), 'utf-8')), 1, 13), 16, 10) AS BIGINT))),
         |   CAST(array() AS ARRAY<STRUCT<w: INT, h: BIGINT>>))""".stripMargin
    }.mkString("flatten(array(", ",\n", "))")
    val spans = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        split(TextAnalysis.normalized(col("text")), " ").as("toks"))
      .select(col("doc_id"), explode(expr(arms)).as("s"))
      .select(col("doc_id"), col("s.w").as("w"), col("s.h").as("h"))
    val docSpans = spans.groupBy("doc_id", "w", "h").agg(count(lit(1)).as("n_win"))
    val dup = docSpans.groupBy("w", "h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("w"), col("h"), lit(1).as("dup"))
    docSpans.join(dup, Seq("w", "h"), "left")
      .groupBy("doc_id", "w")
      .agg(sum("n_win").as("n_windows"),
        coalesce(sum(when(col("dup").isNotNull, col("n_win"))), lit(0L)).as("n_dup"))
      .select(col("doc_id"), col("w"), col("n_windows"), col("n_dup"),
        round(col("n_dup") / col("n_windows"), 6).as("dup_ratio"))
  }

  /** The globally hottest duplicated spans, with their text — the
    * diagnostic a curation run reports ("what IS this boilerplate?").
    *
    * Two-phase so span STRINGS never shuffle corpus-wide: the winners
    * are chosen entirely on the 8-byte hash keys (distinct + count +
    * TakeOrderedAndProject, deterministic tie-break on the hash), and
    * only then are the k winning strings recovered by broadcasting
    * the k hashes against the span generator — a map-side semi-join
    * that ships ~k rows. The direct string-keyed form shuffled every
    * distinct span string twice; at 100 TB that is the difference
    * between kilobytes and the whole corpus on the wire.
    */
  def topDuplicateSpans(docs: DataFrame, w: Int = 10, k: Int = 20): DataFrame = {
    val spans = spanTable(docs, w)
    val top = spans.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("h").asc)
      .limit(k)
    spans.select(col("h"), col("span"))
      .join(broadcast(top), "h")
      .select(col("span"), col("n_docs")).distinct()
  }

  /** 52-bit SimHash per document over whitespace tokens: per bit j,
    * sum +-1 weighted by token-hash bit j; simhash bit j = (sum > 0).
    * Returned as a double-exact long. Engine-portable (md5 hashes,
    * integer shifts).
    */
  def simhash(docs: DataFrame, bits: Int = 52): DataFrame = {
    val tokens = docs
      .select(col("doc_id"),
        explode(split(TextAnalysis.normalized(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), TextAnalysis.hash52(col("tok")).as("h"))
    // one aggregate column per bit instead of a bits× row explode:
    // single map-side-combinable shuffle, all constants folded.
    // Bit j extracted with floor-div/mod arithmetic (portable to the
    // DuckDB oracle, exact for 52-bit values in doubles).
    val bitSums = (0 until bits).map { j =>
      sum(pmod(floor(col("h") / pow(lit(2.0), lit(j))).cast("long"), lit(2L)) * 2 - 1).as(s"b$j")
    }
    tokens.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(j => when(col(s"b$j") > 0, lit(math.pow(2.0, j))).otherwise(0.0))
          .reduce(_ + _).cast("long").as("simhash"))
  }

  /** Hamming distance between two simhash longs (bit-count of xor). */
  def hamming(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate diagnostic: the 52-bit signature banded
    * into `bands` equal keys; documents sharing any band key become
    * candidate pairs (an equi-join on (band, key) — never all-pairs,
    * the scale-safe shape), then each pair is verified by hamming
    * distance. Returns one row per document: candidate count and
    * verified near-dup count (hamming <= maxHamming).
    *
    * Bit slicing uses the same floor-div/mod arithmetic as `simhash`
    * (exact for 52-bit values, portable to the DuckDB oracle).
    *
    * Shares the oversized-bucket guard with `lshCandidates`: buckets
    * beyond `maxBucket` members (the classic all-zero simhash of
    * trivial docs) pair representative-vs-rest instead of all-pairs,
    * bounding per-bucket output at C(K,2) + (m - K).
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 6, bands: Int = 4,
                      maxBucket: Int = 256): DataFrame =
    hammingNearDups(simhash(docs), docs.select("doc_id"), maxHamming, bands, maxBucket)

  /** Ranked band table for a 52-bit signature — the static side of a
    * streaming hamming-admission probe: (doc_id, simhash, band, key,
    * r) where r is the in-bucket rank by doc_id, the SAME ordering
    * `bandedPairs` caps on, so a probe can replicate the batch
    * full-pairing-to-rank-`maxBucket` + star-edge semantics exactly.
    */
  def hammingBandTable(sig: DataFrame, bands: Int = 4): DataFrame = {
    val bandBits = 52 / bands
    sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            pmod(floor(col("simhash") / pow(lit(2.0), lit(b * bandBits))).cast("long"),
              lit(1L << bandBits)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))
      .withColumn("r", row_number().over(
        Window.partitionBy("band", "key").orderBy("doc_id")))
  }

  /** Hamming-banded near-dup counts over ANY 52-bit signature table
    * (doc_id, simhash) — the shared tail of `simhashNearDups`, also
    * consumed by the media perceptual-hash path
    * ([[Multimodal.perceptualHash]]): band keys → capped bucket pairs
    * → exact hamming verify → per-id counts, with `ids` re-attaching
    * the rows that drew no candidates.
    */
  def hammingNearDups(sig: DataFrame, ids: DataFrame, maxHamming: Int = 6,
                      bands: Int = 4, maxBucket: Int = 256): DataFrame = {
    val bandBits = 52 / bands
    val banded = sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            pmod(floor(col("simhash") / pow(lit(2.0), lit(b * bandBits))).cast("long"),
              lit(1L << bandBits)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))
    val cand = bandedPairs(banded, Seq("band", "key"), maxBucket, Seq("simhash"))
      .select(col("a"), col("b"),
        col("simhash_a").as("sa"), col("simhash_b").as("sb"))
      .distinct()
    val verified = cand.withColumn("hd", hamming(col("sa"), col("sb")))
    val perDoc = verified.select(col("a").as("doc_id"), col("hd"))
      .unionAll(verified.select(col("b").as("doc_id"), col("hd")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("hd") <= maxHamming, 1L).otherwise(0L)).as("n_dup"))
    ids.join(perDoc, Seq("doc_id"), "left")
      .na.fill(0, Seq("n_cand", "n_dup"))
  }

  /** One micro-batch of INCREMENTAL near-dup admission — the missing
    * half of the stream-static admit loop (`q_stream_admit`): that
    * design probes only the PERSISTED band/components tables, so two
    * arriving near-duplicates of each other (but of nothing
    * persisted) were both admitted. This closes the gap by also
    * banding arrivals against EACH OTHER and against every previous
    * arrival, then merging the touched clusters.
    *
    * Inputs: `arrivals` (doc_id, text) — this batch's documents;
    * `stateBands` (doc_id, band, sig) and `stateComp` (doc_id,
    * cluster) — the accumulated band table and cluster assignment of
    * every document seen so far (persisted corpus + prior batches;
    * cluster = the component's min doc_id).
    *
    * Scale shape: the fixpoint never touches the full state — edges
    * are CONTRACTED to (arrival, prior-cluster-label) before the CC
    * runs, so the per-batch graph is |arrivals| + |touched clusters|
    * nodes regardless of corpus size; the state update is one
    * label-remap join over the rows of merged clusters plus an
    * append. The state tables themselves are corpus-sized — at
    * production scale they live as the bucketed warehouse tables the
    * stream-static path already persists, updated per batch.
    *
    * Returns (result, newBands, newComp): result = (doc_id, cluster,
    * admitted) for every arrival — admitted iff the arrival's merged
    * cluster contains no previously-seen document and the arrival is
    * the cluster's min doc_id (so N same-batch clones admit EXACTLY
    * one); null-text arrivals have no shingles, stay singletons, and
    * are admitted — identical to the batch dedup semantics.
    */
  /** Size-gated connected components for CONTRACTED (batch-sized)
    * graphs: below `driverMaxEdges`, collect the edge list and run
    * driver union-find (min-id roots — identical labels to the
    * distributed fixpoint by construction); above it, the distributed
    * `connectedComponents`. The corpus-scale fixpoint must never run
    * on the driver (the standing invariant), but a micro-batch's
    * contracted graph is BATCH-sized, and the distributed fixpoint's
    * per-round job overhead (~0.7 s × rounds) dwarfs the collect —
    * measured 3.9 s → ~0.3 s on the sf0.1 admission batch. ONE job
    * decides the path: `limit(max+1).collect()` over the snapshotted
    * inputs both fetches the edges and proves they fit (the earlier
    * count-then-collect ran the self-join twice). At the default gate
    * the worst-case driver payload is ~1M two-long Rows — tens of MB,
    * bounded and batch-lifetime only.
    */
  def componentsAuto(pairs: DataFrame, driverMaxEdges: Int = 1000000): DataFrame = {
    val sp = pairs.sparkSession
    val edges = pairs.select(col("a"), col("b"))
    val rows = edges.limit(driverMaxEdges + 1).collect()
    if (rows.length <= driverMaxEdges) {
      val parent = LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      rows.foreach { e =>
        val rx = find(e.getLong(0)); val ry = find(e.getLong(1))
        if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
      val out = rows.iterator.flatMap(e => Iterator(e.getLong(0), e.getLong(1)))
        .toArray.distinct.map(x => (x, find(x)))
      import sp.implicits._
      out.toSeq.toDF("doc_id", "component")
    } else connectedComponents(pairs).select(col("doc_id"), col("component"))
  }

  /** The batch-sized DELTAS of one incremental-admission micro-batch
    * — the pieces a persisted (append-only) state layout writes:
    *
    *  - `result`        (doc_id, cluster, admitted) for every arrival
    *                    — admitted is FIRST-ARRIVAL-WINS: an arrival
    *                    is admitted iff its merged component contains
    *                    no previously-seen document (persisted corpus
    *                    OR any prior batch's arrival) and it is the
    *                    min doc_id among its same-batch co-members.
    *                    Under multi-batch delivery this intentionally
    *                    differs from the batch oracle's global-min
    *                    rule: the globally minimal id may arrive
    *                    AFTER a clone was already admitted, and an
    *                    admission cannot be retracted. (Pinned by
    *                    Round11Spec's multi-batch delivery test; the
    *                    shared-oracle harness `runIncrementalAdmit`
    *                    `require`s single-batch delivery, where the
    *                    two rules coincide.)
    *  - `arrivalBands`  (doc_id, band, sig) — APPEND to the band log;
    *  - `relabel`       (oldc, newc) — prior cluster labels merged
    *                    this batch, normalized within the batch (newc
    *                    is the merged component's final label, itself
    *                    a then-current label), so chains grow at most
    *                    one link per batch.
    *
    * Labels only ever decrease (newc < oldc = min over a superset),
    * so a retired label can never become current again and the
    * accumulated relabel log is a function oldc → newc.
    */
  def admitIncrementalCore(arrivals: DataFrame, stateBands: DataFrame,
                           stateComp: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // eager snapshot: the band table and the prior-collision list are
    // each referenced by several downstream consumers (edges, the
    // prior-component flag, the relabel map, the state append), and
    // every reference would otherwise re-run the shingle→minhash→band
    // pipeline — measured 18 s/batch at sf0.1 vs ~5 s snapshotted.
    // Both are arrival-sized, not corpus-sized.
    def snap(df: DataFrame): DataFrame = {
      val s = df.localCheckpoint(true)
      df.sparkSession.createDataFrame(s.rdd, s.schema)
    }
    val profile = sys.env.get("SPARK_GRAFT_ADMIT_PROFILE").contains("1")
    def timed[A](stage: String)(body: => A): A =
      if (!profile) body
      else {
        val t0 = System.nanoTime()
        val r = body
        System.err.println(
          f"[admit-core] $stage%-12s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        r
      }
    // dictionary-encoded shingle hashing (r15 admission profile): the
    // md5 per shingle OCCURRENCE was 70% of micro-batch latency, and
    // a duplicate-heavy stream — the admission tier's whole premise —
    // repeats the same shingles across its near-dup arrivals (the sf1
    // fixture: 740k occurrences, 4.5k distinct). Hash each DISTINCT
    // shingle once and map the hashes back over the occurrences; AQE
    // broadcasts the batch-sized dictionary. Same (h1, h2) per row,
    // so signatures — and the SQL oracle — are unchanged. Worst case
    // (all-unique shingles) trades one occurrence-sized exchange for
    // zero saved digests; measured 2.4x faster per batch at sf1.
    // spread the batch across cores FIRST: a micro-batch usually
    // arrives as one (or few) files, so without this the entire
    // shingle→md5→minhash map side runs in a SINGLE task — the r15
    // profile measured the chain at 13 s/batch (15k docs) at sf1 with
    // ZERO speedup from 4→8 cores until this repartition. The
    // partition count must be EXPLICIT: a bare repartition(col) is a
    // size-based exchange that AQE immediately coalesces back to one
    // partition (the batch is ~1 MB of doc text — tiny BEFORE the
    // 50× shingle explosion AQE cannot see). One exchange of raw
    // arrival rows; hash partitioning on doc_id is deterministic
    // under replay.
    // NOTE (r19, measured and reverted): widening this to the
    // context's defaultParallelism (32) made the bands-snap stage
    // ~0.15 s faster but the BATCH ~1 s slower end-to-end — the
    // extra partitions multiply block/exchange overhead through every
    // downstream 8-partition stage at micro-batch sizes. The session's
    // shuffle-partition count stays the right dial.
    val nPart = arrivals.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val arr = arrivals.repartition(nPart, col("doc_id"))
    if (profile) timed("chain-count")(lshBands(minhashSignaturesFromHashes(
      shingleHashes(shingles(arr, distinct = false)), k = 16)).count())
    val abands = timed("bands-snap")(snap(lshBands(minhashSignaturesFromHashes(
      shingleHashes(shingles(arr, distinct = false)), k = 16))))
    // arrival ↔ previously-seen collisions, contracted to the prior
    // doc's cluster label (a doc id — CC treats it as a plain node)
    val hitPrior = timed("prior-snap")(snap(abands
      .join(stateBands.select(col("band"), col("sig"), col("doc_id").as("pdoc")),
        Seq("band", "sig"))
      .select(col("doc_id").as("a"), col("pdoc")).distinct()
      .join(stateComp.select(col("doc_id").as("pdoc"), col("cluster").as("b")), Seq("pdoc"))
      .select(col("a"), col("b")).distinct()))
    // arrival ↔ arrival collisions within the batch — the case the
    // stream-static join could not see
    val hitSelf = abands.select(col("band"), col("sig"), col("doc_id").as("a"))
      .join(abands.select(col("band"), col("sig"), col("doc_id").as("b")), Seq("band", "sig"))
      .filter(col("a") < col("b")).select(col("a"), col("b")).distinct()
    val labels = timed("components")(componentsAuto(hitPrior.unionAll(hitSelf)))
    // components that absorbed a prior cluster: nothing in them is
    // admissible (their representative already exists)
    val priorComps = labels
      .join(hitPrior.select(col("b").as("doc_id")).distinct(), Seq("doc_id"))
      .select(col("component").as("cluster")).distinct()
      .withColumn("has_prior", lit(true))
    val result = arrivals.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"))
      .join(priorComps, Seq("cluster"), "left")
      .select(col("doc_id"), col("cluster"),
        (col("has_prior").isNull && col("doc_id") === col("cluster")).as("admitted"))
    // prior clusters merged this batch get relabeled to the merged
    // minimum; arrivals append with their new labels
    val relabel = labels
      .join(hitPrior.select(col("b").as("doc_id")).distinct(), Seq("doc_id"))
      .select(col("doc_id").as("oldc"), col("component").as("newc"))
      .filter(col("oldc") =!= col("newc"))
    (result, abands.select(col("doc_id"), col("band"), col("sig")), relabel)
  }

  /** One micro-batch against FULL in-memory state — the bounded-
    * stream harness shape (`runIncrementalAdmit`): the deltas of
    * `admitIncrementalCore` applied eagerly, returning the complete
    * new (bands, comps). The per-batch write volume here is O(|state|)
    * by construction; the production form with batch-sized writes is
    * the append-only layout in
    * [[graft.streaming.StreamingOps.runIncrementalAdmitPersisted]].
    */
  def admitIncrementalBatch(arrivals: DataFrame, stateBands: DataFrame,
                            stateComp: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (result, arrivalBands, relabel) =
      admitIncrementalCore(arrivals, stateBands, stateComp)
    val newComp = stateComp
      .join(relabel, col("cluster") === col("oldc"), "left")
      .select(col("doc_id"), coalesce(col("newc"), col("cluster")).as("cluster"))
      .unionAll(result.select(col("doc_id"), col("cluster")))
    val newBands = stateBands.unionAll(arrivalBands)
    (result, newBands, newComp)
  }

  /** Path-compress an (oldc, newc) relabel log with `maxChain` as the
    * longest possible chain (= batches since the log was last
    * compacted — each batch adds at most one link; see
    * admitIncrementalCore). Pointer-halving doubles the resolved
    * distance per round, so ⌈log₂ maxChain⌉ deterministic self-joins
    * of the MERGE-SIZED log suffice — no convergence-probe jobs, and
    * the corpus-sized tables are never touched.
    */
  def compressRelabel(log: DataFrame, maxChain: Int): DataFrame = {
    var m = log.select(col("oldc"), col("newc"))
    var span = 1
    while (span < math.max(1, maxChain)) {
      m = m.as("x")
        .join(m.select(col("oldc").as("o2"), col("newc").as("n2")),
          col("newc") === col("o2"), "left")
        .select(col("oldc"), coalesce(col("n2"), col("newc")).as("newc"))
      span *= 2
    }
    m
  }
}
