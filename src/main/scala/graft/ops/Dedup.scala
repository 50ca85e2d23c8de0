package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines, designed scale-first:
 *
 *  - exact:      one hash-aggregate shuffle on the fingerprint; map-side
 *                partial aggregation makes it bandwidth-bound, not skewed.
 *  - minhash:    shingle → K minhashes → band buckets → candidate pairs via
 *                a bucket equi-join. The band join is the standard LSH trick
 *                that avoids the O(n²) cross join; bucket sizes are bounded
 *                because identical-signature clusters are exactly the near-
 *                duplicate clusters we want.
 *  - simhash:    16-bit sign fingerprint via per-token hashes; near-dups =
 *                equal fingerprints (or small hamming distance via 2-probe).
 *  - n-gram jaccard: exact verification on candidate pairs only.
 *
 * All hashes are md5-derived so DuckDB computes the identical values —
 * every operator here is oracle-checkable.
 */
object Dedup {

  /** Ensure at least `defaultParallelism` partitions before the hash-heavy
   * shingle/minhash compute: a single-split input (tiny file, coalesced
   * upstream) would otherwise serialize k·|shingles| md5 calls onto one
   * task. No-op when the scan already provides enough splits — at 100 TB
   * the file splits give full parallelism and no shuffle is added. */
  def spread(docs: DataFrame): DataFrame = Par.spread(docs)

  /** Word 5-gram shingles (n configurable), SQL-parity construction.
   * A zero-word document yields the single degenerate shingle `""` (the
   * join of no words) — callers that feed CROSS-document matching must use
   * [[contentShingles]] instead, which drops it. */
  def shingles(text: Column, n: Int = 5): Column =
    // codegen'd kernel ([[graft.functions.Shingles]]): the HOF form below
    // is CodegenFallback — an interpreted tree walk and several
    // allocations per WINDOW on every minhash/LSH/Jaccard/decontam map
    // side. Bit-identical (differential-pinned by ShingleKernelSpec
    // against [[shinglesHof]]).
    graft.functions.Shingles.of(text, n)

  /** The original Catalyst HOF form of [[shingles]] — the differential-test
   * twin (ShingleKernelSpec); not on any query path. */
  private[graft] def shinglesHof(text: Column, n: Int = 5): Column =
    // Cols.bound: the slice lambda would otherwise re-run the tokenizing
    // split per WINDOW — O(words·len) per row, ×9 in the Gopher
    // repetition suite which calls this for n=2..10
    Cols.bound(TextStats.words(text)) { ws =>
      when(size(ws) < n, array(array_join(ws, " ")))
        .otherwise(transform(sequence(lit(0), size(ws) - n),
          i => array_join(slice(ws, i + 1, lit(n)), " ")))
    }

  /** Distinct shingles with the zero-word degenerate removed, never null.
   * This is the candidacy contract for every cross-document n-gram match
   * (minhash/LSH, Jaccard verification, benchmark decontamination): a
   * document with no words has NO n-gram content, so it must not match
   * anything. Feeding the `""` shingle through instead would glue every
   * empty/whitespace/null document on a 100 TB corpus into one mega-bucket
   * (quadratic candidate blowup + a false all-empty duplicate cluster);
   * identical-text documents are exact-dedup's job ([[exact]]), not LSH's.
   * A ≥1-word document never produces an empty shingle, so the removal is
   * exactly the zero-word guard. */
  def contentShingles(text: Column, n: Int = 5): Column =
    coalesce(array_remove(array_distinct(shingles(text, n)), ""),
      array().cast("array<string>"))

  /** Exact dedup verdict per document: keeper = min id per fingerprint. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp = TextStats.fingerprint(col(textCol))
    val w = Window.partitionBy("fp")
    docs.withColumn("fp", fp)
      .withColumn("keeper_id", min(col(idCol)).over(w))
      .withColumn("dup_count", count(lit(1)).over(w))
      .withColumn("is_dup", col(idCol) =!= col("keeper_id"))
      .select(col(idCol), col("fp"), col("keeper_id"),
        col("dup_count"), col("is_dup"))
  }

  /** Long-format minhash signatures: (id, seed, minhash) for seed<k.
   * minhash(seed) = min over distinct shingles of md5(seed:shingle). */
  def minhashSignatures(docs: DataFrame, k: Int = 16, n: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // clusterSmall (keyed repartition ONLY on a sub-parallelism input): the
    // shingle explode's downstream groupBy(id) aggregation then reuses the
    // pinned exchange, so the heavy map work keeps session parallelism
    // instead of AQE-coalescing to one task. At scale the bare frame is
    // kept: partial aggregation collapses each doc map-side and the
    // planner's post-agg exchange ships (id, seed, min-md5) partials —
    // far fewer bytes than a pre-explode repartition of the full text
    val sh = Par.clusterSmall(docs, idCol)
      .select(col(idCol), explode(contentShingles(col(textCol), n)).as("shingle"))
    val seeds = docs.sparkSession.range(k).select(col("id").cast("int").as("seed"))
    sh.crossJoin(broadcast(seeds))
      .groupBy(col(idCol), col("seed"))
      .agg(min(md5(concat(col("seed"), lit(":"), col("shingle")))).as("minhash"))
  }

  /** Wide minhash signatures: one row per doc with columns m0..m{k-1} —
   * ONE hash-agg shuffle at document grain (the long/seed-exploded form
   * shuffles k× the rows; at 100 TB that k× matters). Values are identical
   * to [[minhashSignatures]]. */
  def minhashWide(docs: DataFrame, k: Int = 16, n: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // clusterSmall, not clusterBy: see [[minhashSignatures]] — locally the
    // groupBy(id) reuses the pinned exchange; at scale the bare frame wins
    // (the post-agg exchange ships one (id, m0..m15) row per doc, not text)
    val sh = Par.clusterSmall(docs, idCol)
      .select(col(idCol), explode(contentShingles(col(textCol), n)).as("shingle"))
    val aggs = (0 until k).map(s =>
      min(md5(concat(lit(s), lit(":"), col("shingle")))).as(s"m$s"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band buckets from the wide signature frame: rows (id, band,
   * bucket), bands = k/rowsPerBand — join on (band, bucket) for candidate
   * pairs. A band's bucket is the md5 of its sorted `seed@minhash` strings,
   * built per row by a shuffle-free explode (no groupBy). */
  def lshBucketsFromWide(wide: DataFrame, k: Int, rowsPerBand: Int = 4,
      idCol: String = "doc_id"): DataFrame = {
    val bands = (0 until k by rowsPerBand).zipWithIndex.map { case (s0, b) =>
      val parts = (s0 until math.min(s0 + rowsPerBand, k)).map(s =>
        concat_ws("@", lit(s), col(s"m$s")))
      struct(lit(b).as("band"),
        md5(array_join(array_sort(array(parts: _*)), "|")).as("bucket"))
    }
    wide.select(col(idCol), explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Candidate near-dup pairs from LSH buckets (a < b), via the bucket
   * all-pairs self-join. This emits d(d-1)/2 rows for a d-duplicate bucket,
   * which is QUADRATIC in cluster size — use it only where the pairs
   * themselves are needed (Jaccard verification), never to feed
   * [[components]] (use [[minhashStarEdges]] there: same connectivity,
   * O(d) edges). `maxBucket` caps the blowup: buckets larger than it are
   * dropped from verification — at that size the docs are near-certain
   * duplicates and cluster resolution handles them via star edges. */
  def minhashCandidates(docs: DataFrame, k: Int = 16, n: Int = 5, rowsPerBand: Int = 4,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Int = 1000): DataFrame = {
    // barrier: three consumers (size agg, both self-join sides) would each
    // recompute the shingle→minhash subtree after column pruning; the plan
    // barrier pins ONE slim (id, band, bucket) frame whose upstream shuffle
    // they all reuse as skipped stages
    val bkts = graft.extract.Chunked.barrier(
      lshBucketsFromWide(minhashWide(docs, k, n, idCol, textCol), k, rowsPerBand, idCol))
    // cap via anti-join against the OVERSIZED buckets only: the partial
    // agg ships bucket counts (not rows) and the oversized frame is tiny
    // (broadcast anti-join under AQE), so the bucket frame itself never
    // shuffles/sorts for the cap — cheaper than a count-over-window,
    // which would shuffle AND sort the full exploded frame
    val oversized = bkts.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz")).where(col("bsz") > maxBucket)
      .select("band", "bucket")
    val b = bkts.join(broadcast(oversized), Seq("band", "bucket"), "left_anti")
    val l = b.select(col(idCol).as("a"), col("band"), col("bucket"))
    val r = b.select(col(idCol).as("b"), col("band"), col("bucket"))
    l.join(r, Seq("band", "bucket")).where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Star edges per LSH bucket: (a = min id in bucket, b = every other id).
   * A d-duplicate bucket emits d-1 edges instead of the all-pairs d(d-1)/2,
   * and connected components over star edges equal components over all
   * pairs (every bucket member is linked to the bucket minimum, so the
   * bucket stays one component). This is THE candidate generator for
   * cluster resolution at scale: a boilerplate document duplicated 10^6
   * times costs 10^6 edges, not 5·10^11. */
  def starEdges(buckets: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy("band", "bucket")
    buckets.withColumn("a", min(col(idCol)).over(w))
      .where(col(idCol) =!= col("a"))
      .select(col("a"), col(idCol).as("b"))
      .distinct()
  }

  /** MinHash-LSH candidate edges in star form — the scale path feeding
   * [[components]]/[[keepCanonical]]: linear in duplicate-cluster size. */
  def minhashStarEdges(docs: DataFrame, k: Int = 16, n: Int = 5, rowsPerBand: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    starEdges(
      lshBucketsFromWide(minhashWide(docs, k, n, idCol, textCol), k, rowsPerBand, idCol),
      idCol)

  /**
   * Jaccard-VERIFIED duplicate edges — the precision-safe feed for
   * [[components]]/[[keepCanonical]]: raw LSH candidates are probabilistic,
   * and an unverified false-positive collision silently merges two
   * non-duplicate documents (dropping one from the corpus). Two regimes,
   * split on bucket size:
   *
   *  - buckets ≤ `maxBucket`: all-pairs candidates, each pair verified with
   *    exact n-gram Jaccard ≥ `tau`. Full connectivity among true
   *    duplicates is preserved (a false hub cannot disconnect two true
   *    dups, since their direct pair is verified independently).
   *  - buckets > `maxBucket`: star edges, unverified. A bucket only grows
   *    past the cap when thousands of documents share ALL band minhashes —
   *    at that size they are near-certain duplicates, and the O(d) star
   *    form is the only shape that survives 10^6-dup boilerplate clusters.
   */
  def verifiedEdges(docs: DataFrame, k: Int = 16, n: Int = 5, rowsPerBand: Int = 4,
      tau: Double = 0.5, maxBucket: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val buckets =
      lshBucketsFromWide(minhashWide(docs, k, n, idCol, textCol), k, rowsPerBand, idCol)
        .withColumn("bsz", count(lit(1)).over(Window.partitionBy("band", "bucket")))
    val small = buckets.where(col("bsz") <= maxBucket)
    val l = small.select(col(idCol).as("a"), col("band"), col("bucket"))
    val r = small.select(col(idCol).as("b"), col("band"), col("bucket"))
    val candidates = l.join(r, Seq("band", "bucket")).where(col("a") < col("b"))
      .select("a", "b").distinct()
    val verified = jaccard(docs, candidates, n, idCol, textCol)
      .where(col("jaccard") >= tau)
      .select("a", "b")
    val bigStars = starEdges(buckets.where(col("bsz") > maxBucket), idCol)
    verified.union(bigStars).distinct()
  }

  /**
   * Connected components over candidate duplicate pairs — resolves pairwise
   * LSH candidates into duplicate CLUSTERS (cluster id = min doc id in the
   * component) so one canonical document per group survives. Distributed
   * min-label propagation: each round is one shuffle (groupBy neighbor);
   * rounds needed = O(component diameter), which for dedup graphs is tiny
   * (near-cliques). Lineage is truncated per round (`localCheckpoint`) so
   * the iterative plan does not grow; convergence is detected with an
   * aggregate, never a collect. At 10^12-doc scale swap the loop body for
   * alternating large-star/small-star — same per-round shape.
   */
  def components(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
      maxIter: Int = 20, localEdgeCap: Int = 1 << 16): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().cache()
    // Driver fast path (the broadcast-join-threshold idea applied to
    // cluster resolution): a SMALL edge set resolves by union-find in one
    // collect instead of ~5 jobs per label-propagation round. `limit(cap+1)
    // .collect` bounds driver memory the way a broadcast threshold does —
    // when the graph exceeds the cap the distributed loop below runs
    // unchanged. Labels are identical by construction: both compute
    // cluster_id = min id of the connected component, with "min" for
    // strings replicated as Spark's unsigned UTF-8 byte ordering.
    val idType = edges.schema.head.dataType
    val localizable = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType ||
      idType == org.apache.spark.sql.types.StringType
    if (localizable) {
      val probe = edges.limit(localEdgeCap + 1).collect()
      // null ids (possible only in hand-built pairs) fall through to the
      // distributed loop, which tolerates them, instead of crashing in lt()
      if (probe.length <= localEdgeCap &&
          !probe.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
        edges.unpersist(blocking = false)
        def lt(x: Any, y: Any): Boolean = (x, y) match {
          case (a: Long, b: Long) => a < b
          case (a: Int, b: Int) => a < b
          case (a: String, b: String) =>
            // Spark's StringType ordering: unsigned byte-wise UTF-8
            val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val n = math.min(ab.length, bb.length)
            var i = 0
            while (i < n) {
              val c = (ab(i) & 0xff) - (bb(i) & 0xff)
              if (c != 0) return c < 0
              i += 1
            }
            ab.length < bb.length
          case _ => throw new IllegalStateException("unreachable")
        }
        val parent = scala.collection.mutable.HashMap.empty[Any, Any]
        def find(x: Any): Any = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        probe.foreach { r =>
          val (s, d) = (r.get(0), r.get(1))
          parent.getOrElseUpdate(s, s); parent.getOrElseUpdate(d, d)
          val (rs, rd) = (find(s), find(d))
          if (rs != rd) { if (lt(rs, rd)) parent(rd) = rs else parent(rs) = rd }
        }
        val spark = pairs.sparkSession
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("cluster_id", idType)))
        val rows = parent.keys.toSeq
          .map(id => org.apache.spark.sql.Row(id, find(id)))
        return spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      }
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id")).localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neigh = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min("cluster_id").as("nlabel"))
      val stepped = labels.join(neigh, labels("id") === neigh("src"), "left")
        .select(col("id"), col("cluster_id"),
          least(col("cluster_id"), coalesce(col("nlabel"), col("cluster_id")))
            .as("mid"))
      // pointer jumping: label := label(label) — chain depth HALVES per
      // round, so maxIter=20 covers diameters ~10^6 (bucket-chained
      // near-dup drift, where star edges bound diameter only per bucket),
      // not 20. Labels only decrease, so least() keeps monotonicity.
      val ptrs = stepped.select(col("id").as("pid"), col("mid").as("pmid"))
      // convergence rides the SAME job as the checkpoint via observe():
      // the former `updated.where(...).isEmpty` probe was one extra job
      // per round — pure scheduling overhead at any scale
      val obs = org.apache.spark.sql.Observation()
      val updated = stepped.join(ptrs, stepped("mid") === ptrs("pid"), "left")
        .select(col("id"), col("cluster_id"),
          least(col("mid"), coalesce(col("pmid"), col("mid"))).as("next_label"))
        .observe(obs, sum(when(col("next_label") < col("cluster_id"), 1L)
          .otherwise(0L)).as("n_changed"))
        .localCheckpoint()
      converged = obs.get("n_changed").asInstanceOf[Long] == 0L
      labels = updated.select(col("id"), col("next_label").as("cluster_id"))
      i += 1
    }
    edges.unpersist()
    // Exiting via maxIter would silently return partially-merged clusters
    // (splitting a duplicate group) that diverge from the exact oracle —
    // fail loudly. With pointer jumping this needs diameter > ~2^maxIter.
    require(converged,
      s"components() did not converge after $maxIter rounds - component " +
        s"diameter exceeds ~2^$maxIter; raise maxIter")
    labels
  }

  /** Keep one canonical document per duplicate cluster: drop every doc that
   * is in a cluster but is not its minimum-id representative. */
  def keepCanonical(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val dupes = components(pairs).where(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    docs.join(dupes, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard similarity for given (a,b) id pairs.
   *
   * Contract note: ids follow the [[contentShingles]] candidacy rule — a
   * zero-word (empty/whitespace/NULL) document has no shingle rows and
   * therefore no `counts` row, so a requested pair touching one is
   * DROPPED from the output (inner joins), not returned as jaccard 0.0.
   * LSH candidate generators never emit such pairs (no candidacy ⇒ no
   * bucket), so the composed paths are unaffected; callers passing
   * hand-built pairs must not rely on a row for no-content ids. */
  def jaccard(docs: DataFrame, pairs: DataFrame, n: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // clusterSmall, not clusterBy: see [[minhashSignatures]] — locally the
    // counts groupBy(id) reuses the pinned exchange and the explode map
    // work keeps session parallelism; at scale the bare frame wins (the
    // intersection joins below re-shuffle by their own keys either way, so
    // a pinned pre-explode text repartition would be pure extra bytes)
    val sh = Par.clusterSmall(docs, idCol)
      .select(col(idCol), explode(contentShingles(col(textCol), n)).as("shingle"))
    val counts = sh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    // intersection via an equi-join on (b, shingle): linear in shingle count
    // — joining on b alone and filtering s_a === s_b afterwards would blow
    // up to |sh(a)|·|sh(b)| rows per pair before the filter
    val common = pairs
      .join(sh.withColumnRenamed(idCol, "a"), Seq("a"))
      .join(sh.withColumnRenamed(idCol, "b"), Seq("b", "shingle"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
    common
      .join(counts.withColumnRenamed(idCol, "a").withColumnRenamed("n_sh", "n_a"), Seq("a"))
      .join(counts.withColumnRenamed(idCol, "b").withColumnRenamed("n_sh", "n_b"), Seq("b"))
      .withColumn("jaccard",
        // exact-integer 4dp (Cols.ratio4dp): round(p/q, 4) over doubles is
        // engine-dependent at ten-thousandth-half rationals, and small
        // shingle-set unions hit them (e.g. |∩|=3, |∪|=160 → 0.01875).
        // LocalMinHash.jaccard mirrors this kernel bit-for-bit.
        Cols.ratio4dp(col("n_common"),
          col("n_a") + col("n_b") - col("n_common")))
      .select("a", "b", "n_common", "jaccard")
  }

  /** 16-bit SimHash from per-token md5 hashes (frequency-weighted). */
  def simhash16(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // clusterSmall, not clusterBy: see [[minhashSignatures]] — the bit-sum
    // groupBy(id) collapses each doc map-side at scale
    val toks = Par.clusterSmall(docs, idCol).select(col(idCol),
      explode(TextStats.words(col(textCol))).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("int"))
    val bitCols = (0 until 16).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val agg = toks.groupBy(idCol).agg(bitCols.head, bitCols.tail: _*)
    val sim = (0 until 16).map { i =>
      when(col(s"b$i") >= 0, 1 << i).otherwise(0)
    }.reduce(_ + _)
    agg.select(col(idCol), sim.cast("int").as("simhash"))
  }

  /**
   * Incremental exact dedup: the rows of `batch` whose fingerprint does
   * NOT already appear in `corpus` — the new-crawl-vs-frozen-corpus gate
   * every continuously-fed training pipeline runs. Result is identical to
   * a plain anti-join on [[TextStats.fingerprint]]; the plan is not:
   *
   *  1. ONE aggregate over the corpus builds a Catalyst
   *     `BloomFilterAggregate` over xxhash64(fingerprint) — map-side
   *     partial blooms OR-merge, so the corpus never shuffles rows, only
   *     `numBits/8`-byte buffers. The finished filter (a bounded,
   *     model-sized value like the ZoneModel/BPE artifacts) comes to the
   *     driver once and re-enters the batch scan as a literal — a
   *     codegen'd `BloomFilterMightContain` predicate, no UDF.
   *  2. Bloom-NEGATIVE batch rows are definitely new (a Bloom filter has
   *     no false negatives): kept with NO join, NO shuffle.
   *  3. Bloom-POSITIVE rows (true dups + ~fpp false positives) anti-join
   *     the corpus fingerprints — the only shuffle, sized by duplicate
   *     mass, not corpus size.
   *
   * At 100 TB: a daily batch against a frozen corpus moves megabytes of
   * bloom + the duplicate mass instead of re-shuffling the corpus.
   * `expectedItems` sizes the filter (bits ≈ 1.44·items·log2(1/fpp)):
   * ~90 MB at 10⁸ corpus docs, ~900 MB at 10⁹ — the practical ceiling for
   * a driver-collected broadcast literal. Past that, shard BOTH sides by a
   * fingerprint prefix and run this per shard (the filter shrinks with the
   * shard), or accept the plain anti-join.
   */
  /** Chosen LSH banding: `threshold` is the Jaccard similarity at which a
   * pair has ~50% candidate probability ((1/bands)^(1/rowsPerBand));
   * `pAtTau` the candidate probability 1-(1-τ^r)^b at the requested τ. */
  final case class LshPlan(rowsPerBand: Int, bands: Int,
      threshold: Double, pAtTau: Double)

  /**
   * Pick the MinHash-LSH banding for `k` permutations targeting Jaccard
   * threshold `tau`: among divisors r of k, minimize |(1/b)^(1/r) − τ|
   * (ties → smaller r = higher recall). The S-curve P(candidate | s) =
   * 1−(1−s^r)^b steepens around the returned threshold — the standard MMDS
   * §3.4 analysis; callers feed `rowsPerBand` to [[verifiedEdges]] /
   * [[minhashCandidates]] instead of guessing. Driver-side pure math.
   */
  def lshPlan(k: Int, tau: Double): LshPlan = {
    require(k > 0 && tau > 0 && tau < 1, "need k > 0 and 0 < tau < 1")
    val best = (1 to k).filter(k % _ == 0).map { r =>
      val b = k / r
      val thr = math.pow(1.0 / b, 1.0 / r)
      (math.abs(thr - tau), r, b, thr)
    }.minBy(t => (t._1, t._2))
    LshPlan(best._2, best._3, best._4,
      1.0 - math.pow(1.0 - math.pow(tau, best._2), best._3))
  }

  def incrementalExact(batch: DataFrame, corpus: DataFrame,
      expectedItems: Long, fpp: Double = 0.03,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.bridge
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.util.sketch.BloomFilter
    require(expectedItems > 0, "expectedItems must be positive")

    val fp = TextStats.fingerprint(col(textCol))
    val numBits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val bloomAgg = bridge.column(new BloomFilterAggregate(
      UnresolvedAttribute("_xh"),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bloomBytes = corpus.select(xxhash64(fp).as("_xh"))
      .agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)

    // empty corpus → the aggregate evals to null → nothing can be a dup
    val maybe = if (bloomBytes == null) lit(false)
    else bridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType), UnresolvedAttribute("_xh")))
    val flagged = batch
      .withColumn("_fp", fp).withColumn("_xh", xxhash64(col("_fp")))
      .withColumn("_maybe", maybe)
    val corpusFps = corpus.select(fp.as("_fp")).distinct()
    flagged.where(!col("_maybe"))
      .unionByName(flagged.where(col("_maybe"))
        .join(corpusFps, Seq("_fp"), "left_anti"))
      .drop("_fp", "_xh", "_maybe")
  }
}
