package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashOps
import graft.text.{Shingles, TextFunctions}

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. All distributed-first:
  * signatures are per-row expressions (codegen, no shuffle); candidate
  * generation shuffles only (id, bucket-key) pairs — never full
  * documents; verification joins are equi-joins on ids. At 100 TB the
  * only wide data movement is the final per-candidate-pair shingle
  * fetch, which is proportional to the (tiny) candidate set, not the
  * corpus.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: keep the lowest-id row per normalized-content
    * fingerprint, as a `min_by` hash aggregate — one shuffle on the
    * 64-bit fingerprint, no sort, partial (map-side) reduction. The
    * window formulation (`row_number over partitionBy(fp) = 1`) was
    * measured 3× slower here: fingerprints are near-unique, so every
    * group is a singleton and a sort buys nothing (this is also the
    * cardinality regime where the row_number→top-k rewrite rule is
    * counterproductive — see RowNumberTopKRewrite's scaladoc).
    * Fingerprint collisions (~2^-64) conflate documents; callers
    * needing cryptographic certainty can partition by the text itself.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("__fp"))
      .agg(min_by(payload, col(idCol)).as("__row"))
      .select(col("__row.*"))
  }

  // -------------------------------------------------------------- minhash

  /** 31-bit prime universal-hash modulus (shared with the native
    * expression twin, graft.functions.HashOps).
    */
  private val P: Long = HashOps.P

  /** True when graft's native codegen'd hash expressions are registered
    * in the active session
    * (spark.sql.extensions=graft.functions.GraftExtensions).
    */
  private def nativeFns: Boolean = graft.functions.GraftNative.enabled

  /** MinHash signature (array<long>, length numHashes) of a token
    * array's k-shingle set. Shingle → xxhash64 → 31-bit reduce → per-j
    * universal hash (a_j·h + b_j mod P) → min. Pure per-row expression.
    * Prefers the native codegen'd expression (graft.functions
    * .ShingleMinHash — a tight compiled loop) and falls back to the
    * portable HOF form; DedupSpec asserts the two agree bit-for-bit.
    */
  def minhashSignature(tokens: Column, k: Int = 3, numHashes: Int = 64): Column =
    if (nativeFns) call_function("graft_minhash", tokens, lit(k), lit(numHashes))
    else minhashSignatureHof(tokens, k, numHashes)

  /** Portable HOF MinHash form.
    *
    * Computed as ONE `aggregate` pass over the shingle hashes folding a
    * numHashes-wide accumulator (`least` per lane against a literal
    * (a,b)-parameter array). The naive alternative — numHashes separate
    * `array_min(transform(hashes, ...))` columns — references the
    * hash-array expression numHashes times, and interpreted HOF
    * evaluation recomputes it each time (no subexpression reuse off the
    * codegen path): 64× the tokenize+shingle+hash work per row.
    * Empty docs keep the all-P sentinel accumulator.
    */
  def minhashSignatureHof(tokens: Column, k: Int = 3, numHashes: Int = 64): Column = {
    val params = array((0 until numHashes).map { j =>
      val (a, b) = HashOps.hashParams(j)
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    val hashes = transform(Shingles.shingles(tokens, k),
      s => pmod(xxhash64(s), lit(P)))
    aggregate(
      hashes,
      array_repeat(lit(P), numHashes),
      (acc, h) => zip_with(acc, params,
        (accJ, p) => least(accJ, pmod(h * p.getField("a") + p.getField("b"), lit(P)))))
  }

  /** LSH band keys for a signature: `bands` hashes, each over
    * `numHashes / bands` contiguous signature entries. Docs sharing ANY
    * band key are candidates.
    */
  def bandKeys(sig: Column, bands: Int, numHashes: Int): Column = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val r = numHashes / bands
    array((0 until bands).map(i =>
      struct(lit(i).as("band"), hash(slice(sig, i * r + 1, r), lit(i)).as("bucket"))): _*)
  }

  /** MinHash-LSH candidate pairs with exact-Jaccard verification:
    * returns (id_a, id_b, jaccard) for candidates with
    * jaccard >= threshold, id_a < id_b.
    *
    * Physical plan: per-row signatures → explode band keys (bands ×
    * (id, int, int) rows — thin) → self-equi-join on (band, bucket) →
    * distinct pairs → join shingle sets back by id (the only wide rows,
    * proportional to candidates) → exact Jaccard filter.
    * `maxBucket` drops degenerate buckets (e.g. boilerplate shared by
    * millions of docs) whose pair-expansion would be quadratic; the
    * number of buckets the cap dropped is recorded per run as
    * `minhash.dropped_buckets` in [[graft.util.CapCounters]]
    * (WARN-logged when non-zero) — callers at scale should check it
    * before trusting the output as deduplicated, and inspect the
    * bucket histogram when it fires.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, numHashes: Int = 64, bands: Int = 16,
                        threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    import graft.util.PhaseTimer.time
    // ONE tokenize pass for signatures AND verify shingles (the round-21
    // curate lesson applied here): __toks materializes in its own
    // projection (CollapseProject keeps multi-use non-cheap arrays), the
    // signature and the hashed shingle set both read the attribute, and
    // the checkpointed (id, sig, sh, n_sh) frame feeds every later stage
    // — the old shape re-ran the regex split + shingle assembly in two
    // separate plan branches (bands, verify) per row. n_sh rides along
    // for the size-bound prefilter below.
    val base = time("minhash.base") {
      graft.util.Scratch.transientCheckpoint(
        spreadThin(df, idCol, textCol)
          .withColumn("__toks", TextFunctions.tokens(col(textCol)))
          .select(col(idCol).as("id"),
            minhashSignature(col("__toks"), k, numHashes).as("sig"),
            transform(Shingles.shingles(col("__toks"), k),
              s => xxhash64(s)).as("sh"))
          .withColumn("n_sh", size(col("sh")))
          .localCheckpoint())
    }
    val exploded = base
      .select(col("id"), col("n_sh"),
        explode(bandKeys(col("sig"), bands, numHashes)).as("bk"))
      .select(col("id"), col("n_sh"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))

    // guard: cap bucket size before the quadratic self-join. The
    // histogram (one thin row per shared (band, bucket)) is eagerly
    // materialized, and the dropped-bucket diagnostic is observed in
    // that same job — no signature recompute, no second action.
    val hist = graft.util.Scratch.transientCheckpoint(
      graft.util.CapCounters.checkpointCounting("minhash.dropped_buckets",
        exploded.groupBy("band", "bucket")
          .agg(count(lit(1)).as("n"))
          .filter(col("n") > 1),
        col("n") > maxBucket))
    val bucketCounts = hist.filter(col("n") <= maxBucket)
    val bounded = exploded.join(bucketCounts, Seq("band", "bucket"), "left_semi")

    // SIZE-BOUND pre-filter in the candidate join (the containment
    // round-21 trick, §3.2 shape): Jaccard |a∩b|/|a∪b| is bounded above
    // by min(|a|,|b|)/max(|a|,|b|), so a pair whose set sizes are too
    // far apart CANNOT reach the threshold — it dies here instead of
    // surviving the distinct and paying the fat-array verify join. The
    // bound mirrors the exact score's when/round shape exactly (the
    // empty-set arm included), so round monotonicity guarantees zero
    // false drops: actual ≤ bound ⇒ round(actual) ≤ round(bound).
    val pairs = bounded.as("l")
      .join(bounded.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id") &&
          (when(greatest(col("l.n_sh"), col("r.n_sh")) === 0, lit(0.0))
            .otherwise(round(
              least(col("l.n_sh"), col("r.n_sh")).cast("double") /
                greatest(col("l.n_sh"), col("r.n_sh")), 6))
            >= threshold))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()

    // verify on xxhash64'd shingles (the containmentPairs / SpanDedup
    // pattern): the only wide rows of the plan move 8-byte longs, not
    // space-joined token strings; Jaccard on the hashed sets equals
    // Jaccard on the string sets absent a 2^-64 collision, which the
    // string-side DuckDB oracle (q_minhash_pairs) certifies per corpus.
    // The arrays come off the checkpointed base — no recompute.
    val shingleSets = base.select(col("id"), col("sh"))
    graft.util.StagePlans.dump(
      "minhash.verify (size-bound prefilter + checkpointed base)",
      pairs
        .join(shingleSets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(shingleSets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 6))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"))
  }

  /** Round-robin repartition of just (id, text) to the session's
    * shuffle parallelism — compute-bound signature stages must not
    * inherit the scan's few-fat-files partitioning.
    */
  private def spreadThin(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.select(col(idCol), col(textCol)).repartition(parts)
  }

  // --------------------------------------- incremental (cross-corpus)

  /** Thin persistable MinHash-LSH band table `(id, band, bucket)` of a
    * corpus — the state an incremental pipeline stores next to its kept
    * corpus so daily batches dedup against it WITHOUT recomputing
    * corpus signatures (the batch analogue of the reference's
    * incremental CDC merge, /root/reference/lib/ingestors.py:117-129).
    * bands × |corpus| rows of three small integers; at scale, persist
    * it bucketed by (band, bucket) so the batch join prunes.
    */
  def minhashBandTable(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    spreadThin(df, idCol, textCol)
      .select(col(idCol).as("id"),
        explode(bandKeys(minhashSignature(toks, k, numHashes), bands, numHashes)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
  }

  /** Incremental EXACT dedup: batch rows whose content fingerprint
    * already appears in the kept corpus are dropped, and within the
    * batch itself the lowest-id row per fingerprint survives. The
    * corpus side moves only DISTINCT 64-bit fingerprints through the
    * anti-join — never documents — so a daily batch costs
    * O(|batch| + |corpus fingerprints|), not a corpus recompute.
    * Equals `exactDedup(kept ∪ batch)` restricted to the batch when
    * kept is already deduplicated and batch ids sort after kept ids
    * (DedupSpec proves the equivalence).
    */
  def exactDedupAgainst(batch: DataFrame, kept: DataFrame,
                        textCol: String, idCol: String): DataFrame = {
    val keptFps = kept
      .select(TextFunctions.fingerprint(col(textCol)).as("__fp")).distinct()
    val payload = struct(batch.columns.toIndexedSeq.map(col): _*)
    batch.withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
      .join(keptFps, Seq("__fp"), "left_anti")
      .groupBy(col("__fp"))
      .agg(min_by(payload, col(idCol)).as("__row"))
      .select(col("__row.*"))
  }

  /** Incremental NEAR-dup detection: the batch's band keys equi-join
    * the kept corpus's persisted band table ([[minhashBandTable]]),
    * and candidates are verified with exact Jaccard against the kept
    * documents. Returns `(batch_id, kept_id, jaccard)` with
    * jaccard >= threshold. Only the batch computes signatures; the
    * corpus contributes thin persisted band rows, and document text is
    * fetched by id for the verified candidate set only. The bucket cap
    * counts BOTH sides — a boilerplate bucket is degenerate whether its
    * members are old or new.
    */
  def minhashCandidatesAgainst(batch: DataFrame, kept: DataFrame,
                               keptBands: DataFrame,
                               idCol: String, textCol: String,
                               k: Int = 3, numHashes: Int = 64, bands: Int = 16,
                               threshold: Double = 0.7,
                               maxBucket: Int = 1000): DataFrame = {
    // the batch band rows feed both the width count and the candidate
    // join; Spark's exchange reuse dedups the repeated subtree at
    // runtime (measured r21: an explicit localCheckpoint bought
    // nothing; re-measured r22: a checkpointed batch base cost MORE
    // per micro-batch than the saved tokenize pass)
    val batchBands = minhashBandTable(batch, idCol, textCol, k, numHashes, bands)
    // shared-bucket histogram materialized (thin, aggregated) with the
    // dropped-cap diagnostic observed in the same job, not a batch
    // re-hash; singleton buckets filter out (a one-member bucket cannot
    // produce a batch×kept pair) — recorded per run/per micro-batch like
    // every recall cap (graft.util.CapCounters, last-run-wins)
    val widths = graft.util.Scratch.transientCheckpoint(
      graft.util.CapCounters.checkpointCounting("minhash_against.dropped_buckets",
        batchBands.select("band", "bucket")
          .union(keptBands.select("band", "bucket"))
          .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1),
        col("n") > maxBucket))
      .filter(col("n") <= maxBucket)
    val bb = batchBands.join(widths, Seq("band", "bucket"), "left_semi")
    val kb = keptBands.join(widths, Seq("band", "bucket"), "left_semi")
    val cands = bb.as("l").join(kb.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
      .select(col("l.id").as("batch_id"), col("r.id").as("kept_id"))
      .distinct()
    // hashed-shingle verify — same width cut (and same 2^-64 caveat)
    // as minhashCandidates; the incremental gates' oracles stay on
    // string shingles and certify the equivalence. A candidate-pruned
    // kept side (semi-join on candidate ids before the shingle
    // projection) was BUILT AND MEASURED in r22 — checkpointed and
    // lazy variants both — and did not pay at any demonstrable scale
    // (DevDedupScale, up to 300k kept docs: the candidate band join
    // dominates; the prune's extra distinct/semi-join/repartition
    // stages cancel the saved shingle pass, and the per-micro-batch
    // barrier variant measured strictly slower). Deliberately kept in
    // the r21 shape.
    val batchSh = spreadThin(batch, idCol, textCol).select(
      col(idCol).as("batch_id"),
      transform(Shingles.shingles(TextFunctions.tokens(col(textCol)), k),
        s => xxhash64(s)).as("__sh_b"))
    val keptSh = spreadThin(kept, idCol, textCol).select(
      col(idCol).as("kept_id"),
      transform(Shingles.shingles(TextFunctions.tokens(col(textCol)), k),
        s => xxhash64(s)).as("__sh_k"))
    cands.join(batchSh, "batch_id").join(keptSh, "kept_id")
      .withColumn("jaccard", round(jaccard(col("__sh_b"), col("__sh_k")), 6))
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "kept_id", "jaccard")
  }

  /** Incremental dedup of a new batch against the kept corpus: exact
    * fingerprints first (cheap, catches verbatim re-crawls), then
    * near-dups against the persisted band table. Returns the batch rows
    * that survive both. Batch-INTERNAL near-dups are deliberately left
    * to the corpus-wide pass ([[minhashCandidates]] + [[dupGroups]]) —
    * resolving them needs group semantics, not an anti-join.
    */
  def dedupAgainst(batch: DataFrame, kept: DataFrame, keptBands: DataFrame,
                   idCol: String, textCol: String,
                   k: Int = 3, numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    // materialize the exact survivors ONCE (eager): they feed three
    // branches (band keys, verification shingles, the final anti-join
    // left side), and exchange reuse only dedups the shuffle write —
    // each consumer would re-run the post-shuffle min_by aggregation.
    // Measured 2× on the full near-dedup composition at sf0.1.
    // transient: the checkpoint feeds the returned lazy plan, so it
    // lives as long as that plan
    val exact = graft.util.Scratch.transientCheckpoint(
      exactDedupAgainst(batch, kept, textCol, idCol).localCheckpoint())
    val near = minhashCandidatesAgainst(exact, kept, keptBands, idCol, textCol,
      k, numHashes, bands, threshold, maxBucket)
    exact.join(near.select(col("batch_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Resolve near-dup candidate pairs into canonical groups: iterative
    * min-label propagation WITH POINTER JUMPING (connected components).
    * Each id converges to the smallest id reachable through the pair
    * graph — the group's canonical representative. Returns
    * (id, canonical_id) for every id appearing in `pairs`.
    *
    * Scale shape: two equi-joins + one aggregate per iteration,
    * shuffling only (id, label) pairs. The jump step (follow your label
    * to ITS current label) makes convergence O(log diameter) instead of
    * O(diameter) — gram/shingle graphs form long chains, where pure
    * propagation would need diameter iterations and silently stop at
    * `maxIters` with non-canonical labels. The working frames are
    * re-partitioned by measured edge count, so toy graphs iterate in a
    * couple of single-task jobs instead of paying full shuffle width
    * per round; convergence is read off the checkpointed frame (one
    * action per iteration).
    */
  def dupGroups(pairs: DataFrame, maxIters: Int = 16,
                smallGraphEdges: Long = 100000L): DataFrame = {
    // materialize the edge list ONCE: the caller's pair plan (often a
    // full LSH candidate generation) must not re-execute inside every
    // iteration's join and convergence check. Both directions come from
    // ONE scan of `pairs` (a union would plan the pair query twice — a
    // lazy quadratic join like semDedup's cluster pairs would run twice).
    // The edge count is observed inside the checkpoint's own job.
    val edgeCount = org.apache.spark.sql.Observation()
    val edgesRaw = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select("e.*")
      .observe(edgeCount, count(lit(1)).as("n"))
      .localCheckpoint()
    // Small-graph fast path: below `smallGraphEdges` undirected edges
    // (a BOUNDED driver collect — ≤ ~3 MB of long pairs) the iterative
    // path is pure job-scheduling overhead: each propagation round
    // costs two jobs regardless of size. A driver union-find with path
    // compression produces the IDENTICAL (id, min-reachable-id) result
    // ~5× faster (DedupSpec asserts equality against the distributed
    // path on random graphs). Long ids only — other key types keep the
    // type-generic distributed path; pass smallGraphEdges = 0 to force
    // it. Production crawls exceed the cap and never come here.
    val nEdges = edgeCount.get("n").asInstanceOf[Long]
    val longIds = edgesRaw.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && nEdges <= 2 * smallGraphEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.LongMap[Long]()
      // iterative find (walk to root, then compress the walked chain):
      // union-by-min has no rank, so a chain-shaped component — the
      // typical gram/shingle graph — processed in descending order
      // builds an O(n) parent chain, and a recursive find would
      // overflow the driver stack at the default edge cap
      def find(x: Long): Long = {
        var root = x
        var p = parent.getOrElseUpdate(root, root)
        while (p != root) { root = p; p = parent.getOrElseUpdate(root, root) }
        var cur = x
        while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
        root
      }
      edgesRaw.as[(Long, Long)].collect().foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // the edge checkpoint is fully consumed by the collect above;
      // the returned frame is driver-local
      graft.util.Scratch.release(edgesRaw)
      return parent.keys.toSeq.map(x => (x, find(x)))
        .toDF("id", "canonical_id")
    }
    // size the iteration parallelism to the graph, not the session:
    // label frames are |nodes| rows — at gate scale a 32-way shuffle
    // per round is pure scheduling overhead
    val parts = math.max(1, math.min(edgesRaw.rdd.getNumPartitions,
      (nEdges / 500000L).toInt + 1))
    val edges =
      if (parts < edgesRaw.rdd.getNumPartitions) {
        val e = edgesRaw.repartition(parts, col("src")).localCheckpoint()
        graft.util.Scratch.release(edgesRaw) // superseded by the repartitioned copy
        e
      } else edgesRaw
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    // the current iteration's checkpoint — its predecessor is released
    // as soon as the successor has materialized, so the loop holds at
    // most two label snapshots instead of one per iteration
    var labelsCp: DataFrame = labels
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label").as("nl"))
      // min over (own label ∪ neighbor labels), old label carried along
      val minNext = labels.select(col("id"), col("label"), col("label").as("nl"))
        .union(labels.join(neighborLabels, "id").select(col("id"), col("label"), col("nl")))
        .groupBy("id")
        .agg(min("nl").as("label"), min(col("label")).as("__old"))
      // pointer jump: labels are node ids, so each label row has a row
      // of its own — adopt the label's label (always <=, monotone)
      val byId = minNext.select(col("id").as("label"), col("label").as("__jl"))
      val next = minNext.join(byId, Seq("label"), "left")
        .select(col("id"),
          coalesce(col("__jl"), col("label")).as("label"), col("__old"))
        .localCheckpoint() // truncate the growing iterative lineage
      graft.util.Scratch.release(labelsCp) // predecessor snapshot, now dead
      labelsCp = next
      converged = next.filter(col("label") =!= col("__old")).limit(1).count() == 0
      labels = next.select("id", "label")
      i += 1
    }
    // edges are consumed; the FINAL label snapshot feeds the returned
    // lazy plan, so it lives as long as that plan
    graft.util.Scratch.release(edges)
    graft.util.Scratch.transientCheckpoint(labelsCp)
    // pointer jumping converges in O(log diameter) so this should never
    // fire in practice — but returning silently would hand the caller
    // possibly-non-canonical groups with no signal (split dup groups →
    // duplicates kept). Fail loudly instead.
    if (!converged)
      throw new IllegalStateException(
        s"dupGroups did not converge within maxIters=$maxIters pointer-jumping " +
          "iterations; labels may be non-canonical — raise maxIters")
    labels.select(col("id"), col("label").as("canonical_id"))
  }

  /** Apply resolved groups: keep rows that are their group's canonical
    * representative (rows absent from `groups` have no duplicates and
    * are kept).
    */
  def keepCanonical(df: DataFrame, idCol: String, groups: DataFrame): DataFrame = {
    val losers = groups.filter(col("id") =!= col("canonical_id")).select("id")
    df.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Apply resolved groups keeping the BEST member per group by `score`
    * (ties → lowest id) instead of the lowest id — the usual production
    * policy: keep the longest / highest-quality copy of each near-dup
    * cluster, not whichever happened to get the smallest id. Rows
    * absent from `groups` have no duplicates and are kept. Shuffle
    * cost: thin (id, canonical_id, score) rows through one `max_by`
    * aggregate; the corpus itself is touched only by anti-joins on ids.
    */
  def keepBest(df: DataFrame, idCol: String, groups: DataFrame,
               score: Column): DataFrame = {
    val members = groups.withColumnRenamed("id", idCol)
      .join(df.select(col(idCol), score.as("__score")), Seq(idCol))
    // max (score, -id) = highest score, then lowest id on ties
    val winners = members.groupBy("canonical_id")
      .agg(max_by(col(idCol), struct(col("__score"), -col(idCol))).as(idCol))
      .select(idCol)
    val losers = members.select(idCol)
      .join(winners, Seq(idCol), "left_anti")
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val union = size(array_union(a, b))
    when(union === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") / union)
  }

  /** N-gram Jaccard similarity between two text columns — the direct
    * pairwise form (for verification or small candidate sets).
    */
  def ngramJaccard(a: Column, b: Column, k: Int = 3): Column =
    jaccard(
      Shingles.shingles(TextFunctions.tokens(a), k),
      Shingles.shingles(TextFunctions.tokens(b), k))

  /** Shingle containment C(A, B) = |sh(A) ∩ sh(B)| / |sh(A)| — the
    * ASYMMETRIC near-dup signal symmetric Jaccard misses: a short
    * document quoted verbatim inside a much longer one has
    * Jaccard ≈ |A|/|B| (arbitrarily small) but containment ≈ 1.
    */
  def containment(a: Column, b: Column): Column =
    when(size(a) === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") / size(a))

  /** Containment near-dup pairs — the quote/excerpt detector. MinHash
    * LSH is the WRONG candidate generator here (its band collisions
    * approximate Jaccard, which is exactly what a contained short doc
    * lacks against its host); candidates come from a shared-shingle
    * inverted index instead: two docs are candidates iff they share a
    * shingle whose posting list is ≤ `maxPostings` (boilerplate
    * shingles above the cap are dropped — the same documented recall
    * cap as every banded/bucketed stage; a ≥-threshold pair sharing
    * ONLY ultra-common shingles is missed). Exact containment then
    * verifies each candidate in BOTH directions, emitting ordered
    * (id_a contained-in id_b, containment ≥ threshold) rows.
    *
    * Scale shape: one shingle pass, postings bounded per shingle (the
    * quadratic is Σ n_g² with n_g ≤ maxPostings), thin pair dedup, one
    * verify join against the checkpointed shingle sets — never
    * all-pairs. Shingles are hashed to 8-byte longs (xxhash64, the
    * SpanDedup gram pattern) BEFORE anything shuffles or checkpoints:
    * the postings explode, the candidate self-join key, and the
    * verify-join arrays all move longs instead of space-joined token
    * strings (~5× narrower at k=3). A 2^-64 hash collision conflates
    * two shingles (slightly over-counting an intersection) — the same
    * accepted tradeoff as [[exactDedup]]'s fingerprint and SpanDedup's
    * gram hashing, and the string-side DuckDB oracle (`q_containment`)
    * certifies collision-freeness on every gated corpus.
    *
    * Observability: the number of shingles the `maxPostings` recall cap
    * dropped is recorded per run as `containment.dropped_shingles` in
    * [[graft.util.CapCounters]] (WARN-logged when non-zero) — at scale,
    * a large count means boilerplate-heavy duplicate pairs may have
    * been missed and the corpus needs a boilerplate-strip pass first.
    * Cost attribution: phases `containment.shingles` / `.postings` /
    * `.pairs` in the bench artifact; the residual gate time is the
    * verify join.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, threshold: Double = 0.9,
                       maxPostings: Int = 1000): DataFrame = {
    import graft.util.PhaseTimer.time
    val spread = spreadThin(df, idCol, textCol)
    // sh, hist and pairs are dead once the eager verify checkpoint
    // below has materialized; this call releases them then
    val sh = time("containment.shingles") {
      spread.select(col(idCol).as("id"),
          transform(
            Shingles.shingles(TextFunctions.tokens(col(textCol)), k),
            s => xxhash64(s)).as("sh"))
        .localCheckpoint()
    }
    val postings = sh.select(col("id"), explode(col("sh")).as("g"))
    // posting-list histogram with singletons dropped (useless both as
    // candidates and as cap diagnostics) — thin (g, n), one row per
    // shared shingle
    val hist = time("containment.postings") {
      graft.util.CapCounters.checkpointCounting("containment.dropped_shingles",
        postings.groupBy("g").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1),
        col("n") > maxPostings)
    }
    // SIZE-BOUND pre-filter (guide §3.2 shape — drop provably
    // non-matching pairs before anything expensive): containment
    // |a∩b|/|a| is bounded above by min(|a|,|b|)/|a|, so an ordered
    // pair whose right side is too small CANNOT reach the threshold.
    // Posting rows carry their document's shingle-set size (one thin
    // join against the checkpointed shingle table), and the bound sits
    // IN the candidate self-join condition — sub-threshold pairs never
    // reach the distinct, and the verify join attaches full arrays for
    // an output-scale survivor set instead of every shared-shingle
    // pair. The bound uses the IDENTICAL when/round shape as the exact
    // score, so round monotonicity guarantees zero false drops
    // (actual ≤ bound ⇒ round(actual) ≤ round(bound)).
    val sizes = sh.select(col("id"), size(col("sh")).as("n_sh"))
    val bounded = postings.join(
        hist.filter(col("n") <= maxPostings).select("g"), Seq("g"), "left_semi")
      .join(sizes, Seq("id"))
    val pairs = time("containment.pairs") {
      graft.util.StagePlans.dump(
        "containment.pairs (size-bound prefilter inside the self-join)",
        bounded.as("l")
          .join(bounded.as("r"),
            col("l.g") === col("r.g") && col("l.id") =!= col("r.id") &&
              (when(col("l.n_sh") === 0, lit(0.0))
                .otherwise(round(
                  least(col("l.n_sh"), col("r.n_sh")).cast("double") /
                    col("l.n_sh"), 6))
                >= threshold))
          .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
          .distinct())
        .localCheckpoint()
    }
    val plausible = pairs
    // exact verify, materialized under its own phase: the candidate
    // pairs re-join their full shingle sets and score — the stage that
    // otherwise hides inside whichever action runs first. Deliberately
    // ONE pass: a join-vs-score sub-split was tried (round-20) and
    // cost 3-10× — the barrier materializes every candidate pair with
    // BOTH full shingle arrays, hundreds of MB the single-pass plan
    // streams through the intersect expression without storing.
    // Attribution inside the phase comes from the per-query A/B
    // recorded in BASELINE.md, not from a barrier.
    try time("containment.verify") {
      graft.util.Scratch.transientCheckpoint(graft.util.StagePlans.dump(
        "containment.verify (size-bound prefilter + array join)",
        plausible
          .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
          .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
          .withColumn("containment",
            round(containment(col("sh_a"), col("sh_b")), 6))
          .filter(col("containment") >= threshold)
          .select("id_a", "id_b", "containment"))
        .localCheckpoint())
    } finally graft.util.Scratch.release((sh, hist, pairs))
  }

  // -------------------------------------------------------------- simhash

  private val simhashBits = 63 // keep the sign bit clear: packed fits a Long
  private val bitValues: Seq[Long] = (0 until simhashBits).map(1L << _)

  /** 63-bit SimHash of the token array: per-token xxhash64, per-bit ±1
    * votes, sign → bit. Prefers the native codegen'd expression
    * (graft.functions.SimHash63), HOF fallback otherwise — identical
    * values either way (DedupSpec).
    */
  def simhash(tokens: Column): Column =
    if (nativeFns) call_function("graft_simhash", tokens)
    else simhashHof(tokens)

  /** Portable HOF SimHash form: one `aggregate` over the tokens. */
  def simhashHof(tokens: Column): Column = {
    val powers = array(bitValues.map(lit): _*)
    val zeros = array_repeat(lit(0L), simhashBits)
    val votes = aggregate(
      transform(tokens, t => xxhash64(t)),
      zeros,
      (acc, h) => zip_with(acc, powers,
        (c, p) => c + when(h.bitwiseAND(p) =!= 0, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two SimHash values. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicates: (id_a, id_b, hamming <= maxHamming).
    * Blocking: the 63-bit hash splits into `maxHamming + 1` chunks — by
    * pigeonhole, any pair within the distance bound shares at least one
    * identical chunk. Shuffles only (id, chunk_ix, chunk_val).
    *
    * `maxBucket` caps the quadratic self-join exactly like
    * [[minhashCandidates]]: a chunk value shared by n docs yields n²/2
    * candidate pairs, and corpora with a narrow vocabulary concentrate
    * chunk values heavily — unbounded, a 5k-doc toy corpus already
    * explodes into billions of join rows. Pairs inside dropped buckets
    * can still be found through their other maxHamming chunks.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 200): DataFrame = {
    import graft.util.PhaseTimer.time
    val chunks = maxHamming + 1
    val width = (simhashBits + chunks - 1) / chunks
    // materialize the thin (id, sig) frame ONCE: the self-join below
    // plus the bucket-count aggregate would otherwise re-run the
    // signature projection in three plan branches (the repartition
    // exchange is reused across branches, the per-row simhash compute
    // is not). The eager checkpoint also makes the cost attributable —
    // the phase timer surfaces sig compute vs the rest in the bench
    // artifact's phases map.
    val sigs = time("simhash.sigs") {
      graft.util.Scratch.transientCheckpoint(
        spreadThin(df, idCol, textCol).select(col(idCol).as("id"),
          simhash(TextFunctions.tokens(col(textCol))).as("sig"))
          .localCheckpoint())
    }
    val chunked = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until chunks).map { i =>
        shiftrightunsigned(col("sig"), i * width).bitwiseAND(lit((1L << width) - 1))
      }: _*)).as(Seq("chunk_ix", "chunk_val")))
    // tiny frame (surviving (chunk_ix, chunk_val) keys only) — eager so
    // the bucket-count phase is timed apart from the pair join; the
    // dropped-cap diagnostic is observed in the same job
    val bucketCounts = time("simhash.buckets") {
      graft.util.Scratch.transientCheckpoint(
        graft.util.CapCounters.checkpointCounting("simhash.dropped_buckets",
          chunked.groupBy("chunk_ix", "chunk_val")
            .agg(count(lit(1)).as("n"))
            .filter(col("n") > 1),
          col("n") > maxBucket))
        .filter(col("n") <= maxBucket)
    }
    val bounded = chunked.join(bucketCounts, Seq("chunk_ix", "chunk_val"), "left_semi")
    bounded.as("l")
      .join(bounded.as("r"),
        col("l.chunk_ix") === col("r.chunk_ix") &&
          col("l.chunk_val") === col("r.chunk_val") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        hammingDistance(col("l.sig"), col("r.sig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
