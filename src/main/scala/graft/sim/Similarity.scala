package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), plus embedding-based near-duplicate detection.
  *
  * Design for the 100 TB case:
  *  - vector math is `zip_with`/`aggregate` higher-order functions in
  *    double precision — per-row expressions, no UDF, no collect;
  *  - brute-force top-k BROADCASTS the (small) query set so the corpus
  *    never shuffles its vectors; only thin (query_id, id, sim) tuples
  *    move to the top-k window;
  *  - the scale path (IVF) prunes the corpus to `nprobe` clusters per
  *    query before scoring; random-hyperplane LSH buckets near-dup
  *    candidates so no corpus×corpus product ever materializes.
  */
object Similarity {

  /** Round-robin repartition to the session's shuffle parallelism:
    * embedding tables often arrive as one fat parquet partition, and
    * the per-row HOF vector math (interpreted, off the codegen path) is
    * compute-bound — it must not inherit single-task input layout.
    */
  private def spread(df: DataFrame): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(parts)
  }

  /** Dot product in double precision (fold order = element order, so
    * results are bit-deterministic across runs). Portable HOF form.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector is all-zero. Portable HOF
    * form — same fold order and zero convention as the native
    * expression, so the two paths agree bit-for-bit.
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom === 0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** True when graft's native codegen'd vector expressions are
    * registered in the active session
    * (spark.sql.extensions=graft.functions.GraftExtensions).
    */
  private def nativeFns: Boolean =
    try org.apache.spark.sql.SparkSession.active.catalog
      .functionExists("graft_cosine")
    catch { case _: Exception => false }

  /** Scoring paths prefer the native expression (tight codegen loop)
    * and fall back to the interpreted HOF form — identical semantics
    * either way (SimilaritySpec asserts value equality).
    */
  private[graft] def cosineAuto(a: Column, b: Column): Column =
    if (nativeFns) call_function("graft_cosine", a, b) else cosine(a, b)

  private def dotAuto(a: Column, b: Column): Column =
    if (nativeFns) call_function("graft_dot", a, b) else dot(a, b)

  /** Brute-force cosine top-k: for each query row, the k most similar
    * corpus rows. Exact baseline. The query side is broadcast
    * (BroadcastNestedLoopJoin): the corpus is scanned once in place,
    * scoring fuses into codegen, and only (qid, id, sim) rows reach the
    * per-query top-k shuffle.
    */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int): DataFrame = {
    val scored = spread(corpus.select(col(corpusId).as("id"), col(corpusVec).as("__cv")))
      .crossJoin(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))))
      .select(col("query_id"), col("id"), cosineAuto(col("__cv"), col("__qv")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "id", "sim")
  }

  // ------------------------------------------------------------------ IVF

  /** Pick `nlist` deterministic centroids: Bernoulli-sample ~10×nlist
    * rows distributed (no global window over the corpus — the only full
    * pass is the count), then sort+limit the TINY sample and number it.
    * Real k-means refinement can iterate on top of [[assign]].
    */
  def sampleCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nlist: Int, seed: Long = 42L): DataFrame = {
    val n = corpus.count()
    val frac = if (n == 0) 1.0 else math.min(1.0, (10.0 * nlist) / n)
    val sampled = corpus.select(col(idCol).as("__src_id"), col(vecCol).as("centroid"))
      .sample(withReplacement = false, frac, seed)
      .sort("__src_id")
      .limit(nlist)
    sampled // ≤ nlist rows: the window below is over a tiny frame
      .withColumn("cid", row_number().over(Window.orderBy("__src_id")) - 1)
      .select("cid", "centroid")
  }

  /** One distributed Lloyd iteration: assign each vector to its
    * nearest centroid, then recompute every centroid as the
    * per-dimension mean of its members. Shuffle cost: the assignment's
    * thin (cid, vec) rows exploded to (cid, dim, value) — partial
    * aggregation collapses to nlist×dim rows before the exchange.
    * Iterate a few times over [[sampleCentroids]] output for real IVF
    * quality; every step is deterministic.
    */
  def kmeansStep(corpus: DataFrame, idCol: String, vecCol: String,
                 centroids: DataFrame): DataFrame = {
    val assigned = assign(corpus, idCol, vecCol, centroids)
      .select(col("cid"), col(vecCol).as("__v"))
    val byDim = assigned
      .select(col("cid"), posexplode(col("__v")).as(Seq("__dim", "__x")))
      .groupBy("cid", "__dim")
      .agg(avg(col("__x").cast("double")).as("__mean"))
    byDim
      .groupBy("cid")
      .agg(array_sort(collect_list(struct(col("__dim"), col("__mean")))).as("__pairs"))
      .select(col("cid"),
        transform(col("__pairs"), p => p.getField("__mean").cast("float")).as("centroid"))
  }

  /** Refined centroids: sample + `iters` Lloyd steps. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nlist: Int, iters: Int = 2, seed: Long = 42L): DataFrame = {
    var c = sampleCentroids(corpus, idCol, vecCol, nlist, seed)
    var i = 0
    while (i < iters) { c = kmeansStep(corpus, idCol, vecCol, c); i += 1 }
    c
  }

  /** Assign every corpus row to its nearest centroid. The centroid
    * table is SMALL by construction (nlist rows), so it is collected
    * and inlined as a literal: the per-row argmax becomes a pure
    * projection — zero shuffles, no nlist× row amplification. The
    * former crossJoin + per-id window formulation duplicated every
    * corpus VECTOR nlist times through an exchange just to pick a
    * maximum; at 100 TB that shuffle dwarfs the actual math.
    * Ties break toward the lowest cid (same as the window ordering
    * `sim desc, cid asc` it replaces).
    */
  def assign(corpus: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame): DataFrame =
    assignScored(corpus, idCol, vecCol, centroids).drop("csim")

  /** [[assign]] carrying the winning cosine as `csim` — the
    * distance-to-centroid [[semDedup]]'s keep policy ranks on. Same
    * inlined-literal argmax, same lowest-cid tie rule.
    */
  def assignScored(corpus: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("cid").cast("int"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    if (cents.isEmpty)
      return corpus.withColumn("cid", lit(null).cast("int"))
        .withColumn("csim", lit(null).cast("double")).limit(0)
    // struct max is lexicographic: highest sim first, then highest
    // NEGATED cid — i.e. the lowest cid — on exact ties
    val scored = cents.map { case (cid, vec) =>
      struct(
        cosineAuto(col(vecCol), typedLit(vec)).as("sim"),
        lit(-cid).as("ncid"))
    }
    val best = array_max(array(scored.toIndexedSeq: _*))
    spread(corpus)
      .withColumn("__best", best)
      .withColumn("cid", -col("__best").getField("ncid"))
      .withColumn("csim", col("__best").getField("sim"))
      .drop("__best")
  }

  /** IVF top-k: probe the `nprobe` closest clusters per query, then
    * brute-force only within them. At scale this reads
    * ~nprobe/nlist of the corpus per query instead of all of it;
    * store the assigned table partitioned by `cid` so probing is
    * partition pruning.
    */
  def ivfTopK(assigned: DataFrame, corpusId: String, corpusVec: String,
              centroids: DataFrame,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, nprobe: Int): DataFrame = {
    // query → nprobe candidate clusters (tiny × small cross join)
    val qc = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("__csim", cosineAuto(col("__qv"), col("centroid")))
    val wq = Window.partitionBy("query_id").orderBy(col("__csim").desc, col("cid").asc)
    val probes = qc.withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("__qv"), col("cid"))

    // search only probed clusters
    val scored = assigned.join(broadcast(probes), Seq("cid"))
      .select(col("query_id"),
        col(corpusId).as("id"),
        cosineAuto(col(corpusVec), col("__qv")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "id", "sim")
  }

  /** LSH-bucketed approximate top-k: the second scale path next to IVF.
    * Corpus and queries hash through the SAME deterministic banded
    * sign-LSH ([[signBands]]); only rows sharing a band bucket with a
    * query are cosine-scored. Shuffle cost: thin (id, band, bits)
    * tuples for candidate generation; vectors re-join only for the
    * candidate set. Queries with no bucket collisions return fewer
    * than k rows — recall is tuned by (planes, bands), not compute.
    */
  def lshTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, planes: Int = 16, bands: Int = 4,
              dim: Int = 64): DataFrame = {
    val ck = spread(corpus.select(col(corpusId).as("id"), col(corpusVec).as("__cv")))
      .withColumn("bk", explode(signBands(col("__cv"), planes, bands, dim)))
      .select(col("id"), col("__cv"), col("bk.band").as("band"), col("bk.bits").as("bits"))
    val qk = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("bk", explode(signBands(col("__qv"), planes, bands, dim)))
      .select(col("query_id"), col("__qv"), col("bk.band").as("band"), col("bk.bits").as("bits"))
    val scored = ck.join(broadcast(qk), Seq("band", "bits"))
      .select(col("query_id"), col("id"),
        cosineAuto(col("__cv"), col("__qv")).as("sim"))
      .groupBy("query_id", "id").agg(max("sim").as("sim")) // dedup multi-band hits
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "id", "sim")
  }

  // ------------------------------------------- random-hyperplane near-dup

  /** Deterministic pseudo-random hyperplanes: `planes` × `dim`
    * components in [-1, 1], derived from a splitmix scramble of the
    * (plane, dim) index — stable across runs and JVMs.
    */
  private[sim] def hyperplanes(planes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until planes).map { p =>
      (0 until dim).map { d =>
        var x = (p.toLong * dim + d) * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL
        x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
        x ^= x >>> 27
        (Math.floorMod(x, 2001L) - 1000L) / 1000.0
      }
    }

  /** Banded sign-bit LSH keys: `planes` sign bits split into `bands`
    * groups; a pair is a candidate if ANY band's bits all agree —
    * banding restores recall that single-bucket equality loses (one
    * flipped bit otherwise hides a 0.99-cosine pair). Returns
    * array<struct<band:int, bits:bigint>>.
    */
  def signBands(vec: Column, planes: Int, bands: Int, dim: Int): Column = {
    require(planes % bands == 0, s"bands=$bands must divide planes=$planes")
    val width = planes / bands
    val allPlanes = hyperplanes(planes, dim)
    val bandCols = (0 until bands).map { b =>
      val bits = (0 until width).map { j =>
        val planeLit = array(allPlanes(b * width + j).map(lit): _*)
        when(dotAuto(vec, planeLit) >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), bits.as("bits"))
    }
    array(bandCols: _*)
  }

  /** Sign-LSH candidate pairs (id_a < id_b) for [[cosineNearDups]],
    * exposed so specs can assert the candidate set directly.
    *
    * `maxBucket` caps the quadratic self-join exactly like
    * `Dedup.minhashCandidates`: sign-LSH has a GUARANTEED degenerate
    * input class — all-zero vectors (empty or padded documents, which a
    * 100 TB crawl always contains) get `dot >= 0` on every hyperplane,
    * i.e. the identical all-ones bits in EVERY band, so n such rows
    * would expand to n²/2 join rows before the cosine threshold (which
    * scores zero-vectors 0) ever runs. Buckets wider than `maxBucket`
    * are dropped before the join; genuinely near-duplicate pairs inside
    * an over-wide bucket can still surface through their other bands.
    */
  /** Thin persistable sign-LSH band table `(id, band, bits)` of an
    * embedding corpus — the incremental-dedup state an embedding
    * pipeline stores next to its kept corpus (the vector analogue of
    * `Dedup.minhashBandTable`), so daily batches join against persisted
    * signatures instead of re-hashing the corpus.
    */
  def signBandTable(df: DataFrame, idCol: String, vecCol: String,
                    planes: Int = 16, bands: Int = 4, dim: Int = 64): DataFrame =
    spread(df.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .select(col("id"),
        explode(signBands(col("vec"), planes, bands, dim)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bits").as("bits"))

  def signBandCandidates(df: DataFrame, idCol: String, vecCol: String,
                         planes: Int, bands: Int, dim: Int,
                         maxBucket: Int): DataFrame = {
    val keyed = signBandTable(df, idCol, vecCol, planes, bands, dim)
    // shared-bucket histogram materialized (thin, aggregated) with the
    // dropped-cap diagnostic observed in the same job, not a re-hash of
    // every vector; recorded per run like every recall cap
    // (graft.util.CapCounters — the all-zero-embedding degenerate
    // bucket is exactly the silent drop a caller must be able to see)
    val hist = graft.util.Scratch.transientCheckpoint(
      graft.util.CapCounters.checkpointCounting("embed_lsh.dropped_buckets",
        keyed.groupBy("band", "bits")
          .agg(count(lit(1)).as("n"))
          .filter(col("n") > 1),
        col("n") > maxBucket))
    val bucketCounts = hist.filter(col("n") <= maxBucket)
    val bounded = keyed.join(bucketCounts, Seq("band", "bits"), "left_semi")
    bounded.as("l").join(bounded.as("r"),
        col("l.band") === col("r.band") && col("l.bits") === col("r.bits") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
  }

  /** Embedding near-duplicates via banded sign-LSH blocking + exact
    * cosine verification: (id_a, id_b, sim >= threshold). Only thin
    * (id, band, bits) tuples shuffle for candidate generation; vectors
    * are re-joined solely for the candidate pairs. Degenerate buckets
    * (see [[signBandCandidates]]) are capped at `maxBucket` members.
    */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95, planes: Int = 16,
                     bands: Int = 4, dim: Int = 64,
                     maxBucket: Int = 1000): DataFrame = {
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val pairs = signBandCandidates(df, idCol, vecCol, planes, bands, dim, maxBucket)
    pairs
      .join(vecs.select(col("id").as("id_a"), col("vec").as("__va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("__vb")), "id_b")
      .select(col("id_a"), col("id_b"), cosineAuto(col("__va"), col("__vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Incremental embedding near-dups: the batch's sign-LSH band keys
    * equi-join the kept corpus's persisted band table
    * ([[signBandTable]]), and candidates are cosine-verified. Returns
    * `(batch_id, kept_id, sim >= threshold)`. Only the batch hashes its
    * vectors; the corpus contributes thin persisted band rows and
    * vectors fetched by id for verified candidates only — a daily batch
    * costs O(|batch| + collisions), not a corpus re-hash. The bucket
    * cap counts BOTH sides, so degenerate buckets (all-zero embeddings)
    * stay linear whether their members are old or new.
    */
  def cosineNearDupsAgainst(batch: DataFrame, kept: DataFrame,
                            keptBands: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double = 0.95, planes: Int = 16,
                            bands: Int = 4, dim: Int = 64,
                            maxBucket: Int = 1000): DataFrame = {
    val batchBands = signBandTable(batch, idCol, vecCol, planes, bands, dim)
    // same materialized-histogram + dropped-cap pattern as the batch
    // path (singleton buckets cannot produce a batch×kept pair)
    val widths = graft.util.Scratch.transientCheckpoint(
      graft.util.CapCounters.checkpointCounting("embed_lsh_against.dropped_buckets",
        batchBands.select("band", "bits")
          .union(keptBands.select("band", "bits"))
          .groupBy("band", "bits").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1),
        col("n") > maxBucket))
      .filter(col("n") <= maxBucket)
    val bb = batchBands.join(widths, Seq("band", "bits"), "left_semi")
    val kb = keptBands.join(widths, Seq("band", "bits"), "left_semi")
    val cands = bb.as("l").join(kb.as("r"),
        col("l.band") === col("r.band") && col("l.bits") === col("r.bits"))
      .select(col("l.id").as("batch_id"), col("r.id").as("kept_id"))
      .distinct()
    cands
      .join(batch.select(col(idCol).as("batch_id"), col(vecCol).as("__vb")), "batch_id")
      .join(kept.select(col(idCol).as("kept_id"), col(vecCol).as("__vk")), "kept_id")
      .select(col("batch_id"), col("kept_id"),
        cosineAuto(col("__vb"), col("__vk")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  // --------------------------------------------------------------- SemDeDup

  /** Within-cluster candidate pairs for an [[assignScored]] frame
    * (`id`, `__v`, `cid` columns): the vector rides the one cid-keyed
    * equi-join — unlike the LSH paths there is no thin-key/re-fetch
    * split, because EVERY row of a cluster participates in every pair,
    * so a second by-id join would move the same vectors again. Pair
    * rows are generated and threshold-filtered inside the join stage,
    * never materialized.
    */
  private def clusterPairs(scored: DataFrame, threshold: Double,
                           maxCluster: Int): DataFrame = {
    val sizes = scored.groupBy("cid").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxCluster && col("n") > 1)
    val bounded = scored.join(sizes.select("cid"), Seq("cid"), "left_semi")
    bounded.as("l").join(bounded.as("r"),
        col("l.cid") === col("r.cid") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        cosineAuto(col("l.__v"), col("r.__v")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540):
    * semantic near-duplicates with the pairwise cosine search scoped to
    * k-means clusters — the third embedding candidate generator next to
    * banded sign-LSH ([[cosineNearDups]]) and the persisted band table
    * ([[cosineNearDupsAgainst]]). Clustering bounds the quadratic: the
    * global cost is Σᵢ cᵢ² over cluster sizes (tuned by nlist — the
    * paper runs ~√n clusters), never n². Returns
    * `(id_a < id_b, sim >= threshold)`.
    *
    * `maxCluster` drops over-wide clusters from pair generation exactly
    * like the LSH siblings' buckets: sign-degenerate rows (all-zero
    * embeddings score cosine 0 against every centroid) all tie into the
    * lowest cid, recreating the quadratic this cap exists to stop.
    * Genuine members of a dropped cluster are NOT paired — at 100 TB
    * raise nlist so clusters stay under the cap rather than raising the
    * cap.
    */
  def semDedupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, threshold: Double = 0.95,
                    maxCluster: Int = 10000): DataFrame =
    clusterPairs(
      assignScored(corpus, idCol, vecCol, centroids)
        .select(col("cid"), col(idCol).as("id"), col(vecCol).as("__v")),
      threshold, maxCluster)

  /** SemDeDup survivors: [[semDedupPairs]] resolved into connected
    * groups, keeping per group the member LEAST similar to its cluster
    * centroid — the paper's keep policy (the cluster's outlier carries
    * the most marginal information; ties → lowest id). Rows in no pair
    * survive untouched. Output = the corpus columns + `cid`.
    *
    * The assignment frame feeds both pair generation and the keep
    * ranking, and its tail (nlist inlined cosines per row) is exactly
    * the expensive-multi-consumer shape exchange reuse does not cover —
    * localCheckpoint materializes it once.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame, threshold: Double = 0.95,
               maxCluster: Int = 10000): DataFrame = {
    val scored = graft.util.Scratch.transientCheckpoint(
      assignScored(corpus, idCol, vecCol, centroids).localCheckpoint())
    val pairs = clusterPairs(
      scored.select(col("cid"), col(idCol).as("id"), col(vecCol).as("__v")),
      threshold, maxCluster)
    val groups = graft.dedup.Dedup.dupGroups(pairs.select("id_a", "id_b"))
    // keepBest keeps the HIGHEST score (ties → lowest id); negate csim
    // to keep the farthest-from-centroid member
    graft.dedup.Dedup.keepBest(scored, idCol, groups, -col("csim"))
      .drop("csim")
  }
}
