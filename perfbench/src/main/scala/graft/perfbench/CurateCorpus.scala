package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.TableRef
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.{Decontaminate, Stopwords, TextFunctions}

/** LLM-corpus curation, one full pass per call: exact dedup, MinHash
  * near-dup groups, containment, the quality filter, PII redaction,
  * decontamination, semantic dedup, and one overwrite commit. The
  * corpus plants every defect the pass must remove, and the generator
  * keeps the answer key.
  */
final class CurateCorpus(seed: Long, baseDocs: Int = CurateCorpus.BaseDocs,
                         planted: Int = CurateCorpus.Planted) extends Workload {
  import CurateCorpus._

  private val gen = new Gen(seed)
  private var landed = 0L
  private val out = TableRef("gold", "c", "corpus")

  // the answer key
  private var exactCopies = Set.empty[Long]
  private var nearPairs = Seq.empty[(Long, Long)]
  private var snippets = Set.empty[Long]
  private var contaminated = Set.empty[Long]
  private var junk = Set.empty[Long]
  private var semPairs = Seq.empty[(Long, Long)]
  private var docCount = 0
  private var corpusBytes = 0L

  /** A pass over a small corpus: the first pass in a JVM pays for
    * codegen.
    */
  override def warmUp(ctx: Ctx): Unit = {
    val other = new CurateCorpus(seed + 1, BaseDocs / 7, Planted / 6)
    other.setup(ctx)
    other.op(ctx, 0)
    ()
  }

  def landedBytes: Long = landed

  override def minCalls: Int = 2

  private val vocab: IndexedSeq[String] = {
    val r = new scala.util.Random(7) // the language is fixed; the seed picks the texts
    (0 until Vocab).map(_ => (0 until 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
      .distinct
  }

  private def sentence(n: Int): Vector[String] = Vector.fill(n) {
    if (gen.rnd.nextDouble() < 0.25) Stopwords.english(gen.rnd.nextInt(Stopwords.english.size))
    else gen.word(vocab)
  }

  private def embedding(): Vector[Double] = {
    val v = Vector.fill(Dim)(gen.rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def corpusDir(ctx: Ctx) = ctx.dir.resolve("corpus")
  private def benchDir(ctx: Ctx) = ctx.dir.resolve("bench")

  def setup(ctx: Ctx): Unit = {
    val base = (0 until baseDocs).map(_ => sentence(40 + gen.rnd.nextInt(30)))
    val texts = scala.collection.mutable.ArrayBuffer[Vector[String]](base: _*)
    val embs = scala.collection.mutable.ArrayBuffer[Vector[Double]](base.map(_ => embedding()): _*)
    // disjoint base docs for each planted family
    val picks = gen.rnd.shuffle((0 until baseDocs).toVector).iterator
    def add(t: Vector[String], e: Vector[Double]): Long = {
      texts += t; embs += e; (texts.size - 1).toLong
    }
    exactCopies = (0 until planted).map { _ => val b = picks.next(); add(base(b), embedding()) }.toSet
    nearPairs = (0 until planted).map { _ =>
      val b = picks.next()
      val t = base(b)
      b.toLong -> add(t.updated(t.size / 2, gen.word(vocab) + "x"), embedding())
    }
    snippets = (0 until planted).map { _ =>
      val t = base(picks.next())
      val from = gen.rnd.nextInt(t.size / 3)
      add(t.slice(from, from + (t.size * 0.6).toInt), embedding())
    }.toSet
    val benchItems = (0 until 10).map(_ => sentence(20))
    contaminated = (0 until planted / 2).map { j =>
      val b = picks.next()
      val item = benchItems(j % benchItems.size)
      texts(b) = base(b).take(10) ++ item.take(13) ++ base(b).drop(10)
      b.toLong
    }.toSet
    (0 until planted).foreach { j =>
      val b = picks.next()
      texts(b) = base(b).take(5) ++ Vector(s"mail user$j@example.com", s"ip 10.0.${j % 250}.7",
        s"call 555-01${j % 10}-${1000 + j}") ++ base(b).drop(5)
    }
    junk = (0 until planted / 2).map(_ =>
      add(Vector.fill(30)(Seq("!!", "##", "%%", "&&", "**")(gen.rnd.nextInt(5))), embedding())).toSet
    semPairs = (0 until planted).map { _ =>
      val b = picks.next()
      val e = embs(b).map(_ + gen.rnd.nextGaussian() * 0.01)
      b.toLong -> add(sentence(40 + gen.rnd.nextInt(30)), e)
    }
    docCount = texts.size
    corpusBytes = Gen.land(corpusDir(ctx).resolve("docs.json"), texts.indices.map { i =>
      s"""{"id":$i,"text":${Gen.q(texts(i).mkString(" "))},"emb":[${embs(i).mkString(",")}]}"""
    }.mkString("\n") + "\n")
    landed += corpusBytes
    Gen.land(benchDir(ctx).resolve("bench.json"), benchItems.map(t =>
      s"""{"text":${Gen.q(t.mkString(" "))}}""").mkString("\n") + "\n")
    ()
  }

  private def docs(ctx: Ctx): DataFrame =
    ctx.spark.read.schema("id LONG, text STRING, emb ARRAY<DOUBLE>")
      .json(corpusDir(ctx).toString)
      .withColumn("emb", col("emb").cast("array<float>"))

  def op(ctx: Ctx, i: Int): Op = {
    val spark = ctx.spark
    val bench = spark.read.schema("text STRING").json(benchDir(ctx).toString)
    val exact = ctx.span("dedup", "dedup.exact")(
      Dedup.exactDedup(docs(ctx), "text", "id").localCheckpoint())
    val (pairs, near) = ctx.span("dedup", "dedup.minhash") {
      val pairs = Dedup.minhashCandidates(exact, "id", "text").localCheckpoint()
      val groups = Dedup.dupGroups(pairs)
      (pairs, Dedup.keepCanonical(exact, "id", groups).localCheckpoint())
    }
    val uncontained = ctx.span("dedup", "dedup.containment") {
      val cp = Dedup.containmentPairs(near, "id", "text").localCheckpoint()
      near.join(cp.select(col("id_a").as("id")).distinct(), Seq("id"), "left_anti")
        .localCheckpoint()
    }
    val good = ctx.span("text", "text.filter")(
      uncontained.filter(TextFunctions.qualityScore(col("text")) >= MinQuality).localCheckpoint())
    val redacted = ctx.span("text", "text.pii")(
      good.withColumn("text", TextFunctions.redactPii(col("text"))).localCheckpoint())
    val clean = ctx.span("text", "text.decontam")(
      Decontaminate.decontaminated(redacted, "id", "text", bench, "text", NGram).localCheckpoint())
    val (centroids, kept) = ctx.span("sim", "sim.semdedup") {
      val c = Similarity.sampleCentroids(clean, "id", "emb", Clusters, seed)
      (c, Similarity.semDedup(clean, "id", "emb", c, SemThreshold).drop("cid").localCheckpoint())
    }
    ctx.span("catalog", "catalog.overwrite")(ctx.wh.overwrite(out, kept))
    landed += corpusBytes
    Op(docCount, verify = () => verify(ctx, clean, pairs, i),
      measure = () => measure(ctx, pairs, clean, centroids))
  }

  /** Planted near-duplicate pairs among the MinHash pairs. */
  private def found(pairs: DataFrame): Int = {
    val got = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    nearPairs.count(got.contains)
  }

  /** Recall of the pass's MinHash pairs, and the pairs semantic dedup
    * scored against those it kept, recomputed from `Similarity`'s public
    * building blocks.
    */
  private def measure(ctx: Ctx, pairs: DataFrame, clean: DataFrame, centroids: DataFrame): Unit = {
    ctx.count("dedup.planted", nearPairs.size.toDouble)
    ctx.count("dedup.planted_found", found(pairs).toDouble)
    val sizes = Similarity.assign(clean, "id", "emb", centroids).groupBy("cid").count()
      .collect().map(_.getLong(1))
    ctx.count("sim.pairs_scored", sizes.map(n => n * (n - 1) / 2).sum.toDouble)
    ctx.count("sim.pairs_kept",
      Similarity.semDedupPairs(clean, "id", "emb", centroids, SemThreshold).count().toDouble)
  }

  private def verify(ctx: Ctx, clean: DataFrame, pairs: DataFrame, i: Int): Seq[Check] = {
    val rows = ctx.wh.read(out).select("id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = if (ctx.corrupt && i == 0) rows.keySet + exactCopies.head else rows.keySet
    val beforeSem = clean.select("id").collect().map(_.getLong(0)).toSet
    val semMembers = semPairs.flatMap { case (a, b) => Seq(a, b) }.toSet
    val recall = found(pairs).toDouble / nearPairs.size
    Seq(
      Check("exact_copies_removed", (ids & exactCopies).isEmpty),
      Check("dup_recall", recall >= MinRecall, f"recall=$recall%.3f"),
      Check("near_pairs_resolved", nearPairs.forall { case (a, b) => !(ids(a) && ids(b)) }),
      Check("snippets_removed", (ids & snippets).isEmpty),
      Check("contaminated_removed", (ids & contaminated).isEmpty),
      Check("junk_filtered", (ids & junk).isEmpty),
      Check("pii_redacted", !rows.values.exists(_.matches(".*" + TextFunctions.emailPattern + ".*"))),
      Check("semdedup_removes_only_planted", (beforeSem -- ids).subsetOf(semMembers)))
  }
}

object CurateCorpus {
  val Vocab = 3000
  val BaseDocs = 700
  val Planted = 30
  val Dim = 16
  val NGram = 13
  val Clusters = 8
  val MinQuality = 0.8
  val SemThreshold = 0.97
  /** A planted near-duplicate differs in one token, near Jaccard 0.89 on
    * 3-shingles, where 16 bands of 4 hashes miss a pair with probability
    * about 1e-7.
    */
  val MinRecall = 0.9
}
