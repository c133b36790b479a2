package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.{Stopwords, TextFunctions}

/** Text-analysis operators in the gate. The DuckDB oracles are GENERATED
  * from the same stopword lists / thresholds the Spark side uses —
  * single source of truth, so list edits can't desynchronize the check.
  * Ratio outputs are rounded (6dp) after identical-operand divisions;
  * the division inputs are integers computed identically in both
  * engines, so the rounded doubles match bit-for-bit.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** DuckDB token list mirroring TextFunctions.tokens. */
  private val sqlTokens = """list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)"""

  def qTextStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextFunctions.tokens($"text")
    Tables.load(spark, dir, "documents")
      .select(
        $"doc_id",
        TextFunctions.tokenCount($"text").as("n_tokens"),
        length($"text").as("n_chars_actual"),
        regexp_count($"text", lit("[^A-Za-z0-9\\s]")).as("punct_chars"),
        size(filter(toks, t => length(t) > 5)).as("long_tokens"),
        round(TextFunctions.meanTokenLength($"text"), 6).as("mean_token_len"),
        round(TextFunctions.punctRatio($"text"), 6).as("punct_ratio"),
        TextFunctions.bpeTokenCountApprox($"text").as("bpe_tokens"))
  }

  val qTextStatsSql: String =
    s"""SELECT doc_id,
       |  len($sqlTokens) AS n_tokens,
       |  length(text) AS n_chars_actual,
       |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct_chars,
       |  len(list_filter($sqlTokens, t -> length(t) > 5)) AS long_tokens,
       |  round(CASE WHEN len($sqlTokens) = 0 THEN 0.0
       |    ELSE CAST(list_sum(list_transform($sqlTokens, t -> length(t))) AS DOUBLE)
       |         / len($sqlTokens) END, 6) AS mean_token_len,
       |  round(CASE WHEN length(text) = 0 THEN 0.0
       |    ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
       |         / length(text) END, 6) AS punct_ratio,
       |  CAST(list_sum(list_transform($sqlTokens,
       |         t -> CAST(ceil(CAST(length(t) AS DOUBLE) / 4.0) AS BIGINT))) AS BIGINT)
       |    + len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS bpe_tokens
       |FROM documents""".stripMargin

  /** Language ID with per-language evidence columns. The `lang_pred`
    * CASE chain implements argmax with first-in-list tie priority —
    * exactly TextFunctions.langId's struct-max semantics.
    */
  def qTextLangid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val langCols = Stopwords.languages.map { case (code, words) =>
      round(TextFunctions.stopwordRatio($"text", words), 6).as(s"score_$code")
    }
    Tables.load(spark, dir, "documents")
      .select(($"doc_id" +: $"lang".as("lang_declared") +: langCols :+
        TextFunctions.langId($"text").as("lang_pred")): _*)
  }

  val qTextLangidSql: String = {
    val scoreExprs = Stopwords.languages.map { case (code, words) =>
      s"""round(CASE WHEN len($sqlTokens) = 0 THEN 0.0
         |    ELSE CAST(len(list_filter($sqlTokens,
         |           t -> lower(t) IN ${sqlList(words.map(_.toLowerCase))})) AS DOUBLE)
         |         / len($sqlTokens) END, 6) AS score_$code""".stripMargin
    }
    val codes = Stopwords.languages.map(_._1)
    // un-rounded scores drive the argmax (same as the Spark side)
    val rawScore = codes.zip(Stopwords.languages.map(_._2)).map { case (code, words) =>
      s"""CASE WHEN len($sqlTokens) = 0 THEN 0.0
         |    ELSE CAST(len(list_filter($sqlTokens,
         |           t -> lower(t) IN ${sqlList(words.map(_.toLowerCase))})) AS DOUBLE)
         |         / len($sqlTokens) END AS raw_$code""".stripMargin
    }
    val cases = codes.zipWithIndex.map { case (code, i) =>
      val geAll = codes.filterNot(_ == code).map(o => s"raw_$code >= raw_$o").mkString(" AND ")
      s"WHEN $geAll AND raw_$code > 0 THEN '$code'"
    }
    // earlier languages get >= (they win ties); ordering of WHENs makes
    // the first maximal language the answer
    s"""SELECT doc_id, lang_declared, ${codes.map(c => s"score_$c").mkString(", ")},
       |  CASE ${cases.mkString(" ")} ELSE 'und' END AS lang_pred
       |FROM (
       |  SELECT doc_id, lang AS lang_declared,
       |    ${scoreExprs.mkString(",\n    ")},
       |    ${rawScore.mkString(",\n    ")}
       |  FROM documents)""".stripMargin
  }

  /** Full quality-score formula in the gate. */
  def qTextQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        TextFunctions.qualityScore($"text").as("quality"),
        TextFunctions.tokenCount($"text").as("n_tokens"))
  }

  val qTextQualitySql: String = {
    val sw = sqlList(Stopwords.english.map(_.toLowerCase))
    s"""SELECT doc_id,
       |  round(CAST(len_score * 0.25 + punct_score * 0.2 + sw_score * 0.25 +
       |             word_score * 0.1 + alpha_score * 0.2 AS DOUBLE), 4) AS quality,
       |  CAST(n_tokens AS INTEGER) AS n_tokens
       |FROM (
       |  SELECT doc_id,
       |    CASE WHEN n_tokens >= 5 AND n_tokens <= 10000 THEN 1.0
       |         WHEN n_tokens > 0 THEN 0.5 ELSE 0.0 END AS len_score,
       |    CASE WHEN punct <= 0.2 THEN 1.0 WHEN punct <= 0.4 THEN 0.5
       |         ELSE 0.0 END AS punct_score,
       |    CASE WHEN swr >= 0.05 AND swr <= 0.6 THEN 1.0 ELSE 0.3 END AS sw_score,
       |    CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.3 END AS word_score,
       |    CASE WHEN alpha >= 0.7 THEN 1.0 WHEN alpha >= 0.4 THEN 0.5
       |         ELSE 0.0 END AS alpha_score,
       |    n_tokens
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len($sqlTokens) AS DOUBLE) AS n_tokens,
       |      CASE WHEN length(text) = 0 THEN 0.0
       |        ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
       |             / length(text) END AS punct,
       |      CASE WHEN len($sqlTokens) = 0 THEN 0.0
       |        ELSE CAST(len(list_filter($sqlTokens, t -> lower(t) IN $sw)) AS DOUBLE)
       |             / len($sqlTokens) END AS swr,
       |      CASE WHEN len($sqlTokens) = 0 THEN 0.0
       |        ELSE CAST(list_sum(list_transform($sqlTokens, t -> length(t))) AS DOUBLE)
       |             / len($sqlTokens) END AS mwl,
       |      CASE WHEN length(text) = 0 THEN 0.0
       |        ELSE CAST(len(regexp_extract_all(text, '[A-Za-z0-9]')) AS DOUBLE)
       |             / length(text) END AS alpha
       |    FROM documents))""".stripMargin
  }

  /** Fingerprint EQUALITY CLASSES are value-checkable even though the
    * xxhash64 values themselves have no DuckDB twin: fingerprint(a) =
    * fingerprint(b) ⇔ the normalized texts are equal (modulo a 64-bit
    * collision, which would surface as a wrong family and fail the
    * hash compare), and normalization (lower + whitespace-collapse +
    * trim) IS expressible in DuckDB. So the gate emits each doc's
    * canonical family member + family size from the FINGERPRINT while
    * the oracle re-derives them from the normalized TEXT — a broken
    * hash, normalization, or grouping all diverge. Scale shape: one
    * groupBy on the 64-bit key + a thin key join, exactly exactDedup's.
    * (The raw fp / winnowing sketch surface stays covered by
    * TextFunctionsSpec + the dedup queries.)
    */
  def qTextFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fp = Tables.load(spark, dir, "documents")
      .select($"doc_id", TextFunctions.fingerprint($"text").as("fp"))
    fp.groupBy($"fp")
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("family_n"))
      .join(fp, "fp")
      .select($"doc_id", $"canonical_id", $"family_n")
  }

  val qTextFingerprintSql: String =
    """WITH norm AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS n
      |  FROM documents),
      |fam AS (
      |  SELECT n, min(doc_id) AS canonical_id,
      |    CAST(count(*) AS BIGINT) AS family_n
      |  FROM norm GROUP BY n)
      |SELECT norm.doc_id, fam.canonical_id, fam.family_n
      |FROM norm JOIN fam USING (n)""".stripMargin

  /** Regex extraction over documents: all long word occurrences per
    * doc (regexp_extract_all — the pattern-harvesting primitive of PII
    * scrubbing / URL collection pipelines; both engines run the same
    * class-based pattern).
    */
  def qTextExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hits = regexp_extract_all($"text", lit("\\b[a-z]{7,}\\b"), lit(0))
    Tables.load(spark, dir, "documents")
      .select(
        $"doc_id",
        size(hits).as("n_long"),
        array_join(hits, ",").as("long_words"))
  }

  // DuckDB's array_to_string([]) is NULL where Spark's array_join is ''
  val qTextExtractSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\b[a-z]{7,}\b')) AS INTEGER) AS n_long,
      |  coalesce(array_to_string(regexp_extract_all(text, '\b[a-z]{7,}\b'), ','), '')
      |    AS long_words
      |FROM documents""".stripMargin

  /** Benchmark decontamination, value-checked end-to-end: docs 0-49
    * stand in for the benchmark suite; a training doc is contaminated
    * when it shares a verbatim lowercase 5-gram with any of them (every
    * benchmark doc trivially hits itself, so the result is non-empty by
    * construction). The oracle re-derives tokenization, n-gram
    * generation, and the distinct-hit count in pure SQL — raw-string
    * grams, no hashing, so the check is exact.
    */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    graft.text.Decontaminate.contaminationHits(
      docs, "doc_id", "text", docs.filter($"doc_id" < 50), "text", n = 5)
  }

  /** The RATIO decontamination policy end-to-end
    * ([[graft.text.Decontaminate.promptContainment]]): per-prompt
    * fractional containment, length-normalized where the absolute
    * hit-count gate above is not. The eval set is token-slice
    * "benchmark prompts" lifted from every 5th >=30-token document —
    * their 3-grams are a SUBSET of the source doc's, so containment
    * is 1.0 and those docs (plus any doc organically sharing >= 80%
    * of a prompt's grams) drop; everything else survives. The oracle
    * re-implements the whole pass in SQL — same lowered tokenization,
    * same distinct gram sets, same corpus-side posting cap (mirrored
    * in HAVING), same round(., 6) threshold — and anti-joins the
    * contaminated ids.
    */
  def qDecontamRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text", $"n_chars")
    val toks = TextFunctions.tokens(lower($"text"))
    val prompts = docs
      .filter(size(toks) >= 30 && $"doc_id" % 5 === 0)
      .select(($"doc_id" + 7000000L).as("eval_id"),
        array_join(slice(toks, 5, 20), " ").as("text"))
    graft.text.Decontaminate.decontaminatedByContainment(
        docs, "doc_id", "text", prompts, "eval_id", "text",
        n = 3, threshold = 0.8, maxPostings = 100)
      .select($"doc_id", $"n_chars")
  }

  val qDecontamRatioSql: String = {
    val ltoks = """list_filter(regexp_split_to_array(lower(text), '\s+'),
                  |    x -> length(x) > 0)""".stripMargin
    s"""WITH tok AS (SELECT doc_id, $ltoks AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(0, len(t) - 2),
       |  i -> array_to_string(t[i+1:i+3], ' '))) AS s FROM tok),
       |cpost AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |usable AS (SELECT g FROM cpost GROUP BY g HAVING count(*) <= 100),
       |evals AS (
       |  SELECT doc_id + 7000000 AS eval_id,
       |    list_distinct(list_transform(range(0, len(t[5:24]) - 2),
       |      i -> array_to_string((t[5:24])[i+1:i+3], ' '))) AS es
       |  FROM tok WHERE len(t) >= 30 AND doc_id % 5 = 0),
       |epost AS (SELECT eval_id, len(es) AS esize, unnest(es) AS g
       |          FROM evals WHERE len(es) > 0),
       |contaminated AS (
       |  SELECT DISTINCT p.doc_id
       |  FROM (SELECT c.doc_id, c.g FROM cpost c
       |        JOIN usable u ON c.g = u.g) p
       |  JOIN epost e ON e.g = p.g
       |  GROUP BY p.doc_id, e.eval_id, e.esize
       |  HAVING round(CAST(count(*) AS DOUBLE) / e.esize, 6) >= 0.8)
       |SELECT doc_id, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin
  }

  val qDecontaminateSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                x -> length(x) > 0) AS t
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS gram
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 3)) AS i) s),
      |bgrams AS (
      |  SELECT DISTINCT gram FROM grams WHERE doc_id < 50)
      |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS hits
      |FROM grams g JOIN bgrams b USING (gram)
      |GROUP BY g.doc_id""".stripMargin

  /** Sequence packing. Bin COMPOSITION is partition-layout dependent
    * by design (each task packs its own rows), so raw bin ids can't be
    * value-checked — but the packing INVARIANTS can: every doc appears
    * exactly once (row compare on doc_id), weights are the real token
    * counts (SQL-derivable), the oversize flag is exactly
    * `weight > budget`, and `fits` — a non-oversize doc's bin never
    * exceeds the budget; an oversize doc sits in a singleton bin — is
    * provably TRUE for a correct packer, so the oracle emits the
    * literal and any budget violation or non-singleton oversize bin
    * hash-mismatches. Bin-id uniqueness/tightness stays in PackingSpec.
    */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val weighted = Tables.load(spark, dir, "documents")
      .select($"doc_id", TextFunctions.tokenCount($"text").cast("long").as("n_tokens"))
    graft.operators.Packing.packByWeight(weighted, "doc_id", "n_tokens", budget = 512L)
      .select($"id".as("doc_id"), $"weight".as("n_tokens"), $"oversize",
        (($"oversize" && $"bin_weight" === $"weight") ||
          (!$"oversize" && $"bin_weight" <= 512L)).as("fits"))
  }

  val qPackSequencesSql: String =
    s"""SELECT doc_id,
       |  CAST(len($sqlTokens) AS BIGINT) AS n_tokens,
       |  len($sqlTokens) > 512 AS oversize,
       |  true AS fits
       |FROM documents""".stripMargin

  /** Cross-document duplicated SPANS (substring-level dedup): maximal
    * merged token ranges covered by 5-grams occurring in ≥2 docs. The
    * oracle replays gram extraction on the STRING grams, the dup set
    * from distinct (doc, gram) pairs, and the same integer
    * gaps-and-islands merge — the Spark side ships only 8-byte gram
    * hashes through its shuffle, so agreement also certifies the
    * hash-vs-string grouping equivalence (collision-free here).
    */
  def qSpanDedup(spark: SparkSession, dir: String): DataFrame =
    graft.text.SpanDedup.duplicatedSpans(
      Tables.load(spark, dir, "documents"), "doc_id", "text", n = 5)

  val qSpanDedupSql: String =
    s"""WITH toks AS (SELECT doc_id, $sqlTokens AS t FROM documents),
       |grams AS (
       |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+4], ' ') AS gram
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 3)) AS i) s),
       |dup AS (
       |  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM grams)
       |  GROUP BY gram HAVING count(*) >= 2),
       |pos AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
       |brk AS (SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER w > 5 THEN 1 ELSE 0 END AS b
       |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |isl AS (SELECT doc_id, pos,
       |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM brk)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pos) + 5 AS BIGINT) AS span_end
       |FROM isl GROUP BY doc_id, grp""".stripMargin

  /** Incremental span dedup: the gram-count model persists from the
    * "kept" corpus (doc_id % 5 ≠ 0) and a new batch (doc_id % 5 = 0)
    * flags spans against model + batch — provably identical to the
    * one-pass rule restricted to batch docs, because kept and batch
    * doc sets are disjoint so the distinct-doc counts add. The oracle
    * replays exactly that: the full-union dup rule filtered to batch
    * docs. The historical corpus is never re-scanned by the engine —
    * only the thin hash-keyed count table joins the batch.
    */
  def qSpanDedupIncr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val kept = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val model = graft.text.SpanDedup.gramDocCounts(kept, "doc_id", "text", n = 5)
    graft.text.SpanDedup
      .duplicatedSpansAgainst(batch, model, "doc_id", "text", n = 5)._1
  }

  val qSpanDedupIncrSql: String =
    s"""WITH toks AS (SELECT doc_id, $sqlTokens AS t FROM documents),
       |grams AS (
       |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+4], ' ') AS gram
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 3)) AS i) s),
       |dup AS (
       |  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM grams)
       |  GROUP BY gram HAVING count(*) >= 2),
       |pos AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)
       |        WHERE g.doc_id % 5 = 0),
       |brk AS (SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER w > 5 THEN 1 ELSE 0 END AS b
       |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |isl AS (SELECT doc_id, pos,
       |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM brk)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pos) + 5 AS BIGINT) AS span_end
       |FROM isl GROUP BY doc_id, grp""".stripMargin

  /** Corpus-trained bigram-LM quality score (CCNet-style), corpus
    * scoring itself. Hash-stable because each bigram's Laplace log-prob
    * rounds to integer micro-nats BEFORE the per-doc sum — exact
    * integer aggregation, no FP association divergence; the oracle
    * re-derives counts, vocabulary, and the identical ln arithmetic.
    */
  def qNgramLm(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // the corpus-trained model is deployment state shared with the
    // streaming twin (q_stream_lm scores the same corpus against the
    // same model) — memoized once, released after both consumers ran
    val model = graft.util.Scratch.once(spark, dir, "lm.model", uses = 2) {
      graft.text.NgramLm.train(docs, "doc_id", "text")
    }
    graft.text.NgramLm.scoreWithModel(docs, model, "doc_id", "text")
  }

  val qNgramLmSql: String =
    s"""WITH toks AS (SELECT doc_id, $sqlTokens AS t FROM documents),
       |big AS (
       |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) s),
       |bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
       |uc AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
       |v AS (SELECT count(DISTINCT x) AS vs
       |      FROM (SELECT unnest(t) AS x FROM toks))
       |SELECT big.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(CAST(round(ln((bc.c12 + 1.0) / (uc.c1 + v.vs))
       |                      * 1000000.0) AS BIGINT)) AS BIGINT)
       |    AS logprob_unats
       |FROM big JOIN bc USING (w1, w2) JOIN uc USING (w1), v
       |GROUP BY big.doc_id""".stripMargin

  /** Gopher-style repetition profile, one row per doc, computed with
    * per-row array ops (dup fractions) and a sorted-run HOF scan (top
    * token) — ZERO shuffle; the oracle re-derives the same fractions,
    * the mode via explode+group (the formulation we deliberately avoid
    * on the Spark side at scale). Outputs are raw IEEE doubles — both
    * engines compute the same divisions on the same integers, and NOT
    * rounding sidesteps the half-at-6dp divergence that p/2^k
    * fractions (e.g. 128-token docs) would hit.
    */
  def qTextRepetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(
        $"doc_id",
        TextFunctions.dupTokenFrac($"text").as("dup_token_frac"),
        TextFunctions.dupLineFrac($"text").as("dup_line_frac"),
        TextFunctions.topTokenFrac($"text").as("top_token_frac"))
  }

  val qTextRepetitionSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $sqlTokens AS t,
       |    list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lines
       |  FROM documents),
       |cnt AS (
       |  SELECT doc_id, tok, count(*) AS c
       |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
       |  GROUP BY doc_id, tok),
       |top AS (
       |  SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM cnt GROUP BY doc_id)
       |SELECT k.doc_id,
       |  CASE WHEN len(k.t) > 0
       |       THEN 1.0 - CAST(len(list_distinct(k.t)) AS DOUBLE) / len(k.t)
       |       ELSE 0.0 END AS dup_token_frac,
       |  CASE WHEN len(k.lines) > 0
       |       THEN 1.0 - CAST(len(list_distinct(k.lines)) AS DOUBLE) / len(k.lines)
       |       ELSE 0.0 END AS dup_line_frac,
       |  coalesce(CAST(top.mx AS DOUBLE) / top.tot, 0.0) AS top_token_frac
       |FROM toks k LEFT JOIN top ON k.doc_id = top.doc_id""".stripMargin

  /** Line-level corpus dedup (CCNet/RefinedWeb boilerplate scrub),
    * value-checked end-to-end. The synthetic documents are single-line,
    * so the query first builds multi-line docs the oracle can rebuild
    * identically: a per-source header (duplicated across every doc of
    * that source), two body lines sliced from the original text (mostly
    * unique), and a global footer (duplicated corpus-wide). The scrub
    * must drop exactly the over-represented lines and stitch the
    * survivors back in order.
    */
  def qLineDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents").select(
      $"doc_id",
      concat_ws("\n",
        concat(lit("source: "), $"source"),
        substring($"text", 1, 80),
        substring($"text", 81, 80),
        lit("(c) synthetic corpus - all rights reserved")).as("text"))
    graft.text.LineDedup.stripDuplicatedLines(docs, "doc_id", "text")
      .select($"doc_id", $"clean_text", $"lines_kept")
  }

  val qLineDedupSql: String =
    """WITH docs2 AS (
      |  SELECT doc_id,
      |    concat_ws(chr(10), 'source: ' || source,
      |              substr(text, 1, 80), substr(text, 81, 80),
      |              '(c) synthetic corpus - all rights reserved') AS text
      |  FROM documents),
      |lines AS (
      |  SELECT doc_id, unnest(parts) AS line,
      |         unnest(range(1, len(parts) + 1)) AS pos
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM docs2)),
      |banned AS (
      |  SELECT line FROM (SELECT line, count(*) AS n FROM lines GROUP BY line)
      |  WHERE n > 1),
      |kept AS (SELECT l.* FROM lines l ANTI JOIN banned b USING (line)),
      |rebuilt AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
      |         count(*) AS lines_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
      |       CAST(coalesce(r.lines_kept, 0) AS BIGINT) AS lines_kept
      |FROM docs2 d LEFT JOIN rebuilt r USING (doc_id)""".stripMargin

  /** PII redaction, value-checked: deterministic synthetic PII (email /
    * dotted-quad / phone, injected for disjoint doc_id residues so the
    * zero cases are exercised too) is scrubbed by the same chained
    * regex both engines run — the patterns interpolate from
    * [[TextFunctions]], single source of truth.
    */
  def qPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val aug = concat(
      $"text",
      when($"doc_id" % 2 === 0,
        concat(lit(" contact u"), $"doc_id".cast("string"),
          lit("@mail.example.com"))).otherwise(lit("")),
      when($"doc_id" % 3 === 0,
        concat(lit(" from 10.0."), ($"doc_id" % 256).cast("string"),
          lit(".7"))).otherwise(lit("")),
      when($"doc_id" % 5 === 0,
        concat(lit(" tel 555-"),
          lpad(($"doc_id" % 1000).cast("string"), 3, "0"),
          lit("-0199"))).otherwise(lit("")))
    val (emails, ips, phones) = TextFunctions.piiCounts(aug)
    Tables.load(spark, dir, "documents")
      .select(
        $"doc_id",
        TextFunctions.redactPii(aug).as("text_redacted"),
        emails.as("n_emails"), ips.as("n_ips"), phones.as("n_phones"))
  }

  val qPiiRedactSql: String = {
    val (email, ip, phone) = (TextFunctions.emailPattern,
      TextFunctions.ipv4Pattern, TextFunctions.phonePattern)
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(aug,
       |    '$email', '<EMAIL>', 'g'),
       |    '$ip', '<IP>', 'g'),
       |    '$phone', '<PHONE>', 'g') AS text_redacted,
       |  CAST(len(regexp_extract_all(aug, '$email')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(aug, '$ip')) AS INTEGER) AS n_ips,
       |  CAST(len(regexp_extract_all(aug, '$phone')) AS INTEGER) AS n_phones
       |FROM (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 2 = 0
       |         THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
       |         ELSE '' END
       |    || CASE WHEN doc_id % 3 = 0
       |         THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
       |         ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0
       |         THEN ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
       |         ELSE '' END AS aug
       |  FROM documents)""".stripMargin
  }

  /** Token-window chunking (RAG / context-window prep), value-checked:
    * 64-token windows with stride 48 over every document; the oracle
    * re-derives chunk counts, offsets, and the space-joined windows
    * with list slicing (DuckDB list slices are 1-based inclusive;
    * Spark's `slice(arr, start, len)` clamps the same way).
    */
  def qTextChunk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.text.Chunker.chunk(
      Tables.load(spark, dir, "documents"), "doc_id", "text",
      window = 64, stride = 48)
  }

  val qTextChunkSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $sqlTokens AS t FROM documents),
       |sized AS (
       |  SELECT doc_id, t, len(t) AS n,
       |    CASE WHEN len(t) <= 64 THEN 1
       |         ELSE CAST(ceil((len(t) - 64) / CAST(48 AS DOUBLE)) AS BIGINT) + 1
       |    END AS n_chunks
       |  FROM toks)
       |SELECT doc_id,
       |  CAST(i AS INTEGER) AS chunk_id,
       |  i * 48 AS start_tok,
       |  coalesce(array_to_string(t[i*48 + 1 : i*48 + 64], ' '), '') AS chunk_text,
       |  CAST(len(t[i*48 + 1 : i*48 + 64]) AS INTEGER) AS n_chunk_tokens
       |FROM (SELECT doc_id, t, unnest(range(0, n_chunks)) AS i FROM sized)""".stripMargin

  /** Corpus TF-IDF, value-checked: raw counts are exact; the smoothed
    * idf uses `ln`, whose libm vs JVM results agree to well within the
    * 6dp rounding, so the rounded weight hash-matches.
    */
  def qTfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    graft.text.TfIdf.tfidf(docs, "doc_id", "text", docs.count())
  }

  val qTfidfSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
       |tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
       |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
       |SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
       |  round(tf.tf * (ln(((SELECT count(*) FROM documents) + 1.0)
       |                    / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf
       |FROM tf JOIN dfreq USING (token)""".stripMargin

  /** Okapi BM25 weights over the corpus (k1=1.2, b=0.75). */
  def qBm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    graft.text.TfIdf.bm25(docs, "doc_id", "text", docs.count())
  }

  /** Oracle mirrors the Spark arithmetic operation-for-operation
    * (same parenthesization, fractional literals CAST to DOUBLE so
    * DuckDB doesn't run the expression in DECIMAL) — the doubles then
    * hash-compare bit-identically at 6dp.
    */
  val qBm25Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
       |tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
       |doclen AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |stats AS (
       |  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM doclen),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents)
       |SELECT tf.doc_id, tf.token, tf.tf, dfreq.df, doclen.dl,
       |  round((ln(1.0 + ((n.nd - dfreq.df) + CAST(0.5 AS DOUBLE))
       |                  / (dfreq.df + CAST(0.5 AS DOUBLE)))
       |         * (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0)))
       |        / (tf.tf + CAST(1.2 AS DOUBLE)
       |           * ((1.0 - CAST(0.75 AS DOUBLE))
       |              + ((CAST(0.75 AS DOUBLE) * doclen.dl) / stats.avgdl))),
       |        6) AS bm25
       |FROM tf
       |JOIN dfreq USING (token)
       |JOIN doclen USING (doc_id), stats, n""".stripMargin

  /** Corpus vocabulary: top 100 tokens by frequency. explode →
    * map-side partial count → shuffle carries only distinct tokens →
    * TakeOrderedAndProject (per-partition heaps, k rows to the
    * driver) — no global sort at any scale.
    */
  def qVocabTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(explode(TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"tok")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"tok".asc)
      .limit(100)
  }

  val qVocabTopkSql: String =
    s"""SELECT tok, CAST(count(*) AS BIGINT) AS n
       |FROM (SELECT unnest($sqlTokens) AS tok FROM documents)
       |GROUP BY tok
       |ORDER BY n DESC, tok ASC
       |LIMIT 100""".stripMargin

  /** The whole training-data curation path as ONE value-checked query:
    * exact dedup (normalized-text groups, min-id canonical) → language
    * gate → quality gate → repetition gates → PII scrub on the
    * survivors. Each stage is an operator with its own green gate row;
    * this row proves they COMPOSE — the oracle chains the same staged
    * SQL (reusing the per-stage oracle text verbatim as CTEs, so the
    * stages can't drift from their individually-checked forms).
    */
  def qCurateCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    // stage attribution (round-19 verdict, next #1): the two heavy
    // stages materialize under named phases so BENCH's phase map
    // partitions this gate's cost from the artifact alone — the
    // residual after `curate.dedup` (the normalize+window dedup) and
    // `curate.score` (per-row langid/quality/repetition + gates) is
    // the PII-redact projection and result emit. Values are
    // unchanged; the checkpoints are barriers, not transforms.
    // dead once the eager scoring checkpoint has materialized; released then
    val deduped = graft.util.PhaseTimer.time("curate.dedup") {
      graft.dedup.Dedup.exactDedup(docs, "text", "doc_id").localCheckpoint()
    }
    val kept = try graft.util.PhaseTimer.time("curate.score") {
      // tokenize ONCE into a column and score over the attribute: the
      // HOF-based scores evaluate interpreted, so inline `tokens(text)`
      // arguments re-run the regex split per reference (langId alone
      // holds one per language). CollapseProject keeps the multi-use,
      // non-cheap token array materialized in its own projection. The
      // gate FILTER applies above the checkpoint barrier: filtering
      // inside the scored projection lets predicate pushdown clone the
      // scoring expressions below it, evaluating langid/quality twice
      // per row — here every row scores exactly once and the filter
      // compares materialized columns.
      graft.util.Scratch.transientCheckpoint(graft.util.StagePlans.dump(
        "curate.score (tokenize-once scoring projection)",
        deduped
          .withColumn("__toks", TextFunctions.tokens($"text"))
          .withColumn("lang_pred", TextFunctions.langIdOf($"__toks"))
          .withColumn("quality", TextFunctions.qualityScoreOf($"text", $"__toks"))
          .withColumn("n_tokens", size($"__toks"))
          .withColumn("dup_token_frac", TextFunctions.dupTokenFracOf($"__toks"))
          .withColumn("top_token_frac", TextFunctions.topTokenFracOf($"__toks"))
          .drop("__toks"))
        .localCheckpoint())
    } finally graft.util.Scratch.release(deduped)
    kept.filter($"lang_pred" === "en" && $"quality" >= 0.9 &&
        $"dup_token_frac" <= 0.6 && $"top_token_frac" <= 0.12)
      .select($"doc_id", $"quality", $"n_tokens",
        $"dup_token_frac", $"top_token_frac",
        TextFunctions.redactPii($"text").as("text_redacted"))
  }

  val qCurateCorpusSql: String = {
    val indent = (s: String) => s.replace("\n", "\n  ")
    s"""WITH dedup AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (
       |      PARTITION BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
       |      ORDER BY doc_id) AS rn
       |    FROM documents) WHERE rn = 1),
       |langs AS (
       |  ${indent(qTextLangidSql)}),
       |scored AS (
       |  ${indent(qTextQualitySql)}),
       |reps AS (
       |  ${indent(qTextRepetitionSql)})
       |SELECT d.doc_id, s.quality, s.n_tokens,
       |       r.dup_token_frac, r.top_token_frac,
       |       regexp_replace(regexp_replace(regexp_replace(doc.text,
       |         '${TextFunctions.emailPattern}', '<EMAIL>', 'g'),
       |         '${TextFunctions.ipv4Pattern}', '<IP>', 'g'),
       |         '${TextFunctions.phonePattern}', '<PHONE>', 'g') AS text_redacted
       |FROM dedup d
       |JOIN documents doc USING (doc_id)
       |JOIN langs l USING (doc_id)
       |JOIN scored s USING (doc_id)
       |JOIN reps r USING (doc_id)
       |WHERE l.lang_pred = 'en' AND s.quality >= 0.9
       |  AND r.dup_token_frac <= 0.6 AND r.top_token_frac <= 0.12""".stripMargin
  }

  /** Token-budget corpus selection (Budget.budgetSelect): keep the
    * longest documents whose cumulative token count fits the budget.
    * The oracle is the single-window cumulative-sum formulation; the
    * engine runs the distributed two-phase prefix sum (range layout +
    * per-slice offsets) and must produce identical rows AND identical
    * running totals. Integer priorities/costs keep the compare exact.
    */
  def qBudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    graft.operators.Budget.budgetSelect(docs,
        Seq($"n_chars".desc, $"doc_id".asc),
        TextFunctions.tokenCount($"text"), budget = 10000L)
      .select($"doc_id", $"n_chars", $"__cum_cost".as("cum_tokens"))
  }

  val qBudgetSelectSql: String =
    """SELECT doc_id, n_chars, CAST(cum_tokens AS BIGINT) AS cum_tokens
      |FROM (
      |  SELECT doc_id, n_chars,
      |    sum(tok) OVER (ORDER BY n_chars DESC, doc_id ASC
      |                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM (SELECT doc_id, n_chars,
      |          len(list_filter(regexp_split_to_array(text, '\s+'),
      |              x -> length(x) > 0)) AS tok
      |        FROM documents))
      |WHERE cum_tokens <= 10000""".stripMargin

  /** Temperature-based source balancing (Sampling.temperatureSample):
    * per-source keep fractions ∝ count^α, rounded to 6dp on both
    * engines before the deterministic hash-band filter, so the oracle
    * reproduces every per-row decision exactly.
    */
  def qTemperatureSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Sampling.temperatureSample(
        Tables.load(spark, dir, "documents"),
        "source", "doc_id", alpha = 0.7, targetRows = 250L)
      .select($"doc_id", $"source")
  }

  val qTemperatureSampleSql: String =
    """WITH n AS (SELECT source, count(*) AS ns FROM documents GROUP BY source),
      |t AS (SELECT sum(pow(ns, 0.7)) AS tot FROM n),
      |f AS (SELECT source,
      |        round(least(1.0, 250 * pow(ns, 0.7) / tot / ns), 6) AS fr
      |      FROM n, t)
      |SELECT d.doc_id, d.source
      |FROM documents d JOIN f USING (source)
      |WHERE ((d.doc_id % 2147483648) * 2654435761) % 4294967296
      |      < CAST(floor(fr * 4294967296) AS BIGINT)""".stripMargin

  /** Selection-only budget filter (Budget.budgetFilter — the
    * corpus-never-shuffles path): same selection as q_budget_select,
    * derived through thin per-priority totals + a boundary-group
    * resolution, value-checked against the same cumulative-window
    * oracle (minus the running total).
    */
  def qBudgetFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.operators.Budget.budgetFilter(
        Tables.load(spark, dir, "documents"), "n_chars", "doc_id",
        TextFunctions.tokenCount($"text"), budget = 10000L)
      .select($"doc_id", $"n_chars")
  }

  val qBudgetFilterSql: String =
    """SELECT doc_id, n_chars FROM (
      |  SELECT doc_id, n_chars,
      |    sum(tok) OVER (ORDER BY n_chars DESC, doc_id ASC
      |                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM (SELECT doc_id, n_chars,
      |          len(list_filter(regexp_split_to_array(text, '\s+'),
      |              x -> length(x) > 0)) AS tok
      |        FROM documents))
      |WHERE cum_tokens <= 10000""".stripMargin

  /** Domain-mixture selection (Mixture.mixtureSelect): an independent
    * token budget PER SOURCE — the data-recipe stage ("N tokens of each
    * domain, best documents first") — resolved in one corpus pass via
    * the grouped two-phase prefix sum. Budgets derive deterministically
    * from the source name (1000 + 250·(srcnum mod 4)) so the gate works
    * at every SF; the oracle is the per-group cumulative window. Rows
    * AND per-group running totals must match exactly.
    */
  def qMixtureSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val budgets = docs.select($"source").distinct()
      .withColumn("__budget",
        lit(1000L) + lit(250L) *
          (regexp_extract($"source", "\\d+", 0).cast("long") % 4))
    graft.operators.Mixture.mixtureSelect(docs, "source",
        Seq($"n_chars".desc, $"doc_id".asc),
        TextFunctions.tokenCount($"text"), budgets)
      .select($"doc_id", $"source", $"n_chars",
        $"__cum_cost".as("cum_tokens"))
  }

  val qMixtureSampleSql: String =
    """WITH b AS (
      |  SELECT source,
      |    1000 + 250 * (CAST(regexp_extract(source, '\d+') AS BIGINT) % 4)
      |      AS budget
      |  FROM (SELECT DISTINCT source FROM documents)),
      |c AS (
      |  SELECT doc_id, source, n_chars,
      |    sum(tok) OVER (PARTITION BY source
      |                   ORDER BY n_chars DESC, doc_id ASC
      |                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM (SELECT doc_id, source, n_chars,
      |          len(list_filter(regexp_split_to_array(text, '\s+'),
      |              x -> length(x) > 0)) AS tok
      |        FROM documents))
      |SELECT doc_id, source, n_chars, CAST(cum_tokens AS BIGINT) AS cum_tokens
      |FROM c JOIN b USING (source)
      |WHERE cum_tokens <= budget""".stripMargin

  /** Fractional-epoch upsampling (Sampling.epochUpsample): every doc
    * repeated floor(e) times plus a hash-selected extra copy for the
    * fractional remainder, e derived deterministically from n_chars
    * (0.5–2.95 epochs, so the gate covers the sub-1-epoch drop arm,
    * the exactly-once arm, and multi-copy fan-out). The oracle
    * re-derives every copy with unnest(range(copies)).
    */
  def qUpsampleEpochs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val e = lit(0.5) + (col("n_chars") % 50) / lit(20.0)
    graft.operators.Sampling.epochUpsample(docs, "doc_id", e)
      .select($"doc_id", $"n_chars", $"epoch")
  }

  val qUpsampleEpochsSql: String =
    """WITH t AS (
      |  SELECT doc_id, n_chars,
      |    round(0.5 + (n_chars % 50) / 20.0, 6) AS e
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_chars,
      |    CAST(floor(e) AS BIGINT)
      |    + CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296
      |             < CAST(floor((e - floor(e)) * 4294967296) AS BIGINT)
      |           THEN 1 ELSE 0 END AS copies
      |  FROM t)
      |SELECT doc_id, n_chars, unnest(range(copies)) AS epoch
      |FROM c WHERE copies > 0""".stripMargin

  /** BPE training fixture shared by q_bpe_train / q_bpe_encode
    * (`uses = 2`): a repeated-letter word-count ladder whose counts
    * scale with |documents| (testdata-derived), constructed so the
    * FULL merge sequence is provable by hand — repeated-letter words
    * interact only with themselves, so pair frequencies are exact:
    * (c,c)=300·nd → (b,b)=180·nd → (cc,cc)=100·nd → (bb,b)=90·nd →
    * (a,a)=80·nd, then no adjacent pairs remain (early stop despite
    * numMerges=8). The oracle re-derives the same five rows from a
    * VALUES ladder × count(*).
    */
  private def bpeFixture(spark: SparkSession, dir: String)
      : (Long, Seq[graft.text.Bpe.Merge]) =
    graft.util.Scratch.once(spark, dir, "bpe.fixtures", uses = 2) {
      import spark.implicits._
      val nd = Tables.load(spark, dir, "documents").count()
      val ladder = Seq(("cccc", 100L * nd), ("bbb", 90L * nd), ("aa", 80L * nd))
        .toDF("word", "n")
      (nd, graft.text.Bpe.train(ladder, numMerges = 8, minFreq = 1))
    }

  def qBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, merges) = bpeFixture(spark, dir)
    merges.map(m => (m.rank, m.left, m.right, m.freq))
      .toDF("rank", "left_sym", "right_sym", "freq")
  }

  val qBpeTrainSql: String =
    """SELECT rank, left_sym, right_sym,
      |  CAST(base * (SELECT count(*) FROM documents) AS BIGINT) AS freq
      |FROM (VALUES (1, 'c', 'c', 300), (2, 'b', 'b', 180),
      |             (3, 'cc', 'cc', 100), (4, 'bb', 'b', 90),
      |             (5, 'a', 'a', 80))
      |  AS t(rank, left_sym, right_sym, base)""".stripMargin

  /** BPE encoding with the ladder vocabulary over per-doc 'c'-runs of
    * deterministic length (2 + doc_id mod 13): only the c-merges apply,
    * and greedy non-overlapping merging of a length-L run has a closed
    * form — floor(L/2) 'cc' then floor(L/4)... — so the oracle derives
    * every token sequence and count arithmetically. VALUE-checks the
    * rank-ordered greedy application end-to-end.
    */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, merges) = bpeFixture(spark, dir)
    val runs = Tables.load(spark, dir, "documents")
      .select($"doc_id",
        expr("repeat('c', cast(2 + doc_id % 13 AS INT))").as("text"))
    graft.text.Bpe.encode(runs, "doc_id", "text", merges)
      .select($"doc_id", concat_ws(" ", $"tokens").as("toks"), $"n_bpe_tokens")
  }

  val qBpeEncodeSql: String =
    """SELECT doc_id,
      |  rtrim(repeat('cccc ', CAST((len // 2) // 2 AS INT))
      |     || repeat('cc ', CAST((len // 2) % 2 AS INT))
      |     || repeat('c ', CAST(len % 2 AS INT))) AS toks,
      |  CAST((len // 2) // 2 + (len // 2) % 2 + len % 2 AS BIGINT)
      |    AS n_bpe_tokens
      |FROM (SELECT doc_id, 2 + doc_id % 13 AS len FROM documents)""".stripMargin

  /** URL canonicalization + domain capping, VALUE-checked against
    * GROUND TRUTH: each doc gets a deterministically messy URL
    * (uppercase scheme/host, www., default port, tracking params,
    * fragment, trailing slash), and the oracle derives the EXPECTED
    * canonical string straight from the construction formulas — the
    * canonicalizer is checked against what the answer should be, not
    * against a second regex implementation. Domain blocklist +
    * keep-first-K-per-domain mirror the C4-style curation stage; the
    * per-domain cap plans through the row_number→top-k rewrite.
    */
  def qUrlCuration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.text.UrlOps
    val docs = Tables.load(spark, dir, "documents")
    // deterministically messy: uppercase scheme/host, www., an optional
    // extra subdomain label, a public-suffix ccTLD for a third of the
    // hosts (.co.uk — registrable domain needs the PSL, last-two-labels
    // would collapse every such site into "co.uk"), default port,
    // tracking params, fragment, trailing slash
    val sub = when($"doc_id" % 4 === 1, lit("A.")).otherwise(lit(""))
    val tld = when($"doc_id" % 3 === 0, lit(".CO.UK")).otherwise(lit(".COM"))
    val raw = concat(
      lit("HTTPS://WWW."), sub, upper($"source"), ($"doc_id" % 5).cast("string"),
      tld, lit(":443/Item/"), ($"doc_id" % 7).cast("string"), lit("/"),
      $"doc_id".cast("string"),
      when($"doc_id" % 2 === 0,
        concat(lit("?utm_source=feed&ref=rss&page="),
          ($"doc_id" % 3).cast("string")))
        .otherwise(lit("/?utm_campaign=x#frag")))
    val canon = docs.select($"doc_id", UrlOps.canonicalizeUrl(raw).as("url"))
      .withColumn("domain", UrlOps.domain($"url"))
      .withColumn("reg_domain", UrlOps.registrableDomain($"url"))
    val kept = canon.filter(!$"domain".isin("src00.com", "src12.com"))
    import org.apache.spark.sql.expressions.Window
    // cap per REGISTRABLE domain (the C4-style unit of crawl politeness):
    // a.example.co.uk and example.co.uk share one cap bucket
    kept
      .withColumn("__rn", row_number().over(
        Window.partitionBy($"reg_domain").orderBy($"doc_id")))
      .filter($"__rn" <= 8).drop("__rn")
  }

  val qUrlCurationSql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    concat(CASE WHEN doc_id % 4 = 1 THEN 'a.' ELSE '' END,
      |           source, CAST(doc_id % 5 AS VARCHAR),
      |           CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END)
      |      AS domain,
      |    concat(source, CAST(doc_id % 5 AS VARCHAR),
      |           CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END)
      |      AS reg_domain,
      |    concat('https://',
      |           CASE WHEN doc_id % 4 = 1 THEN 'a.' ELSE '' END,
      |           source, CAST(doc_id % 5 AS VARCHAR),
      |           CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END,
      |           '/Item/', CAST(doc_id % 7 AS VARCHAR), '/',
      |           CAST(doc_id AS VARCHAR),
      |           CASE WHEN doc_id % 2 = 0
      |                THEN concat('?page=', CAST(doc_id % 3 AS VARCHAR))
      |                ELSE '' END) AS url
      |  FROM documents),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY reg_domain ORDER BY doc_id) AS rn
      |  FROM c WHERE domain NOT IN ('src00.com', 'src12.com'))
      |SELECT doc_id, url, domain, reg_domain FROM ranked WHERE rn <= 8""".stripMargin

  def queries: Map[String, Q] = Map(
    "q_url_curation" -> (qUrlCuration _),
    "q_budget_select" -> (qBudgetSelect _),
    "q_budget_filter" -> (qBudgetFilter _),
    "q_temperature_sample" -> (qTemperatureSample _),
    "q_mixture_sample" -> (qMixtureSample _),
    "q_upsample_epochs" -> (qUpsampleEpochs _),
    "q_bpe_train" -> (qBpeTrain _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_text_extract" -> (qTextExtract _),
    "q_text_stats" -> (qTextStats _),
    "q_text_langid" -> (qTextLangid _),
    "q_text_quality" -> (qTextQuality _),
    "q_text_fingerprint" -> (qTextFingerprint _),
    "q_text_repetition" -> (qTextRepetition _),
    "q_line_dedup" -> (qLineDedup _),
    "q_pii_redact" -> (qPiiRedact _),
    "q_curate_corpus" -> (qCurateCorpus _),
    "q_text_chunk" -> (qTextChunk _),
    "q_tfidf" -> (qTfidf _),
    "q_bm25" -> (qBm25 _),
    "q_span_dedup" -> (qSpanDedup _),
    "q_ngram_lm" -> (qNgramLm _),
    "q_span_dedup_incr" -> (qSpanDedupIncr _),
    "q_vocab_topk" -> (qVocabTopk _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_decontam_ratio" -> (qDecontamRatio _),
    "q_pack_sequences" -> (qPackSequences _))

  def oracles: Map[String, String] = Map(
    "q_url_curation" -> qUrlCurationSql,
    "q_budget_select" -> qBudgetSelectSql,
    "q_budget_filter" -> qBudgetFilterSql,
    "q_temperature_sample" -> qTemperatureSampleSql,
    "q_mixture_sample" -> qMixtureSampleSql,
    "q_upsample_epochs" -> qUpsampleEpochsSql,
    "q_bpe_train" -> qBpeTrainSql,
    "q_bpe_encode" -> qBpeEncodeSql,
    "q_text_extract" -> qTextExtractSql,
    "q_text_stats" -> qTextStatsSql,
    "q_text_langid" -> qTextLangidSql,
    "q_text_quality" -> qTextQualitySql,
    "q_text_repetition" -> qTextRepetitionSql,
    "q_line_dedup" -> qLineDedupSql,
    "q_pii_redact" -> qPiiRedactSql,
    "q_curate_corpus" -> qCurateCorpusSql,
    "q_text_chunk" -> qTextChunkSql,
    "q_tfidf" -> qTfidfSql,
    "q_bm25" -> qBm25Sql,
    "q_span_dedup" -> qSpanDedupSql,
    "q_ngram_lm" -> qNgramLmSql,
    "q_span_dedup_incr" -> qSpanDedupIncrSql,
    "q_text_fingerprint" -> qTextFingerprintSql,
    "q_vocab_topk" -> qVocabTopkSql,
    "q_decontaminate" -> qDecontaminateSql,
    "q_decontam_ratio" -> qDecontamRatioSql,
    "q_pack_sequences" -> qPackSequencesSql)
}
