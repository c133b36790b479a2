package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.mm.{MediaRecord, Mp4, Multimodal}

/** Multimodal plumbing in the gate. The image path decodes REAL
  * generated PNGs through javax.imageio and value-checks the decoded
  * pixels (q_mm_decode); the frame/embedding queries construct media
  * from `documents` (text bytes as the opaque binary payload) with
  * DECLARED duration metadata derived from n_chars, so their
  * mapPartitions pipelines (schema, row expansion, batch iteration)
  * are value-checked while the still-stubbed video/encoder internals
  * stay out of the projection.
  */
object MultimodalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The ONE synthesized media corpus behind the three near-dup gates
    * (round-8 verdict #6 retired the double render): per document, a
    * 3-member image family — PNG at +0, BMP at +1e7, PNG re-crawl at
    * +2e7, same pixels — and a 2-member audio family — WAV at +3e7,
    * AIFF at +4e7, same samples. q_mm_dedup_e2e consumes it whole;
    * q_img_dhash takes the {+0,+1e7} image slice and q_audio_ahash the
    * audio slice remapped to {+0,+1e7}, so each pair query sees exactly
    * the 2-member families its oracle derives. Rendered once per JVM
    * (phase `media.corpus`), localCheckpointed, evicted by the bench
    * after its third consumer (`uses = 3`).
    */
  private def mediaCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.util.Scratch.once(spark, dir, "media.corpus", uses = 3) {
      Tables.load(spark, dir, "documents")
        .select($"doc_id").as[Long]
        // compute-bound render must not inherit the scan's one-fat-file
        // partitioning (documents is a single parquet file → ONE task
        // would encode all 5 renders × |docs| media payloads serially)
        .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .flatMap { id =>
          Seq(
            MediaRecord(id, "image", s"mem://scene/$id",
              Multimodal.synthesizePatternImage(36, 32, id, "png"),
              None, None, None),
            MediaRecord(id + 10000000L, "image", s"mem://scene/bmp/$id",
              Multimodal.synthesizePatternImage(36, 32, id, "bmp"),
              None, None, None),
            MediaRecord(id + 20000000L, "image", s"mem://scene/recrawl/$id",
              Multimodal.synthesizePatternImage(36, 32, id, "png"),
              None, None, None),
            MediaRecord(id + 30000000L, "audio", s"mem://clip/$id",
              Multimodal.synthesizePatternAudio(8000, 2048, id, "wav"),
              None, None, None),
            MediaRecord(id + 40000000L, "audio", s"mem://clip/aiff/$id",
              Multimodal.synthesizePatternAudio(8000, 2048, id, "aiff"),
              None, None, None))
        }.toDF().localCheckpoint()
    }
  }

  private def asMedia(spark: SparkSession, dir: String, kind: String) = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(
        $"doc_id".as("media_id"),
        lit(kind).as("kind"),
        concat(lit("mem://doc/"), $"doc_id").as("uri"),
        $"text".cast("binary").as("content"),
        ($"n_chars" % 640 + 1).cast("int").as("width"),
        ($"n_chars" % 480 + 1).cast("int").as("height"),
        ($"n_chars" * 10).as("duration_ms"))
      .as[MediaRecord]
  }

  /** REAL image decode, value-checked end-to-end: each document becomes
    * a deterministic solid-gray PNG (width/height/gray are pure
    * functions of n_chars and doc_id), the executors decode them with
    * javax.imageio, and the oracle re-derives the decoded
    * width/height/brightness from the same formulas — so a broken
    * codec path (not just broken plumbing) fails the gate. PNG byte
    * length is codec-dependent and stays out of the projection.
    *
    * Brightness rounding is safe at 6dp: g/255 × 10⁶ is never within
    * 0.002 of a half (g·10⁶ mod 255 is an integer, .5 would need
    * 127.5), so sampling-accumulation ulps cannot flip the rounding.
    */
  def qMmDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.load(spark, dir, "documents")
      .select(
        $"doc_id",
        ($"n_chars" % 64 + 1).cast("int").as("w"),
        ($"n_chars" % 48 + 1).cast("int").as("h"),
        ($"doc_id" % 256).cast("int").as("g"))
      .as[(Long, Int, Int, Int)]
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .map { case (id, w, h, g) =>
        MediaRecord(id, "image", s"mem://png/$id",
          Multimodal.synthesizePng(w, h, g), None, None, None)
      }
    Multimodal.decodeImage(media)
      .toDF()
      .select($"media_id", $"width", $"height",
        round($"brightness", 6).as("brightness"), $"aspect_ratio")
  }

  /** Image near-dup detection end-to-end through the REAL codec: each
    * document becomes a pseudo-random-texture scene rendered TWICE —
    * once as PNG, once as BMP (same pixels, different container, clone
    * id offset 10⁷) — and dHash + pair generation must recover exactly
    * the (scene, clone) pairs. Provable because dHash is a pure
    * function of decoded pixels (both containers are lossless) while
    * distinct seeds give effectively independent 64-bit hashes; a
    * cross-seed collision or a codec divergence would emit an extra /
    * missing pair and hash-mismatch the oracle.
    */
  def qImgDhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // fixture ENCODE is memoized + phase-attributed (the shared
    // media.corpus render); the timed query is decode+hash+pairs over
    // the 2-member {PNG, BMP} image slice — the +2e7 re-crawl stays
    // out so pairs remain exactly the oracle's (id, id+1e7)
    val mat = mediaCorpus(spark, dir).filter($"media_id" < 20000000L)
    graft.util.PhaseTimer.time("imgdhash.hash") {
      Multimodal.imageDupPairs(Multimodal.dhashImages(mat.as[MediaRecord]))
    }
  }

  val qImgDhashSql: String =
    """SELECT doc_id AS id_a, doc_id + 10000000 AS id_b FROM documents""".stripMargin

  /** Audio near-dup detection — the [[qImgDhash]] construction under
    * the audio codec: each document becomes a pseudo-random PCM clip
    * rendered as WAV AND AIFF (same samples, different container and
    * byte order), and the energy-profile hash must recover exactly the
    * (clip, clone) pairs.
    */
  def qAudioAhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // same fixture discipline as qImgDhash: the shared media.corpus
    // audio slice, WAV/AIFF ids remapped from {+3e7, +4e7} down to
    // {+0, +1e7} so pairs remain exactly the oracle's (id, id+1e7);
    // the timed query is decode+hash+pairs
    val mat = mediaCorpus(spark, dir)
      .filter($"media_id" >= 30000000L)
      .withColumn("media_id", $"media_id" - 30000000L)
    // phase-attributed (round-15 verdict, next #1): the per-pass cost
    // is the audio decode+hash itself — without the phase, the bench's
    // warm rerun reads as unexplained drift
    graft.util.PhaseTimer.time("audiohash.hash") {
      graft.util.Scratch.transientCheckpoint(
        Multimodal.audioDupPairs(Multimodal.ahashAudio(mat.as[MediaRecord]))
          .localCheckpoint())
    }
  }

  val qAudioAhashSql: String =
    """SELECT doc_id AS id_a, doc_id + 10000000 AS id_b FROM documents""".stripMargin

  /** Multimodal near-dup GROUP RESOLUTION end-to-end — the [[qImgDhash]]
    * / [[qAudioAhash]] pair detection routed through the same
    * dupGroups + keepBest machinery the text path uses: each document
    * renders as a 3-member image family (PNG, BMP, PNG re-crawl — same
    * pixels, ids offset 0/1e7/2e7) and a 2-member audio family (WAV,
    * AIFF at 3e7/4e7), dHash/energy-hash pairs become connected
    * components, and the keep-NEWEST policy (highest media_id = the
    * re-crawl) must surface exactly the 2e7 image and 4e7 audio member
    * per document. Edges are restricted to provable same-scene pairs
    * (equal id mod 1e7) so a cross-seed 64-bit hash collision — absent
    * at every shipped SF but not oracle-expressible — could never link
    * two families; planted pairs always survive the filter.
    */
  def qMmDedupE2e(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.dedup.Dedup
    val mat = mediaCorpus(spark, dir)
    val media = mat.as[MediaRecord]
    // phase-attributed materialization: the dual-codec decode + hash is
    // the dominant per-pass cost of this lifecycle (both codecs over
    // the full corpus, mapPartitions-justified) — without the phase the
    // bench artifact reads its warm seconds as unexplained drift. The
    // checkpoint is thin (id pairs) and dupGroups re-reads it instead
    // of re-planning the decode; dupGroups consumes it eagerly, so it
    // is released once the groups are resolved.
    val pairs = graft.util.PhaseTimer.time("mmdedup.hash") {
      Multimodal.imageDupPairs(Multimodal.dhashImages(media))
        .unionByName(Multimodal.audioDupPairs(Multimodal.ahashAudio(media)))
        .filter($"id_b" % 10000000L === $"id_a" % 10000000L)
        .localCheckpoint()
    }
    // families are direct cliques: 4 propagation rounds cover 16-hop
    // chains, far beyond the 3-member diameter here
    val groups = try Dedup.dupGroups(pairs, maxIters = 4)
      finally graft.util.Scratch.release(pairs)
    Dedup.keepBest(mat.select($"media_id", $"kind"), "media_id", groups,
        $"media_id")
      .select($"media_id", $"kind")
  }

  val qMmDedupE2eSql: String =
    """SELECT doc_id + 20000000 AS media_id, 'image' AS kind FROM documents
      |UNION ALL
      |SELECT doc_id + 40000000 AS media_id, 'audio' AS kind FROM documents""".stripMargin

  val qMmDecodeSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(n_chars % 64 + 1 AS INTEGER) AS width,
      |  CAST(n_chars % 48 + 1 AS INTEGER) AS height,
      |  round(CAST(doc_id % 256 AS DOUBLE) / 255, 6) AS brightness,
      |  CAST(CAST(n_chars % 64 + 1 AS DOUBLE) / (n_chars % 48 + 1) AS DOUBLE)
      |    AS aspect_ratio
      |FROM documents""".stripMargin

  /** REAL audio decode, value-checked end-to-end like q_mm_decode: each
    * document becomes a constant-amplitude mono PCM16 WAV (sample count
    * and amplitude are pure functions of n_chars and doc_id), the
    * executors decode it with javax.sound.sampled, and the oracle
    * re-derives sample rate, frame count, exact microsecond duration
    * (n·125 at 8 kHz) and RMS (= amplitude/32767 for a constant
    * signal). RMS rounding is safe at 6dp by the same argument as
    * brightness: s·10⁶ mod 32767 is an integer, never half.
    */
  def qMmAudio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.load(spark, dir, "documents")
      .select(
        $"doc_id",
        ($"n_chars" % 1000 + 100).cast("int").as("n"),
        ($"doc_id" % 16384).cast("int").as("s"))
      .as[(Long, Int, Int)]
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .map { case (id, n, s) =>
        MediaRecord(id, "audio", s"mem://wav/$id",
          Multimodal.synthesizeWav(8000, n, s.toShort), None, None, None)
      }
    Multimodal.decodeAudio(media)
      .toDF()
      .select($"media_id", $"sample_rate", $"channels", $"n_samples",
        $"duration_us", round($"rms", 6).as("rms"))
  }

  val qMmAudioSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(8000 AS INTEGER) AS sample_rate,
      |  CAST(1 AS INTEGER) AS channels,
      |  CAST(n_chars % 1000 + 100 AS BIGINT) AS n_samples,
      |  CAST((n_chars % 1000 + 100) * 125 AS BIGINT) AS duration_us,
      |  round(CAST(doc_id % 16384 AS DOUBLE) / 32767, 6) AS rms
      |FROM documents""".stripMargin

  /** Frame sampling: flatMap row expansion, one row per 1000ms
    * interval of the declared duration.
    */
  def qMmFrames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(asMedia(spark, dir, "video"), everyMs = 1000)
      .toDF()
      .select("media_id", "frame_ix", "ts_ms")

  val qMmFramesSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(unnest(range(n_chars * 10 // 1000)) AS INTEGER) AS frame_ix,
      |  unnest(range(n_chars * 10 // 1000)) * 1000 AS ts_ms
      |FROM documents""".stripMargin

  /** Media "embedding" plumbing — HONEST LABELING: the value column is
    * named `byte_histogram` because that is what it IS (the stand-in
    * features of [[Multimodal.embedMedia]], a byte-frequency histogram,
    * NOT a learned embedding — no ONNX/vision encoder ships in this
    * environment). What this query value-checks is the real part: the
    * binary-column batch path (mapPartitions with per-partition session
    * init point, long-format output, oracle-derivable features). Swap
    * the stand-in for an encoder and the plumbing is unchanged.
    */
  def qMmEmbed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Multimodal.embedMedia(asMedia(spark, dir, "image"), dim = 8)
      .toDF()
      .select($"media_id", $"dim", round($"value", 6).as("byte_histogram"))
  }

  val qMmEmbedSql: String =
    """SELECT doc_id AS media_id, CAST(i AS INTEGER) AS dim,
      |  round(CAST(len(text) - len(replace(text, chr(CAST(97 + i AS INTEGER)), '')) AS DOUBLE)
      |        / greatest(octet_length(encode(text)), 1), 6) AS byte_histogram
      |FROM documents, range(0, 8) t(i)""".stripMargin

  /** REAL multi-frame decode, value-checked end-to-end: each document
    * becomes a deterministic animated GIF (2-5 solid-gray frames; size
    * and per-frame gray are pure functions of n_chars, doc_id, and the
    * frame index), the executors demux and decode every 2nd frame with
    * javax.imageio, and the oracle re-derives frame indexes, decoded
    * dimensions, and per-frame brightness from the same formulas — the
    * video-side analogue of q_mm_decode, replacing declared-metadata
    * checking with decoded-pixel checking for JDK-demuxable media.
    * (brightness = g/255 can never land on a rounding half at 6dp:
    * 2·g·10⁶ ≡ 255 (mod 510) has no solution — even vs odd.)
    */
  def qMmGifFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.load(spark, dir, "documents")
      .select(
        $"doc_id",
        ($"n_chars" % 32 + 1).cast("int").as("w"),
        ($"n_chars" % 24 + 1).cast("int").as("h"),
        ($"n_chars" % 4 + 2).cast("int").as("nf"))
      .as[(Long, Int, Int, Int)]
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .map { case (id, w, h, nf) =>
        val grays = (0 until nf).map(i => ((id * 7 + i * 31) % 256).toInt)
        MediaRecord(id, "video", s"mem://gif/$id",
          Multimodal.synthesizeGif(w, h, grays), None, None, None)
      }
    Multimodal.decodeFrames(media, every = 2)
      .toDF()
      .select($"media_id", $"frame_ix", $"width", $"height",
        round($"brightness", 6).as("brightness"))
  }

  val qMmGifFramesSql: String =
    """SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_ix,
      |  CAST(n_chars % 32 + 1 AS INTEGER) AS width,
      |  CAST(n_chars % 24 + 1 AS INTEGER) AS height,
      |  round(CAST((doc_id * 7 + i * 31) % 256 AS DOUBLE) / 255, 6)
      |    AS brightness
      |FROM documents,
      |  LATERAL (SELECT unnest(range(0, n_chars % 4 + 2, 2)) AS i) s""".stripMargin

  /** REAL mp4 container demux, value-checked end-to-end: each document
    * becomes a spec-compliant ISO BMFF file (ftyp+moov+mdat written by
    * [[Mp4.mux]]; frame count, per-frame durations, sample sizes and
    * payload bytes are pure functions of doc_id/n_chars/frame index),
    * executors walk the real box tree (stts/stsz/stsc/stco) to recover
    * timestamps, dimensions AND the raw sample bytes from mdat, and the
    * oracle re-derives all of it — including the prefix-sum
    * presentation times and each sample's first payload byte, which
    * only a correct stco/stsz offset walk can produce. The remaining
    * stub boundary is exactly the CODEC (pixel decode of extracted
    * samples); the container math is no longer stubbed.
    */
  def qMmMp4Frames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.load(spark, dir, "documents")
      .select($"doc_id",
        ($"n_chars" % 4 + 2).cast("int").as("nf"),
        ($"n_chars" % 32 + 16).cast("int").as("w"),
        ($"n_chars" % 24 + 16).cast("int").as("h"))
      .as[(Long, Int, Int, Int)]
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .map { case (id, nf, w, h) =>
        val durations = (0 until nf).map(i => ((id * 13 + i * 7) % 100 + 1).toInt)
        val samples = (0 until nf).map { i =>
          Array.fill(((id + i) % 64 + 1).toInt)(((id * 31 + i * 17) % 256).toByte)
        }
        MediaRecord(id, "video", s"mem://mp4/$id",
          Mp4.mux(w, h, timescale = 1000, durations, samples), None, None, None)
      }
    Mp4.demuxFrames(media)
      .map(f => (f.media_id, f.frame_ix, f.ts_ms, f.width, f.height,
        f.sample_size, if (f.sample.nonEmpty) f.sample(0) & 0xff else -1))
      .toDF("media_id", "frame_ix", "ts_ms", "width", "height",
        "sample_size", "first_byte")
  }

  val qMmMp4FramesSql: String =
    """WITH f AS (
      |  SELECT doc_id, n_chars, unnest(range(0, n_chars % 4 + 2)) AS i
      |  FROM documents)
      |SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_ix,
      |  CAST(coalesce(sum((doc_id * 13 + i * 7) % 100 + 1) OVER (
      |    PARTITION BY doc_id ORDER BY i
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ts_ms,
      |  CAST(n_chars % 32 + 16 AS INTEGER) AS width,
      |  CAST(n_chars % 24 + 16 AS INTEGER) AS height,
      |  CAST((doc_id + i) % 64 + 1 AS BIGINT) AS sample_size,
      |  CAST((doc_id * 31 + i * 17) % 256 AS INTEGER) AS first_byte
      |FROM f""".stripMargin

  def queries: Map[String, Q] = Map(
    "q_mm_mp4_frames" -> (qMmMp4Frames _),
    "q_mm_gif_frames" -> (qMmGifFrames _),
    "q_mm_decode" -> (qMmDecode _),
    "q_img_dhash" -> (qImgDhash _),
    "q_audio_ahash" -> (qAudioAhash _),
    "q_mm_dedup_e2e" -> (qMmDedupE2e _),
    "q_mm_audio" -> (qMmAudio _),
    "q_mm_frames" -> (qMmFrames _),
    "q_mm_embed" -> (qMmEmbed _))

  def oracles: Map[String, String] = Map(
    "q_mm_mp4_frames" -> qMmMp4FramesSql,
    "q_mm_gif_frames" -> qMmGifFramesSql,
    "q_mm_decode" -> qMmDecodeSql,
    "q_img_dhash" -> qImgDhashSql,
    "q_audio_ahash" -> qAudioAhashSql,
    "q_mm_dedup_e2e" -> qMmDedupE2eSql,
    "q_mm_audio" -> qMmAudioSql,
    "q_mm_frames" -> qMmFramesSql,
    "q_mm_embed" -> qMmEmbedSql)
}
