package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.Multimodal

/** Multimodal queries: image, audio and video metadata statistics and
  * near-duplicate detection.
  */
object MultimodalQueries {

  val all: Seq[Query] = Seq(
    // Image near-dup dedup (round 11) — the MULTIMODAL counterpart of
    // the text MinHash family, on REALLY-decoded pixels: every doc
    // gets a deterministic synthetic 16×16 BMP (Multimodal.synthBmp —
    // byte-identical anywhere), every 3rd doc additionally a ONE-PIXEL
    // -changed copy (a true perceptual near-dup: different bytes, same
    // image to the eye; ≤ 1 dHash bit can differ). javax.imageio
    // decodes for real, the 64-bit dHash collapses pixels to a 9×8
    // exact-integer luminance grid, and pairs come from the
    // pigeonhole-banded Hamming join (4 × 16-bit quarters — recall
    // GUARANTEED to Hamming 3, never all-pairs). Output: one audit
    // row; the plant construction pins it (every planted pair found,
    // nothing else within Hamming 3 — random 64-bit hashes collide at
    // ~C(64,3)/2⁶⁴). Decode isn't SQL-expressible, so the oracle pins
    // the EXPRESSION-derived cells (counts from the documents table),
    // the pinned-cell convention of ann_recall. 100 TB shape: decode +
    // hash ride the mapPartitions batch seam (pixels never leave the
    // task); the join shuffles (id, 64-bit hash) quarters only.
    Query("image_neardup", { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val basePay = docs.as[Long].mapPartitions(_.map(id =>
        (id, Multimodal.synthBmp(id)))).toDF("doc_id", "payload")
      val nearPay = docs.filter(col("doc_id") % 3 === 0).as[Long]
        .mapPartitions(_.map(id =>
          (id + 30000000L, Multimodal.synthBmp(id, tweakBlue = true))))
        .toDF("doc_id", "payload")
      val hashes = Multimodal.imageDHashes(s,
        basePay.unionByName(nearPay)).toDF().localCheckpoint(true)
      val pairs = Multimodal.dhashNearDups(hashes, maxHamming = 3)
        .localCheckpoint(true)
      val planted = pairs
        .filter(col("doc_b") === col("doc_a") + 30000000L &&
          pmod(col("doc_a"), lit(3L)) === 0)
      hashes.agg(count(lit(1)).as("n_images"),
          sum(when(col("decoded"), 0L).otherwise(1L)).as("n_undecoded"))
        .crossJoin(broadcast(docs.filter(col("doc_id") % 3 === 0)
          .agg(count(lit(1)).as("n_expected"))))
        .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_pairs"))))
        .crossJoin(broadcast(planted.agg(count(lit(1)).as("n_planted"))))
        .select(col("n_images"), col("n_expected"), col("n_pairs"),
          (col("n_undecoded") === 0L && col("n_pairs") === col("n_expected")
            && col("n_planted") === col("n_expected")).as("only_planted"))
    },
      // image_neardup: decode isn't SQL-expressible — the deterministic
      // plant construction pins the audit cells from the documents table
      // (the ann_recall convention).
      """WITH n3 AS (SELECT CAST(count(*) AS BIGINT) AS e FROM documents
        |            WHERE doc_id % 3 = 0),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
        |SELECT n + e AS n_images, e AS n_expected, e AS n_pairs,
        |       TRUE AS only_planted
        |FROM nn, n3""".stripMargin),

    // Audio multimodal column (round 12) — the WAV leg of SURVEY §7.5
    // next to the image leg: per-doc deterministic 16-bit PCM WAVs
    // (synthWav — samples derive from md5Hash60("doc:i"), varied
    // channel counts / sample rates / an odd-sized junk chunk forcing
    // the RIFF walker's skip+pad path), every 7th doc carrying
    // UNDECODABLE text bytes (the corrupt-blob path), parsed by the
    // codec-free parseWav through the mapPartitions batch seam into
    // exact-integer PCM stats: peak, BIGINT energy, full-scale clip
    // count, HALF_UP clip fraction. Unlike image_neardup's pinned
    // cells, the WHOLE row hash-oracles: DuckDB re-derives the exact
    // sample stream with generate_series + md5 and must match every
    // doc's peak/sum_sq/n_clipped bit-for-bit. 100 TB shape: payloads
    // ride their own parquet column (pruned unless selected), sample
    // arrays never leave the task — only fixed-width integers cross
    // the exchange, and there is no shuffle at all before the sink.
    Query("audio_stats", { (s, d) =>
      import s.implicits._
      val pay = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val bytes =
            if (id % 7 == 0) text.getBytes("UTF-8")
            else Multimodal.synthWav(id,
              nSamples = 300 + 2 * (id % 50).toInt,
              channels = 1 + (id % 2).toInt,
              sampleRate = 8000 + (id % 8).toInt * 1000,
              junkChunk = id % 5 == 0)
          (id, bytes)
        }).toDF("doc_id", "payload")
      Multimodal.audioStats(s, pay).toDF()
        .select(col("doc_id"), col("decoded"),
          col("channels").cast("long").as("channels"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), col("peak"), col("sum_sq"), col("n_clipped"),
          when(col("n_samples") === 0L, 0L)
            .otherwise(expr(
              "(2 * 1000000 * n_clipped + n_samples) div (2 * n_samples)"))
            .as("clip_x1e6"))
    },
      // audio_stats: the full hash oracle — DuckDB regenerates the
      // md5-derived sample stream per doc (generate_series lateral) and
      // recomputes peak/energy/clip cells; undecodable %7 docs are the
      // all-zero rows.
      """WITH base AS (
        |  SELECT doc_id,
        |         1 + doc_id % 2 AS channels,
        |         8000 + (doc_id % 8) * 1000 AS sample_rate,
        |         300 + 2 * (doc_id % 50) AS n
        |  FROM documents),
        |samp AS (
        |  -- fixed series + filter: DuckDB's generate_series takes no
        |  -- lateral column bound; max n is 300 + 2·49 = 398
        |  SELECT b.doc_id,
        |         CAST('0x' || substr(md5(CAST(b.doc_id AS VARCHAR) || ':' ||
        |              CAST(t.i AS VARCHAR)), 1, 15) AS BIGINT)
        |           % 70001 - 35000 AS raw
        |  FROM base b JOIN generate_series(0, 397) t(i) ON t.i < b.n
        |  WHERE b.doc_id % 7 <> 0),
        |cl AS (SELECT doc_id, greatest(-32768, least(32767, raw)) AS v
        |       FROM samp),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |         CAST(max(abs(v)) AS BIGINT) AS peak,
        |         CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |         CAST(sum(CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_clipped
        |  FROM cl GROUP BY 1)
        |SELECT b.doc_id,
        |       (b.doc_id % 7 <> 0) AS decoded,
        |       CAST(CASE WHEN b.doc_id % 7 = 0 THEN 0 ELSE b.channels END
        |            AS BIGINT) AS channels,
        |       CAST(CASE WHEN b.doc_id % 7 = 0 THEN 0 ELSE b.sample_rate END
        |            AS BIGINT) AS sample_rate,
        |       coalesce(a.n_samples, 0) AS n_samples,
        |       coalesce(a.peak, 0) AS peak,
        |       coalesce(a.sum_sq, 0) AS sum_sq,
        |       coalesce(a.n_clipped, 0) AS n_clipped,
        |       CASE WHEN b.doc_id % 7 = 0 THEN 0
        |            ELSE (2 * 1000000 * a.n_clipped + a.n_samples)
        |                 // (2 * a.n_samples) END AS clip_x1e6
        |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin),

    // Audio near-dup / trimmed-re-upload detection (round 12) — the
    // missing cell of the modality matrix (image_neardup ↔
    // video_neardup ↔ THIS): every even non-%7 doc gets a re-upload
    // with the first two 64-sample windows trimmed (same PCM content
    // at a window-aligned offset, new container, new id), and
    // matching runs on acoustic-fingerprint keys computed from the
    // DECODED sample stream (Multimodal.audioFingerprints — the
    // Chromaprint idea in exact integers): an equality join on the
    // window key, ≥ 3 shared windows ⇒ a pair. %7 docs carry
    // undecodable text bytes and flow through as decoded=false rows
    // the join never sees (the sweep survives corrupt blobs). 100 TB
    // shape: decode + fingerprint ride the mapPartitions batch seam
    // (samples never leave the task); the join is a hash shuffle on
    // fixed-width (doc, long-key) rows — the inverted-index shape.
    // Full hash oracle: DuckDB re-derives the exact sample stream
    // (generate_series + md5) and replays the same keys and join.
    Query("audio_neardup", { (s, d) =>
      import s.implicits._
      val W = 64
      val pay = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .filter(pmod(col("doc_id"), lit(13L)) === 0)
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          if (id % 7 == 0) Iterator((id, text.getBytes("UTF-8")))
          else {
            val k = 6 + (id % 4).toInt
            val orig = (id, Multimodal.synthWav(id, nSamples = W * k))
            if (id % 2 == 0)
              Iterator(orig, (id + 15000000000L,
                Multimodal.synthWav(id, nSamples = W * (k - 2),
                  sampleOffset = 2 * W)))
            else Iterator(orig)
          }
        }).toDF("doc_id", "payload")
      val fps = Multimodal.audioFingerprints(s, pay, window = W).toDF()
        .filter(col("decoded"))
        .select(col("doc_id"), col("win_key"))
        .localCheckpoint(true)
      val copies = fps.filter(col("doc_id") >= 15000000000L)
        .withColumnRenamed("doc_id", "copy_doc")
      val origs = fps.filter(col("doc_id") < 15000000000L)
        .withColumnRenamed("doc_id", "orig_doc")
      copies.join(origs, "win_key")
        .groupBy(col("copy_doc"), col("orig_doc"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
    },
      // audio_neardup: full hash oracle — regenerate the exact sample
      // stream per doc (the audio_stats md5 formula), fold the same
      // (j+13)² position-weighted 64-sample window keys, and replay the
      // copy-side (windows ≥ 2 of even docs, id + 15e9) vs original
      // key join. max samples = 64·(6 + 3) = 576.
      """WITH base AS (
        |  SELECT doc_id, 6 + doc_id % 4 AS k
        |  FROM documents WHERE doc_id % 13 = 0 AND doc_id % 7 <> 0),
        |samp AS (
        |  SELECT b.doc_id, t.i // 64 AS w, t.i % 64 AS j,
        |         greatest(-32768, least(32767,
        |           CAST('0x' || substr(md5(CAST(b.doc_id AS VARCHAR) || ':' ||
        |             CAST(t.i AS VARCHAR)), 1, 15) AS BIGINT)
        |             % 70001 - 35000)) AS v
        |  FROM base b JOIN generate_series(0, 575) t(i) ON t.i < 64 * b.k),
        |keys AS (
        |  SELECT doc_id, w,
        |         CAST(sum((j + 13) * (j + 13) * v) AS BIGINT) AS win_key
        |  FROM samp GROUP BY 1, 2),
        |orig AS (SELECT doc_id AS orig_doc, win_key FROM keys),
        |cop AS (SELECT doc_id + 15000000000 AS copy_doc, win_key
        |        FROM keys WHERE doc_id % 2 = 0 AND w >= 2)
        |SELECT c.copy_doc, o.orig_doc, CAST(count(*) AS BIGINT) AS n_shared
        |FROM cop c JOIN orig o USING (win_key)
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin),

    // Video multimodal column (round 12) — the third modality: a REAL
    // RIFF AVI container walk (LIST hdrl → avih dims, LIST movi →
    // uncompressed 00db frames — Multimodal.parseAvi, the parseWav
    // twin) over deterministic synthetic clips whose 16×16 grayscale
    // frames derive from md5Long60 in 7-byte groups, so the oracle
    // regenerates every sampled frame's exact stats (the audio_stats
    // convention — full hash oracle on really-decoded bytes). Every
    // stride=2-th frame is sampled (the serving pattern); docs % 3
    // carry text bytes and surface as decoded=false rows (the sweep
    // must not die on a compressed clip). 100 TB shape: decode +
    // stats ride the mapPartitions batch seam — pixels never leave
    // the task; output is fixed-width integers per sampled frame.
    Query("video_framestats", { (s, d) =>
      import s.implicits._
      val pay = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .filter(pmod(col("doc_id"), lit(11L)) === 0)
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val bytes =
            if (id % 3 == 0) text.getBytes("UTF-8")
            else Multimodal.synthAvi(id, nFrames = 6 + (id % 5).toInt,
              junkList = id % 4 == 0)
          (id, bytes)
        }).toDF("doc_id", "payload")
      Multimodal.videoFrameStats(s, pay, stride = 2).toDF()
        .select(col("doc_id"), col("decoded"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames"), col("frame_idx"), col("lum_sum"),
          col("lum_peak"), col("frame_key"))
    },
      // video_framestats / video_neardup: regenerate every sampled
      // frame's pixel bytes from the shared md5 formula (7-byte groups,
      // the synthAvi generator) and fold the same exact-integer stats /
      // content keys — full hash oracles over really-decoded frames.
      {
        // byte bi of group gg is (v >> 8·bi) & 255, valid while the pixel
        // index gg·7+bi < 256; weight for the content key is (p+7)³
        def b(bi: Int) = s"CASE WHEN gg * 7 + $bi < 256 THEN (v >> ${8 * bi}) & 255 ELSE 0 END"
        def wk(bi: Int) =
          s"CASE WHEN gg * 7 + $bi < 256 THEN ((v >> ${8 * bi}) & 255) * " +
            s"(gg * 7 + $bi + 7) * (gg * 7 + $bi + 7) * (gg * 7 + $bi + 7) ELSE 0 END"
        val sumT = (0 to 6).map(b).mkString(" + ")
        val peakT = (0 to 6).map(b).mkString("greatest(", ", ", ")")
        val keyT = (0 to 6).map(wk).mkString(" + ")
        s"""WITH base AS (SELECT doc_id, doc_id % 3 <> 0 AS dec,
           |    6 + doc_id % 5 AS n
           |  FROM documents WHERE doc_id % 11 = 0),
           |fr AS (SELECT b.doc_id, b.n, f.f
           |  FROM base b JOIN generate_series(0, 9) f(f)
           |    ON f.f < b.n AND f.f % 2 = 0
           |  WHERE b.dec),
           |gv AS (SELECT fr.doc_id, fr.n, fr.f, g.g AS gg,
           |    CAST('0x' || substr(md5('av:' || CAST(fr.doc_id AS VARCHAR) ||
           |      ':' || CAST(fr.f AS VARCHAR) || ':' || CAST(g.g AS VARCHAR)),
           |      1, 15) AS BIGINT) AS v
           |  FROM fr CROSS JOIN generate_series(0, 36) g(g)),
           |agg AS (SELECT doc_id, n, f,
           |    CAST(sum($sumT) AS BIGINT) AS lum_sum,
           |    CAST(max($peakT) AS BIGINT) AS lum_peak,
           |    CAST(sum($keyT) AS BIGINT) AS frame_key
           |  FROM gv GROUP BY 1, 2, 3)
           |SELECT doc_id, TRUE AS decoded, CAST(16 AS BIGINT) AS width,
           |  CAST(16 AS BIGINT) AS height, CAST(n AS BIGINT) AS n_frames,
           |  CAST(f AS BIGINT) AS frame_idx, lum_sum, lum_peak, frame_key
           |FROM agg
           |UNION ALL
           |SELECT doc_id, FALSE, 0, 0, 0, 0, 0, 0, 0
           |FROM base WHERE NOT dec""".stripMargin
      }),

    // Video near-dup / trimmed-re-upload detection (round 12) — the
    // image_neardup counterpart one modality up: half the clips get a
    // re-upload with the first two frames trimmed (same pixel
    // content, new container, new id), and matching runs on CONTENT
    // keys computed from the decoded bytes of the sampled frames —
    // an equality join on the frame key (the inverted-index shape:
    // at scale the key join is a hash shuffle on fixed-width longs,
    // never pixels), ≥ 2 shared sampled frames ⇒ a pair. The oracle
    // regenerates both sides' frame keys and replays the same join.
    Query("video_neardup", { (s, d) =>
      import s.implicits._
      val pay = Tables.documents(s, d).select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(11L)) === 0 &&
          pmod(col("doc_id"), lit(3L)) =!= 0)
        .as[Long]
        .mapPartitions(_.flatMap { id =>
          val n = 6 + (id % 5).toInt
          val orig = (id, Multimodal.synthAvi(id, n))
          if (id % 2 == 0)
            Iterator(orig,
              (id + 14000000000L,
                Multimodal.synthAvi(id, n - 2, frameOffset = 2)))
          else Iterator(orig)
        }).toDF("doc_id", "payload")
      val fs = Multimodal.videoFrameStats(s, pay, stride = 2).toDF()
        .filter(col("decoded"))
        .select(col("doc_id"), col("frame_key"))
        .localCheckpoint(true)
      val copies = fs.filter(col("doc_id") >= 14000000000L)
        .withColumnRenamed("doc_id", "copy_doc")
      val origs = fs.filter(col("doc_id") < 14000000000L)
        .withColumnRenamed("doc_id", "orig_doc")
      copies.join(origs, "frame_key")
        .groupBy(col("copy_doc"), col("orig_doc"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
    },
      {
        def wk(bi: Int) =
          s"CASE WHEN g.g * 7 + $bi < 256 THEN ((v >> ${8 * bi}) & 255) * " +
            s"(g.g * 7 + $bi + 7) * (g.g * 7 + $bi + 7) * (g.g * 7 + $bi + 7) ELSE 0 END"
        val keyT = (0 to 6).map(wk).mkString(" + ")
        def keys(name: String, frameCond: String, doc: String) =
          s"""$name AS (SELECT $doc AS doc, f.f,
             |    CAST(sum($keyT) AS BIGINT) AS frame_key
             |  FROM vids b JOIN generate_series(0, 9) f(f) ON $frameCond
             |  CROSS JOIN generate_series(0, 36) g(g),
             |  LATERAL (SELECT CAST('0x' || substr(md5('av:' ||
             |    CAST(b.doc_id AS VARCHAR) || ':' || CAST(f.f AS VARCHAR) ||
             |    ':' || CAST(g.g AS VARCHAR)), 1, 15) AS BIGINT) AS v) x
             |  GROUP BY 1, 2)""".stripMargin
        s"""WITH vids AS (SELECT doc_id, 6 + doc_id % 5 AS n FROM documents
           |  WHERE doc_id % 11 = 0 AND doc_id % 3 <> 0),
           |${keys("okeys", "f.f < b.n AND f.f % 2 = 0", "b.doc_id")},
           |${keys("ckeys",
              "f.f >= 2 AND f.f < b.n AND f.f % 2 = 0 AND b.doc_id % 2 = 0",
              "b.doc_id + 14000000000")}
           |SELECT c.doc AS copy_doc, o.doc AS orig_doc,
           |  CAST(count(*) AS BIGINT) AS n_shared
           |FROM ckeys c JOIN okeys o ON o.frame_key = c.frame_key
           |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin
      }),

    // Multimodal curation capstone (round 12) — the corpus_pipeline
    // shape for the OTHER modalities: ONE manifest (every %9 doc
    // carries an image + an audio clip + a video clip; planted
    // corrupt blobs per modality, planted trimmed audio re-uploads)
    // flows through sequential gates exactly the way a multimodal
    // training-data pipeline curates: (s1) image decode, (s2) audio
    // decode + clip-fraction quality (< 7% full-scale samples),
    // (s3) video decode + ≥ 2 sampled frames + a DECODED-pixel
    // content gate (some clip must hit peak luminance 255 — ~13.5%
    // of md5-random clips genuinely fail, so the gate engages),
    // (s4) audio near-dup removal against the s3-surviving pool
    // (win_key join, ≥ 3 shared windows). Interface drift between
    // any two stages shifts the reconciliation counts or the
    // survivor checksum and hash-fails. Oracle honesty: audio, video
    // and dedup gates are FULL decode replays (DuckDB regenerates
    // the exact sample/pixel streams); the image gate alone mirrors
    // the plant construction (dHash decode isn't SQL-expressible —
    // the image_neardup pinned convention). 100 TB shape: payloads
    // ride ONE checkpointed manifest (documents scanned once);
    // every stage output is an id-frame; the dedup join shuffles
    // (id, long) rows only; the report is seven broadcast aggs.
    Query("multimodal_pipeline", { (s, d) =>
      import s.implicits._
      val W = 64
      val CopyOff = 16000000000L
      val manifest = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .filter(pmod(col("doc_id"), lit(9L)) === 0)
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (m, text) =>
          val corrupt = text.getBytes("UTF-8")
          val base = (m,
            if (m % 6 == 0) corrupt else Multimodal.synthBmp(m),
            if (m % 5 == 0) corrupt
            else Multimodal.synthWav(m, nSamples = W * (6 + (m % 4).toInt)),
            if (m % 4 == 0) corrupt
            else Multimodal.synthAvi(m, nFrames = 2 + (m % 7).toInt))
          if (m % 3 == 0 && m % 5 != 0) {
            val c = m + CopyOff
            Iterator(base, (c, Multimodal.synthBmp(c),
              Multimodal.synthWav(m, nSamples = W * (4 + (m % 4).toInt),
                sampleOffset = 2 * W),
              Multimodal.synthAvi(c, nFrames = 4)))
          } else Iterator(base)
        }).toDF("doc_id", "img", "aud", "vid")
        .localCheckpoint(true)
      val s1 = Multimodal.imageDHashes(s,
          manifest.select(col("doc_id"), col("img").as("payload")))
        .toDF().filter(col("decoded")).select("doc_id")
        .localCheckpoint(true)
      val audOk = Multimodal.audioStats(s,
          manifest.select(col("doc_id"), col("aud").as("payload")))
        .toDF().filter(col("decoded") && expr(
          "(2 * 1000000 * n_clipped + n_samples) div (2 * n_samples) < 70000"))
        .select("doc_id")
      val s2 = s1.join(audOk, "doc_id").localCheckpoint(true)
      val vidOk = Multimodal.videoFrameStats(s,
          manifest.select(col("doc_id"), col("vid").as("payload")), stride = 2)
        .toDF().filter(col("decoded"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sampled"), max(col("lum_peak")).as("mp"))
        .filter(col("n_sampled") >= 2L && col("mp") === 255L)
        .select("doc_id")
      val s3 = s2.join(vidOk, "doc_id").localCheckpoint(true)
      val fps = Multimodal.audioFingerprints(s,
          manifest.join(s3, "doc_id")
            .select(col("doc_id"), col("aud").as("payload")), window = W)
        .toDF().filter(col("decoded"))
        .localCheckpoint(true)
      val dupCopies = fps.filter(col("doc_id") >= CopyOff)
          .select(col("doc_id").as("copy_doc"), col("win_key"))
        .join(fps.filter(col("doc_id") < CopyOff)
          .select(col("doc_id").as("orig_doc"), col("win_key")), "win_key")
        .groupBy(col("copy_doc"), col("orig_doc"))
        .agg(count(lit(1)).as("nsh"))
        .filter(col("nsh") >= 3L)
        .select(col("copy_doc").as("doc_id")).distinct()
        .localCheckpoint(true)
      val survivors = s3.join(dupCopies, Seq("doc_id"), "left_anti")
      manifest.agg(count(lit(1)).as("n_manifest"))
        .crossJoin(broadcast(s1.agg(count(lit(1)).as("n_img_ok"))))
        .crossJoin(broadcast(s2.agg(count(lit(1)).as("n_aud_ok"))))
        .crossJoin(broadcast(s3.agg(count(lit(1)).as("n_vid_ok"))))
        .crossJoin(broadcast(
          dupCopies.agg(count(lit(1)).as("n_dedup_removed"))))
        .crossJoin(broadcast(survivors.agg(
          count(lit(1)).as("n_survivors"),
          sum(col("doc_id")).as("sum_survivor_ids"))))
    },
      // multimodal_pipeline: the manifest (base + copy rows with their
      // per-modality decodability/size parameters) is one constructed
      // CTE; the audio clip gate, the video sampled-frame peak gate and
      // the near-dup window-key join are FULL md5 decode replays; the
      // image gate mirrors the %6 plant construction (dHash decode
      // isn't SQL-expressible). Seven scalar-subquery report cells.
      {
        def pb(bi: Int) =
          s"CASE WHEN gg * 7 + $bi < 256 THEN (v >> ${8 * bi}) & 255 ELSE 0 END"
        val peakT = (0 to 6).map(pb).mkString("greatest(", ", ", ")")
        s"""WITH m0 AS (SELECT doc_id AS m FROM documents WHERE doc_id % 9 = 0),
           |rows_ AS (
           |  SELECT m AS id, m AS seed,
           |         (m % 6 <> 0) AS img_ok0,
           |         (m % 5 <> 0) AS aud_dec,
           |         64 * (6 + m % 4) AS n_aud, 0 AS aoff,
           |         (m % 4 <> 0) AS vid_dec,
           |         2 + m % 7 AS n_vid, m AS vseed
           |  FROM m0
           |  UNION ALL
           |  SELECT m + 16000000000 AS id, m AS seed,
           |         TRUE, TRUE,
           |         64 * (4 + m % 4), 128,
           |         TRUE, 4, m + 16000000000
           |  FROM m0 WHERE m % 3 = 0 AND m % 5 <> 0),
           |asamp AS (
           |  SELECT r.id, t.i // 64 AS w, t.i % 64 AS j,
           |         greatest(-32768, least(32767,
           |           CAST('0x' || substr(md5(CAST(r.seed AS VARCHAR) || ':' ||
           |             CAST(t.i + r.aoff AS VARCHAR)), 1, 15) AS BIGINT)
           |             % 70001 - 35000)) AS v
           |  FROM rows_ r JOIN generate_series(0, 575) t(i) ON t.i < r.n_aud
           |  WHERE r.aud_dec),
           |aagg AS (SELECT id, count(*) AS ns,
           |           sum(CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END)
           |             AS ncl
           |         FROM asamp GROUP BY 1),
           |aok AS (SELECT id FROM aagg
           |        WHERE (2 * 1000000 * ncl + ns) // (2 * ns) < 70000),
           |vb AS (
           |  SELECT r.id, f.f, g.g AS gg,
           |    CAST('0x' || substr(md5('av:' || CAST(r.vseed AS VARCHAR) || ':' ||
           |      CAST(f.f AS VARCHAR) || ':' || CAST(g.g AS VARCHAR)), 1, 15)
           |      AS BIGINT) AS v
           |  FROM rows_ r
           |  JOIN generate_series(0, 7) f(f) ON f.f < r.n_vid AND f.f % 2 = 0
           |  CROSS JOIN generate_series(0, 36) g(g)
           |  WHERE r.vid_dec),
           |vpk AS (SELECT id, f, max($peakT) AS peak FROM vb GROUP BY 1, 2),
           |vok AS (SELECT id FROM vpk GROUP BY id
           |        HAVING count(*) >= 2 AND max(peak) = 255),
           |s1 AS (SELECT id FROM rows_ WHERE img_ok0),
           |s2 AS (SELECT id FROM s1 WHERE id IN (SELECT id FROM aok)),
           |s3 AS (SELECT id FROM s2 WHERE id IN (SELECT id FROM vok)),
           |akeys AS (SELECT a.id, a.w,
           |            CAST(sum((j + 13) * (j + 13) * v) AS BIGINT) AS win_key
           |          FROM asamp a JOIN s3 ON s3.id = a.id GROUP BY 1, 2),
           |dup AS (SELECT DISTINCT c.id AS cid
           |        FROM (SELECT id, win_key FROM akeys
           |              WHERE id >= 16000000000) c
           |        JOIN (SELECT id, win_key FROM akeys
           |              WHERE id < 16000000000) o
           |          ON c.win_key = o.win_key
           |        GROUP BY c.id, o.id HAVING count(*) >= 3),
           |surv AS (SELECT id FROM s3
           |         WHERE id NOT IN (SELECT cid FROM dup))
           |SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM rows_) AS n_manifest,
           |  (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_img_ok,
           |  (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_aud_ok,
           |  (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_vid_ok,
           |  (SELECT CAST(count(*) AS BIGINT) FROM dup) AS n_dedup_removed,
           |  (SELECT CAST(count(*) AS BIGINT) FROM surv) AS n_survivors,
           |  (SELECT CAST(sum(id) AS BIGINT) FROM surv) AS sum_survivor_ids"""
          .stripMargin
      }),

    Query("multimodal_meta", { (s, d) =>
      Multimodal.withPayload(Tables.documents(s, d)).select(
        col("doc_id"),
        col("media_meta.n_bytes").as("n_bytes"),
        (col("media_meta.n_bytes") % 64 + 1).as("fake_width"),
        (col("media_meta.n_bytes") % 48 + 1).as("fake_height"))
    },
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |       CAST(strlen(text) AS BIGINT) % 64 + 1 AS fake_width,
        |       CAST(strlen(text) AS BIGINT) % 48 + 1 AS fake_height
        |FROM documents""".stripMargin))
}
