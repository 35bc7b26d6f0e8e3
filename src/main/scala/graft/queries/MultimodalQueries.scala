package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._
import graft.ops.Multimodal

import QueryHelpers._

/** Multimodal: batched feature extraction over binary columns and real
  * JDK image / audio / video codec roundtrips.
  */
private[graft] object MultimodalQueries {

  val specs: Seq[QuerySpec] = Seq(

    // media frame sampling: fixed-size frames cut from each payload (the
    // frame-sample step of a video/audio pipeline, exercised on character
    // frames so the oracle can reproduce the chunk arithmetic), every 2nd
    // frame kept, per-frame digest + byte length
    QuerySpec("q_media_frames", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id").as("media_id"), col("text"),
          explode(expr("sequence(0L, (length(text) - 1) div 256)")).as("frame_idx"))
        .filter(col("frame_idx") % 2 === 0) // sample every 2nd frame
        .withColumn("frame",
          expr("substring(text, cast(frame_idx * 256 + 1 as int), 256)"))
        .select(col("media_id"), col("frame_idx"),
          md5(col("frame")).as("frame_md5"),
          length(encode(col("frame"), "UTF-8")).cast(LongType).as("frame_bytes"))
        .orderBy("media_id", "frame_idx")
    },
      """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
        |  md5(substr(text, CAST(f * 256 + 1 AS BIGINT), 256)) AS frame_md5,
        |  CAST(octet_length(encode(substr(text, CAST(f * 256 + 1 AS BIGINT), 256))) AS BIGINT) AS frame_bytes
        |FROM documents, UNNEST(range(0, (length(text) - 1) // 256 + 1)) AS t(f)
        |WHERE f % 2 = 0
        |ORDER BY media_id, frame_idx""".stripMargin),

    // ---- multimodal: binary-column batched feature extraction (decode
    //      stubbed; plumbing real). Oracled: the stub's byte-stat features
    //      are reproduced in DuckDB over the ASCII payload bytes. ----

    QuerySpec("multimodal_features", { (s, dir) =>
      // flattened to scalar columns: the driver's row compare canonicalizes
      // with a column sort that rejects array-typed cells
      Multimodal.extractFeatures(
        Multimodal.mediaFromDocuments(Tables(s, dir, "documents")))
        .select(col("media_id"), col("n_bytes"), col("mime"),
          size(col("features")).cast(LongType).as("n_dims"),
          e4Witness(aggregate(col("features"), lit(0.0),
            (acc, x) => acc + x.cast(DoubleType))).as("feat_sum_e4"),
          floor(array_max(col("features")).cast(DoubleType) * lit(1e4)
            + lit(0.5)).cast(LongType).as("feat_max_e4"))
        .orderBy("media_id")
    },
    // the stub decoder's byte-stat features are plain arithmetic over the
    // utf-8 payload bytes; documents.text is pure ASCII (verified), so
    // unicode(char) == byte value and length == octet_length. The per-dim
    // double sum is cast to FLOAT on both sides, which absorbs summation-
    // order differences.
      """WITH b AS (
        |  SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
        |bytes AS (
        |  SELECT media_id, i % 8 AS j, unicode(substr(text, CAST(i AS INT) + 1, 1)) AS bv
        |  FROM (SELECT media_id, text, UNNEST(range(n)) AS i FROM b)),
        |feat AS (
        |  SELECT media_id, j,
        |    CAST(CAST(SUM(CAST(bv AS DOUBLE) / CAST(255 AS DOUBLE)) AS FLOAT) AS DOUBLE) AS f
        |  FROM bytes GROUP BY media_id, j),
        |agg AS (
        |  SELECT media_id, SUM(f) AS fs, MAX(f) AS fm FROM feat GROUP BY media_id)
        |SELECT b.media_id, CAST(b.n AS BIGINT) AS n_bytes, 'text/plain' AS mime,
        |  CAST(8 AS BIGINT) AS n_dims,
        |  CAST(FLOOR(a.fs * 10000.0 + 0.5) AS BIGINT) AS feat_sum_e4,
        |  CAST(FLOOR(a.fm * 10000.0 + 0.5) AS BIGINT) AS feat_max_e4
        |FROM b JOIN agg a ON a.media_id = b.media_id
        |ORDER BY b.media_id""".stripMargin),

    // ---- multimodal: REAL JDK codec roundtrips. Payloads are generated
    //      from a closed-form pixel/sample formula, encoded into genuine
    //      compressed/structured containers (PNG via javax.imageio, WAV
    //      via javax.sound.sampled, a length-prefixed frame container),
    //      then DECODED by the real codec; the oracle recomputes every
    //      decoded statistic from the formula alone. PNG is lossless and
    //      WAV is PCM, so values are exact doubles on both sides — no
    //      rounding needed. ----
    QuerySpec("multimodal_image_decode", { (s, dir) =>
      val ids = Tables(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0).select(col("doc_id").as("media_id"))
      Multimodal.imageDecodeStats(Multimodal.imageMedia(ids))
        .orderBy("media_id")
    },
    // Real-codec roundtrips: the oracle recomputes each decoded statistic
    // from the closed-form generator formula (pixel = (id*31+x*7+y*13)%256,
    // sample = (id*131+i*17)%4096-2048, frame f of video id = image
    // id*1000+f). PNG/WAV are lossless, integer sums divide identically in
    // double on both sides → exact hash match without rounding.
      """WITH ids AS (SELECT doc_id AS media_id,
        |    16 + CAST(doc_id % 3 AS INT) * 4 AS w,
        |    12 + CAST(doc_id % 2 AS INT) * 4 AS h
        |  FROM documents WHERE doc_id % 10 = 0),
        |xs AS (SELECT media_id, w, h, UNNEST(range(w)) AS x FROM ids),
        |ps AS (SELECT media_id, w, h, x, UNNEST(range(h)) AS y FROM xs),
        |v AS (SELECT media_id, w, h, x, y,
        |    (media_id * 31 + x * 7 + y * 13) % 256 AS g FROM ps),
        |agg AS (SELECT media_id, w, h, SUM(g) AS sg,
        |    SUM(CASE WHEN x < w // 2 AND y < h // 2 THEN g ELSE 0 END) AS st
        |  FROM v GROUP BY media_id, w, h)
        |SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(sg AS DOUBLE) / (w * h) AS mean_gray,
        |  CAST(st AS DOUBLE) / ((w // 2) * (h // 2)) AS mean_tl
        |FROM agg ORDER BY media_id""".stripMargin),

    QuerySpec("multimodal_audio_decode", { (s, dir) =>
      val ids = Tables(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0).select(col("doc_id").as("media_id"))
      Multimodal.audioDecodeStats(Multimodal.audioMedia(ids))
        .orderBy("media_id")
    },
      """WITH ids AS (SELECT doc_id AS media_id,
        |    800 + CAST(doc_id % 5 AS INT) * 100 AS n
        |  FROM documents WHERE doc_id % 10 = 0),
        |s AS (SELECT media_id, n, UNNEST(range(n)) AS i FROM ids),
        |v AS (SELECT media_id, n,
        |    ABS((media_id * 131 + i * 17) % 4096 - 2048) AS a FROM s),
        |agg AS (SELECT media_id, n, SUM(a) AS sa FROM v GROUP BY media_id, n)
        |SELECT media_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(sa AS DOUBLE) / n AS mean_abs
        |FROM agg ORDER BY media_id""".stripMargin),

    // video TEMPORAL quality (static-clip drop + scene-cut density):
    // mean-gray jumps across frame boundaries compared by EXACT
    // cross-multiplication (frames change dims in this corpus), all
    // BIGINT — real container+PNG decode, zero-tolerance oracle
    QuerySpec("multimodal_video_temporal", { (s, dir) =>
      val ids = Tables(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0).select(col("doc_id").as("media_id"))
      Multimodal.videoTemporalStats(Multimodal.videoMedia(ids))
        .orderBy("media_id")
    },
    // per-frame sums from the generator formula, frame-boundary jumps
    // via LAG over each video's own (tiny) frame spine, the SAME exact
    // cross-multiplied integer compare the kernel performs
      """WITH ids AS (SELECT doc_id AS media_id,
        |    3 + CAST(doc_id % 3 AS INT) AS nf
        |  FROM documents WHERE doc_id % 10 = 0),
        |fr AS (SELECT media_id, UNNEST(range(nf)) AS f FROM ids),
        |sel AS (SELECT media_id, f, media_id * 1000 + f AS fid FROM fr),
        |dims AS (SELECT media_id, f, fid,
        |    16 + CAST(fid % 3 AS INT) * 4 AS w,
        |    12 + CAST(fid % 2 AS INT) * 4 AS h FROM sel),
        |xs AS (SELECT media_id, f, fid, w, h, UNNEST(range(w)) AS x FROM dims),
        |ps AS (SELECT media_id, f, fid, w, h, x, UNNEST(range(h)) AS y FROM xs),
        |agg AS (SELECT media_id, f, w * h AS n,
        |    SUM((fid * 31 + x * 7 + y * 13) % 256) AS sg
        |  FROM ps GROUP BY media_id, f, w, h),
        |d AS (SELECT media_id, f, n, sg,
        |    LAG(n) OVER (PARTITION BY media_id ORDER BY f) AS pn,
        |    LAG(sg) OVER (PARTITION BY media_id ORDER BY f) AS psg
        |  FROM agg)
        |SELECT media_id, CAST(COUNT(*) AS INT) AS n_frames,
        |  CAST(SUM(CASE WHEN pn IS NOT NULL
        |    AND ABS(sg * pn - psg * n) >= 8 * n * pn THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        |  (SUM(CASE WHEN pn IS NOT NULL
        |    AND sg * pn - psg * n <> 0 THEN 1 ELSE 0 END) = 0) AS is_static
        |FROM d GROUP BY media_id ORDER BY media_id""".stripMargin),

    // image QUALITY FILTER (the LAION-class curation pass): aspect,
    // exposure extremes, flat-raster verdicts — real PNG decode, exact
    // integer outputs incl. the variance NUMERATOR n·Σg²−(Σg)² (no
    // division, no doubles anywhere), zero-tolerance oracle
    QuerySpec("multimodal_image_quality", { (s, dir) =>
      val ids = Tables(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0).select(col("doc_id").as("media_id"))
      Multimodal.imageQualityStats(Multimodal.imageMedia(ids))
        .orderBy("media_id")
    },
    // closed-form recomputation of the PNG quality counters — exact
    // integer sums/variance numerator, boolean verdicts from the same
    // integer compares the kernel performs
      """WITH ids AS (SELECT doc_id AS media_id,
        |    16 + CAST(doc_id % 3 AS INT) * 4 AS w,
        |    12 + CAST(doc_id % 2 AS INT) * 4 AS h
        |  FROM documents WHERE doc_id % 10 = 0),
        |xs AS (SELECT media_id, w, h, UNNEST(range(w)) AS x FROM ids),
        |ps AS (SELECT media_id, w, h, x, UNNEST(range(h)) AS y FROM xs),
        |v AS (SELECT media_id, w, h,
        |    (media_id * 31 + x * 7 + y * 13) % 256 AS g FROM ps),
        |agg AS (SELECT media_id, MIN(w) AS w, MIN(h) AS h,
        |    SUM(g) AS sg, SUM(g * g) AS sg2,
        |    MIN(g) AS mn, MAX(g) AS mx
        |  FROM v GROUP BY media_id)
        |SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST((w * 1000000) // h AS BIGINT) AS aspect_ppm,
        |  CAST(sg AS BIGINT) AS sum_g,
        |  CAST(w * h * sg2 - sg * sg AS BIGINT) AS var_num,
        |  CAST(mn AS INT) AS min_g, CAST(mx AS INT) AS max_g,
        |  (w * h * sg2 - sg * sg = 0) AS is_flat,
        |  (sg < 32 * w * h) AS is_dark,
        |  (sg >= 224 * w * h) AS is_bright
        |FROM agg ORDER BY media_id""".stripMargin),

    // audio QUALITY FILTER (the speech-corpus curation pass): silence
    // fraction, clipping fraction, energy, peak per clip — real WAV
    // decode, all-integer outputs (ppm fractions by integer division),
    // oracle from the closed-form generator with zero tolerance
    QuerySpec("multimodal_audio_quality", { (s, dir) =>
      val ids = Tables(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0).select(col("doc_id").as("media_id"))
      Multimodal.audioQualityStats(Multimodal.audioMedia(ids))
        .orderBy("media_id")
    },
    // closed-form recomputation of the WAV quality counters; `//` is
    // DuckDB integer division, matching the kernel's long division
      """WITH ids AS (SELECT doc_id AS media_id,
        |    800 + CAST(doc_id % 5 AS INT) * 100 AS n
        |  FROM documents WHERE doc_id % 10 = 0),
        |s AS (SELECT media_id, n, UNNEST(range(n)) AS i FROM ids),
        |v AS (SELECT media_id, n,
        |    ABS((media_id * 131 + i * 17) % 4096 - 2048) AS a FROM s),
        |agg AS (SELECT media_id, MIN(n) AS n,
        |    SUM(CASE WHEN a < 256 THEN 1 ELSE 0 END) AS n_silent,
        |    SUM(CASE WHEN a >= 2040 THEN 1 ELSE 0 END) AS n_clipped,
        |    SUM(a * a) AS energy, MAX(a) AS peak
        |  FROM v GROUP BY media_id)
        |SELECT media_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(n_silent AS BIGINT) AS n_silent,
        |  CAST(n_clipped AS BIGINT) AS n_clipped,
        |  CAST(energy AS BIGINT) AS energy, CAST(peak AS INT) AS peak,
        |  CAST((n_silent * 1000000) // n AS BIGINT) AS silence_ppm,
        |  CAST((n_clipped * 1000000) // n AS BIGINT) AS clip_ppm
        |FROM agg ORDER BY media_id""".stripMargin),

    QuerySpec("multimodal_frame_sample", { (s, dir) =>
      val ids = Tables(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0).select(col("doc_id").as("media_id"))
      Multimodal.frameSampleStats(Multimodal.videoMedia(ids), stride = 2)
        .orderBy("media_id", "frame_idx")
    },
      """WITH ids AS (SELECT doc_id AS media_id,
        |    3 + CAST(doc_id % 3 AS INT) AS nf
        |  FROM documents WHERE doc_id % 10 = 0),
        |fr AS (SELECT media_id, UNNEST(range(nf)) AS f FROM ids),
        |sel AS (SELECT media_id, f, media_id * 1000 + f AS fid
        |  FROM fr WHERE f % 2 = 0),
        |dims AS (SELECT media_id, f, fid,
        |    16 + CAST(fid % 3 AS INT) * 4 AS w,
        |    12 + CAST(fid % 2 AS INT) * 4 AS h FROM sel),
        |xs AS (SELECT media_id, f, fid, w, h, UNNEST(range(w)) AS x FROM dims),
        |ps AS (SELECT media_id, f, fid, w, h, x, UNNEST(range(h)) AS y FROM xs),
        |agg AS (SELECT media_id, f, w, h,
        |    SUM((fid * 31 + x * 7 + y * 13) % 256) AS sg
        |  FROM ps GROUP BY media_id, f, fid, w, h)
        |SELECT media_id, CAST(f AS INT) AS frame_idx,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(sg AS DOUBLE) / (w * h) AS mean_gray
        |FROM agg ORDER BY media_id, frame_idx""".stripMargin),

    // decode + nearest-neighbor resize to 8×6 (the thumbnail/preprocess
    // step): NN sampling is integer-exact, so the oracle reproduces the
    // whole resized raster from the closed-form generator
    QuerySpec("multimodal_image_resize", { (s, dir) =>
      val ids = Tables(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0).select(col("doc_id").as("media_id"))
      Multimodal.imageResizeStats(Multimodal.imageMedia(ids), ow = 8, oh = 6)
        .orderBy("media_id")
    },
    // NN resize: out(x,y) = pattern(x*w//8, y*h//6), integer-exact
      """WITH ids AS (SELECT doc_id AS media_id,
        |    16 + CAST(doc_id % 3 AS INT) * 4 AS w,
        |    12 + CAST(doc_id % 2 AS INT) * 4 AS h
        |  FROM documents WHERE doc_id % 10 = 0),
        |xs AS (SELECT media_id, w, h, UNNEST(range(8)) AS x FROM ids),
        |ps AS (SELECT media_id, w, h, x, UNNEST(range(6)) AS y FROM xs),
        |v AS (SELECT media_id, w, h,
        |    (media_id * 31 + (x * w // 8) * 7 + (y * h // 6) * 13) % 256 AS g
        |  FROM ps),
        |agg AS (SELECT media_id, w, h, SUM(g) AS sg FROM v GROUP BY 1, 2, 3)
        |SELECT media_id, CAST(w AS INT) AS src_w, CAST(h AS INT) AS src_h,
        |  CAST(sg AS BIGINT) AS out_sum, CAST(sg AS DOUBLE) / 48 AS out_mean
        |FROM agg ORDER BY media_id""".stripMargin),

    // perceptual-hash (dHash) image dedup: decode real PNGs, NN-sample to
    // a 9×7 grid, one bit per horizontal gradient → 56-bit hash, then ONE
    // combiner groupBy on the hash — the image-side exact-dedup pass of
    // corpus curation. The fixture corpus carries closed-form duplicates
    // (pattern = media_id % 97), and NN sampling + integer compares are
    // exact, so the oracle recomputes every hash from the formula WITHOUT
    // a codec: equality proves the whole encode→PNG→decode→hash chain
    QuerySpec("multimodal_phash_dedup", { (s, dir) =>
      val ids = Tables(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0).select(col("doc_id").as("media_id"))
      Multimodal.phashDedup(Multimodal.dupImageMedia(ids, patMod = 97))
        .orderBy("media_id")
    },
    // dHash recomputed from the closed-form pattern — no codec in the
    // oracle; equality proves encode→PNG→decode→NN-sample→hash
    {
      val ph = Multimodal.phashSqlExpr("(media_id % 97)")
      s"""WITH m AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 0),
         |h AS (SELECT media_id, ($ph) AS phash FROM m),
         |g AS (SELECT phash, CAST(COUNT(*) AS BIGINT) AS group_n,
         |        MIN(media_id) AS keeper
         |      FROM h GROUP BY phash)
         |SELECT h.media_id, h.phash, g.group_n, h.media_id = g.keeper AS keep
         |FROM h JOIN g ON h.phash = g.phash
         |ORDER BY h.media_id""".stripMargin
    }),

    // Lossy-codec roundtrip: encode the closed-form pattern as a REAL JPEG
    // (javax.imageio, quality 0.95), decode it back, and emit tolerance
    // VERDICTS — dims are exact even under DCT compression; pixel values
    // are bounded-error (bounds calibrated with headroom in OpsSpec).
    // The oracle recomputes dims from the closed form and asserts the
    // verdicts uniformly true (the seeded-ANN oracle pattern: lossy decode
    // has no hashable SQL form, but the machine-checked invariants do).
    QuerySpec("multimodal_jpeg_decode", { (s, dir) =>
      val ids = Tables(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0).select(col("doc_id").as("media_id"))
      Multimodal.jpegDecodeStats(Multimodal.jpegMedia(ids))
        .orderBy("media_id")
    },
    // lossy codec → tolerance-verdict oracle: dims exact, verdicts TRUE
      """SELECT doc_id AS media_id,
        |  16 + CAST(doc_id % 3 AS INT) * 4 AS width,
        |  12 + CAST(doc_id % 2 AS INT) * 4 AS height,
        |  TRUE AS mean_ok, TRUE AS px_ok
        |FROM documents WHERE doc_id % 10 = 0
        |ORDER BY media_id""".stripMargin)
  )
}
