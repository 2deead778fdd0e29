package graft
package graded

import org.apache.spark.sql.functions._

import graft.operators._

/** Multimodal graded queries over the synthetic media table: image,
  * audio and video decoding, quarantine and per-modality features. */
private[graft] object MultimodalQueries {

  val queries: Seq[GradedQuery] = Seq(

    GradedQuery("multimodal_meta", (s, dir) => {
      Multimodal.extractFeatures(
        Multimodal.syntheticMedia(Tables.documents(s, dir), "doc_id")).toDF()
    },
    // real header-codec decode (BMP width/height, WAV rate/channels,
    // opaque video → 0,0) re-derived from the payload formulas
    // video rows are real minimal AVIs: RIFF(8) + 'AVI '(4) + hdrl
    // LIST(76) + movi LIST(12 + 24 per 16-byte frame chunk), with
    // 1 + doc_id % 3 frames — so n_bytes = 124 + 24*(doc_id % 3) and
    // width/height come off the avih header the decoder now parses
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS kind,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 54 WHEN 1 THEN 44
        |    ELSE 124 + 24 * (doc_id % 3) END AS INT) AS n_bytes,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 256
        |    WHEN 1 THEN 8000 + (doc_id % 8) * 1000
        |    ELSE 32 + doc_id % 64 END AS INT) AS width,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 16 + (doc_id * 7) % 256
        |    WHEN 1 THEN 1 + doc_id % 2 ELSE 24 + doc_id % 48 END AS INT) AS height
        |FROM documents""".stripMargin),

    GradedQuery("multimodal_quarantine", (s, dir) => {
      // per-kind quarantine census (VERDICT r12 item 8): the synthesis
      // deliberately includes a JPEG header (format needs a real
      // decoder) and a truncated RIFF (malformed on arrival); both
      // decode to the honest (0,0) and the census pins how many rows
      // per kind took that path — the negative-path grade the decode
      // quarantine never had. Spark goes THROUGH syntheticMediaMixed →
      // MediaCodec.decode; the oracle re-derives every count and
      // decoded dimension sum arithmetically from the residue formulas.
      val feats = Multimodal.extractFeatures(Multimodal.syntheticMediaMixed(
        Tables.documents(s, dir).select("doc_id"), "doc_id")).toDF()
      val dec = col("width") =!= 0 || col("height") =!= 0
      feats.groupBy("kind").agg(
        count(lit(1)).as("n_total"),
        sum(when(dec, 1L).otherwise(0L)).as("n_decoded"),
        sum(when(dec, 0L).otherwise(1L)).as("n_quarantined"),
        sum(when(dec, col("width").cast("long")).otherwise(0L)).as("sum_w"),
        sum(when(dec, col("height").cast("long")).otherwise(0L)).as("sum_h"))
    },
    // the negative path graded: residues 3 (JPEG header — needs a
    // real decoder) and 4 (truncated RIFF) MUST land in the
    // quarantine column; decoded dimension sums re-derived from the
    // same synthesis formulas as multimodal_meta
      """WITH cls AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 IN (0, 3) THEN 'image'
        |    WHEN doc_id % 5 IN (1, 4) THEN 'audio'
        |    ELSE 'video' END AS kind,
        |  CASE WHEN doc_id % 5 <= 2 THEN 1 ELSE 0 END AS dec,
        |  CASE doc_id % 5 WHEN 0 THEN 16 + doc_id % 256
        |    WHEN 1 THEN 8000 + (doc_id % 8) * 1000
        |    WHEN 2 THEN 32 + doc_id % 64 ELSE 0 END AS w,
        |  CASE doc_id % 5 WHEN 0 THEN 16 + (doc_id * 7) % 256
        |    WHEN 1 THEN 1 + doc_id % 2
        |    WHEN 2 THEN 24 + doc_id % 48 ELSE 0 END AS h
        |  FROM documents)
        |SELECT kind, count(*) AS n_total,
        |  CAST(sum(dec) AS BIGINT) AS n_decoded,
        |  CAST(count(*) - sum(dec) AS BIGINT) AS n_quarantined,
        |  CAST(sum(w) AS BIGINT) AS sum_w,
        |  CAST(sum(h) AS BIGINT) AS sum_h
        |FROM cls GROUP BY 1""".stripMargin),

    GradedQuery("multimodal_image_dedup", (s, dir) => {
      // perceptual image dedup: BMP decode → 8×8 aHash → pigeonhole-
      // blocked hamming pairs; the oracle re-derives every hash from
      // the pixel formula and brute-forces pairs, so the graded hash
      // validates the whole codec + hash + blocking pipeline
      val imgs = Multimodal.syntheticImages(Tables.documents(s, dir),
        "doc_id")
      Multimodal.imageNearDupPairs(Multimodal.imageHashes(imgs),
          maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long"))
    },
    // full hash re-derivation from the pixel formula (incl. the exact
    // lum·64 > total threshold) + brute-force hamming pairs — the
    // Spark side's pigeonhole blocking must be invisible. Bit 63 is
    // the (-2^63) literal: DuckDB raises on 1::BIGINT << 63.
      """WITH ids AS (SELECT doc_id AS media_id FROM documents),
        |cells AS (SELECT media_id, u.c AS cell FROM ids,
        |  LATERAL unnest(generate_series(0, 63)) u(c)),
        |lum AS (SELECT media_id, cell,
        |  CASE WHEN ((CAST('0x' || substr(md5(
        |        CAST(media_id // 4 AS VARCHAR) || ':' ||
        |        CAST((cell % 8) * 2 AS VARCHAR) || ',' ||
        |        CAST((cell // 8) * 2 AS VARCHAR)), 1, 1) AS BIGINT) < 8)
        |    != ((media_id % 4 <> 0) AND (cell % 8) = (media_id % 4)
        |      AND (cell // 8) = 0))
        |  THEN 0 ELSE 765 END AS lum FROM cells),
        |tot AS (SELECT media_id, CAST(sum(lum) AS BIGINT) AS total
        |  FROM lum GROUP BY 1),
        |hsh AS (SELECT l.media_id, bit_or(
        |    CASE WHEN l.lum * 64 > t.total THEN
        |      CASE WHEN l.cell = 0 THEN (-9223372036854775807 - 1)::BIGINT
        |      ELSE 1::BIGINT << CAST(63 - l.cell AS INT) END
        |    ELSE 0 END) AS ahash
        |  FROM lum l JOIN tot t ON t.media_id = l.media_id GROUP BY 1)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
        |FROM hsh a JOIN hsh b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3""".stripMargin),

    GradedQuery("multimodal_image_entropy", (s, dir) => {
      // per-image luminance-histogram entropy through the REAL BMP
      // pixel walk — the blank/washed-out-frame curation screen; the
      // oracle re-derives EVERY pixel from the synthetic md5 formula,
      // so the graded entropy validates codec + histogram + entropy
      // chain end to end (Multimodal.imageEntropy)
      Multimodal.imageEntropy(
        Multimodal.syntheticImages(Tables.documents(s, dir), "doc_id"))
    },
    // the oracle recomputes expected frame energies straight from the
    // synthetic waveform formula — grading the WAV encode → decode →
    // frame round-trip against an independent derivation
    // every pixel of the 16×16 md5 checkerboard re-derived (the
    // image_dedup formula over the FULL grid, not the 8×8 sample);
    // entropy term-rounding mirrors events_entropy exactly
      """WITH ids AS (SELECT doc_id AS media_id FROM documents),
        |px AS (SELECT media_id, xx.x AS x, yy.y AS y FROM ids,
        |  LATERAL unnest(generate_series(0, 15)) xx(x),
        |  LATERAL unnest(generate_series(0, 15)) yy(y)),
        |lum AS (SELECT media_id,
        |  CASE WHEN ((CAST('0x' || substr(md5(
        |        CAST(media_id // 4 AS VARCHAR) || ':' ||
        |        CAST(x AS VARCHAR) || ',' ||
        |        CAST(y AS VARCHAR)), 1, 1) AS BIGINT) < 8)
        |    != ((media_id % 4 <> 0) AND x = 2 * (media_id % 4)
        |      AND y = 0))
        |  THEN 0 ELSE 255 END AS bin FROM px),
        |b AS (SELECT media_id, bin, count(*) AS n_px FROM lum
        |  GROUP BY 1, 2),
        |tt AS (SELECT media_id, CAST(sum(n_px) AS BIGINT)
        |    AS n_pixels FROM b GROUP BY 1),
        |j AS (SELECT b.media_id, n_pixels,
        |  CAST(n_px AS DOUBLE) / CAST(n_pixels AS DOUBLE) AS p
        |  FROM b JOIN tt USING (media_id)),
        |t AS (SELECT media_id, n_pixels,
        |  CAST(round(p * round(log2(p), 4) * (-1e4)) AS BIGINT)
        |    AS t4 FROM j)
        |SELECT media_id, max(n_pixels) AS n_pixels,
        |  count(*) AS n_bins, CAST(sum(t4) AS BIGINT) AS entropy4
        |FROM t GROUP BY 1""".stripMargin),

    GradedQuery("multimodal_audio_zcr", (s, dir) => {
      // framed zero-crossing rate over the same synthesized PCM as
      // audio_energy — the speech/music/noise discriminator energy
      // alone can't provide (loud hum vs loud hiss); oracle recomputes
      // every sign flip from the waveform formula
      // (Multimodal.audioZeroCrossings)
      Multimodal.audioZeroCrossings(
        Multimodal.syntheticAudio(Tables.documents(s, dir), "doc_id",
          nSamples = 4000), frameSize = 512).toDF()
    },
    // every sign flip recomputed from the waveform formula; the
    // i % 512 > 0 guard excludes the cross-frame boundary pair
      """WITH i AS (SELECT doc_id AS media_id, u.i AS i FROM documents,
        |  LATERAL unnest(generate_series(0, 3999)) u(i)),
        |v AS (SELECT media_id, i, i // 512 AS frame_idx,
        |  CASE WHEN ((media_id * 31 + i * 7) % 2003) - 1001 >= 0
        |    THEN 1 ELSE 0 END AS sg FROM i),
        |p AS (SELECT media_id, frame_idx, i % 512 AS k, sg,
        |  lag(sg) OVER (PARTITION BY media_id ORDER BY i) AS prev
        |  FROM v),
        |a AS (SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  count(*) AS n_samples,
        |  CAST(sum(CASE WHEN k > 0 AND prev <> sg THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_zc
        |  FROM p GROUP BY 1, 2)
        |SELECT media_id, frame_idx, n_samples, n_zc,
        |  CASE WHEN n_samples > 1 THEN
        |    CAST(round(10000.0 * n_zc / (n_samples - 1)) AS BIGINT)
        |  ELSE 0 END AS zcr4
        |FROM a""".stripMargin),

    GradedQuery("multimodal_audio_energy", (s, dir) => {
      // framed RMS energy over REAL synthesized 16-bit PCM WAVs; the
      // oracle recomputes expected energies from the waveform formula,
      // so the graded comparison validates the WAV encode/decode
      // round-trip and framing exactly
      Multimodal.audioEnergy(
        Multimodal.syntheticAudio(Tables.documents(s, dir), "doc_id",
          nSamples = 4000), frameSize = 512).toDF()
    },
      """WITH i AS (SELECT doc_id AS media_id, u.i AS i FROM documents,
        |  LATERAL unnest(generate_series(0, 3999)) u(i)),
        |v AS (SELECT media_id, i // 512 AS frame_idx,
        |  ((media_id * 31 + i * 7) % 2003) - 1001 AS s FROM i)
        |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(count(*) AS INT) AS n_samples,
        |  CAST(sum(s * s) AS BIGINT) AS sum_sq,
        |  CAST(CAST(sum(s * s) AS BIGINT) AS DOUBLE) / count(*) AS mean_sq
        |FROM v GROUP BY 1, 2""".stripMargin),

    GradedQuery("multimodal_image_resize", (s, dir) => {
      // nearest-neighbor 16×16 → 8×8 through the REAL BMP codec; the
      // oracle rebuilds the ENTIRE output file hex arithmetically
      // (patched 54-byte header + file-order pixel rows: file row y
      // samples input image row 15−2y — bottom-up rows make the
      // resample bottom-anchored in image space) so every byte of
      // decode → resample → re-encode is graded. r14 (VERDICT r13
      // item 7): the synthesis now carries two QUARANTINE arms — a
      // JPEG header (id%7=5) and an 8-bit BMP (id%7=6) — which must
      // pass through byte-identical with resized=false; the oracle
      // grades their hex as literals of the same fixture constants
      Multimodal.resizeImagesTagged(
        Multimodal.syntheticImagesMixed(
          Tables.documents(s, dir).select("doc_id"), "doc_id"), 8, 8)
        .select(col("media_id"), col("resized"),
          lower(hex(col("payload"))).as("bmp_hex"))
    },
    // full-file BMP rebuild: header pieces concatenated (size 246,
    // pixOff 54, 8×8, 24bpp) + 64 pixels in FILE order; output file
    // row y samples input image row 15−2y (bottom-up anchoring), so
    // the single-pixel id%4 perturbation at image row 0 never
    // survives the resample — pixels are pure base pattern
    // valid arms: the full file-hex re-derivation as before, now with
    // resized=true; quarantine arms (id%7 = 5 JPEG header / 6 8-bit
    // BMP): pass-through hex graded against the SAME fixture
    // constants the synthesis uses (Multimodal.jpegHeaderHex/bmp8Hex)
      s"""WITH px AS (SELECT d.doc_id AS media_id, y.y AS y, x.x AS x,
        |  CASE WHEN substr(md5(CAST(d.doc_id // 4 AS VARCHAR) || ':' ||
        |      CAST(2 * x.x AS VARCHAR) || ',' ||
        |      CAST(15 - 2 * y.y AS VARCHAR)), 1, 1)
        |      BETWEEN '0' AND '7'
        |    THEN '000000' ELSE 'ffffff' END AS h
        |  FROM documents d,
        |    LATERAL unnest(generate_series(0, 7)) y(y),
        |    LATERAL unnest(generate_series(0, 7)) x(x)
        |  WHERE d.doc_id % 7 NOT IN (5, 6)),
        |agg AS (SELECT media_id,
        |  string_agg(h, '' ORDER BY y, x) AS pix FROM px GROUP BY 1)
        |SELECT media_id, TRUE AS resized,
        |  '424d' || 'f6000000' || '00000000' || '36000000' ||
        |  '28000000' || '08000000' || '08000000' || '0100' || '1800' ||
        |  repeat('00', 24) || pix AS bmp_hex
        |FROM agg
        |UNION ALL
        |SELECT doc_id AS media_id, FALSE AS resized,
        |  '${Multimodal.jpegHeaderHex}' AS bmp_hex
        |FROM documents WHERE doc_id % 7 = 5
        |UNION ALL
        |SELECT doc_id AS media_id, FALSE AS resized,
        |  '${Multimodal.bmp8Hex}' AS bmp_hex
        |FROM documents WHERE doc_id % 7 = 6""".stripMargin),

    GradedQuery("multimodal_frame_sample", (s, dir) => {
      // every-2nd-frame sampling through the REAL RIFF/AVI walk
      // (MediaCodec.aviFrameRanges): the synthetic frames are md5
      // digests, so md5(frame bytes) equals the generator's hex only
      // if the parser's byte offsets are exactly right — the oracle
      // re-derives the sampled grid arithmetically (every id%3==2
      // video has 3 frames; every-2 sampling keeps 0 and 2)
      Multimodal.sampleFrames(
        Multimodal.syntheticMedia(
          Tables.documents(s, dir).select("doc_id"), "doc_id"),
        everyN = 2)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          lower(hex(col("frame"))).as("frame_hex"))
    },
    // arithmetic re-derivation of the sampled frame grid: every
    // id%3==2 video carries frames 0..2 whose BYTES are the md5
    // digest of 'id:i' — hex(frame) can only equal md5('id:i') if
    // the RIFF walk returned exactly the right byte ranges
      """SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_idx,
        |  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))
        |    AS frame_hex
        |FROM documents, LATERAL unnest(generate_series(0, 2, 2)) u(i)
        |WHERE doc_id % 3 = 2""".stripMargin),

    GradedQuery("multimodal_audio_vad", (s, dir) => {
      // voice-activity segments over the synthesized PCM WAVs: active
      // iff sum_sq > n·334000 (E[s²] of the ±1001 uniform waveform ≈
      // 334334, so frames split near half), islands → segments; the
      // oracle re-derives frame energies from the waveform formula and
      // runs the same islands SQL
      Multimodal.audioVad(
        Multimodal.syntheticAudio(Tables.documents(s, dir), "doc_id",
          nSamples = 4000), frameSize = 512, threshold = 334000L)
    },
    // frame energies re-derived from the waveform formula (the
    // audio_energy oracle's derivation) + the same islands SQL; the
    // active test is the exact integer cross-multiply
      """WITH i AS (SELECT doc_id AS media_id, u.i AS i FROM documents,
        |  LATERAL unnest(generate_series(0, 3999)) u(i)),
        |v AS (SELECT media_id, i // 512 AS frame_idx,
        |  ((media_id * 31 + i * 7) % 2003) - 1001 AS s FROM i),
        |f AS (SELECT media_id, frame_idx, count(*) AS n,
        |  CAST(sum(s * s) AS BIGINT) AS sq FROM v GROUP BY 1, 2),
        |a AS (SELECT media_id, frame_idx FROM f
        |  WHERE sq > n * 334000),
        |r AS (SELECT media_id, frame_idx - row_number()
        |  OVER (PARTITION BY media_id ORDER BY frame_idx) AS grp
        |  FROM a),
        |g AS (SELECT media_id, grp, count(*) AS run_len
        |  FROM r GROUP BY 1, 2),
        |m AS (SELECT media_id, count(*) AS n_segments,
        |  CAST(sum(run_len) AS BIGINT) AS n_active,
        |  CAST(max(run_len) AS BIGINT) AS longest_run
        |  FROM g GROUP BY 1),
        |nf AS (SELECT media_id, count(*) AS n_frames FROM f GROUP BY 1)
        |SELECT nf.media_id, nf.n_frames,
        |  coalesce(m.n_active, 0) AS n_active,
        |  coalesce(m.n_segments, 0) AS n_segments,
        |  coalesce(m.longest_run, 0) AS longest_run
        |FROM nf LEFT JOIN m ON m.media_id = nf.media_id""".stripMargin),

    GradedQuery("multimodal_scene_cut", (s, dir) => {
      // shot-boundary detection through the REAL RIFF/AVI walk: total
      // absolute byte delta between consecutive frames, cut when
      // > 1360 (16 random bytes' expected total |diff| is ~85.3·16 ≈
      // 1365, so the synthetic md5 frames split near half); the oracle
      // re-derives every frame byte from the md5 hex formula, so the
      // graded compare proves the container offsets AND the delta
      // arithmetic
      // r14 (VERDICT r13 item 7): the video synthesis now carries two
      // QUARANTINE arms — a truncated RIFF (id%3=0) and an MP4 ftyp box
      // (id%3=1) — and the tagged variant emits one decoded=false row
      // per unindexable video instead of silently dropping it; the
      // valid arm (id%3=2) keeps the exact syntheticMedia AVI formula
      Multimodal.sceneCutsTagged(
        Multimodal.syntheticVideosMixed(
          Tables.documents(s, dir).select("doc_id"), "doc_id"),
        threshold = 1360L)
    },
    // every frame byte re-derived from the md5 hex formula, the
    // per-pair delta summed over the 16 byte positions — grading the
    // container offsets AND the delta arithmetic. Frame count and
    // pair range derive from the SAME layout formula the synthesizer
    // uses (Multimodal.videoFrameCountSql), not a literal copy of it
    // (ADVICE r11) — if the synthetic layout changes, this oracle
    // follows instead of grading its own stale assumption.
    // r14: valid arm (id%3=2) as before with decoded=true (the
    // single-frame case pairs zero rows, hence the LEFT JOIN);
    // quarantine arms (id%3 = 0 truncated RIFF / 1 MP4 ftyp) grade as
    // explicit decoded=false zero rows
      s"""WITH v AS (SELECT doc_id AS media_id,
        |  CAST(${Multimodal.videoFrameCountSql} AS BIGINT) AS n_frames
        |  FROM (SELECT doc_id, doc_id AS media_id FROM documents
        |    WHERE doc_id % 3 = 2)),
        |b AS (SELECT media_id, u.i AS pair_idx,
        |  CAST(sum(abs(
        |    CAST('0x' || substr(md5(CAST(media_id AS VARCHAR) || ':'
        |      || CAST(u.i AS VARCHAR)), j.j*2 + 1, 2) AS BIGINT)
        |    - CAST('0x' || substr(md5(CAST(media_id AS VARCHAR) || ':'
        |      || CAST(u.i + 1 AS VARCHAR)), j.j*2 + 1, 2) AS BIGINT)))
        |    AS BIGINT) AS delta
        |  FROM v, LATERAL unnest(generate_series(0, n_frames - 2)) u(i),
        |    LATERAL unnest(generate_series(0, 15)) j(j)
        |  GROUP BY 1, 2)
        |SELECT v.media_id, TRUE AS decoded, v.n_frames,
        |  count(b.media_id) AS n_pairs,
        |  CAST(coalesce(sum(delta), 0) AS BIGINT) AS sum_delta,
        |  CAST(coalesce(sum(CASE WHEN delta > 1360 THEN 1 ELSE 0 END),
        |    0) AS BIGINT) AS n_cuts
        |FROM v LEFT JOIN b ON b.media_id = v.media_id
        |GROUP BY 1, 2, 3
        |UNION ALL
        |SELECT doc_id AS media_id, FALSE AS decoded,
        |  0 AS n_frames, 0 AS n_pairs, 0 AS sum_delta, 0 AS n_cuts
        |FROM documents WHERE doc_id % 3 IN (0, 1)""".stripMargin),

    GradedQuery("multimodal_audio_stats", (s, dir) => {
      // sox-stats waveform QC per clip: DC offset (broken-mic audit),
      // peak, crest factor peak/RMS (limiter-squash audit) — exact
      // integer sums from the WAV decode kernel, the two ratios
      // derived column-side with one pinned sequence each
      // (Multimodal.audioStats)
      val st = Multimodal.audioStats(
        Multimodal.syntheticAudio(Tables.documents(s, dir), "doc_id",
          nSamples = 4000)).toDF()
      st.select(col("media_id"), col("n_samples").cast("long").as("n_samples"),
        col("sum_s"), col("sum_sq"), col("peak").cast("long").as("peak"),
        round(lit(10000.0) * col("sum_s").cast("double") /
          col("n_samples").cast("double")).cast("long").as("mean4"),
        when(col("sum_sq") > 0,
          round(lit(10000.0) * col("peak").cast("double") /
            sqrt(col("sum_sq").cast("double") /
              col("n_samples").cast("double"))).cast("long")).as("crest4"))
    },
    // audio stats: the waveform formula re-derives every sample;
    // ratios in the identical pinned sequences (round HALF away from
    // zero both engines — the column-side rounding rule)
      """WITH i AS (SELECT doc_id AS media_id, u.i AS i FROM documents,
        |  LATERAL unnest(generate_series(0, 3999)) u(i)),
        |v AS (SELECT media_id,
        |  ((media_id * 31 + i * 7) % 2003) - 1001 AS s FROM i),
        |a AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(s) AS BIGINT) AS sum_s,
        |  CAST(sum(s * s) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(s)) AS BIGINT) AS peak FROM v GROUP BY 1)
        |SELECT media_id, n_samples, sum_s, sum_sq, peak,
        |  CAST(round(10000.0 * sum_s / CAST(n_samples AS DOUBLE))
        |    AS BIGINT) AS mean4,
        |  CASE WHEN sum_sq > 0 THEN CAST(round(10000.0 * peak
        |    / sqrt(CAST(sum_sq AS DOUBLE) / CAST(n_samples AS DOUBLE)))
        |    AS BIGINT) END AS crest4
        |FROM a""".stripMargin),
  )
}
