package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity}

/** Dedup + similarity query pack: q_dedup_* / q_sim_* + DuckDB
  * oracles where SQL-expressible. The general MinHash/SimHash/LSH
  * queries have no oracle (xxhash64 signatures are engine-specific) —
  * they get the driver's rows-only check plus planted-duplicate
  * ScalaTest specs; the *_planted companion queries additionally
  * oracle-check the same pipelines end-to-end on a doubled corpus
  * whose expected pair list is SQL-derivable.
  */
object QueriesLlm {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
    }),

    // incremental-ingestion dedup: the "new crawl" slice (doc_id%3!=0)
    // screened against the "already ingested" slice via the Bloom
    // prune + exact anti-join verify — output exact, oracle = NOT
    // EXISTS on text equality
    "q_dedup_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dedupAgainstHistory(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0), "text")
        .select("doc_id", "lang", "source")
    }),

    // incremental NEAR-dup screening (r17): the new-crawl slice
    // band-joined against a STORED history signature table — history
    // text is never re-shingled (the table carries signatures + shingle
    // set-hashes only). At threshold 1.0 the screen provably drops
    // exactly the equal-shingle-set matches (equal sets share every
    // band; set-hash verification admits only equality), so the oracle
    // is the NOT-EXISTS over SQL-derived shingle sets.
    "q_dedup_minhash_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val history = Dedup.minhashHistorySignatures(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
      Dedup.minhashAgainstHistory(
        docs.filter(col("doc_id") % 3 =!= 0), history, "doc_id", "text")
        .select("doc_id", "lang", "source")
    }),

    // the same screen at a NEAR threshold (minhash Jaccard estimate
    // verification): rows-only — the estimator is signature geometry —
    // with the threshold-1.0 exact form above as its oracle anchor and
    // the planted spec pinning drop/survive behavior
    "q_dedup_minhash_incr_near" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val history = Dedup.minhashHistorySignatures(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
      Dedup.minhashAgainstHistory(
        docs.filter(col("doc_id") % 3 =!= 0), history, "doc_id", "text",
        threshold = 0.5)
        .select("doc_id", "lang", "source")
    }),

    "q_dedup_jaccard" -> ((s, dir) => {
      // self-routing: dense small blocks take the all-pairs native path,
      // mega-blocks the exact prefix-filtered index path; TextDedupSpec
      // proves all strategies agree
      Dedup.ngramJaccardPairsAuto(t(s, dir, "documents"), "doc_id", "text",
        blockCols = Seq("lang", "source"), n = 1, threshold = 0.8)
    }),

    // BOUNDED-comparison companion for the 100× scale gate: the same
    // engine path over a deterministic 1-in-10 document subsample
    // (doc_id % 10 = 0). Blocks are independent — pairs never cross
    // (lang, source) — so the sampled comparison is EXACT on the
    // sampled corpus while the oracle's naive blocked all-pairs join
    // stays ~100× smaller than the full formulation (pairs keep only
    // when BOTH endpoints sample), tractable for DuckDB at sf10 where
    // the unsampled oracle is quadratic-intractable (the ENGINE side
    // runs unsampled fine there — that asymmetry is the scale story;
    // PLANS.md r12 addendum 2 / r13 gate).
    "q_dedup_jaccard_bounded" -> ((s, dir) => {
      Dedup.ngramJaccardPairsAuto(
        t(s, dir, "documents").filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text",
        blockCols = Seq("lang", "source"), n = 1, threshold = 0.8)
    }),

    "q_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
        ngramN = 5, numHashes = 32, bands = 8, threshold = 0.5)
    }),

    "q_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 6)
    }),

    // Planted-duplicate companions: double the corpus with exact copies
    // (copy id = id + 1,000,000) so the expected pair list IS
    // SQL-derivable and the oracle hash-checks the signature ->
    // banding -> candidate-join -> verification pipeline end-to-end.
    // At threshold 1.0 the LSH output provably equals the set of
    // identical-shingle-set pairs: equal sets always share every band
    // (no recall gap) and exact-Jaccard verification admits only
    // jacc == 1.0, which holds iff the sets are equal.
    "q_dedup_minhash_planted" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.union(d.withColumn("doc_id", col("doc_id") + lit(1000000L)))
      Dedup.minhashLsh(corpus, "doc_id", "text",
        ngramN = 5, numHashes = 32, bands = 8, threshold = 1.0)
    }),

    // SimHash companion at maxHamming = 0: equal token multisets give
    // equal signatures, and the single 64-bit band catches every such
    // pair (complete by construction). The bag-equality join guard
    // drops coincidental 64-bit collisions between UNEQUAL multisets
    // (near-dup text can legitimately land at hamming 0), which SQL
    // cannot predict; a banding/vote bug that loses real pairs still
    // fails the oracle.
    "q_dedup_simhash_planted" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.union(d.withColumn("doc_id", col("doc_id") + lit(1000000L)))
      val bag = corpus.select(col("doc_id"),
        array_sort(split(trim(lower(col("text"))), "\\s+")).as("__bag"))
      Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 0)
        .join(bag.select(col("doc_id").as("id_a"), col("__bag").as("__ba")), Seq("id_a"))
        .join(bag.select(col("doc_id").as("id_b"), col("__bag").as("__bb")), Seq("id_b"))
        .filter(col("__ba") === col("__bb"))
        .select("id_a", "id_b", "hamming")
    }),

    // multimodal plumbing end-to-end over synthesized blobs (documents'
    // text bytes stand in for media — no codecs/media files in this
    // environment): metadata struct -> partition-batched feature
    // extraction -> frame sampling -> per-type rollup. Rows-only: the
    // metadata/feature math is engine-specific; StreamsMediaSpec proves
    // the real-parser paths (PNG/GIF/JPEG/BMP, WAV, MP3, MP4)
    "q_media" -> ((s, dir) => {
      val media = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("blob"),
          when(col("doc_id") % 2 === 0, "video/mp4").otherwise("audio/wav").as("mime"))
      val withMeta = graft.multimodal.Media
        .withMetadata(media.filter(col("mime") === "audio/wav"), "blob", "audio/wav")
        .unionByName(graft.multimodal.Media
          .withMetadata(media.filter(col("mime") === "video/mp4"), "blob", "video/mp4"))
      val feats = graft.multimodal.Media.extractFeatures(withMeta, "blob", "media_id")
      val frames = graft.multimodal.Media.sampleFrames(withMeta, "media_meta", n = 3)
      frames.join(feats, Seq("media_id"))
        .groupBy(col("media_meta.mime").as("mime"))
        .agg(count(lit(1)).as("n_frames"),
          graft.functions.Det.sumAt(col("frame_offset_ms"), 0).as("sum_offsets"),
          graft.functions.Det.sumAt(element_at(col("features"), 1), 6).as("sum_f0"))
    }),

    // image near-dup over REAL JDK-decoded pixels (r17): deterministic
    // synthetic PNGs — ~5 docs share each base pattern (doc_id % 97),
    // each at a small per-doc brightness jitter — so re-encoded
    // variants of "the same picture" pair at small hamming while
    // byte/exact hashes see 500 distinct blobs. Rows-only: dHash bits
    // are engine-specific geometry; q_media_dedup_planted is the
    // oracle-green companion and StreamsMediaSpec pins decode/grid/
    // hash laws + JPEG re-encode robustness.
    // fan-out A/B'd (r20-opt): this query is band-join/window-bound,
    // not decode-bound — id fan-out measured 1.05x (wash); left on the
    // plain scan. The decode-bound siblings (planted/phash) fan out.
    "q_media_dedup" -> ((s, dir) => {
      val media = t(s, dir, "documents").select(col("doc_id"),
        graft.multimodal.Media.syntheticPngCol(
          pmod(col("doc_id"), lit(97)), pmod(col("doc_id"), lit(5)) - lit(2)).as("img"))
      graft.multimodal.Media.imageNearDup(media, "doc_id", "img", maxHamming = 6)
    }),

    // planted companion, oracle-green: every doc's PNG is duplicated
    // byte-identically under id + 1,000,000; at maxHamming = 0 the
    // single 64-bit band admits exactly signature-equal pairs, and
    // distinct seeds collide with probability ~2⁻⁶⁴ — so the expected
    // pair list IS the SQL cross-reference (d, d+1000000, hamming 0).
    // This hash-checks decode → dHash → banding → pair join end-to-end
    // through the real ImageIO codecs.
    "q_media_dedup_planted" -> ((s, dir) => {
      // id-only fan-out before the codec chain (see q_media_dedup)
      val ids = graft.operators.Ops.fanOutIfNarrow(
        t(s, dir, "documents").select(col("doc_id")), Seq(col("doc_id")))
      val d = ids.select(col("doc_id"),
        graft.multimodal.Media.syntheticPngCol(col("doc_id"), lit(0)).as("img"))
      val corpus = d.union(d.withColumn("doc_id", col("doc_id") + lit(1000000L)))
      graft.multimodal.Media.imageNearDup(corpus, "doc_id", "img", maxHamming = 0)
    }),

    // audio quality screens over REAL JDK-decoded PCM (r17),
    // ORACLE-GREEN through a byte-level codec path: each doc gets a
    // deterministic 16-bit WAV (alternating ±amp then silence) whose
    // clipping ratio / silence fraction / RMS / peak are CLOSED-FORM
    // in amp — every engine-side intermediate is exactly dyadic (see
    // Media.syntheticWav scaladoc), so DuckDB predicts the decoded
    // stats bit-for-bit without decoding anything.
    "q_media_audio" -> ((s, dir) => {
      val amp = when(pmod(col("doc_id"), lit(5)) === 0, lit(32767))
        .otherwise(lit(12288) + pmod(col("doc_id"), lit(7)) * lit(1024))
      val wavs = t(s, dir, "documents").select(col("doc_id"),
        graft.multimodal.Media.syntheticWavCol(amp).as("wav"))
      graft.multimodal.Media.audioScreen(wavs, "doc_id", "wav")
        .select(col("doc_id"), col("n_samples"), col("sample_rate"),
          col("channels"), col("duration_ms"),
          round(col("rms"), 6).as("rms"), round(col("peak"), 6).as("peak"),
          col("clip_ratio"), col("silence_frac"))
    }),

    // simhash HISTORY screen (r17): the token-multiset analog of the
    // minhash history screen — history holds one 8-byte signature per
    // already-ingested doc (every third doc here, re-tokenized never).
    // ROWS-ONLY by the signature's nature: simhash is locality-
    // SENSITIVE, so even at maxHamming 0 a batch doc with a merely
    // similar token distribution can share a stored signature and
    // drop — measured on this corpus (doc 301 collides with a
    // distinct-multiset history doc), which is the intended near-dup
    // behavior, not an exactness contract. The exact-contract history
    // screens are the oracle-green minhash (stored shingle-set hash)
    // and image (planted byte-identical) forms; the planted semantics
    // spec is TextDedupSpec's simhashAgainstHistory test.
    "q_dedup_simhash_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val history = Dedup.simhashSignatures(
        docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text")),
        "doc_id", "text")
      Dedup.simhashAgainstHistory(docs, history, "doc_id", "text",
          maxHamming = 0)
        .select("doc_id")
    }),

    // image near-dup HISTORY screen (r17): the crawl-ingest shape —
    // the history table holds perceptual signatures of every third
    // base pattern (re-encoded byte-identically, so each planted
    // batch/history pair is hamming 0), the batch decodes once and
    // survives iff no history signature is within the budget. Distinct
    // synthetic patterns are independent 64-bit signatures (cross-seed
    // hamming ≤ 6 has probability ~5e-10 per pair — deterministic
    // data, verified green), so the survivor set is EXACTLY the
    // doc_id % 3 != 0 rows: oracle-checkable end-to-end through real
    // PNG encode → JDK decode → dHash → banding → exact verify.
    "q_media_dedup_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val batch = docs.select(col("doc_id"),
        graft.multimodal.Media.syntheticPngCol(col("doc_id"), lit(0)).as("img"))
      val history = graft.multimodal.Media.imageSignatures(
        docs.filter(col("doc_id") % 3 === 0)
          // both expressions read the INPUT doc_id: the history id
          // shifts out of the batch id space, the pattern seed stays
          // the original doc_id (that is what makes the pair planted)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            graft.multimodal.Media.syntheticPngCol(col("doc_id"),
              lit(0)).as("img")),
        "doc_id", "img")
      graft.multimodal.Media.imageAgainstHistory(batch, "doc_id", "img",
          history, maxHamming = 6)
        .select("doc_id")
    }),

    // pre-decode video stream screen over REAL ISO-BMFF parsing (r17):
    // deterministic synthetic MP4s whose track layout, dims, codec and
    // durations are CLOSED-FORM in doc_id, so the full byte-level box
    // walk (builder → tkhd/mdhd/hdlr/stsd parse → screen) is
    // oracle-checked end-to-end — the syntheticWav precedent. The
    // screen is the filter a 100 TB video corpus runs before paying
    // any frame decode: one map-side header walk, HOF aggregation over
    // the bounded track list, no shuffle.
    "q_media_video" -> ((s, dir) => {
      val vids = t(s, dir, "documents").select(col("doc_id"),
        graft.multimodal.Media.syntheticMp4Col(
          lit(320) + pmod(col("doc_id"), lit(4)) * lit(160),
          lit(240) + pmod(col("doc_id"), lit(3)) * lit(120),
          lit(1000L) + pmod(col("doc_id"), lit(50)) * lit(250L),
          pmod(col("doc_id"), lit(5)) =!= 0,
          when(pmod(col("doc_id"), lit(2)) === 0, "avc1")
            .otherwise("hvc1")).as("blob"))
      graft.multimodal.Media.videoStreamScreen(vids, "doc_id", "blob",
        minWidth = 480, minHeight = 360)
    }),

    // keyframe-aligned frame sampling over REAL sample tables (r17):
    // stts/stss parsed from synthetic containers whose frame layout is
    // closed-form in doc_id (F frames at 40 ms, a keyframe every G) —
    // the decode-free plan stage a video pipeline runs before any GOP
    // seek; oracle recomputes the even keyframe subsample exactly
    "q_media_frames" -> ((s, dir) => {
      val vids = t(s, dir, "documents").select(col("doc_id"),
        graft.multimodal.Media.syntheticMp4FramesCol(
          lit(320), lit(240),
          (lit(10L) + pmod(col("doc_id"), lit(40))) * lit(40L),
          lit(10) + pmod(col("doc_id"), lit(40)),
          lit(1) + pmod(col("doc_id"), lit(7))).as("blob"))
      graft.multimodal.Media.sampleKeyframes(vids, "doc_id", "blob", n = 8)
    }),

    // video FRAME signatures (r20): q_media_frames' keyframe plan with
    // the pixel slot filled through the setVideoFrameDecoder hook —
    // which this sandbox's JVM honestly cannot provide (no video
    // codecs), so every frame row carries decodable = FALSE and the
    // plan columns replay closed-form exactly like q_media_frames.
    // The hook-registered path (sigs flow into the still-image
    // signature space, throwing hooks stay row-local) is spec-pinned
    // in StreamsMediaSpec with a mock decoder.
    "q_media_frame_sigs" -> ((s, dir) => {
      val vids = t(s, dir, "documents").select(col("doc_id"),
        graft.multimodal.Media.syntheticMp4FramesCol(
          lit(320), lit(240),
          (lit(10L) + pmod(col("doc_id"), lit(40))) * lit(40L),
          lit(10) + pmod(col("doc_id"), lit(40)),
          lit(1) + pmod(col("doc_id"), lit(7))).as("blob"))
      graft.multimodal.Media.videoFrameSignatures(
          vids, "doc_id", "blob", n = 8)
        .withColumn("decodable", col("__sig").isNotNull)
        .select("doc_id", "frame_idx", "frame_offset_ms", "decodable")
    }),

    // WebP container dims (r18), oracle-green end-to-end through REAL
    // RIFF/VP8/VP8L/VP8X byte building + parsing: each doc gets a
    // planted webp of its profile (doc_id % 3 → lossy / lossless /
    // extended) with closed-form dims, so the oracle predicts
    // format/width/height from doc_id arithmetic alone. Scope note:
    // webp is DIMS-ONLY — the JDK ships no VP8 pixel decoder, so
    // perceptual hashing cannot cover it (q_media_formats makes that
    // hole visible instead of silent).
    "q_media_webp" -> ((s, dir) => {
      val kind = when(pmod(col("doc_id"), lit(3)) === 0, "vp8")
        .when(pmod(col("doc_id"), lit(3)) === 1, "vp8l")
        .otherwise("vp8x")
      val d = t(s, dir, "documents").select(col("doc_id"),
        graft.multimodal.Media.syntheticWebpCol(
          pmod(col("doc_id"), lit(500)) + lit(1),
          pmod(col("doc_id"), lit(300)) + lit(1), kind).as("img"))
      graft.multimodal.Media.imageDims(d, "img")
        .select("doc_id", "format", "width", "height")
    }),

    // AVIF container dims (r19), oracle-green end-to-end through REAL
    // ISO-BMFF byte building + parsing (ftyp→meta→iprp→ipco→ispe) —
    // the q_media_webp pattern for the other modern-crawl format.
    // Scope note: AVIF is DIMS-ONLY like webp (no JDK AV1 decoder);
    // q_media_formats counts that hole per format.
    "q_media_avif" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        graft.multimodal.Media.syntheticAvifCol(
          pmod(col("doc_id"), lit(700)) + lit(1),
          pmod(col("doc_id"), lit(400)) + lit(1)).as("img"))
      graft.multimodal.Media.imageDims(d, "img")
        .select("doc_id", "format", "width", "height")
    }),

    // REAL image resize (r19 — the brief's decode/feature/RESIZE/
    // frame-sample set completed): decode planted PNGs, remap to an
    // exact target by deterministic nearest-neighbor index arithmetic,
    // re-encode PNG, then RE-PARSE the output container — the oracle
    // predicts format/dims/decodability of the round-trip from the
    // constants alone. One map-side pass; pixels never leave the task.
    "q_media_resize" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        graft.multimodal.Media.syntheticPngCol(col("doc_id"), lit(0)).as("img"))
      val r = graft.multimodal.Media.resizeImages(d, "doc_id", "img", 32, 24)
      graft.multimodal.Media.imageDims(
          r.select(col("doc_id"), col("resized").as("img")), "img")
        .withColumn("decodable", col("format").isNotNull)
        .select("doc_id", "format", "width", "height", "decodable")
    }),

    // AREA-AVERAGE resize (r20): the anti-aliased thumbnail variant —
    // the 36x32 planted PNGs box-filter down to 9x8, so every 4x4
    // source block (which syntheticPng builds as a CONSTANT gray)
    // averages into exactly one target pixel. Container oracle like
    // q_media_resize; the pixel exactness (block means land verbatim,
    // half-up rounding closed-form, upscale == nearest) is spec-pinned
    // in StreamsMediaSpec.
    "q_media_resize_area" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        graft.multimodal.Media.syntheticPngCol(col("doc_id"), lit(0)).as("img"))
      val r = graft.multimodal.Media.resizeImages(d, "doc_id", "img", 9, 8,
        algo = "area")
      graft.multimodal.Media.imageDims(
          r.select(col("doc_id"), col("resized").as("img")), "img")
        .withColumn("decodable", col("format").isNotNull)
        .select("doc_id", "format", "width", "height", "decodable")
    }),

    // aspect-preserving fit (r19): stage 1 resizes each planted PNG to
    // doc_id-derived dims (real decode+encode), stage 2 fits the
    // longest side to 32 — fitDims is pure floor-division integer
    // arithmetic, so the oracle replays the exact output dims in SQL
    "q_media_resize_fit" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        graft.multimodal.Media.syntheticPngCol(col("doc_id"), lit(0)).as("img"))
      // per-row target dims need column args: stage 1 exact per-row
      // dims through the column form, stage 2 the fit box
      val stage1 = d.select(col("doc_id"),
        graft.multimodal.Media.resizeCol(col("img"),
          pmod(col("doc_id"), lit(50)).cast("int") + lit(1),
          pmod(col("doc_id"), lit(40)).cast("int") + lit(1)).as("img"))
      val fit = stage1.select(col("doc_id"),
        graft.multimodal.Media.resizeFitCol(col("img"), lit(32)).as("img"))
      graft.multimodal.Media.imageDims(fit, "img")
        .select("doc_id", "format", "width", "height")
    }),

    // per-format decodability accounting (r18; r19 adds the AVIF
    // class): a planted mixed corpus — PNG (pixel-decodable), WebP and
    // AVIF (dims-only), prefixed text bytes (unknown) by doc_id % 4 —
    // through imageFormatProfile; the oracle predicts every count from
    // the modulus. THE coverage report a crawl pipeline checks before
    // trusting its perceptual near-dup screen.
    "q_media_formats" -> ((s, dir) => {
      val cls = pmod(col("doc_id"), lit(4))
      val blob = when(cls === 0,
          graft.multimodal.Media.syntheticPngCol(col("doc_id"), lit(0)))
        .when(cls === 1, graft.multimodal.Media.syntheticWebpCol(
          lit(64), lit(48), lit("vp8l")))
        .when(cls === 2, graft.multimodal.Media.syntheticAvifCol(
          lit(128), lit(96)))
        // "X" prefix pins the class: raw text could in principle open
        // with a real magic ("BM...", "GIF...") and drift the counts
        .otherwise(concat(lit("X").cast("binary"), coalesce(col("text"), lit("")).cast("binary")))
      val d = t(s, dir, "documents").select(col("doc_id"), blob.as("img"))
      graft.multimodal.Media.imageFormatProfile(d, "img")
    }),

    // AUDIO near-dup over real decoded PCM (r18, oracle-green) —
    // completes perceptual dedup across modalities: each doc gets a
    // seed-patterned WAV (envelope = seed class doc_id % 97) at a
    // per-doc GAIN (1 + doc_id % 255). The envelope signature is
    // differential, so gain factors out EXACTLY (dyadic construction,
    // see syntheticWavPattern) — byte hashes see N distinct blobs, the
    // signature pairs every same-class re-gained copy at hamming 0,
    // and the oracle is pure doc_id arithmetic. Cross-class 64-bit
    // collisions would break the oracle only if two of the 97 fixed
    // seed patterns collided — spec-pinned distinct (deterministic,
    // SF-independent).
    // doc_id cap (the q_dedup_semantic_exact precedent): the PLANTED
    // construction puts n/97 byte-distinct copies in every class, so
    // the within-class pair count grows quadratically with SF — a
    // data-density artifact of the oracle plant, not a plan cost; the
    // cap pins it at ~2M pairs at any SF while the gate SFs run the
    // full corpus unchanged
    "q_media_audio_dedup" -> ((s, dir) => {
      val wavs = t(s, dir, "documents")
        .filter(col("doc_id") < 20000)
        .select(col("doc_id"),
          graft.multimodal.Media.syntheticWavPatternCol(
            pmod(col("doc_id"), lit(97)),
            pmod(col("doc_id"), lit(255)) + lit(1)).as("wav"))
      graft.multimodal.Media.audioNearDup(wavs, "doc_id", "wav",
        maxHamming = 0)
    }),

    // the audio ingest history screen (r18, oracle-green): a FIXED
    // 40-recording history (doc_id < 40 — classes 0..39 of 97) screens
    // the rest; a batch recording drops iff its envelope class is
    // already ingested, at any SF (~41% drop rate)
    "q_media_audio_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def wavs(d: org.apache.spark.sql.DataFrame) = d.select(
        col("doc_id"), col("lang"),
        graft.multimodal.Media.syntheticWavPatternCol(
          pmod(col("doc_id"), lit(97)),
          pmod(col("doc_id"), lit(255)) + lit(1)).as("wav"))
      val history = graft.multimodal.Media.audioSignatures(
        wavs(docs.filter(col("doc_id") < 40)), "doc_id", "wav")
      graft.multimodal.Media.audioAgainstHistory(
        wavs(docs.filter(col("doc_id") >= 40)), "doc_id", "wav",
        history, maxHamming = 0)
        .select("doc_id", "lang")
    }),

    // per-format AUDIO decodability accounting (r19) — the audio
    // counterpart of q_media_formats: a planted mixed corpus by
    // doc_id % 5 — WAV (decodable + header meta), a CBR MPEG-1 layer
    // III frame header (meta-without-decode), OggS and ADTS-AAC magics
    // (detected only), prefixed text bytes (unknown) — through
    // audioFormatProfile; the oracle predicts every count from the
    // modulus. Makes the compressed-audio perceptual-dedup hole
    // VISIBLE instead of "undecodable survives".
    "q_media_audio_formats" -> ((s, dir) => {
      val cls = pmod(col("doc_id"), lit(5))
      // FF FB 90 00: MPEG-1 layer III, 128 kbps, 44.1 kHz — parseable
      // CBR metadata, no JDK decoder; FF F1 ...: ADTS AAC sync
      val mp3Hdr = lit(Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte,
        0x00) ++ Array.fill(96)(0.toByte))
      val aacHdr = lit(Array[Byte](0xFF.toByte, 0xF1.toByte, 0x50.toByte,
        0x80.toByte, 0x00.toByte, 0x1F.toByte, 0xFC.toByte))
      val oggHdr = lit("OggS".getBytes("US-ASCII") ++
        Array.fill(24)(0.toByte))
      val blob = when(cls === 0,
          graft.multimodal.Media.syntheticWavCol(
            pmod(col("doc_id"), lit(30000)) + lit(1)))
        .when(cls === 1, mp3Hdr)
        .when(cls === 2, oggHdr)
        .when(cls === 3, aacHdr)
        // "X" prefix pins the class (the q_media_formats precedent)
        .otherwise(concat(lit("X").cast("binary"),
          coalesce(col("text"), lit("")).cast("binary")))
      val d = t(s, dir, "documents").select(col("doc_id"), blob.as("wav"))
      graft.multimodal.Media.audioFormatProfile(d, "wav")
    }),

    // pHash planted companion (r18, oracle-green) — the DCT hash
    // through the same doubled-corpus construction as
    // q_media_dedup_planted: byte-identical copies pair at hamming 0,
    // distinct seeds collide with probability ~2⁻⁶⁴
    "q_media_dedup_phash" -> ((s, dir) => {
      // id-only fan-out before the codec+DCT chain (see q_media_dedup)
      val ids = graft.operators.Ops.fanOutIfNarrow(
        t(s, dir, "documents").select(col("doc_id")), Seq(col("doc_id")))
      val d = ids.select(col("doc_id"),
        graft.multimodal.Media.syntheticPngCol(col("doc_id"), lit(0)).as("img"))
      val corpus = d.union(d.withColumn("doc_id", col("doc_id") + lit(1000000L)))
      graft.multimodal.Media.imageNearDup(corpus, "doc_id", "img",
        maxHamming = 0, algo = "phash")
    }),

    // windowed exact-substring duplication (suffix-dedup approximation)
    "q_dedup_spans" -> ((s, dir) => {
      Dedup.dupSpanStats(t(s, dir, "documents"), "doc_id", "text",
        windowLen = 16, stride = 8)
    }),

    "q_dedup_embed" -> ((s, dir) => {
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
        blockCol = "label", threshold = 0.4)
    }),

    // BOUNDED-comparison companion for the 100× scale gate (same
    // contract as q_dedup_jaccard_bounded): a deterministic 1-in-10
    // vec_id subsample. label blocks are independent, so the sampled
    // comparison is EXACT on the sampled corpus while the oracle's
    // blocked all-pairs join shrinks ~100× — tractable for DuckDB at
    // sf10 (~20M pairs) where the full formulation is ~2B pairs. The
    // engine-side scale path for UNBLOCKED corpora is
    // embeddingNearDupLshAuto (occupancy-stable buckets).
    "q_dedup_embed_bounded" -> ((s, dir) => {
      Dedup.embeddingNearDup(
        t(s, dir, "embeddings").filter(pmod(col("vec_id"), lit(10)) === 0),
        "vec_id", "embedding", blockCol = "label", threshold = 0.2)
    }),

    // SemDeDup (Abbas et al. 2023): learned-k-means-cell near-dup at
    // the adaptive operating point — rows-only (cells are learned
    // geometry, like q_cluster_kmeans); its oracle anchor is the
    // nlist=1 exact degenerate registered beside it
    "q_dedup_semantic" -> ((s, dir) => {
      // indexKey: ONE Lloyd training per run for the whole IVF family
      // (this, q_sim_ivf, q_sim_ivf_recall, q_sim_auto_recall,
      // q_cluster_kmeans) — the sf dir IS the data version here, which
      // satisfies trainAutoCached's invalidation contract
      Dedup.semanticNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
        targetCellSize = 256, threshold = 0.4,
        indexKey = Some(s"$dir/embeddings"))
    }),

    // nlist=1 + no cap == exact unblocked all-pairs over a bounded
    // deterministic subsample — oracle-green proof that the pair stage
    // behind the learned cells computes the exact rounded cosine on
    // every surviving pair. The subsample is SIZE-capped (1-in-10 AND
    // vec_id < 20000), not just rate-sampled: nlist=1 is by definition
    // ONE bucket, so the pair join is a single quadratic task — a
    // rate-only sample grows it n²/100 with the corpus (measured 144 s
    // at the sf10 gate), while the id cap pins it at ≤ 2k rows / ~2M
    // pairs at any SF. The degeneracy itself is also spec-pinned
    // row-identical against embeddingNearDup on an unsampled frame.
    "q_dedup_semantic_exact" -> ((s, dir) => {
      Dedup.semanticNearDupAt(
        t(s, dir, "embeddings")
          .filter(pmod(col("vec_id"), lit(10)) === 0 && col("vec_id") < 20000),
        "vec_id", "embedding", nlist = 1, threshold = 0.2)
    }),

    // incremental SEMANTIC (embedding) history screen (r18) —
    // completes the history-screen family (exact / minhash / simhash /
    // image / embedding): the new-crawl slice (vec_id%3!=0) screened
    // against the STORED cell-assigned history table within IVF cells.
    // FIXED reference centroids (vec_id < 4 — the q_cluster_assign
    // pattern) make the learned-geometry-free form oracle-checkable
    // END-TO-END: the oracle replays the argmax assignment AND the
    // within-cell rounded-cosine NOT-EXISTS in SQL. The vec_id cap
    // bounds the ORACLE's within-cell pair join at large SF (the
    // q_dedup_semantic_exact precedent); the engine path itself is
    // cell-pruned and SF-independent.
    "q_dedup_semantic_incr" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 20000)
      val cents = e.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("__cid"),
          col("embedding").as("__cvec"))
      val history = Dedup.semanticHistorySignatures(
        e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", cents)
      Dedup.semanticAgainstHistory(
        e.filter(col("vec_id") % 3 =!= 0), history, cents,
        "vec_id", "embedding", threshold = 0.4)
        .select("vec_id", "label")
    }),

    // the same screen at nprobe=2 — the IVF recall knob is ALSO pure
    // arithmetic over fixed centroids, so the probed form stays
    // oracle-green (rn <= 2 replays the probe ranking in SQL); every
    // extra probed cell can only DROP more batch rows, never fewer
    "q_dedup_semantic_incr_probe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 20000)
      val cents = e.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("__cid"),
          col("embedding").as("__cvec"))
      val history = Dedup.semanticHistorySignatures(
        e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", cents)
      Dedup.semanticAgainstHistory(
        e.filter(col("vec_id") % 3 =!= 0), history, cents,
        "vec_id", "embedding", threshold = 0.4, nprobe = 2)
        .select("vec_id", "label")
    }),

    // fixed-centroid cluster assignment, oracle-checked: the Lloyd
    // assignment step against four REFERENCE centroids (vec_id < 4) is
    // pure deterministic arithmetic — the oracle replays the same
    // rounded-cosine argmax and per-cluster aggregates; the learned
    // q_cluster_kmeans stays rows-only with this as its exact companion
    "q_cluster_assign" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cid"), col("embedding"))
      graft.llm.Ivf.assignToCentroids(e, "vec_id", "embedding",
          cents, "cid", "embedding")
        .groupBy(col("__cid").as("cluster_id"))
        .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("sum_ids"))
    }),

    // quantizer drift / health over FIXED reference centroids (the
    // q_cluster_assign pattern keeps the learned-geometry-free form
    // oracle-checkable end-to-end): per-cell occupancy incl. dead
    // cells, decimal-exact mean winning similarity, min, under-floor
    // count — the retrain trigger of the saveIndex/loadIndex lifecycle
    "q_index_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cid"), col("embedding"))
      graft.llm.Ivf.quantizerDrift(e, "vec_id", "embedding", cents,
        "cid", "embedding", simFloor = 0.2)
    }),

    // one-row index-health report (r18) — the drift frame collapsed to
    // the retrain decision's exact inputs + the decision booleans, over
    // the same fixed reference centroids as q_index_drift: counts,
    // sums of counts, MINs of already-rounded values, and IEEE double
    // comparisons only, so the whole retrain decision is
    // oracle-replayable (maintainIndex's side-effecting loop around it
    // is spec-verified)
    "q_index_health" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cid"), col("embedding"))
      graft.llm.Ivf.driftReport(
        graft.llm.Ivf.quantizerDrift(e, "vec_id", "embedding", cents,
          "cid", "embedding", simFloor = 0.2),
        minWorstCellMean = 0.3, maxDeadFrac = 0.25, maxBelowFrac = 0.5)
    }),

    "q_sim_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.bruteForceTopK(e, queries, "vec_id", "query_id", "embedding", k = 5)
    }),

    // registered at the ADAPTIVE operating point (same rationale as
    // q_anom_lof's r13 flip): planesFor keeps per-query candidate
    // pools ~targetBucketSize as the corpus grows, where a fixed plane
    // count grows them linearly. Rows-only; q_sim_lsh_full is the
    // oracle-checked exhaustive companion.
    "q_sim_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.lshTopKAuto(e, queries, "vec_id", "query_id", "embedding",
        k = 5, targetBucketSize = 512)
    }),

    // recall TELEMETRY at the adaptive operating point: per-query
    // |LSH ∩ exact| / |exact| over a deterministic subsample —
    // registered so the occupancy-stable flips' recall profile is
    // visible per ROUND in CORRECTNESS, not only at spec scale.
    // Rows-only (hyperplane LSH is not SQL-expressible);
    // q_sim_lsh_recall_exact hash-proves the recall harness itself.
    "q_sim_lsh_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // subsample bounded ABSOLUTELY (id < 20000), not just by rate:
      // a rate-only sample grows queries linearly with n and the exact
      // side quadratically — telemetry must stay constant-size at scale
      val queries = e.filter(pmod(col("vec_id"), lit(29)) === 0 &&
          col("vec_id") < 20000)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.recallAtK(
        Similarity.lshTopKAuto(e, queries, "vec_id", "query_id", "embedding", k = 10),
        // the per-partition-heap exact form (row-identical to
        // bruteForceTopK by spec): the ranking shuffle carries
        // partitions × |queries| × k rows, not |corpus| × |queries| —
        // the exact side must not be the scale ceiling of the telemetry
        Similarity.bruteForceTopKPartitioned(e, queries, "vec_id", "query_id",
          "embedding", k = 10))
    }),

    // IVF recall on the SAME capped query set, same harness — the
    // per-round visibility of the high-recall ANN path (learned cell
    // partitions; r14 measured avg recall@10 0.79 at nprobe=8 where
    // Hamming-1 LSH scores 0.23 on these hard original-id queries at
    // sf10 — PLANS.md r14). Rows-only; the harness is already
    // hash-proven by q_sim_lsh_recall_exact.
    "q_sim_ivf_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(pmod(col("vec_id"), lit(29)) === 0 &&
          col("vec_id") < 20000)
        .select(col("vec_id").as("query_id"), col("embedding"))
      // r17: memoized trained quantizer (shared with the whole IVF
      // family — see q_dedup_semantic); probing uses the TRAINED
      // centroids, the FAISS quantizer semantics, so no per-call
      // member-mean aggregation and no corpus-sized persist
      val (_, cents) = graft.llm.Ivf.trainAutoCached(e, "vec_id", "embedding",
        iters = 2, cacheKey = s"$dir/embeddings")
      Similarity.recallAtK(
        graft.llm.Ivf.topKIndexed(e, queries, "vec_id", "query_id",
          "embedding", cents, k = 10, nprobe = 8),
        Similarity.bruteForceTopKPartitioned(e, queries, "vec_id", "query_id",
          "embedding", k = 10))
    }),

    // recall of the DEFAULT generic-kNN surface (Similarity.topKAuto,
    // which routes to IVF nprobe=8 — r14 telemetry proved IVF
    // dominates LSH for generic kNN): what a user who just asks for
    // neighbours actually gets, measured per round on the same capped
    // hard-query harness. Rows-only; harness hash-proven by
    // q_sim_lsh_recall_exact.
    "q_sim_auto_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(pmod(col("vec_id"), lit(29)) === 0 &&
          col("vec_id") < 20000)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.recallAtK(
        Similarity.topKAuto(e, queries, "vec_id", "query_id", "embedding",
          k = 10, indexKey = Some(s"$dir/embeddings")),
        Similarity.bruteForceTopKPartitioned(e, queries, "vec_id", "query_id",
          "embedding", k = 10))
    }),

    // degenerate single-bucket LSH == exact brute force, so recall
    // must be EXACTLY 1.0 per query — the SQL-checkable proof that
    // recallAtK's join/count/divide machinery is right
    "q_sim_lsh_recall_exact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(pmod(col("vec_id"), lit(29)) === 0 &&
          col("vec_id") < 20000)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.recallAtK(
        Similarity.lshTopK(e, queries, "vec_id", "query_id", "embedding",
          k = 10, planes = 0),
        Similarity.bruteForceTopK(e, queries, "vec_id", "query_id", "embedding", k = 10))
    }),

    // the recall-telemetry loop-CLOSER (r16): the recall queries above
    // register per-round values, this registers the machinery that
    // ALERTS when they decay. A deterministic planted history (dyadic
    // values — exact under any summation order, so the DuckDB oracle
    // hash-matches): metric recall_ivf decays 0.03125/run from 0.875,
    // recall_lsh holds at 0.4375 under a 0.5 floor; judging run r4
    // must fire exactly (recall_ivf, decaying) and
    // (recall_lsh, below_floor).
    "q_recall_trend" -> ((s, dir) => {
      val runs = t(s, dir, "region")
        .select(col("r_regionkey").cast("long").as("run"))
      val metrics = runs.select(
          concat(lit("r"), col("run")).as("run_id"),
          lit("recall_ivf").as("metric"),
          (lit(0.875) - col("run") * lit(0.03125)).as("value"))
        .unionByName(runs.select(
          concat(lit("r"), col("run")).as("run_id"),
          lit("recall_lsh").as("metric"),
          lit(0.4375).as("value")))
      graft.monitoring.Trends.metricAlerts(metrics, runId = "r4",
        floors = Map("recall_lsh" -> 0.5), dropPct = 0.03, minPriorRuns = 3)
    }),

    // end-to-end corpus cleaning: quality gate → exact dedup → stats
    // (the composed shape of a real training-data prep pass)
    "q_corpus_clean" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.withColumn("q", graft.llm.Text.qualityScore(col("text")))
        .filter(col("q") >= 0.5)
      val deduped = Dedup.exact(scored, "doc_id", "text")
      deduped.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        graft.functions.Det.sumAt(col("q"), 6).as("sum_q"),
        graft.functions.Det.sumAt(col("n_chars"), 0).as("sum_chars"))
    }),

    // PCA projection onto the top-4 variance axes — the pre-ANN
    // compression step (one-scan native moments agg + driver Jacobi +
    // codegen'd dot-product projection). Rows-only: the eigenbasis
    // isn't SQL-expressible; SearchSpec pins orthonormality,
    // variance-capture, partitioning-invariance and a planted axis
    "q_embed_pca" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.llm.Pca.fit(e, "embedding", k = 4)
      graft.llm.Pca.transform(e, "embedding", model)
        .select(col("vec_id"), col("pc0"), col("pc1"), col("pc2"), col("pc3"))
    }),

    "q_sim_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      // the library's prescribed usage: persist the built index once,
      // derive cell centroids from the PERSISTED frame, probe per batch
      // — otherwise the probe join and the centroid aggregation each
      // re-execute the whole k-means build lineage. The count()
      // MATERIALIZES the persist before topK runs: its broadcast-side
      // probe job and main index scan otherwise race each other into
      // the still-lazy cache and can each run the whole k-means build
      // concurrently (the one plausible mechanism for r8's 44.7 s
      // driver-host outlier on this query).
      // ADAPTIVE operating point (r13, same rationale as q_anom_lof):
      // nlistFor keeps cell occupancy ~sqrt(n) as the corpus grows —
      // per-query probe cost grows as nprobe·sqrt(n), not linearly.
      // Rows-only; q_sim_ivf_full is the oracle-checked companion.
      // r17: the memoized trained quantizer replaces the per-call
      // build+persist+member-mean chain — the index frame is consumed
      // exactly once now, so nothing here needs a cache at all
      val (_, cents) = graft.llm.Ivf.trainAutoCached(e, "vec_id", "embedding",
        iters = 2, cacheKey = s"$dir/embeddings")
      graft.llm.Ivf.topKIndexed(e, queries, "vec_id", "query_id", "embedding",
        cents, k = 5, nprobe = 4)
    }),

    // semantic clustering surface over the same deterministic k-means
    // that powers IVF: per-cluster size + cohesion (mean cosine to the
    // cell centroid). Rows-only: cluster geometry isn't SQL-expressible;
    // SearchSpec proves partition/nearest-centroid/determinism laws.
    "q_cluster_kmeans" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // adaptive nlist (r13) — occupancy ~sqrt(n), see q_sim_ivf.
      // r17: the cell assignment comes from the memoized trained
      // quantizer (bit-identical to the fused build, spec-pinned);
      // cohesion stays defined against the MEMBER-MEAN centroid — that
      // aggregation is this query's own semantics, so the index is
      // still pinned for its two consumers (the mean agg + the join)
      val (_, tcents) = graft.llm.Ivf.trainAutoCached(e, "vec_id", "embedding",
        iters = 2, cacheKey = s"$dir/embeddings")
      val index = GraftSession.pin(graft.llm.Ivf.assignToCentroids(e, "vec_id",
        "embedding", tcents, "__cid", "__cvec"))
      index.count() // materialize before the broadcast job can race (see q_sim_ivf)
      val cents = graft.llm.Ivf.centroids(index, "embedding")
      index.join(broadcast(cents), Seq("__cid"))
        .withColumn("__sim", Similarity.cosine(col("embedding"), col("__cvec")))
        .groupBy(col("__cid").as("cluster"))
        .agg(count(lit(1)).as("n"),
          round(graft.functions.Det.meanAt(col("__sim"), 6), 4).as("cohesion"))
    }),

    // int8-quantized candidate scan + exact float re-rank (rows-only:
    // quantization rounding is engine-specific; recall vs brute force
    // is spec-measured in SamplingSpec)
    "q_sim_quantized" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.quantizedTopK(e, queries, "vec_id", "query_id", "embedding", k = 5)
    }),

    // Exhaustive-mode companions: the approximate indexes run with
    // parameters that make the candidate set the WHOLE corpus, so the
    // output must equal exact brute-force top-k — which IS
    // SQL-expressible. This oracle-checks the full machinery (cell
    // assignment/probing/bucket joins/ranking for IVF; quantize →
    // candidate gen → float re-rank for int8) end-to-end; the
    // approximate operating points keep their recall specs.
    "q_sim_lsh_full" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      // planes = 0: one bucket, every pair is a candidate
      Similarity.lshTopK(e, queries, "vec_id", "query_id", "embedding",
        k = 5, planes = 0)
    }),

    "q_sim_ivf_full" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val index = GraftSession.pin(graft.llm.Ivf.buildIndex(e, "vec_id", "embedding",
        nlist = 8, iters = 2))
      index.count() // materialize before the broadcast job can race (see q_sim_ivf)
      val cents = graft.llm.Ivf.centroids(index, "embedding")
      // nprobe = nlist: every query scans every cell
      graft.llm.Ivf.topK(index, queries, "vec_id", "query_id", "embedding",
        k = 5, nprobe = 8, cellCentroids = Some(cents))
    }),

    "q_sim_quantized_full" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      // exactness requires k x rerankFactor >= corpus size (all
      // non-self rows survive candidate generation, so the float
      // re-rank is exact) — derive it from the actual row count so a
      // bigger regenerated corpus can't silently turn this companion
      // approximate and fail the oracle with confusing rank diffs
      val k = 5
      val rerank = (e.count() / k + 1).toInt
      Similarity.quantizedTopK(e, queries, "vec_id", "query_id", "embedding",
        k = k, rerankFactor = rerank)
    })
  )

  private val dcos =
    """list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
      |(SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
      | SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))""".stripMargin

  private def dcosOf(x: String, y: String) =
    s"""list_dot_product(CAST($x.embedding AS DOUBLE[]), CAST($y.embedding AS DOUBLE[])) /
       |(SQRT(list_dot_product(CAST($x.embedding AS DOUBLE[]), CAST($x.embedding AS DOUBLE[]))) *
       | SQRT(list_dot_product(CAST($y.embedding AS DOUBLE[]), CAST($y.embedding AS DOUBLE[]))))""".stripMargin

  /** The q_dedup_semantic_incr / _probe oracle: replay the fixed-
    * centroid argmax assignment (rn over sim desc, cid asc) and the
    * within-cell rounded-cosine NOT-EXISTS screen at `nprobe` probes.
    */
  private def semanticIncrOracle(nprobe: Int): String =
    s"""WITH base AS (SELECT * FROM embeddings WHERE vec_id < 20000),
       |c AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding FROM base WHERE vec_id < 4),
       |d AS (SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ROUND(${dcosOf("e", "c")}, 6) DESC, c.cid ASC) AS rn
       |      FROM base e CROSS JOIN c)
       |SELECT b.vec_id, b.label FROM base b
       |WHERE b.vec_id % 3 <> 0
       |  AND NOT EXISTS (
       |    SELECT 1 FROM base h
       |    JOIN d hd ON hd.vec_id = h.vec_id AND hd.rn = 1
       |    JOIN d bd ON bd.vec_id = b.vec_id AND bd.rn <= $nprobe AND bd.cid = hd.cid
       |    WHERE h.vec_id % 3 = 0 AND ROUND(${dcosOf("b", "h")}, 6) >= 0.4)""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q_corpus_clean" -> {
      val tc = "len(regexp_extract_all(text, '\\S+'))"
      val ac = "len(regexp_extract_all(text, '[A-Za-z]'))"
      val sc = "len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in|is)\\b'))"
      val q = s"""LEAST(1.0, CAST($tc AS DOUBLE) / 50.0) * 0.3
                 | + (CAST($ac AS DOUBLE) / GREATEST(length(text), 1)) * 0.4
                 | + (CAST($sc AS DOUBLE) / GREATEST($tc, 1)) * 0.3""".stripMargin
      s"""WITH scored AS (
         |  SELECT doc_id, text, lang, n_chars, $q AS q FROM documents),
         |gated AS (SELECT * FROM scored WHERE q >= 0.5),
         |deduped AS (
         |  SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM gated)
         |  WHERE rn = 1)
         |SELECT lang, COUNT(*) AS n_docs,
         |${graft.functions.Det.sqlSumAt("q", 6)} AS sum_q,
         |${graft.functions.Det.sqlSumAt("n_chars", 0)} AS sum_chars
         |FROM deduped GROUP BY lang""".stripMargin
    },

    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin,

    "q_dedup_incr" ->
      """SELECT b.doc_id, b.lang, b.source FROM documents b
        |WHERE b.doc_id % 3 <> 0
        |  AND NOT EXISTS (
        |    SELECT 1 FROM documents h
        |    WHERE h.doc_id % 3 = 0 AND h.text = b.text)""".stripMargin,

    // surviving new-crawl rows = those whose 5-gram shingle SET equals
    // no history row's set (the threshold-1.0 screen contract); the
    // shingle derivation mirrors q_dedup_minhash_planted's
    "q_dedup_minhash_incr" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct([array_to_string(w[i:least(i+4,len(w))], ' ')
        |      for i in range(1, greatest(len(w)-4, 1)+1)])) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |        FROM documents))
        |SELECT b.doc_id, b.lang, b.source
        |FROM documents b JOIN sh bs ON b.doc_id = bs.doc_id
        |WHERE b.doc_id % 3 <> 0
        |  AND NOT EXISTS (
        |    SELECT 1 FROM sh hs
        |    WHERE hs.doc_id % 3 = 0 AND hs.s = bs.s)""".stripMargin,

    // identical-shingle-set pairs over the doubled corpus; the list
    // comprehension mirrors wordShingles (5-word grams, trailing
    // truncated gram for docs under 5 tokens, distinct)
    "q_dedup_minhash_planted" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct([array_to_string(w[i:least(i+4,len(w))], ' ')
        |      for i in range(1, greatest(len(w)-4, 1)+1)])) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |        FROM corpus))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jacc
        |FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id""".stripMargin,

    // byte-identical planted image copies: the pair list is exactly
    // (doc_id, doc_id + 1000000) — see the registration comment
    "q_media_dedup_planted" ->
      """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
        |       CAST(0 AS INTEGER) AS hamming
        |FROM documents""".stripMargin,

    "q_media_dedup_phash" ->
      """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
        |       CAST(0 AS INTEGER) AS hamming
        |FROM documents""".stripMargin,

    // same-envelope-class pairs: the gain factors out of the
    // differential signature exactly, so pairs are pure modulus
    // arithmetic (and the 97 class patterns are spec-pinned distinct)
    "q_media_audio_dedup" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(0 AS INTEGER) AS hamming
        |FROM (SELECT * FROM documents WHERE doc_id < 20000) a
        |JOIN (SELECT * FROM documents WHERE doc_id < 20000) b
        |  ON a.doc_id % 97 = b.doc_id % 97 AND a.doc_id < b.doc_id""".stripMargin,

    // survivors = batch recordings whose envelope class (doc_id % 97)
    // is not among the 40 ingested ones (history ids < 40 ARE their
    // classes)
    "q_media_audio_incr" ->
      """SELECT b.doc_id, b.lang FROM documents b
        |WHERE b.doc_id >= 40
        |  AND NOT EXISTS (
        |    SELECT 1 FROM documents h
        |    WHERE h.doc_id < 40 AND h.doc_id % 97 = b.doc_id % 97)""".stripMargin,

    // the planted audio class layout: wav decodes + has header meta,
    // the mp3 frame header has meta without decode, ogg/aac are
    // detected only, the prefixed text bytes parse as nothing
    "q_media_audio_formats" ->
      """WITH s AS (
        |  SELECT CASE doc_id % 5 WHEN 0 THEN 'wav' WHEN 1 THEN 'mp3'
        |           WHEN 2 THEN 'ogg' WHEN 3 THEN 'aac'
        |           ELSE 'unknown' END AS format,
        |    CASE WHEN doc_id % 5 IN (0, 1) THEN 1 ELSE 0 END AS has_meta,
        |    CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS dec
        |  FROM documents)
        |SELECT format, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(has_meta) AS BIGINT) AS n_meta,
        |  CAST(SUM(dec) AS BIGINT) AS n_decodable
        |FROM s GROUP BY 1""".stripMargin,

    // the closed-form WAV screen stats: rms² = amp²/2³¹ and
    // peak = amp/2¹⁵ are exact dyadic doubles on both engines; 400 of
    // 800 samples sit at full deflection, so clip_ratio is 0.5 exactly
    // when amp ≥ ceil(0.999·32768) = 32736 (only the planted 32767
    // rows), and the 5 trailing 10 ms windows are pure zeros
    "q_media_audio" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 32767
        |         ELSE 12288 + (doc_id % 7) * 1024 END AS amp
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(800 AS BIGINT) AS n_samples,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(100 AS BIGINT) AS duration_ms,
        |  ROUND(SQRT(CAST(amp AS DOUBLE) * amp / 2147483648.0), 6) AS rms,
        |  ROUND(CAST(amp AS DOUBLE) / 32768.0, 6) AS peak,
        |  CASE WHEN amp >= 32736 THEN CAST(0.5 AS DOUBLE)
        |       ELSE CAST(0.0 AS DOUBLE) END AS clip_ratio,
        |  CAST(0.5 AS DOUBLE) AS silence_frac
        |FROM p""".stripMargin,

    // the planted survivor set: every batch image whose base pattern
    // was seeded into the history drops (hamming 0); the rest survive
    "q_media_dedup_incr" ->
      "SELECT doc_id FROM documents WHERE doc_id % 3 <> 0",

    // closed-form keyframe layout: F = 10 + doc_id%40 frames at 40 ms,
    // sync every G = 1 + doc_id%7 samples → K = (F-1)//G + 1 keyframes
    // at j·G·40 ms; the sampler takes m = least(8, K) evenly
    "q_media_frames" ->
      """WITH p AS (
        |  SELECT doc_id, 10 + doc_id % 40 AS f, 1 + doc_id % 7 AS g
        |  FROM documents),
        |k AS (SELECT doc_id, g, ((f - 1) // g) + 1 AS kcount FROM p),
        |m AS (SELECT doc_id, g, kcount, LEAST(8, kcount) AS m FROM k),
        |idx AS (SELECT doc_id, g, kcount, m,
        |          UNNEST(range(0, m)) AS frame_idx FROM m)
        |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(((frame_idx * kcount) // m) * g * 40 AS BIGINT)
        |    AS frame_offset_ms
        |FROM idx""".stripMargin,

    // same closed-form keyframe layout as q_media_frames; decodable is
    // FALSE everywhere — no video codec in this JVM and no hook
    // registered, honestly accounted per frame row
    "q_media_frame_sigs" ->
      """WITH p AS (
        |  SELECT doc_id, 10 + doc_id % 40 AS f, 1 + doc_id % 7 AS g
        |  FROM documents),
        |k AS (SELECT doc_id, g, ((f - 1) // g) + 1 AS kcount FROM p),
        |m AS (SELECT doc_id, g, kcount, LEAST(8, kcount) AS m FROM k),
        |idx AS (SELECT doc_id, g, kcount, m,
        |          UNNEST(range(0, m)) AS frame_idx FROM m)
        |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(((frame_idx * kcount) // m) * g * 40 AS BIGINT)
        |    AS frame_offset_ms,
        |  FALSE AS decodable
        |FROM idx""".stripMargin,

    // the builder's closed-form webp dims: every profile round-trips
    // the planted width/height, so the oracle is pure doc_id arithmetic
    "q_media_webp" ->
      """SELECT doc_id, 'webp' AS format,
        |  CAST(doc_id % 500 + 1 AS INTEGER) AS width,
        |  CAST(doc_id % 300 + 1 AS INTEGER) AS height
        |FROM documents""".stripMargin,

    // resize round-trip: every planted PNG decodes, remaps to exactly
    // 32x24, and re-encodes as a parseable PNG
    "q_media_resize" ->
      """SELECT doc_id, 'png' AS format,
        |  CAST(32 AS INTEGER) AS width, CAST(24 AS INTEGER) AS height,
        |  TRUE AS decodable
        |FROM documents""".stripMargin,

    "q_media_resize_area" ->
      """SELECT doc_id, 'png' AS format,
        |  CAST(9 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  TRUE AS decodable
        |FROM documents""".stripMargin,

    // fitDims is floor-division integer arithmetic over the stage-1
    // dims (w1 = doc_id%50+1, h1 = doc_id%40+1): longest side pinned
    // to 32, the other side scaled, never below 1; ties pin the width
    "q_media_resize_fit" ->
      """WITH s AS (
        |  SELECT doc_id, doc_id % 50 + 1 AS w1, doc_id % 40 + 1 AS h1
        |  FROM documents)
        |SELECT doc_id, 'png' AS format,
        |  CAST(CASE WHEN w1 >= h1 THEN 32
        |       ELSE GREATEST(1, (w1 * 32) // h1) END AS INTEGER) AS width,
        |  CAST(CASE WHEN w1 >= h1 THEN GREATEST(1, (h1 * 32) // w1)
        |       ELSE 32 END AS INTEGER) AS height
        |FROM s""".stripMargin,

    // the builder's closed-form avif dims: the ispe round-trips the
    // planted width/height, so the oracle is pure doc_id arithmetic
    "q_media_avif" ->
      """SELECT doc_id, 'avif' AS format,
        |  CAST(doc_id % 700 + 1 AS INTEGER) AS width,
        |  CAST(doc_id % 400 + 1 AS INTEGER) AS height
        |FROM documents""".stripMargin,

    // the planted class layout: png decodes, webp/avif are dims-only,
    // the prefixed text bytes parse as nothing
    "q_media_formats" ->
      """WITH s AS (
        |  SELECT CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'webp'
        |           WHEN 2 THEN 'avif' ELSE 'unknown' END AS format,
        |    CASE WHEN doc_id % 4 IN (0, 1, 2) THEN 1 ELSE 0 END AS has_dims,
        |    CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS dec
        |  FROM documents)
        |SELECT format, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(has_dims) AS BIGINT) AS n_dims,
        |  CAST(SUM(dec) AS BIGINT) AS n_decodable
        |FROM s GROUP BY 1""".stripMargin,

    // the builder's closed-form track layout: video track always
    // present at the doc_id-derived dims/codec, audio track on
    // doc_id % 5 <> 0, container duration at timescale 1000 == ms
    "q_media_video" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 <> 0 THEN 2 ELSE 1 END AS INTEGER)
        |    AS n_tracks,
        |  TRUE AS has_video,
        |  (doc_id % 5 <> 0) AS has_audio,
        |  CAST(320 + (doc_id % 4) * 160 AS INTEGER) AS vid_width,
        |  CAST(240 + (doc_id % 3) * 120 AS INTEGER) AS vid_height,
        |  CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hvc1' END AS vid_codec,
        |  CAST(1000 + (doc_id % 50) * 250 AS BIGINT) AS duration_ms,
        |  (320 + (doc_id % 4) * 160 >= 480 AND
        |   240 + (doc_id % 3) * 120 >= 360) AS ok
        |FROM documents""".stripMargin,

    // equal-token-multiset pairs over the doubled corpus (hamming 0)
    "q_dedup_simhash_planted" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        |tk AS (
        |  SELECT doc_id,
        |    list_sort(regexp_split_to_array(trim(lower(text)), '\s+')) AS s
        |  FROM corpus)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INTEGER) AS hamming
        |FROM tk a JOIN tk b ON a.s = b.s AND a.doc_id < b.doc_id""".stripMargin,

    // windowLen 16, stride 8; partial tail windows excluded on both sides
    "q_dedup_spans" ->
      """WITH spans AS (
        |  SELECT doc_id,
        |    md5(substring(text, CAST(u.s AS INT), 16)) AS h
        |  FROM documents,
        |    unnest(range(1, GREATEST(length(text) - 15, 1) + 1, 8)) AS u(s)
        |  WHERE length(text) - u.s + 1 >= 16),
        |occ AS (SELECT h, COUNT(*) AS n FROM spans GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_windows,
        |  CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
        |    AS dup_frac
        |FROM spans JOIN occ USING (h)
        |GROUP BY doc_id""".stripMargin,

    "q_dedup_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(regexp_extract_all(trim(text), '\S+')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |    (len(a.toks) + len(b.toks) - CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)) AS jacc
        |FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |    (len(a.toks) + len(b.toks) - CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)) >= 0.8""".stripMargin,

    "q_dedup_jaccard_bounded" ->
      """WITH sh AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(regexp_extract_all(trim(text), '\S+')) AS toks
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |    (len(a.toks) + len(b.toks) - CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)) AS jacc
        |FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
        |    (len(a.toks) + len(b.toks) - CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)) >= 0.8""".stripMargin,

    "q_dedup_embed" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND($dcos, 6) AS sim
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ROUND($dcos, 6) >= 0.4""".stripMargin,

    "q_dedup_embed_bounded" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND($dcos, 6) AS sim
         |FROM (SELECT * FROM embeddings WHERE vec_id % 10 = 0) a
         |JOIN (SELECT * FROM embeddings WHERE vec_id % 10 = 0) b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ROUND($dcos, 6) >= 0.2""".stripMargin,

    "q_dedup_semantic_exact" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND($dcos, 6) AS sim
         |FROM (SELECT * FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 20000) a
         |JOIN (SELECT * FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 20000) b
         |  ON a.vec_id < b.vec_id
         |WHERE ROUND($dcos, 6) >= 0.2""".stripMargin,

    // replays the screen step for step: argmax cell per row over the
    // fixed centroids (sim desc, cid asc — the kernel's tie/null
    // convention), then NOT EXISTS over within-cell rounded cosine;
    // history uses its rn=1 cell, the batch its rn <= nprobe probes
    "q_dedup_semantic_incr" -> semanticIncrOracle(nprobe = 1),
    "q_dedup_semantic_incr_probe" -> semanticIncrOracle(nprobe = 2),

    "q_cluster_assign" -> {
      val dcosAC =
        """list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
          |(SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
          | SQRT(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))""".stripMargin
      s"""WITH c AS (
         |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding FROM embeddings WHERE vec_id < 4),
         |d AS (
         |  SELECT a.vec_id, c.cid, ROUND($dcosAC, 6) AS sim
         |  FROM embeddings a CROSS JOIN c),
         |r AS (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn FROM d)
         |SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM(vec_id) AS BIGINT) AS sum_ids
         |FROM r WHERE rn = 1 GROUP BY 1""".stripMargin
    },

    // mirrors quantizerDrift step for step: per-row argmax cell (sim
    // desc, cid asc — nulls last, so unscorable rows land in the
    // lowest cell like the kernel), winning sim re-derived with the
    // same rounded cosine, decimal-exact mean, dead cells kept at 0
    "q_index_drift" -> {
      val dcosAC =
        """list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
          |(SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
          | SQRT(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))""".stripMargin
      s"""WITH c AS (
         |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding FROM embeddings WHERE vec_id < 4),
         |d AS (
         |  SELECT a.vec_id, c.cid, ROUND($dcosAC, 6) AS sim
         |  FROM embeddings a CROSS JOIN c),
         |r AS (SELECT vec_id, cid, sim, ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn FROM d),
         |w AS (SELECT cid, sim FROM r WHERE rn = 1),
         |s AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
         |        ${graft.functions.Det.sqlMeanAt("sim", 6)} AS mean_sim,
         |        MIN(sim) AS min_sim,
         |        CAST(SUM(CASE WHEN sim < 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_below
         |      FROM w GROUP BY 1)
         |SELECT c.cid AS cell_id, COALESCE(s.n, 0) AS n, s.mean_sim,
         |       s.min_sim, COALESCE(s.n_below, 0) AS n_below
         |FROM c LEFT JOIN s ON s.cid = c.cid""".stripMargin
    },

    // the q_index_drift oracle's per-cell frame collapsed to the
    // one-row health report + decision booleans (same exact-parity
    // argument: counts, sums, MINs of rounded values, IEEE compares)
    "q_index_health" -> {
      val dcosAC =
        """list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
          |(SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
          | SQRT(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))""".stripMargin
      s"""WITH c AS (
         |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding FROM embeddings WHERE vec_id < 4),
         |d AS (
         |  SELECT a.vec_id, c.cid, ROUND($dcosAC, 6) AS sim
         |  FROM embeddings a CROSS JOIN c),
         |r AS (SELECT vec_id, cid, sim, ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY sim DESC, cid ASC) AS rn FROM d),
         |w AS (SELECT cid, sim FROM r WHERE rn = 1),
         |s AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
         |        ${graft.functions.Det.sqlMeanAt("sim", 6)} AS mean_sim,
         |        MIN(sim) AS min_sim,
         |        CAST(SUM(CASE WHEN sim < 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_below
         |      FROM w GROUP BY 1),
         |cells AS (SELECT c.cid AS cell_id, COALESCE(s.n, 0) AS n, s.mean_sim,
         |            s.min_sim, COALESCE(s.n_below, 0) AS n_below
         |          FROM c LEFT JOIN s ON s.cid = c.cid),
         |rep AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         |          CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dead,
         |          CAST(SUM(n) AS BIGINT) AS n_rows,
         |          CAST(SUM(n_below) AS BIGINT) AS n_below,
         |          MIN(min_sim) AS worst_sim,
         |          MIN(mean_sim) AS worst_cell_mean
         |        FROM cells)
         |SELECT n_cells, n_dead, n_rows, n_below, worst_sim, worst_cell_mean,
         |  (CAST(n_dead AS DOUBLE) / CAST(n_cells AS DOUBLE) > 0.25) AS dead_exceeded,
         |  (n_rows > 0 AND CAST(n_below AS DOUBLE) / CAST(n_rows AS DOUBLE) > 0.5)
         |    AS below_exceeded,
         |  (worst_cell_mean < 0.3) AS mean_decayed,
         |  ((CAST(n_dead AS DOUBLE) / CAST(n_cells AS DOUBLE) > 0.25) OR
         |   (n_rows > 0 AND CAST(n_below AS DOUBLE) / CAST(n_rows AS DOUBLE) > 0.5) OR
         |   (worst_cell_mean < 0.3)) AS retrain
         |FROM rep""".stripMargin
    },

    "q_sim_topk" ->
      s"""WITH p AS (
         |  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, ROUND($dcos, 6) AS sim
         |  FROM embeddings a JOIN embeddings b ON b.vec_id < 10 AND a.vec_id <> b.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rnk FROM p)
         |SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 5""".stripMargin,

    // the recall harness over two identical exact sides: every
    // subsampled query must score found == expected == least(10, n-1)
    // and recall exactly 1.0
    "q_sim_lsh_recall_exact" ->
      s"""WITH p AS (
         |  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, ROUND($dcos, 6) AS sim
         |  FROM embeddings a JOIN embeddings b ON b.vec_id % 29 = 0 AND b.vec_id < 20000 AND a.vec_id <> b.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rnk FROM p),
         |t AS (SELECT query_id, count(*) AS expected FROM r WHERE rnk <= 10 GROUP BY 1)
         |SELECT query_id, expected AS found, expected,
         |       CAST(1.0 AS DOUBLE) AS recall FROM t""".stripMargin,

    // the planted metric history replayed in SQL: same dyadic values,
    // same floor/decay rules as Trends.metricAlerts over run r4
    "q_recall_trend" ->
      """WITH runs AS (SELECT CAST(r_regionkey AS BIGINT) AS run FROM region),
        |m AS (
        |  SELECT 'r' || CAST(run AS VARCHAR) AS run_id, 'recall_ivf' AS metric,
        |         CAST(0.875 AS DOUBLE) - run * CAST(0.03125 AS DOUBLE) AS value FROM runs
        |  UNION ALL
        |  SELECT 'r' || CAST(run AS VARCHAR), 'recall_lsh', CAST(0.4375 AS DOUBLE) FROM runs),
        |cur AS (SELECT metric, ROUND(AVG(value), 6) AS current_value
        |        FROM m WHERE run_id = 'r4' GROUP BY 1),
        |prior AS (SELECT metric, ROUND(AVG(value), 6) AS prior_avg,
        |                 COUNT(DISTINCT run_id) AS n_prior_runs
        |          FROM m WHERE run_id <> 'r4' GROUP BY 1),
        |j AS (SELECT c.metric, c.current_value, p.prior_avg, p.n_prior_runs,
        |             CASE WHEN c.metric = 'recall_lsh'
        |                  THEN CAST(0.5 AS DOUBLE) END AS floor_value
        |      FROM cur c LEFT JOIN prior p ON c.metric = p.metric)
        |SELECT metric, current_value, prior_avg, n_prior_runs, floor_value,
        |       'below_floor' AS alert_type
        |FROM j WHERE floor_value IS NOT NULL AND current_value < floor_value
        |UNION ALL
        |SELECT metric, current_value, prior_avg, n_prior_runs, floor_value,
        |       'decaying'
        |FROM j WHERE n_prior_runs >= 3 AND current_value < prior_avg * 0.97""".stripMargin,

    // exhaustive-mode ANN == exact brute force, same oracle as q_sim_topk
    "q_sim_lsh_full" ->
      s"""WITH p AS (
         |  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, ROUND($dcos, 6) AS sim
         |  FROM embeddings a JOIN embeddings b ON b.vec_id < 10 AND a.vec_id <> b.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rnk FROM p)
         |SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 5""".stripMargin,

    "q_sim_ivf_full" ->
      s"""WITH p AS (
         |  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, ROUND($dcos, 6) AS sim
         |  FROM embeddings a JOIN embeddings b ON b.vec_id < 10 AND a.vec_id <> b.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rnk FROM p)
         |SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 5""".stripMargin,

    "q_sim_quantized_full" ->
      s"""WITH p AS (
         |  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id, ROUND($dcos, 6) AS sim
         |  FROM embeddings a JOIN embeddings b ON b.vec_id < 10 AND a.vec_id <> b.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rnk FROM p)
         |SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 5""".stripMargin
  )
}
