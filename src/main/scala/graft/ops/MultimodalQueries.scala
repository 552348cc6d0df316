package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registered query forms of the multimodal pipeline ([[Multimodal]]),
  * using the documents table's text bytes as the opaque payload.
  *
  * q_multimodal_decode runs the full mapPartitions batch path with the
  * deterministic stub decoder, so even the fake "decoded" feature vectors
  * hash-match the DuckDB oracle (f32 arithmetic on both sides).
  * q_frame_sample is the video-shaped row-multiplying pass; its frame
  * digests run over hex(frame) so the DuckDB twin (VARCHAR-only md5) is
  * byte-exact.
  */
object MultimodalQueries {

  /** Per-media 64-bit average-hash as two BIGINT halves — shared by
    * q_media_phash (exact groups) and q_phash_neardup (banded pairs) so
    * the code derivation cannot drift between the two consumers. */
  private def phashCodesOf(media: DataFrame): DataFrame = {
    // r13: the pack is ONE native codegen'd expression
    // ([[graft.functions.AHash64]] — bit-identical to the r12 composed
    // three-HOF chain, whose interpreted folds cost ~0.5 s/pass at
    // sf0.1). The single-element Generate barrier STAYS: the struct's
    // two field references would otherwise collapse into the projection
    // and evaluate the hash twice per row (the standing
    // alias-substitution trap, r9/r10/r12).
    Multimodal.extractFeatures(media, dim = 64)
      .select(col("media_id"),
        posexplode(array(expr("ahash64(features)"))).as(Seq("_p", "t")))
      .select(col("media_id"), col("t.lo").as("lo"), col("t.hi").as("hi"))
  }

  /** The matching DuckDB CTE chain (ends in `codes(media_id, lo, hi)`) —
    * interpolated into both oracles for the same no-drift reason. */
  private val phashCodesSql: String =
    """h AS (SELECT doc_id AS media_id,
                    hex(encode(coalesce(text, ''))) AS hx,
                    octet_length(encode(coalesce(text, ''))) AS nb
             FROM documents),
       b AS (SELECT media_id, i,
                    CASE WHEN nb = 0 THEN 0
                         ELSE CAST(concat('0x', substr(hx,
                           CAST((i % nb) * 2 + 1 AS INT), 2)) AS INT)
                    END AS bv
             FROM h, UNNEST(range(64)) t(i)),
       sums AS (SELECT media_id, CAST(SUM(bv) AS BIGINT) AS sumb
                FROM b GROUP BY 1),
       codes AS (SELECT b.media_id,
                        CAST(SUM(CASE WHEN i < 32 AND bv * 64 > sumb
                          THEN CAST(1 AS BIGINT) << CAST(i AS INT)
                          ELSE 0 END) AS BIGINT) AS lo,
                        CAST(SUM(CASE WHEN i >= 32 AND bv * 64 > sumb
                          THEN CAST(1 AS BIGINT) << CAST(i - 32 AS INT)
                          ELSE 0 END) AS BIGINT) AS hi
                 FROM b JOIN sums USING (media_id) GROUP BY 1)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Features are presented as a scaled-integer JSON string: raw float
    // arrays crash the driver's pandas sorter and float→string formatting
    // differs across engines; floor(x*1e6) on the identical IEEE float is
    // exact both sides.
    "q_multimodal_decode" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.fromDocuments(s, d), dim = 4)
        .withColumn("features", to_json(expr(
          "transform(features, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")))),

    // The frame digest runs over hex(frame) rather than the raw bytes:
    // DuckDB's md5/substring only accept VARCHAR, and a 16-BYTE frame can
    // split a multi-byte UTF-8 character — hex is the byte-exact encoding
    // both engines can slice and hash identically (ord(substr(text,...))
    // char indexing diverged on non-ASCII payloads).
    "q_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.fromDocuments(s, d),
          frameBytes = 16, everyK = 2)
        .select(col("media_id"), col("frame_no"),
          length(col("frame")).as("frame_bytes"),
          md5(hex(col("frame"))).as("frame_hash"))),

    // Perceptual dedup of media binaries — a 64-bit AVERAGE HASH (the
    // classic aHash: bit i set iff "pixel" i is brighter than the image
    // mean) over the decoded feature stream, then phash-equality groups:
    // the media-side q_dedup_exact, robust to re-encodings that preserve
    // brightness structure (which the stub models as byte structure; a
    // real decoder slots into the same mapPartitions seam). Exactness:
    // the decode's byte/255 floats round-trip to exact byte integers
    // (round(x·255)), the mean compare is INTEGER cross-multiplied
    // (b_i·64 > Σb — no division anywhere), and the pack reuses the
    // two-BIGINT-halves discipline of q_ann_hamming, so the twin
    // hash-matches. Scale: per-row decode + pack (the mapPartitions
    // codec seam), ONE narrow groupBy on the 16-byte code; group rows,
    // not media rows, leave the aggregate.
    "q_media_phash" -> ((s, d) =>
      phashCodesOf(Multimodal.fromDocuments(s, d))
        .groupBy("lo", "hi")
        .agg(count(lit(1)).as("n_media"), min("media_id").as("keeper"))),

    // Perceptual NEAR-dup pairs — multi-index Hamming over the phash
    // (Norouzi et al.'s pigeonhole banding, the media-side q_lsh_pairs):
    // the 64-bit code splits into four 16-bit bands; two codes within
    // Hamming distance 3 MUST agree on at least one whole band
    // (pigeonhole: 3 differing bits can touch at most 3 of 4 bands), so
    // bucketing on (band_idx, band_value) finds every hd ≤ 3 pair
    // exactly, and candidates are verified against the reported hd ≤ 6
    // cut (above 3 the banding is best-effort recall — the standard LSH
    // tradeoff, stated honestly like q_lsh_pairs'). Scale shape: one
    // exchange on the band key — NEVER all-pairs; within-bucket pairs
    // verify with two xor+popcounts; cross-band duplicate candidates
    // collapse in one distinct.
    "q_phash_neardup" -> ((s, d) =>
      phashNeardupOf(Multimodal.fromDocuments(s, d)))
  )

  /** The banded near-dup pair search over any media frame — the
    * registered q_phash_neardup body (see the scaladoc on the entry). */
  private[ops] def phashNeardupOf(media: DataFrame): DataFrame = {
    // 24 B/row of codes, materialized ONCE: the self-join's two sides
    // would otherwise each re-run the decode + pack subtree
    val bands = phashCodesOf(media).localCheckpoint(true)
      .select(col("media_id"), col("lo"), col("hi"),
        posexplode(array(
          expr("lo & 65535L"),
          expr("shiftright(lo, 16) & 65535L"),
          expr("hi & 65535L"),
          expr("shiftright(hi, 16) & 65535L"))).as(Seq("bi", "bv")))
    val a = bands.select(col("bi"), col("bv"), col("media_id").as("a"),
      col("lo").as("la"), col("hi").as("ha"))
    val b = bands.select(col("bi"), col("bv"), col("media_id").as("b"),
      col("lo").as("lb"), col("hi").as("hb"))
    // r15 diet (PERF.md "r15 q_phash_neardup"): cross-band duplicate candidates are
    // rejected by the FIRST-AGREEING-BAND predicate — a pair emits only
    // from its lowest agreeing band, decided per candidate row from the
    // carried codes (three cheap mask compares) — instead of a trailing
    // distinct(). The pair SET is identical (probe-verified element-equal
    // at sf0.1); what changes is the plan: the distinct exchanged+agg'd
    // the PAIR stream, at 100 TB the largest relation in the query, while
    // the predicate is codegen'd per-row work before anything shuffles.
    // 0.49 → 0.41 s min at sf0.1 (the local save is modest because
    // fixture pair streams are tiny — the exchange deletion is the scale
    // argument).
    a.join(b, Seq("bi", "bv"))
      .filter(col("a") < col("b"))
      .filter(expr(
        "(bi <= 0 OR (la & 65535L) != (lb & 65535L)) AND " +
        "(bi <= 1 OR (shiftright(la, 16) & 65535L) != " +
          "(shiftright(lb, 16) & 65535L)) AND " +
        "(bi <= 2 OR (ha & 65535L) != (hb & 65535L))"))
      .select(col("a"), col("b"),
        expr("bit_count(la ^ lb) + bit_count(ha ^ hb)")
          .cast("long").as("hd"))
      .filter(col("hd") <= 6)
  }

  val oracle: Map[String, String] = Map(
    // BYTE-based like the Spark StubDecoder (hex(encode(...)) indexes UTF-8
    // payload bytes, not characters — ord(substr(...)) diverged on
    // non-ASCII text) and NULL text coalesces to the empty payload on both
    // sides (Spark: null payload → zero features + md5 of empty).
    "q_multimodal_decode" ->
      """SELECT doc_id AS media_id,
                CAST(octet_length(encode(coalesce(text, ''))) AS INT) AS n_bytes,
                md5(coalesce(text, '')) AS content_hash,
                CAST(to_json(list_transform(range(4), i ->
                  CAST(floor(CAST(
                    CAST(CASE WHEN octet_length(encode(coalesce(text, ''))) = 0 THEN 0
                              ELSE CAST(concat('0x', substr(hex(encode(text)),
                                     CAST((i % octet_length(encode(text))) * 2 + 1 AS INT), 2)) AS INT)
                         END AS FLOAT) / CAST(255 AS FLOAT)
                  AS DOUBLE) * 1000000) AS BIGINT))) AS VARCHAR) AS features
         FROM documents""",
    "q_frame_sample" ->
      """WITH h AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                           octet_length(encode(text)) AS nb
                    FROM documents),
           chunks AS (
             SELECT media_id, CAST(i AS INT) AS i,
                    substr(hx, CAST(i * 32 + 1 AS INT), 32) AS fhx
             FROM h, UNNEST(range(nb // 16)) t(i)
             WHERE i % 2 = 0 AND nb >= 16)
         SELECT media_id, CAST(i // 2 AS INT) AS frame_no,
                CAST(length(fhx) // 2 AS INT) AS frame_bytes,
                md5(fhx) AS frame_hash
         FROM chunks""",
    // byte extraction identical to the decode oracle (hex-sliced payload
    // bytes, i % nb stride, empty payload → all-zero bytes); the mean
    // compare is the integer cross-product, the pack the two-halves shift
    "q_media_phash" ->
      s"""WITH $phashCodesSql
         SELECT lo, hi, COUNT(*) AS n_media, MIN(media_id) AS keeper
         FROM codes GROUP BY 1, 2""",
    "q_phash_neardup" ->
      s"""WITH $phashCodesSql,
          bands AS (SELECT media_id, lo, hi, bi,
                           CASE bi WHEN 0 THEN lo & 65535
                                   WHEN 1 THEN (lo >> 16) & 65535
                                   WHEN 2 THEN hi & 65535
                                   ELSE (hi >> 16) & 65535 END AS bnd
                    FROM codes, UNNEST(range(4)) t(bi))
         SELECT DISTINCT x.media_id AS a, y.media_id AS b,
                CAST(bit_count(xor(x.lo, y.lo))
                  + bit_count(xor(x.hi, y.hi)) AS BIGINT) AS hd
         FROM bands x JOIN bands y
           ON x.bi = y.bi AND x.bnd = y.bnd AND x.media_id < y.media_id
         WHERE bit_count(xor(x.lo, y.lo))
             + bit_count(xor(x.hi, y.hi)) <= 6"""
  )
}
