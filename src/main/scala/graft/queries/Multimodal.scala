package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables._

/** Multimodal column handling: media payloads are opaque `binary`
  * columns with typed metadata; decode / feature-extraction runs
  * batched per partition (the Spark-side plumbing — schema,
  * partitioning, batch shape — is real; the codec itself is a STUB
  * because no image/audio libraries exist in this container).
  *
  * The testdata has no true media files, so the payload is the
  * document text encoded as bytes — every byte-level operator below
  * treats it as an opaque blob, exactly as it would a JPEG.
  */
object Multimodal {

  /** Binary payload + metadata projection; all scan-side expressions.
    * This is the ingest shape for a 100 TB media corpus: payload stays
    * an opaque column (parquet keeps it out of the way of column
    * pruning), metadata is narrow typed columns you can filter on
    * without touching bytes. (Emitted as scalar columns, not a struct:
    * struct cells don't sort in generic comparators; the struct-packed
    * form is one `struct(mime, width, height)` away.) */
  def mm1_binary_meta(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("payload", col("text").cast("binary"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("payload_md5"),
        lit("application/octet-stream").as("mime"),
        (col("n_chars") % 640).cast("long").as("width"),
        (col("doc_id") % 480).cast("long").as("height"))

  /** One decoded media row: integer byte statistics standing in for
    * pixel statistics (exact on every engine — a double mean would
    * hang parity on float printing). */
  final case class MediaFeatures(doc_id: Long, byte_sum: Long,
      byte_transitions: Long, n_bytes: Long)

  /** Feature-extraction over binary payloads via batched partition
    * iteration — the `mapInPandas` shape in Scala: a typed
    * `Dataset.mapPartitions` (stays inside Catalyst — no RDD detour,
    * so AQE and downstream codegen still apply) processing rows in
    * bounded batches (here 32) so a real codec would amortize
    * per-batch setup (model load, GPU transfer). The decode itself is
    * a deterministic FAKE — swap `decodeStub` for a codec binding. */
  def mm2_decode_features(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val batchSize = 32
    documents(s, d)
      .repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // STUB: a real implementation hands `batch` to a codec in
          // one call; byte statistics are the deterministic stand-in.
          batch.iterator.map { case (id, bytes) =>
            val (sum, trans) = decodeStub(bytes)
            MediaFeatures(id, sum, trans, bytes.length.toLong)
          }
        }
      }
      .toDF()
  }

  /** Deterministic fake decode: (byte sum, count of adjacent deltas
    * > 16). */
  private[graft] def decodeStub(bytes: Array[Byte]): (Long, Long) = {
    var sum = 0L; var trans = 0L; var i = 0
    while (i < bytes.length) {
      sum += bytes(i) & 0xff
      if (i > 0 && math.abs((bytes(i) & 0xff) - (bytes(i - 1) & 0xff)) > 16) trans += 1
      i += 1
    }
    (sum, trans)
  }

  /** Resize shape: nearest-neighbor downsample of the payload treated
    * as a (width × height) row-major grid — the thumbnail pipeline a
    * real image corpus runs, with the pixel sampler standing in for a
    * codec (all integer index math, `div`/`%` on both engines, so the
    * sampled bytes are value-exact cross-engine). Every expression is
    * scan-side; no shuffle. */
  def mm4_resize(s: SparkSession, d: String): DataFrame = {
    val target = 8
    // same O(1)-lookup sampler as mm5: one split pass, then array
    // indexing (substring-per-sample walks the UTF8String — O(pos))
    documents(s, d)
      .withColumn("w", greatest(col("n_chars") % 640, lit(1L)))
      .withColumn("h", greatest(col("doc_id") % 480, lit(1L)))
      .withColumn("__pc", expr(
        "if(length(text) = 0, array(''), split(text, ''))"))
      .withColumn("len", greatest(size(col("__pc")).cast("long"), lit(1L)))
      .withColumn("thumb", expr(
        s"""concat_ws('', transform(sequence(0, ${target * target - 1}), p ->
           |  __pc[cast(least(
           |    ((p div $target) * h div $target) * w + ((p % $target) * w div $target),
           |    len - 1) as int)]))""".stripMargin))
      .drop("__pc")
      .select(col("doc_id"),
        col("w").as("src_w"), col("h").as("src_h"),
        lit(target.toLong).as("out_w"), lit(target.toLong).as("out_h"),
        md5(col("thumb")).as("thumb_md5"))
  }

  /** mm5 — perceptual near-dup over media payloads: average-hash
    * (aHash) of the mm4 thumbnail. The 8×8 sampled bytes compare
    * against their integer mean → a 64-bit fingerprint (rendered as a
    * bitstring: 64-bit int arithmetic overflows differently across
    * engines, a string is value-exact); identical fingerprints group
    * into near-dup clusters with a min-id canonical — the image-dedup
    * pass a multimodal corpus runs where text dedup runs MinHash. One
    * scan + one groupBy(phash) + a join back on the hash key; cluster
    * volume ∝ distinct fingerprints, never payload². The pixel
    * sampler stands in for a codec exactly as in mm4. */
  def mm5_perceptual_hash(s: SparkSession, d: String): DataFrame = {
    // the whole aHash (8×8 nearest-neighbor sample → integer mean →
    // bit string) is ONE compiled expression (`ahash_bits`,
    // graft.functions.AHash) — the HOF history is in FrameEnergy's
    // docstring; same value semantics, oracle unchanged
    // single evaluation of the (interpreted higher-order) hash
    // expression: the fingerprinted scan is locally checkpointed and
    // feeds both the cluster census and the probe — the naive
    // groupBy+join-back diamond evaluated the whole scan twice
    val hashed = documents(s, d)
      .withColumn("w", greatest(col("n_chars") % 640, lit(1L)))
      .withColumn("h", greatest(col("doc_id") % 480, lit(1L)))
      .select(col("doc_id"), expr("ahash_bits(text, w, h)").as("phash"))
      .localCheckpoint(false)
    // cluster stats via a partial-aggregated hash groupBy + join-back,
    // NOT a phash-partitioned window: a hyper-duplicated payload (the
    // same logo in millions of documents) would form one window
    // partition that a single task must sort and stream, and AQE's
    // skew splitting cannot divide a window partition — the census
    // groupBy map-side-combines the hot fingerprint and the unhinted
    // join-back broadcasts when the cluster table is small, falling
    // back to a skew-splittable sort-merge join when it is not
    val clusters = hashed.groupBy(col("phash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
    hashed.join(clusters, Seq("phash"))
      .select(col("doc_id"), col("phash"), col("canonical_id"), col("n_copies"))
  }

  /** Deterministic frame-sampling shape: every k-th fixed-size slice of
    * the payload becomes a "frame" row (posexplode of byte slices) —
    * the video-frame-sample plumbing without a video codec. Frame
    * count uses integer `div` (float division + int cast disagree
    * about rounding across engines). */
  /** mm6: audio-shaped frame ENERGY + silence segmentation — the
    * trim-leading-silence / voice-activity pass of an audio pipeline,
    * over the opaque payload (64-byte frames standing in for PCM
    * windows; a real codec slots into the same frame loop). Per doc:
    * frame count, silent-frame count (energy below threshold), the
    * first active frame (-1 = all silent — the whole clip trims
    * away), and total energy. Integer energies (Σ (b-32)² per frame;
    * space = 0, the text stand-in's "silence") keep the cross-engine
    * hash exact. Scan-side expressions only — zero shuffle, one pass,
    * same 100 TB shape as mm1/mm3. */
  /** Shared frame-energy pass for mm6/mm7 — the native codegen
    * `frame_energies` expression (graft.functions.FrameEnergy): one
    * compiled byte sweep, no per-char boxing. History: the original
    * substring-per-char HOF formulation cost O(len·win) byte copying
    * (2.7 s at sf0.1); an O(len) char-array HOF variant reached
    * 0.6 s; the compiled expression is the brief's preference-(b)
    * endpoint for this hot path. mm6/mm7's DuckDB oracles pin value
    * equality with the SQL formulation. */
  private def withFrameEnergies(docs: DataFrame, win: Int): DataFrame = {
    docs.withColumn("energies", expr(s"frame_energies(text, $win)"))
  }

  def mm6_silence_segments(s: SparkSession, d: String): DataFrame = {
    val thr = 20000L
    withFrameEnergies(documents(s, d), win = 64)
      .select(col("doc_id"),
        size(col("energies")).cast("long").as("n_frames"),
        expr(s"cast(size(filter(energies, e -> e < $thr)) as bigint)").as("n_silent"),
        expr(s"cast(coalesce(array_position(transform(energies, e -> e >= $thr), true) - 1, -1) as bigint)")
          .as("first_active"),
        expr("aggregate(energies, 0L, (a, x) -> a + x)").as("total_energy"))
  }

  def mm6OracleSql: String =
    """WITH f AS (
      |  SELECT doc_id, greatest(CAST(ceil(length(text) / 64.0) AS BIGINT), 1) AS nf, text
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, i AS frame_idx,
      |    CASE WHEN length(substr(text, CAST(i*64 + 1 AS INT), 64)) = 0 THEN 0
      |         ELSE COALESCE(list_sum(list_transform(
      |           string_split(substr(text, CAST(i*64 + 1 AS INT), 64), ''),
      |           c -> CAST((ord(c) - 32) * (ord(c) - 32) AS BIGINT))), 0) END AS energy
      |  FROM f CROSS JOIN UNNEST(range(0, nf)) AS u(i))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(sum(CASE WHEN energy < 20000 THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
      |  CAST(coalesce(min(CASE WHEN energy >= 20000 THEN frame_idx END), -1) AS BIGINT) AS first_active,
      |  CAST(sum(energy) AS BIGINT) AS total_energy
      |FROM e GROUP BY doc_id""".stripMargin

  /** mm7: keyframe selection by frame-difference energy — the
    * scene-change detector of a video ingest pipeline, over the same
    * opaque 64-byte frame loop as mm6. The change signal is the
    * absolute delta of consecutive frame energies (integer, so
    * cross-engine exact); each doc keeps its top-3 frames by
    * (delta desc, frame_idx asc). The WHOLE operator is scan-side:
    * deltas become (delta, frame_idx) structs inside the row, an
    * array_sort comparator ranks them, slice(…, 1, 3) keeps the top-3
    * — NO exchange at all, where the explode-then-window formulation
    * this replaced shuffled every frame delta just to rank within its
    * own document. With the shared one-pass energy sweep
    * (`withFrameEnergies`), the full operator runs ~0.5 s at sf0.1
    * under the honest noop-sink measurement. A real decoder slots
    * into the energy lambda unchanged. */
  def mm7_keyframes(s: SparkSession, d: String): DataFrame = {
    val top3 =
      """slice(array_sort(
        |  if(size(energies) < 2, array(),
        |    transform(sequence(1, size(energies) - 1),
        |      i -> named_struct('delta', abs(energies[i] - energies[i-1]),
        |                        'frame_idx', cast(i as bigint)))),
        |  (l, r) -> case when l.delta > r.delta then -1
        |                 when l.delta < r.delta then 1
        |                 when l.frame_idx < r.frame_idx then -1
        |                 when l.frame_idx > r.frame_idx then 1
        |                 else 0 end), 1, 3)""".stripMargin
    withFrameEnergies(documents(s, d), win = 64)
      .select(col("doc_id"), posexplode(expr(top3)).as(Seq("pos", "kf")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"),
        col("kf.frame_idx").as("frame_idx"), col("kf.delta").as("delta"))
  }

  def mm7OracleSql: String =
    """WITH f AS (
      |  SELECT doc_id, greatest(CAST(ceil(length(text) / 64.0) AS BIGINT), 1) AS nf, text
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, i AS frame_idx,
      |    CASE WHEN length(substr(text, CAST(i*64 + 1 AS INT), 64)) = 0 THEN 0
      |         ELSE COALESCE(list_sum(list_transform(
      |           string_split(substr(text, CAST(i*64 + 1 AS INT), 64), ''),
      |           c -> CAST((ord(c) - 32) * (ord(c) - 32) AS BIGINT))), 0) END AS energy
      |  FROM f CROSS JOIN UNNEST(range(0, nf)) AS u(i)),
      |dlt AS (
      |  SELECT doc_id, frame_idx,
      |    abs(energy - lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx)) AS delta
      |  FROM e),
      |r AS (
      |  SELECT doc_id, frame_idx, delta,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY delta DESC, frame_idx ASC) AS rank
      |  FROM dlt WHERE delta IS NOT NULL)
      |SELECT doc_id, CAST(rank AS BIGINT) AS rank,
      |  CAST(frame_idx AS BIGINT) AS frame_idx, CAST(delta AS BIGINT) AS delta
      |FROM r WHERE rank <= 3""".stripMargin

  def mm3_frame_sample(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, cast(greatest(length(payload)-32, 0) div 64 as int)), i -> substring(payload, i*64+1, 32))"))
          .as(Seq("frame_idx", "frame_bytes")))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        md5(col("frame_bytes")).as("frame_md5"),
        length(col("frame_bytes")).cast("long").as("frame_len"))

  /** mm8: shot segmentation — the complement of mm7's keyframe TOP-K:
    * cut the frame sequence into contiguous SHOTS wherever the
    * consecutive-frame energy delta exceeds a threshold (the classic
    * content-based shot-boundary detector), and report per-video shot
    * structure: shot count, longest shot, first boundary. Like mm6/7
    * the whole operator is scan-side array algebra over the shared
    * one-pass `frame_energies` sweep — boundary indices via
    * filter(sequence…), shot lengths via zip_with of the boundary list
    * against itself shifted (concat-head / concat-tail), NO exchange
    * — where a window-function formulation would shuffle every frame
    * row just to segment within its own document. Integer energies ⇒
    * cross-engine exact. A real decoder slots into the energy lambda
    * unchanged; threshold 15000 is calibrated to the fake codec's
    * energy spread so shots are plural but not per-frame. */
  def mm8_shot_segments(s: SparkSession, d: String): DataFrame = {
    val thr = 15000L
    withFrameEnergies(documents(s, d), win = 64)
      .withColumn("bounds", expr(
        // sequence(1, 0) would DESCEND in Spark; guard 1-frame docs
        s"""if(size(energies) < 2, array(),
           |  filter(sequence(1, size(energies) - 1),
           |         i -> abs(energies[i] - energies[i-1]) > ${thr}L))""".stripMargin))
      .withColumn("lens", expr(
        // shot k spans [starts[k], ends[k]): starts = 0 :: bounds, ends = bounds :: n
        "zip_with(concat(array(0), bounds), concat(bounds, array(size(energies))), (s, e) -> e - s)"))
      .select(col("doc_id"),
        size(col("energies")).cast("long").as("n_frames"),
        size(col("lens")).cast("long").as("n_shots"),
        expr("cast(array_max(lens) as bigint)").as("longest_shot"),
        // get() is null-on-missing even under ANSI; [] would throw on
        // a boundary-free doc
        expr("cast(coalesce(get(bounds, 0), -1) as bigint)").as("first_boundary"))
  }

  def mm8OracleSql: String =
    """WITH f AS (
      |  SELECT doc_id, greatest(CAST(ceil(length(text) / 64.0) AS BIGINT), 1) AS nf, text
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, i AS frame_idx,
      |    CASE WHEN length(substr(text, CAST(i*64 + 1 AS INT), 64)) = 0 THEN 0
      |         ELSE COALESCE(list_sum(list_transform(
      |           string_split(substr(text, CAST(i*64 + 1 AS INT), 64), ''),
      |           c -> CAST((ord(c) - 32) * (ord(c) - 32) AS BIGINT))), 0) END AS energy
      |  FROM f CROSS JOIN UNNEST(range(0, nf)) AS u(i)),
      |b AS (
      |  SELECT doc_id, frame_idx,
      |    CASE WHEN frame_idx > 0 AND
      |      abs(energy - lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx)) > 15000
      |      THEN 1 ELSE 0 END AS is_boundary
      |  FROM e),
      |seg AS (
      |  SELECT doc_id, frame_idx, is_boundary,
      |    sum(is_boundary) OVER (PARTITION BY doc_id ORDER BY frame_idx
      |      ROWS UNBOUNDED PRECEDING) AS shot_id
      |  FROM b),
      |shots AS (
      |  SELECT doc_id, shot_id, count(*) AS shot_len FROM seg GROUP BY doc_id, shot_id)
      |SELECT s.doc_id, CAST(f.nf AS BIGINT) AS n_frames,
      |  CAST(count(*) AS BIGINT) AS n_shots,
      |  CAST(max(s.shot_len) AS BIGINT) AS longest_shot,
      |  CAST(coalesce(min(fb.fb), -1) AS BIGINT) AS first_boundary
      |FROM shots s
      |JOIN f ON f.doc_id = s.doc_id
      |LEFT JOIN (SELECT doc_id, min(frame_idx) AS fb FROM b WHERE is_boundary = 1
      |           GROUP BY doc_id) fb ON fb.doc_id = s.doc_id
      |GROUP BY s.doc_id, f.nf""".stripMargin

  // ── mm9: image near-dup recall harness (banded pHash) ─────────────
  /** The image-dedup pipeline AND its evaluation in one query: for
    * each of two perturbation strengths, every "image" gets a
    * deterministically re-encoded variant (every k-th payload byte
    * rewritten — the stand-in for recompression noise), and the
    * banded-pHash detector (4×16-bit bands of the mm5 aHash, bucket
    * census capped to [2,8] — saturated buckets are degenerate
    * boilerplate patterns, the pHash analog of stop-grams — then an
    * exact Hamming≤6 verify on candidates) is SCORED against the
    * known original↔variant ground truth: per strength, candidates /
    * detected / true-candidates / true-detected / recall. This is the
    * standard way to validate a near-dup detector before trusting it
    * at corpus scale, run entirely in-engine. Scale shape: bands ship
    * 16-char keys keyed by (strength, band); the bucket cap bounds
    * every bucket's pair fan-out at 8²/2, so the candidate join can
    * never go quadratic — the cap IS the skew guard; the Hamming
    * verify touches only surviving candidates. */
  def mm9_phash_recall(s: SparkSession, d: String): DataFrame = {
    val off = 10000000L
    val strengthVals = Seq(3, 7)
    val strengths = s.range(1)
      .select(explode(array(strengthVals.map(lit(_)): _*)).as("strength"))
    val base = documents(s, d).crossJoin(broadcast(strengths))
      .select(col("strength"), col("doc_id"),
        greatest(col("n_chars") % 640, lit(1L)).as("w"),
        greatest(col("doc_id") % 480, lit(1L)).as("h"),
        col("text"))
    val orig = base.select(col("strength"), col("doc_id"),
      expr("ahash_bits(text, w, h)").as("phash"))
    // the variant re-encodes with the ORIGINAL's geometry (same image,
    // new bytes) — every strength-th char rewritten. Codegen regexp
    // (strength-sized groups, last char → 'z'), not a per-char lambda:
    // the HOF formulation allocated one boxed char per input char and
    // measured as the query's hottest stage at sf10. The CASE branches
    // are GENERATED from strengthVals (a strength without its own
    // branch would silently reuse another's geometry) with an
    // explicit error arm, and (?s) makes '.' consume line terminators
    // — exact parity with the oracle's per-char CASE rewrite even on
    // newline-bearing text.
    val variantRewrite = strengthVals.map(k =>
        s"when strength = $k then regexp_replace(text, '(?s)(.{${k - 1}}).', '$$1z')")
      .mkString("case ",
        " ", " else raise_error(concat('mm9: no variant branch for strength ', strength)) end")
    val vari = base.select(col("strength"), (col("doc_id") + off).as("doc_id"),
      expr(s"ahash_bits($variantRewrite, w, h)").as("phash"))
    // pack the 64-bit hash string into two longs ONCE per row: the
    // shuffle then moves 16 bytes instead of a 64-char string, and the
    // Hamming verify is 2 xor + 2 bit_count instead of 64 substrings
    val bk = orig.unionByName(vari)
      .select(col("strength"), col("doc_id"),
        expr("cast(conv(substring(phash, 1, 32), 2, 10) as bigint)").as("h1"),
        expr("cast(conv(substring(phash, 33, 32), 2, 10) as bigint)").as("h2"),
        explode(expr("transform(sequence(0, 3), b -> named_struct(" +
          "'band', b, 'k', substring(phash, b * 16 + 1, 16)))")).as("bb"))
      .select(col("strength"), col("doc_id"), col("h1"), col("h2"),
        col("bb.band").as("band"), col("bb.k").as("k"))
    val keep = bk.groupBy(col("strength"), col("band"), col("k"))
      .agg(count(lit(1)).as("n")).filter(col("n").between(2, 8))
      .select(col("strength"), col("band"), col("k"))
    val bkk = bk.join(keep, Seq("strength", "band", "k"))
    val cand = bkk.as("x").join(bkk.as("y"),
        col("x.strength") === col("y.strength") && col("x.band") === col("y.band") &&
          col("x.k") === col("y.k") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.strength").as("strength"), col("x.doc_id").as("a_id"),
        col("y.doc_id").as("b_id"), col("x.h1").as("ah1"), col("x.h2").as("ah2"),
        col("y.h1").as("bh1"), col("y.h2").as("bh2"))
      .distinct()
    val ham = cand.withColumn("hd", expr(
      "bit_count(ah1 ^ bh1) + bit_count(ah2 ^ bh2)"))
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    ham.groupBy(col("strength")).agg(
        count(lit(1)).as("n_candidates"),
        sum(when(col("hd") <= 6, 1L).otherwise(0L)).as("n_detected"),
        sum(when(col("b_id") === col("a_id") + off, 1L).otherwise(0L))
          .as("n_true_candidates"),
        sum(when(col("b_id") === col("a_id") + off && col("hd") <= 6, 1L).otherwise(0L))
          .as("n_true_detected"))
      .crossJoin(broadcast(nDocs))
      .withColumn("recall_bp", expr("n_true_detected * 10000 div n_docs"))
  }

  def mm9OracleSql: String =
    """WITH st AS (SELECT unnest([3, 7]) AS strength),
      |src AS (
      |  SELECT st.strength, d.doc_id,
      |    greatest(d.n_chars % 640, 1) AS w, greatest(d.doc_id % 480, 1) AS h,
      |    d.text FROM documents d CROSS JOIN st),
      |vari AS (
      |  SELECT strength, doc_id + 10000000 AS doc_id, w, h,
      |    array_to_string(list_transform(range(1, len(text) + 1),
      |      i -> CASE WHEN i % strength = 0 THEN 'z'
      |           ELSE substr(text, CAST(i AS INT), 1) END), '') AS text
      |  FROM src),
      |g AS (
      |  SELECT strength, doc_id, w, h, greatest(length(text), 1) AS len, text FROM src
      |  UNION ALL
      |  SELECT strength, doc_id, w, h, greatest(length(text), 1) AS len, text FROM vari),
      |t AS (
      |  SELECT strength, doc_id, list_transform(range(0, 64), p -> ord(substr(text,
      |      CAST(least(((p // 8) * h // 8) * w + ((p % 8) * w // 8), len - 1) AS INT) + 1, 1))) AS bs
      |  FROM g),
      |p AS (SELECT strength, doc_id, bs, list_sum(bs) // 64 AS mean FROM t),
      |hh AS (
      |  SELECT strength, doc_id, array_to_string(list_transform(bs,
      |    x -> CASE WHEN x > mean THEN '1' ELSE '0' END), '') AS phash
      |  FROM p),
      |bk AS (
      |  SELECT strength, doc_id, phash, band,
      |    substr(phash, CAST(band * 16 AS INT) + 1, 16) AS k
      |  FROM hh, unnest(range(0, 4)) AS u(band)),
      |keep AS (SELECT strength, band, k FROM bk
      |  GROUP BY strength, band, k HAVING count(*) BETWEEN 2 AND 8),
      |bkk AS (SELECT bk.* FROM bk JOIN keep USING (strength, band, k)),
      |cand AS (
      |  SELECT DISTINCT a.strength, a.doc_id AS a_id, b.doc_id AS b_id,
      |    a.phash AS ap, b.phash AS bp
      |  FROM bkk a JOIN bkk b ON a.strength = b.strength AND a.band = b.band
      |    AND a.k = b.k AND a.doc_id < b.doc_id),
      |ham AS (
      |  SELECT strength, a_id, b_id, len(list_filter(range(1, 65),
      |    i -> substr(ap, CAST(i AS INT), 1) <> substr(bp, CAST(i AS INT), 1))) AS hd
      |  FROM cand),
      |nd AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT strength, CAST(count(*) AS BIGINT) AS n_candidates,
      |  CAST(sum(CASE WHEN hd <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_detected,
      |  CAST(sum(CASE WHEN b_id = a_id + 10000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_true_candidates,
      |  CAST(sum(CASE WHEN b_id = a_id + 10000000 AND hd <= 6 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_true_detected,
      |  CAST(nd.n_docs AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN b_id = a_id + 10000000 AND hd <= 6 THEN 1 ELSE 0 END)
      |    * 10000 // nd.n_docs AS BIGINT) AS recall_bp
      |FROM ham CROSS JOIN nd
      |GROUP BY strength, nd.n_docs""".stripMargin

  // ── mm10: audio fingerprint matching (inverted index + alignment) ─
  /** The Shazam-shaped audio matcher, end-to-end: each clip's frame-
    * energy sweep (16-byte frames — the mm6 primitive at audio-window
    * granularity) becomes a delta-sign bitstring, 16-bit sliding
    * windows of it are the SUB-FINGERPRINTS, and a query clip matches
    * a reference when many of its subfingerprints hit the same
    * reference at ONE consistent time offset — the offset-delta
    * histogram peak IS the alignment (value-only matches scattered
    * across offsets are noise and never sum). Ground truth like mm9:
    * every query is a reference clip with its first two frames
    * dropped (the "recording starts mid-song" case, which defeats
    * whole-clip hashes like mm5's by construction), so the correct
    * verdict is (its own reference, delta = exactly +2) — both land
    * in the gated output. Scale shape: the inverted index is
    * (window → clip, pos) — the join key is a 16-bit value, capped
    * at 64 reference hits per value (stop-window suppression, the
    * mm9 cap discipline) so fan-out is bounded; the histogram agg and
    * per-query top-1 window are rows ∝ matched (query, ref, delta)
    * groups, never clips². */
  def mm10_audio_match(s: SparkSession, d: String): DataFrame = {
    val off = 10000000L
    val src = documents(s, d).select(col("doc_id"), col("text"))
    val qry = src.select((col("doc_id") + off).as("doc_id"),
      expr("substring(text, 33)").as("text"))
    val bits = src.withColumn("is_q", lit(0))
      .unionByName(qry.withColumn("is_q", lit(1)))
      .withColumn("energies", expr("frame_energies(text, 16)"))
      .withColumn("bs", expr(
        "array_join(zip_with(slice(energies, 2, size(energies) - 1), " +
          "slice(energies, 1, size(energies) - 1), " +
          "(x, y) -> if(x > y, '1', '0')), '')"))
      .filter(length(col("bs")) >= 16)
    // the fingerprint-window relation is consumed FOUR ways (the
    // reference side, its frequency census, the query side's match
    // join, and the query count) — unmaterialized, the frame_energies
    // kernel + bit-string window explode re-ran per consumer (the d60
    // pattern). One eager pass; every consumer reads the narrow
    // (doc_id, is_q, pos, w) table.
    val win = bits.select(col("doc_id"), col("is_q"),
        explode(expr("transform(sequence(1, length(bs) - 15), " +
          "i -> named_struct('pos', i, 'w', substring(bs, i, 16)))")).as("pw"))
      .select(col("doc_id"), col("is_q"),
        col("pw.pos").as("pos"), col("pw.w").as("w"))
      .localCheckpoint()
    val refs = win.filter(col("is_q") === 0)
      .select(col("doc_id").as("r_id"), col("pos").as("r_pos"), col("w"))
    val qrys = win.filter(col("is_q") === 1)
      .select(col("doc_id").as("q_id"), col("pos").as("q_pos"), col("w"))
    val freq = refs.groupBy(col("w")).agg(count(lit(1)).as("nw"))
      .filter(col("nw") <= 64).select(col("w"))
    val m = qrys.join(freq, Seq("w"), "left_semi").join(refs, Seq("w"))
      .groupBy(col("q_id"), col("r_id"),
        (col("r_pos") - col("q_pos")).as("delta"))
      .agg(count(lit(1)).as("n"))
    val w1 = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("n").desc, col("r_id"), col("delta"))
    val best = m.withColumn("rk", row_number().over(w1)).filter(col("rk") === 1)
    val nQ = qrys.agg(countDistinct(col("q_id")).as("n_queries"))
    val nD = documents(s, d).agg(count(lit(1)).as("n_docs"))
    best.agg(
        count(lit(1)).as("n_matched"),
        sum(when(col("r_id") === col("q_id") - off, 1L).otherwise(0L))
          .as("n_correct_ref"),
        sum(when(col("r_id") === col("q_id") - off && col("delta") === 2, 1L)
          .otherwise(0L)).as("n_correct_align"))
      .crossJoin(broadcast(nQ)).crossJoin(broadcast(nD))
      .withColumn("recall_bp", expr("n_correct_align * 10000 div n_queries"))
      .select(col("n_docs"), col("n_queries"), col("n_matched"),
        col("n_correct_ref"), col("n_correct_align"), col("recall_bp"))
  }

  def mm10OracleSql: String =
    """WITH src AS (SELECT doc_id, text FROM documents),
      |qry AS (SELECT doc_id + 10000000 AS doc_id, substr(text, 33) AS text FROM src),
      |g AS (SELECT doc_id, text, 0 AS is_q FROM src
      |      UNION ALL SELECT doc_id, text, 1 FROM qry),
      |f AS (SELECT doc_id, is_q,
      |    greatest(CAST(ceil(length(text) / 16.0) AS BIGINT), 1) AS nf, text FROM g),
      |e AS (
      |  SELECT doc_id, is_q, i AS fi,
      |    CASE WHEN length(substr(text, CAST(i*16 + 1 AS INT), 16)) = 0 THEN 0
      |      ELSE COALESCE(list_sum(list_transform(
      |        string_split(substr(text, CAST(i*16 + 1 AS INT), 16), ''),
      |        c -> CAST((ord(c) - 32) * (ord(c) - 32) AS BIGINT))), 0) END AS energy
      |  FROM f CROSS JOIN UNNEST(range(0, nf)) AS u(i)),
      |bits AS (
      |  SELECT doc_id, is_q, string_agg(bit, '' ORDER BY fi) AS bs
      |  FROM (
      |    SELECT doc_id, is_q, fi,
      |      CASE WHEN energy > lag(energy) OVER (PARTITION BY doc_id, is_q ORDER BY fi)
      |        THEN '1' ELSE '0' END AS bit
      |    FROM e) WHERE fi > 0
      |  GROUP BY doc_id, is_q),
      |win AS (
      |  SELECT doc_id, is_q, i AS pos, substr(bs, CAST(i AS INT), 16) AS w
      |  FROM bits CROSS JOIN UNNEST(range(1, greatest(len(bs) - 14, 1))) AS u(i)
      |  WHERE len(bs) >= 16),
      |refs AS (SELECT doc_id AS r_id, pos AS r_pos, w FROM win WHERE is_q = 0),
      |qrys AS (SELECT doc_id AS q_id, pos AS q_pos, w FROM win WHERE is_q = 1),
      |freq AS (SELECT w FROM refs GROUP BY w HAVING count(*) <= 64),
      |m AS (
      |  SELECT q.q_id, r.r_id, r.r_pos - q.q_pos AS delta, count(*) AS n
      |  FROM qrys q JOIN freq USING (w) JOIN refs r USING (w)
      |  GROUP BY 1, 2, 3),
      |best AS (
      |  SELECT q_id, r_id, delta, n,
      |    row_number() OVER (PARTITION BY q_id ORDER BY n DESC, r_id, delta) AS rk
      |  FROM m),
      |nq AS (SELECT count(DISTINCT q_id) AS n_queries FROM qrys),
      |nd AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT CAST(nd.n_docs AS BIGINT) AS n_docs,
      |  CAST(nq.n_queries AS BIGINT) AS n_queries,
      |  CAST(count(*) AS BIGINT) AS n_matched,
      |  CAST(sum(CASE WHEN r_id = q_id - 10000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_correct_ref,
      |  CAST(sum(CASE WHEN r_id = q_id - 10000000 AND delta = 2 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_correct_align,
      |  CAST(sum(CASE WHEN r_id = q_id - 10000000 AND delta = 2 THEN 1 ELSE 0 END)
      |    * 10000 // nq.n_queries AS BIGINT) AS recall_bp
      |FROM best CROSS JOIN nq CROSS JOIN nd
      |WHERE rk = 1 GROUP BY nq.n_queries, nd.n_docs""".stripMargin
}
