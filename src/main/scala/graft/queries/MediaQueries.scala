package graft.queries

import graft.catalog.Catalog
import graft.multimodal.Multimodal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column query surface (m*): binary media payloads with
  * typed metadata, batch feature extraction, and frame sampling — the
  * plumbing a training pipeline needs for image/audio/video columns.
  *
  * The media table is derived deterministically from `documents`
  * ([[Multimodal.fromDocuments]]): text bytes stand in for the opaque
  * payload, so every byte-level result (lengths, md5 checksums, frame
  * slicing) is verifiable from SQL on the source table. The decode
  * kernel itself is the clearly-marked STUB in [[Multimodal]] — since
  * round 7 it is md5-derived arithmetic, so even the stub embedding is
  * hash-checked dimension-by-dimension (m02); swapping a real codec in
  * flips m02 back to a rows-only check at the same point.
  */
object MediaQueries {

  /** Media metadata + md5 checksum after batched feature extraction.
    * Everything here is byte-level truth (no stub outputs), so the
    * oracle hash-checks the full binary-column round trip: encode ->
    * mapPartitions batch -> checksum/length. */
  val m01MediaMeta: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    Multimodal.extractFeatures(
        Multimodal.fromDocuments(Catalog(s, dir).documents))
      .select(col("media_id"), col("kind"), col("n_bytes"), col("checksum"))
      .orderBy(col("media_id"))
  }

  val m01Sql: String =
    """SELECT doc_id AS media_id,
      |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
      |    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(('0x'||substr(md5(text),1,15)) AS BIGINT) AS checksum
      |FROM documents WHERE text IS NOT NULL ORDER BY media_id""".stripMargin

  /** Stub-decoded feature vectors (the embedding a real codec+model
    * would produce). The stub is md5-derived arithmetic (see
    * [[Multimodal.stubDecodeFeatures]]), so every dimension is
    * hash-checked: each float is integer/10^6, projected back to its
    * exact micro-integer (round(f·10^6) recovers it — 10^6 < 2^24, so
    * the float roundtrip is lossless) and comma-joined for the
    * driver's row compare. A real decoder flips this back to a
    * rows-only check at the same swap point. */
  val m02MediaFeatures: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    Multimodal.extractFeatures(
        Multimodal.fromDocuments(Catalog(s, dir).documents))
      .select(col("media_id"),
        size(col("features")).cast(LongType).as("feature_dim"),
        concat_ws(",", transform(col("features"),
          f => round(f.cast(DoubleType) * 1000000, 0).cast(LongType)
            .cast(StringType))).as("features_micro"))
      .orderBy(col("media_id"))
  }

  val m02Sql: String =
    """WITH m AS (SELECT doc_id AS media_id, md5(text) AS hx
      |  FROM documents WHERE text IS NOT NULL),
      |f AS (SELECT media_id, j,
      |    CAST(('0x'||substr(md5(hx||'|f'||j),1,15)) AS BIGINT) % 1000000 AS v
      |  FROM m, range(0, 64) t(j))
      |SELECT media_id, count(*) AS feature_dim,
      |  string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS features_micro
      |FROM f GROUP BY media_id ORDER BY media_id""".stripMargin

  /** Frame sampling over "video" payloads: fixed-size byte windows,
    * every 2nd kept. Output is (media_id, frame_index, n_frame_bytes) —
    * the slicing arithmetic is exact, so the fan-out is hash-checked
    * even though the "frames" are stub slices. */
  val m03FrameSample: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    Multimodal.sampleFrames(
        Multimodal.fromDocuments(Catalog(s, dir).documents),
        frameSize = 64, every = 2)
      .select(col("media_id"),
        col("frame_index").cast(LongType).as("frame_index"),
        length(col("frame_bytes")).cast(LongType).as("n_frame_bytes"))
      .orderBy(col("media_id"), col("frame_index"))
  }

  val m03Sql: String =
    """WITH m AS (SELECT doc_id AS media_id,
      |    octet_length(encode(text)) AS n FROM documents
      |  WHERE CAST(doc_id % 3 AS INTEGER) = 2 AND text IS NOT NULL),
      |f AS (SELECT media_id, n, unnest(range(0, (n + 63) // 64)) AS fi FROM m)
      |SELECT media_id, fi AS frame_index,
      |  least(64, n - fi * 64) AS n_frame_bytes
      |FROM f WHERE fi % 2 = 0 ORDER BY media_id, frame_index""".stripMargin

  /** Batched resize over "image" payloads: stub kernel keeps every 4th
    * byte, so the output size arithmetic is exact and the fan-in is
    * hash-checked end-to-end (plumbing real, kernel stub). */
  val m04Resize: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    Multimodal.resizeImages(
        Multimodal.fromDocuments(Catalog(s, dir).documents), factor = 4)
      .select(col("media_id"), col("kind"),
        length(col("bytes")).cast(LongType).as("n_bytes_resized"))
      .orderBy(col("media_id"))
  }

  val m04Sql: String =
    """SELECT doc_id AS media_id, 'image' AS kind,
      |  (octet_length(encode(text)) + 3) // 4 AS n_bytes_resized
      |FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 0
      |  AND text IS NOT NULL
      |ORDER BY media_id""".stripMargin

  /** Byte-range chunking (media sharding for transport / batch
    * assembly): every chunk's length AND md5 hash-checked, so the
    * slicing arithmetic and the bytes themselves are verified. The
    * oracle slices VARCHAR — byte == char offsets ONLY for an ASCII
    * corpus, so the oracle ENFORCES the assumption: its source CTE
    * errors on any doc where octet_length <> length instead of
    * silently hash-diverging (a non-ASCII corpus would need a
    * BLOB-slicing oracle). */
  val m05Chunk: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    Multimodal.chunk(
        Multimodal.fromDocuments(Catalog(s, dir).documents), chunkSize = 256)
      .orderBy(col("media_id"), col("chunk_index"))
  }

  val m05Sql: String =
    """WITH d AS (SELECT doc_id,
      |  CASE WHEN octet_length(encode(text)) = length(text) THEN text
      |       ELSE error('non-ASCII doc ' || doc_id ||
      |                  ': VARCHAR-slicing oracle invalid') END AS text
      |  FROM documents
      |  WHERE text IS NOT NULL AND length(text) > 0),
      |c AS (SELECT doc_id, text,
      |  unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT))) AS chunk_index
      |  FROM d)
      |SELECT doc_id AS media_id, chunk_index,
      |  CAST(length(substring(text, chunk_index * 256 + 1, 256)) AS BIGINT)
      |    AS n_chunk_bytes,
      |  md5(substring(text, chunk_index * 256 + 1, 256)) AS chunk_md5
      |FROM c ORDER BY media_id, chunk_index""".stripMargin

  /** Exact media dedup by payload digest (d01's shape on binary): the
    * synthetic corpus has no duplicate payloads, so the query replays a
    * deterministic DUPLICATE DELIVERY — every media_id % 7 == 0 payload
    * arrives a second time under a shifted id (t08's enrichment
    * contract: synthesize the phenomenon so the operator is exercised,
    * replayed identically in the oracle). Only (fp, n_bytes, media_id)
    * triples shuffle — never the payload bytes; see
    * [[Multimodal.dedupMedia]]. */
  val m06MediaDedup: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import s.implicits._
    val media = Multimodal.fromDocuments(Catalog(s, dir).documents)
    val redelivered = media.toDF()
      .filter(pmod(col("media_id"), lit(7L)) === 0)
      .withColumn("media_id", col("media_id") + 1000000L)
      .as[Multimodal.MediaRow]
    Multimodal.dedupMedia(media.unionByName(redelivered))
      .orderBy(col("fp"))
  }

  val m06Sql: String =
    """WITH m AS (SELECT doc_id AS media_id, text FROM documents
      |  WHERE text IS NOT NULL),
      |a AS (SELECT media_id, text FROM m
      |  UNION ALL SELECT media_id + 1000000, text FROM m WHERE media_id % 7 = 0)
      |SELECT CAST(('0x'||substr(md5(text),1,15)) AS BIGINT) AS fp,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  min(media_id) AS keeper_id, count(*) AS n_copies
      |FROM a GROUP BY 1, 2 ORDER BY fp""".stripMargin

  /** Perceptual-hash NEAR-dup pairs ([[Multimodal.phashNearDup]] —
    * d03's pigeonhole shape on media, signature from the DECODED
    * content's positional segment means instead of tokens): the corpus
    * has no near-dup payloads, so the query replays a deterministic
    * NOISY RE-ENCODE — every media_id % 9 == 0 payload arrives again
    * with one mid-content code point substituted, under a shifted id
    * (m06's synthesize-the-phenomenon contract). A localized
    * substitution is the 1-D analog of re-encode noise: it perturbs one
    * segment's mean and flips at most a bit — while a LENGTH-changing
    * edit shifts every segment boundary and lands far away, exactly as
    * cropping defeats image aHash (measured here: an appended suffix
    * produced zero pairs; the operator docstring records the
    * alignment contract). */
  val m07PhashNearDup: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import s.implicits._
    val docs = Catalog(s, dir).documents
    val noisy = docs
      .filter(pmod(col("doc_id"), lit(9L)) === 0 &&
        char_length(col("text")) >= 8)
      .withColumn("text", concat(
        expr("substring(text, 1, CAST(char_length(text) / 2 AS INT) - 1)"),
        lit("X"),
        expr("substring(text, CAST(char_length(text) / 2 AS INT) + 1)")))
      .withColumn("doc_id", col("doc_id") + 2000000L)
    Multimodal.phashNearDup(
        Multimodal.fromDocuments(docs.unionByName(noisy)))
      .orderBy(col("id1"), col("id2"))
  }

  val m07Sql: String =
    """WITH m AS (SELECT doc_id AS media_id, text FROM documents
      |  WHERE text IS NOT NULL),
      |a AS (SELECT media_id, text FROM m
      |  UNION ALL SELECT media_id + 2000000,
      |    substr(text, 1, length(text) // 2 - 1) || 'X' ||
      |    substr(text, length(text) // 2 + 1)
      |  FROM m WHERE media_id % 9 = 0 AND length(text) >= 8),
      |nz AS (SELECT media_id, text FROM a WHERE length(text) > 0),
      |v AS (SELECT media_id, (i * 60) // length(text) AS seg,
      |  CAST(ord(substr(text, CAST(i + 1 AS INT), 1)) AS BIGINT) AS cv
      |  FROM (SELECT media_id, text,
      |    unnest(range(0, length(text))) AS i FROM nz)),
      |sg AS (SELECT media_id, seg, SUM(cv) AS ssum,
      |  CAST(count(*) AS BIGINT) AS slen FROM v GROUP BY 1, 2),
      |tt AS (SELECT media_id, SUM(cv) AS tsum,
      |  CAST(count(*) AS BIGINT) AS L FROM v GROUP BY 1),
      |sig AS (SELECT t.media_id AS id,
      |  COALESCE(SUM(CASE WHEN s.ssum * t.L > t.tsum * s.slen
      |    THEN (CAST(1 AS BIGINT) << CAST(s.seg AS INT))
      |    ELSE CAST(0 AS BIGINT) END), 0) AS sig
      |  FROM tt t LEFT JOIN sg s ON s.media_id = t.media_id GROUP BY 1),
      |b AS (SELECT id, sig,
      |  c::VARCHAR || ':' || ((sig >> (15 * CAST(c AS INT))) & 32767)::VARCHAR
      |    AS chunk
      |  FROM (SELECT id, sig, unnest(range(0, 4)) AS c FROM sig)),
      |cand AS (SELECT DISTINCT l.id AS id1, r.id AS id2,
      |  l.sig AS h1, r.sig AS h2
      |  FROM b l JOIN b r ON l.chunk = r.chunk AND l.id < r.id)
      |SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(h1, h2)) <= 3
      |ORDER BY id1, id2""".stripMargin

  /** CROSS-MODAL ALIGNMENT FILTER (the CLIP-score gate a paired
    * image+caption corpus is curated with — LAION's core filter: score
    * every (image, caption) pair with both towers' embeddings, keep
    * pairs whose cosine clears a threshold): image-tower embedding =
    * the m02 stub decode over the payload bytes, caption-tower
    * embedding = the e22 stub text encoder over the pair's caption
    * (deterministically derived here as the doc's first 100 chars —
    * docs that fit entirely are perfectly-aligned pairs, longer docs
    * give the uncorrelated-embedding band a real model produces for a
    * wrong caption). Both towers are the SAME clearly-marked md5 stub
    * swap-point as m02/e22, so every dimension and the cosine replay in
    * SQL; a real CLIP swaps in at exactly those two points.
    *
    * Measured at sf0.01: 7 exact-alignment pairs at cosine 1.0; the 160
    * mismatched pairs span 0.618-0.839 (p50 0.749, p90 0.798), so the
    * 0.8 gate does real work inside the random band (~13 mismatches
    * clear it) instead of degenerating to a length test.
    *
    * Float contract: stub features are float(micro/10^6); the oracle
    * mirrors the narrowing with CAST(... AS REAL)::DOUBLE (e22's
    * contract) and both engines compare the ROUNDED round(cos, 6), so
    * the threshold has no cross-engine boundary hazard.
    *
    * Scale shape: both embed towers are map-only (features computed
    * BEFORE the join, bytes never exchanged); the pairing is one keyed
    * equi-join of two skinny (id, vec) relations — at 100 TB the
    * captions side is dimension-sized per media batch and broadcasts. */
  private val m08CapChars = 100
  private val m08Dim = 64
  private val m08Tau = "0.8" // exact decimal, shared verbatim by both sides

  val m08CaptionAlign: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    Multimodal.captionAlign(Catalog(s, dir).documents,
        capChars = m08CapChars, dim = m08Dim, tau = m08Tau.toDouble)
      .orderBy(col("media_id"))
  }

  val m08Sql: String =
    s"""WITH m AS (SELECT doc_id AS media_id, md5(text) AS hi,
      |    md5(substr(text, 1, $m08CapChars)) AS hc
      |  FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 0),
      |f AS (SELECT media_id, j,
      |    CAST(CAST((CAST(('0x'||substr(md5(hi||'|f'||j),1,15)) AS BIGINT)
      |      % 1000000) / 1000000.0 AS REAL) AS DOUBLE) AS iv,
      |    CAST(CAST((CAST(('0x'||substr(md5(hc||'|f'||j),1,15)) AS BIGINT)
      |      % 1000000) / 1000000.0 AS REAL) AS DOUBLE) AS cv
      |  FROM m, range(0, $m08Dim) t(j)),
      |v AS (SELECT media_id, list(iv ORDER BY j) AS ivec,
      |    list(cv ORDER BY j) AS cvec FROM f GROUP BY 1),
      |nz AS (SELECT * FROM v
      |  WHERE list_inner_product(ivec, ivec) > 0
      |  AND list_inner_product(ivec, ivec) < 'Infinity'::DOUBLE
      |  AND list_inner_product(cvec, cvec) > 0
      |  AND list_inner_product(cvec, cvec) < 'Infinity'::DOUBLE),
      |c AS (SELECT media_id,
      |    round(list_cosine_similarity(ivec, cvec), 6) AS align_cosine
      |  FROM nz)
      |SELECT media_id, align_cosine, align_cosine >= $m08Tau AS aligned
      |FROM c ORDER BY media_id""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("m01_media_meta", m01MediaMeta, m01Sql),
    QueryDef("m02_media_features", m02MediaFeatures, m02Sql),
    QueryDef("m03_frame_sample", m03FrameSample, m03Sql),
    QueryDef("m04_resize", m04Resize, m04Sql),
    QueryDef("m05_chunk", m05Chunk, m05Sql),
    QueryDef("m06_media_dedup", m06MediaDedup, m06Sql),
    QueryDef("m07_phash_neardup", m07PhashNearDup, m07Sql),
    QueryDef("m08_caption_align", m08CaptionAlign, m08Sql),
  )
}
