package graft.queries

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import QueryKit._

/** Binary payloads: container sniffing, gzip inflation, and the real PNG,
  * WAV and Y4M decoders with their features, near-dup and frame sampling.
  * The oracles re-decode the same blobs with byte arithmetic alone. */
private[graft] object MultimodalQueries {

  /** Stored-deflate PNG fixture (media_id, payload) materialized once, so
    * the image oracles read the same blobs the Spark queries decode. */
  private val Img300 = new Fixture("img300", (s, path) =>
    Multimodal.synthImages(s, 300).toDF.write.mode("overwrite").parquet(path))
  private def images(s: SparkSession): Dataset[Multimodal.ImageRow] = {
    import s.implicits._
    s.read.parquet(Img300(s)).as[Multimodal.ImageRow]
  }

  /** WAV fixture (media_id, payload): real RIFF/PCM16 blobs, so the audio
    * oracle re-decodes the exact bytes with LE byte arithmetic. */
  private val Wav200 = new Fixture("wav200", (s, path) =>
    Multimodal.synthAudio(s, 200).toDF.write.mode("overwrite").parquet(path))
  private def audio(s: SparkSession): Dataset[Multimodal.AudioRow] = {
    import s.implicits._
    s.read.parquet(Wav200(s)).as[Multimodal.AudioRow]
  }

  /** Y4M fixture (media_id, payload): real YUV4MPEG2 C444 blobs — ASCII
    * header + raw planes, re-decodable by the oracle with byte math. */
  private val Y4m60 = new Fixture("y4m60", (s, path) =>
    Multimodal.synthVideos(s, 60).toDF.write.mode("overwrite").parquet(path))
  private def videos(s: SparkSession): Dataset[Multimodal.VideoRow] = {
    import s.implicits._
    s.read.parquet(Y4m60(s)).as[Multimodal.VideoRow]
  }

  /** Mixed binary-payload fixture for container sniffing: the three real
    * media fixtures (id-offset so they never collide) plus crafted
    * PDF/HTML/plain-text blobs and a RIFF/AVI near-miss that must NOT sniff
    * as WAV. */
  private val Mime600 = new Fixture("mime600", (s, path) => {
    import s.implicits._
    val img = images(s).toDF.select(col("media_id"), col("payload"))
    val wav = audio(s).toDF
      .select((col("media_id") + 10000).as("media_id"), col("payload"))
    val y4m = videos(s).toDF
      .select((col("media_id") + 20000).as("media_id"), col("payload"))
    val crafted = Seq(
      (30000L, "%PDF-1.7\n%fixture".getBytes("UTF-8")),
      (30001L, "<!DOCTYPE html><p>x</p>".getBytes("UTF-8")),
      (30002L, "<html><body>y</body></html>".getBytes("UTF-8")),
      (30003L, "plain text payload".getBytes("UTF-8")),
      (30004L, Array[Byte](0x52, 0x49, 0x46, 0x46, 1, 2, 3, 4,
        0x41, 0x56, 0x49, 0x20))
    ).toDF("media_id", "payload")
    img.unionByName(wav).unionByName(y4m).unionByName(crafted)
      .repartition(4).write.mode("overwrite").parquet(path)
  })

  /** Gzip fixture: 300 deterministic ASCII texts wrapped as stored-deflate
    * gzip members (single final stored block, asserted by gzipStored), so
    * the DuckDB oracle re-extracts the bytes with fixed-offset arithmetic. */
  private val Gz300 = new Fixture("gz300", (s, path) => {
    val r = new java.util.Random(20260817L)
    val words = Array("gzip", "stored", "deflate", "corpus", "shard",
      "wet", "page", "crawl", "ingest", "byte")
    val rows = (0 until 300).map { i =>
      val n = 20 + r.nextInt(400)
      val sb = new StringBuilder
      for (_ <- 0 until n) sb.append(words(r.nextInt(words.length))).append(' ')
      (i.toLong, graft.sources.BinaryPayloads.gzipStored(sb.toString.trim))
    }
    import s.implicits._
    rows.toDF("doc_id", "payload").repartition(4)
      .write.mode("overwrite").parquet(path)
  })

  /** Multi-block gzip fixture: 240 deterministic texts sized 20–1500 chars,
    * wrapped via [[graft.sources.BinaryPayloads.gzipStoredBlocks]] with a
    * 97-byte block cap (deliberately unaligned, 1–16 stored blocks per
    * member) — the oracle walks the chain with a recursive CTE. */
  private val GzMulti240 = new Fixture("gzmulti240", (s, path) => {
    val r = new java.util.Random(20260818L)
    val words = Array("multi", "block", "stored", "deflate", "chain",
      "walk", "recursive", "member", "shard", "byte")
    val rows = (0 until 240).map { i =>
      val n = 3 + r.nextInt(220)
      val sb = new StringBuilder
      for (_ <- 0 until n) sb.append(words(r.nextInt(words.length))).append(' ')
      (i.toLong,
        graft.sources.BinaryPayloads.gzipStoredBlocks(sb.toString.trim, 97))
    }
    import s.implicits._
    rows.toDF("doc_id", "payload").repartition(4)
      .write.mode("overwrite").parquet(path)
  })

  /** CTE chain decoding the stored-deflate PNG fixture blobs with byte
    * arithmetic alone (see ImageCodec.encodePngStored): hex → byte list,
    * IHDR dims, per-channel pixel lists (scanline filter bytes + 5-byte
    * stored-block headers skipped arithmetically), 8×8 area-average luma in
    * the exact Scala fold order, aHash bit pack. A true cross-engine check
    * of the DECODE path — DuckDB has no image codec. */
  private def imageCtes: String = {
    def chan(ch: Int): String = {
      val j = s"((i//w)*(1+3*w) + 1 + 3*(i%w) + $ch)"
      val off = s"(48 + ($j//65535)*65540 + ($j%65535))"
      s"list_transform(generate_series(0, w*ht-1), i -> bytes[$off+1])"
    }
    s"""hb AS (SELECT media_id,
  list_transform(regexp_extract_all(hex(payload), '..'),
    s -> (strpos('0123456789ABCDEF', substr(s,1,1))-1)*16 + strpos('0123456789ABCDEF', substr(s,2,1))-1) AS bytes
  FROM read_parquet('${Img300.path}/*.parquet')),
dims AS (SELECT media_id, bytes,
  bytes[18]*65536 + bytes[19]*256 + bytes[20] AS w,
  bytes[23]*256 + bytes[24] AS ht FROM hb),
lists AS (SELECT media_id, w, ht, ${chan(0)} AS rl, ${chan(1)} AS gl, ${chan(2)} AS bl FROM dims),
pc AS (SELECT media_id, unnest(list_transform(generate_series(0, w*ht-1), i ->
    {'ci': least(7, ((i//w)*8)//ht)*8 + least(7, ((i%w)*8)//w),
      'r': rl[i+1], 'g': gl[i+1], 'b': bl[i+1]})) AS c
  FROM lists),
cells AS (SELECT media_id, c.ci AS ci, SUM(c.r)::BIGINT AS sr, SUM(c.g)::BIGINT AS sg,
    SUM(c.b)::BIGINT AS sb, COUNT(*)::BIGINT AS n
  FROM pc GROUP BY media_id, c.ci),
luma AS (SELECT media_id, ci,
  (0.299::DOUBLE*sr::DOUBLE + 0.587::DOUBLE*sg::DOUBLE + 0.114::DOUBLE*sb::DOUBLE)/n::DOUBLE AS lum FROM cells),
m AS (SELECT media_id, list_reduce(list(lum ORDER BY ci), (a,b)->a+b)/64.0 AS mean FROM luma GROUP BY media_id),
bitsu AS (SELECT l.media_id, SUM(CASE WHEN l.lum >= m.mean THEN (1::HUGEINT << l.ci) ELSE 0::HUGEINT END) AS u
  FROM luma l JOIN m ON l.media_id = m.media_id GROUP BY l.media_id),
ah AS (SELECT media_id,
  CAST(${Osql.signed("u")} AS BIGINT) AS ahash FROM bitsu)"""
  }

  /** CTE chain re-decoding the Y4M fixture blobs (VideoCodec.encodeY4m):
    * ASCII header reconstructed char-by-char up to the first 0x0A and
    * regex-parsed for W/H/F; frame count derived from the byte length and
    * the C444 stride (6-byte FRAME marker + 3 full planes); per-frame luma
    * sums and inter-frame |ΔY| from raw plane bytes. */
  private def videoCtes: String =
    s"""vb AS (SELECT media_id,
  list_transform(regexp_extract_all(hex(payload), '..'),
    s -> (strpos('0123456789ABCDEF', substr(s,1,1))-1)*16 + strpos('0123456789ABCDEF', substr(s,2,1))-1) AS bytes
  FROM read_parquet('${Y4m60.path}/*.parquet')),
vhdr AS (SELECT media_id, bytes, list_position(bytes, 10) AS nl FROM vb),
vdim AS (SELECT media_id, bytes, nl,
  CAST(regexp_extract(array_to_string(list_transform(bytes[1:nl-1], b -> chr(b::INTEGER)), ''), ' W(\\d+)', 1) AS INTEGER) AS w,
  CAST(regexp_extract(array_to_string(list_transform(bytes[1:nl-1], b -> chr(b::INTEGER)), ''), ' H(\\d+)', 1) AS INTEGER) AS h,
  CAST(regexp_extract(array_to_string(list_transform(bytes[1:nl-1], b -> chr(b::INTEGER)), ''), ' F(\\d+):(\\d+)', 1) AS INTEGER) AS fps_num
  FROM vhdr),
vfc AS (SELECT *, (len(bytes) - nl) // (6 + 3*w*h) AS n_frames FROM vdim),
vfr AS (SELECT media_id, w, h, fps_num, n_frames, nl, bytes,
  unnest(generate_series(0, n_frames - 1)) AS f FROM vfc),
vluma AS (SELECT media_id, w, h, fps_num, n_frames, f,
  list_sum(list_transform(bytes[(nl + f*(6+3*w*h) + 7):(nl + f*(6+3*w*h) + 6 + w*h)], b -> CAST(b AS BIGINT)))::BIGINT AS luma
  FROM vfr),
vmot AS (SELECT media_id,
  COALESCE(SUM(m), 0)::BIGINT AS motion_sum FROM (
    SELECT media_id, list_sum(list_transform(generate_series(1, w*h), i ->
      abs(CAST(bytes[nl + f*(6+3*w*h) + 6 + i] AS BIGINT) - bytes[nl + (f-1)*(6+3*w*h) + 6 + i]))) AS m
    FROM vfr WHERE f >= 1) GROUP BY media_id)"""

  def specs: Seq[QuerySpec] = Seq(

    // container sniffing by magic bytes over a mixed binary-payload table
    // (PNG ∪ WAV ∪ Y4M ∪ crafted PDF/HTML/text/near-miss blobs)
    QuerySpec("q_mime_sniff", (s, d) => Multimodal.sniffMime(
      s.read.parquet(Mime600(s)), "media_id", "payload"),
      // container sniffing: DuckDB hexes the whole blob and prefix-matches
      // the same magic strings
      s"""WITH m AS (SELECT media_id,
             substring(upper(hex(payload)), 1, 24) AS magic24
           FROM read_parquet('${Mime600.path}/*.parquet'))
         SELECT media_id, magic24,
           CASE WHEN starts_with(magic24, '89504E47') THEN 'image/png'
                WHEN starts_with(magic24, '52494646')
                  AND substring(magic24, 17, 8) = '57415645' THEN 'audio/x-wav'
                WHEN starts_with(magic24, '595556344D50454732') THEN 'video/x-y4m'
                WHEN starts_with(magic24, '255044462D') THEN 'application/pdf'
                WHEN starts_with(magic24, '3C21444F43')
                  OR starts_with(magic24, '3C21646F63')
                  OR starts_with(magic24, '3C68746D6C')
                  OR starts_with(magic24, '3C48544D4C') THEN 'text/html'
                ELSE 'application/octet-stream' END AS mime
         FROM m"""),

    // gzip payload ingestion: JDK inflate in the scan stage; full-content
    // check via the decoded text's fingerprint
    QuerySpec("q_gunzip", (s, d) => graft.sources.BinaryPayloads
      .gunzipTexts(s.read.parquet(Gz300(s)), "doc_id", "payload")
      .select(col("doc_id"), col("n_bytes"),
        graft.expressions.TextHashExpressions.fingerprint64(col("text")).as("fp"),
        substring(col("text"), 1, 60).as("head60")),
      // gzip replica: fixed-offset stored-deflate extraction (10-byte header,
      // 1-byte block header, LE length, data) + fingerprint64 of the decoded
      // text via the HUGEINT chain — DuckDB "gunzips" with byte arithmetic
      s"""WITH raw AS (SELECT doc_id,
    list_transform(regexp_extract_all(hex(payload), '..'),
      s -> (strpos('0123456789ABCDEF', substr(s, 1, 1)) - 1) * 16 +
           strpos('0123456789ABCDEF', substr(s, 2, 1)) - 1) AS bytes
  FROM read_parquet('${Gz300.path}/*.parquet')),
b2 AS (SELECT doc_id, bytes, bytes[12] + 256 * bytes[13] AS len FROM raw),
dec AS (SELECT doc_id, len,
    array_to_string(list_transform(bytes[16 : 15 + len], b -> chr(CAST(b AS INTEGER))), '') AS text
  FROM b2),
f0 AS (SELECT doc_id, len, text,
  list_reduce(list_prepend(0::HUGEINT,
    list_transform(regexp_extract_all(text, '(?s).'), c -> ord(c)::HUGEINT)),
  (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM dec),
${Osql.mixCtes("f", "x")}
SELECT doc_id, CAST(len AS BIGINT) AS n_bytes,
  CAST(${Osql.signed("x")} AS BIGINT) AS fp,
  substring(text, 1, 60) AS head60
FROM fd"""),

    // multi-block gzip members (stored blocks chained per RFC 1951): the
    // same inflater scan; the oracle must WALK the block chain with a
    // recursive CTE instead of slicing one fixed window
    QuerySpec("q_gunzip_multi", (s, d) => graft.sources.BinaryPayloads
      .gunzipTexts(s.read.parquet(GzMulti240(s)), "doc_id", "payload")
      .select(col("doc_id"), col("n_bytes"),
        graft.expressions.TextHashExpressions.fingerprint64(col("text")).as("fp"),
        substring(col("text"), 1, 60).as("head60")),
      // multi-block gzip replica: a RECURSIVE CTE walks the stored-deflate
      // block chain (off → 1-byte BFINAL/BTYPE header, LEN little-endian,
      // LEN data bytes → off + 5 + LEN) until BFINAL; fixture is ASCII so
      // decoded char length == byte length
      s"""WITH RECURSIVE raw AS (SELECT doc_id,
    list_transform(regexp_extract_all(hex(payload), '..'),
      s -> (strpos('0123456789ABCDEF', substr(s, 1, 1)) - 1) * 16 +
           strpos('0123456789ABCDEF', substr(s, 2, 1)) - 1) AS bytes
  FROM read_parquet('${GzMulti240.path}/*.parquet')),
walk AS (
  SELECT doc_id, bytes, CAST(11 AS BIGINT) AS off, '' AS txt, 0 AS fin FROM raw
  UNION ALL
  SELECT doc_id, bytes,
    off + 5 + bytes[off + 1] + 256 * bytes[off + 2],
    txt || array_to_string(list_transform(
      bytes[off + 5 : off + 4 + bytes[off + 1] + 256 * bytes[off + 2]],
      b -> chr(CAST(b AS INTEGER))), ''),
    CAST(bytes[off] % 2 AS INTEGER)
  FROM walk WHERE fin = 0),
g0 AS (SELECT doc_id, txt,
  list_reduce(list_prepend(0::HUGEINT,
    list_transform(regexp_extract_all(txt, '(?s).'), c -> ord(c)::HUGEINT)),
  (a, b) -> (a * 257::HUGEINT + b) % ${Osql.Mod}) AS x
  FROM walk WHERE fin = 1),
${Osql.mixCtes("g", "x")}
SELECT doc_id, CAST(len(txt) AS BIGINT) AS n_bytes,
  CAST(${Osql.signed("x")} AS BIGINT) AS fp,
  substring(txt, 1, 60) AS head60
FROM gd"""),

    // multimodal generic plane: MIXED real payloads (PNG/WAV/Y4M blobs plus
    // PDF/HTML/junk) routed by sniffed magic through the REAL codecs in one
    // batched scan-side pass → typed dims (nulls where the container has
    // none) → resize plan. The DuckDB oracle re-sniffs the same blobs and
    // re-derives every dimension from container bytes.
    QuerySpec("q_multimodal_features", (s, d) => {
      val media = s.read.parquet(Mime600(s))
      Multimodal.resizePlan(
          Multimodal.extractFeatures(media, "media_id", "payload"), maxEdge = 256)
        .select(col("media_id"), col("mime"),
          col("byte_len").cast("long").as("byte_len"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("out_width").cast("long").as("out_width"),
          col("out_height").cast("long").as("out_height"))
    },
      // generic-plane replica over the MIXED real-blob fixture: magic sniff by
      // hex prefix (exactly Multimodal.sniffMime), then per-container byte
      // arithmetic — PNG IHDR big-endian dims, canonical WAV fmt/data little-
      // endian fields, Y4M ASCII header + frame count from the C444 stride —
      // plus the resize-plan double math (all proven-exact ops)
      s"""WITH hb AS (SELECT media_id, payload, octet_length(payload)::BIGINT AS byte_len,
  upper(substr(hex(payload), 1, 24)) AS magic
  FROM read_parquet('${Mime600.path}/*.parquet')),
mm AS (SELECT media_id, payload, byte_len,
  CASE WHEN magic LIKE '89504E47%' THEN 'image/png'
       WHEN magic LIKE '52494646%' AND substr(magic, 17, 8) = '57415645' THEN 'audio/x-wav'
       WHEN magic LIKE '595556344D50454732%' THEN 'video/x-y4m'
       WHEN magic LIKE '255044462D%' THEN 'application/pdf'
       WHEN magic LIKE '3C21444F43%' OR magic LIKE '3C21646F63%'
         OR magic LIKE '3C68746D6C%'
         OR magic LIKE '3C48544D4C%' THEN 'text/html'
       ELSE 'application/octet-stream' END AS mime
  FROM hb),
png AS (SELECT media_id, mime, byte_len,
    (b[18]*65536 + b[19]*256 + b[20])::BIGINT AS width,
    (b[23]*256 + b[24])::BIGINT AS height,
    1::BIGINT AS n_frames, NULL::BIGINT AS sample_rate
  FROM (SELECT media_id, mime, byte_len,
      list_transform(regexp_extract_all(substr(hex(payload), 1, 48), '..'),
        s -> (strpos('0123456789ABCDEF', substr(s,1,1))-1)*16 + strpos('0123456789ABCDEF', substr(s,2,1))-1) AS b
    FROM mm WHERE mime = 'image/png')),
wav AS (SELECT media_id, mime, byte_len,
    NULL::BIGINT AS width, NULL::BIGINT AS height,
    ((b[41] + b[42]*256 + b[43]*65536 + b[44]*16777216)
      // (2 * (b[23] + b[24]*256)))::BIGINT AS n_frames,
    (b[25] + b[26]*256 + b[27]*65536 + b[28]*16777216)::BIGINT AS sample_rate
  FROM (SELECT media_id, mime, byte_len,
      list_transform(regexp_extract_all(substr(hex(payload), 1, 88), '..'),
        s -> (strpos('0123456789ABCDEF', substr(s,1,1))-1)*16 + strpos('0123456789ABCDEF', substr(s,2,1))-1) AS b
    FROM mm WHERE mime = 'audio/x-wav')),
y4m AS (SELECT media_id, mime, byte_len,
    w::BIGINT AS width, h::BIGINT AS height,
    ((byte_len - nl) // (6 + 3*w*h))::BIGINT AS n_frames, NULL::BIGINT AS sample_rate
  FROM (SELECT media_id, mime, byte_len, list_position(b, 10) AS nl,
      CAST(regexp_extract(array_to_string(list_transform(b[1:list_position(b,10)-1],
        x -> chr(x::INTEGER)), ''), ' W(\\d+)', 1) AS BIGINT) AS w,
      CAST(regexp_extract(array_to_string(list_transform(b[1:list_position(b,10)-1],
        x -> chr(x::INTEGER)), ''), ' H(\\d+)', 1) AS BIGINT) AS h
    FROM (SELECT media_id, mime, byte_len,
        list_transform(regexp_extract_all(substr(hex(payload), 1, 160), '..'),
          s -> (strpos('0123456789ABCDEF', substr(s,1,1))-1)*16 + strpos('0123456789ABCDEF', substr(s,2,1))-1) AS b
      FROM mm WHERE mime = 'video/x-y4m'))),
oth AS (SELECT media_id, mime, byte_len, NULL::BIGINT AS width, NULL::BIGINT AS height,
    NULL::BIGINT AS n_frames, NULL::BIGINT AS sample_rate
  FROM mm WHERE mime NOT IN ('image/png', 'audio/x-wav', 'video/x-y4m')),
u AS (SELECT * FROM png UNION ALL SELECT * FROM wav
  UNION ALL SELECT * FROM y4m UNION ALL SELECT * FROM oth),
sc AS (SELECT *, CASE WHEN width IS NULL OR height IS NULL THEN NULL
       WHEN greatest(width, height) <= 256 THEN 1.0::DOUBLE
       ELSE 256::DOUBLE / greatest(width, height)::DOUBLE END AS scale FROM u)
SELECT media_id, mime, byte_len, width, height, n_frames, sample_rate,
  CASE WHEN scale IS NULL THEN NULL
    ELSE GREATEST(1, CAST(ROUND(width::DOUBLE * scale) AS BIGINT)) END AS out_width,
  CASE WHEN scale IS NULL THEN NULL
    ELSE GREATEST(1, CAST(ROUND(height::DOUBLE * scale) AS BIGINT)) END AS out_height
FROM sc"""),

    // multimodal image plane: REAL PNG decode (javax.imageio) → perceptual
    // aHash → pigeonhole Hamming near-dup join (exact recall). Payloads are
    // stored-deflate PNGs materialized to parquet, so the DuckDB oracle
    // re-decodes the very same blobs with byte arithmetic.
    QuerySpec("q_image_neardup", (s, d) => Multimodal.imageNearDup(
      Multimodal.extractImageFeatures(images(s)), maxHamming = 4),
      s"""WITH $imageCtes
SELECT l.media_id AS left_id, r.media_id AS right_id,
  CAST(bit_count(xor(l.ahash, r.ahash)) AS INT) AS hamming
FROM ah l JOIN ah r ON l.media_id < r.media_id
WHERE bit_count(xor(l.ahash, r.ahash)) <= 4"""),

    // decode + feature extraction itself, oracle-checked: dimensions, exact
    // per-channel pixel sums, and the 64-bit perceptual aHash
    QuerySpec("q_image_features", (s, d) =>
      Multimodal.extractImageFeatures(images(s)).toDF
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("sum_r"), col("sum_g"), col("sum_b"), col("ahash")),
      // full PNG re-decode in SQL (stored-deflate blobs): dims + exact pixel
      // sums + perceptual aHash, then brute-force Hamming pairs
      s"""WITH $imageCtes
SELECT l.media_id, l.w AS width, l.ht AS height,
  list_sum(l.rl)::BIGINT AS sum_r, list_sum(l.gl)::BIGINT AS sum_g,
  list_sum(l.bl)::BIGINT AS sum_b, ah.ahash
FROM lists l JOIN ah ON l.media_id = ah.media_id"""),

    // multimodal audio plane: REAL WAV (RIFF/PCM16) decode — fmt-chunk
    // fields + all-integer sample statistics, every one recomputed by the
    // DuckDB oracle from the same blobs via little-endian byte arithmetic
    QuerySpec("q_audio_features", (s, d) =>
      Multimodal.extractAudioFeatures(audio(s)).toDF
        .select(col("media_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("n_frames").cast("long").as("n_frames"),
          col("sum_abs"), col("sum_sq"),
          col("zero_crossings").cast("long").as("zero_crossings"),
          col("peak").cast("long").as("peak")),
      // full WAV re-decode in SQL: header fields + int16 reconstruction +
      // integer sample statistics. The CTEs re-decode the WAV fixture blobs
      // with little-endian byte
      // arithmetic (see AudioCodec.encodeWavPcm16's fixed canonical layout:
      // fmt chunk at byte 13, data chunk at byte 37, samples from byte 45 —
      // 1-indexed): channels/rate/data-length from the headers, int16 sample
      // reconstruction with sign fold, then the same all-integer statistics
      // the Spark decoder computes. A true cross-engine check of the audio
      // DECODE path — DuckDB has no audio codec.
      s"""WITH hb AS (SELECT media_id,
  list_transform(regexp_extract_all(hex(payload), '..'),
    s -> (strpos('0123456789ABCDEF', substr(s,1,1))-1)*16 + strpos('0123456789ABCDEF', substr(s,2,1))-1) AS bytes
  FROM read_parquet('${Wav200.path}/*.parquet')),
fmt AS (SELECT media_id, bytes,
  (bytes[23] + bytes[24]*256) AS channels,
  (bytes[25] + bytes[26]*256 + bytes[27]*65536 + bytes[28]*16777216) AS sample_rate,
  (bytes[41] + bytes[42]*256 + bytes[43]*65536 + bytes[44]*16777216) AS data_len
  FROM hb),
samp AS (SELECT media_id, channels, sample_rate, data_len // (2*channels) AS n_frames,
  list_transform(generate_series(0, data_len//2 - 1), i ->
    CASE WHEN bytes[45+2*i] + bytes[46+2*i]*256 >= 32768
         THEN CAST(bytes[45+2*i] + bytes[46+2*i]*256 - 65536 AS BIGINT)
         ELSE CAST(bytes[45+2*i] + bytes[46+2*i]*256 AS BIGINT) END) AS s
  FROM fmt),
afeat AS (SELECT media_id, sample_rate::BIGINT AS sample_rate,
  channels::BIGINT AS channels, n_frames::BIGINT AS n_frames,
  list_sum(list_transform(s, v -> abs(v)))::BIGINT AS sum_abs,
  list_sum(list_transform(s, v -> v*v))::BIGINT AS sum_sq,
  COALESCE(list_sum(list_transform(generate_series(1, n_frames - 1), f ->
    CASE WHEN (s[1+(f-1)*channels] < 0) <> (s[1+f*channels] < 0) THEN 1 ELSE 0 END)), 0)::BIGINT AS zero_crossings,
  list_max(list_transform(s, v -> abs(v)))::BIGINT AS peak
  FROM samp)
SELECT media_id, sample_rate, channels, n_frames, sum_abs, sum_sq,
  zero_crossings, peak FROM afeat"""),

    // multimodal video plane: REAL Y4M (YUV4MPEG2 C444) decode — header
    // parse + frame walk; luma and inter-frame motion sums are integer-exact
    QuerySpec("q_video_features", (s, d) =>
      Multimodal.extractVideoFeatures(videos(s)).toDF
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("fps_num").cast("long").as("fps_num"),
          col("n_frames").cast("long").as("n_frames"),
          col("luma_sum"), col("motion_sum")),
      // full Y4M re-decode in SQL: ASCII header parse + frame walk
      s"""WITH $videoCtes
SELECT l.media_id, MIN(l.w)::BIGINT AS width, MIN(l.h)::BIGINT AS height,
  MIN(l.fps_num)::BIGINT AS fps_num, MIN(l.n_frames)::BIGINT AS n_frames,
  SUM(l.luma)::BIGINT AS luma_sum,
  COALESCE(MIN(m.motion_sum), 0)::BIGINT AS motion_sum
FROM vluma l LEFT JOIN vmot m ON l.media_id = m.media_id
GROUP BY l.media_id"""),

    // real frame sampling: every 2nd frame's luma sum (pixels touched)
    QuerySpec("q_video_frame_sample", (s, d) =>
      Multimodal.sampleVideoFrames(videos(s), stride = 2)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame_luma")),
      s"""WITH $videoCtes
SELECT media_id, f::BIGINT AS frame_idx, luma AS frame_luma
FROM vluma WHERE f % 2 = 0"""),
  )
}
