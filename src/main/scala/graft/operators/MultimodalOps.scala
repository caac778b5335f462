package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{IndexStore, Tables}

/** Multimodal columns: image/audio/video as opaque BINARY payloads with
  * typed metadata, plus the operator set a training-data pipeline runs
  * over them — metadata extraction, frame sampling, feature extraction,
  * resize, and a decode boundary.
  *
  * The container ships no image/audio codecs, so DECODING IS STUBBED:
  * [[FakeDecoder]] is a deterministic stand-in behind the
  * [[MediaDecoder]] interface; swapping in a real codec changes no
  * Spark plumbing. Everything around the stub is real: BinaryType
  * columns, metadata structs, byte-slice frame math in codegen'd
  * expressions, and a typed `mapPartitions` decode whose
  * iterator-per-partition shape is the JVM analog of an Arrow-batch
  * decode UDF (partition = batch).
  *
  * Scale: every operator is scan → project/explode → (optional)
  * partial-agg; payload bytes never shuffle except the per-frame
  * digests (16-byte frames → 16-byte md5), and the decode runs
  * data-local per partition.
  *
  * The fixture synthesizes payloads from `documents.text` bytes —
  * ASCII, so the DuckDB oracle mirrors byte ops in VARCHAR space with
  * identical semantics (OracleMultimodal).
  */
object MultimodalOps {

  /** Bytes per synthetic "frame" of a payload. */
  val FrameBytes = 16

  /** Opaque-media view: payload + typed metadata, media kind round-
    * robined across image/audio/video.
    */
  def media(spark: SparkSession, dir: String): DataFrame =
    mediaFrom(Tables.documents(spark, dir))

  /** The opaque-media view over any documents frame — shared with the
    * streaming media store ([[graft.streaming.StreamingMedia]]), which
    * derives per-batch slices from THIS definition. */
  private[graft] def mediaFrom(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, lit("image"))
        .when(col("doc_id") % 3 === 1, lit("audio"))
        .otherwise(lit("video")).as("media_type"),
      col("text").cast("binary").as("payload"),
      struct(
        (lit(16) + col("doc_id") % 64).cast("int").as("width"),
        (lit(16) + col("doc_id") % 48).cast("int").as("height"),
        expr(s"CAST(ceil(length(text) / $FrameBytes.0) AS INT)").as("n_frames")
      ).as("meta"))

  /** Metadata + payload-size extraction (pure projection). */
  def mediaMetadata(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir).select(
      col("media_id"),
      col("media_type"),
      length(col("payload")).cast("long").as("n_bytes"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      col("meta.n_frames").cast("long").as("n_frames"))

  /** Frame sampling: every 2nd frame, identified by its digest — the
    * video-keyframe access pattern (payload sliced by byte math, no
    * decode needed).
    */
  /** Frame index array, guarded for empty payloads: Spark's
    * `sequence(0, -1)` is the DESCENDING [0, -1] (step defaults to -1
    * when start > stop), not [] — unguarded, a zero-byte payload would
    * emit phantom frames (and frame_idx -1 reads from the payload's
    * END via negative substring). Same guard discipline as
    * TextOps.shingles; DuckDB's `range(0)` is already empty.
    */
  private val frameIdxs =
    "CASE WHEN meta.n_frames >= 1 THEN sequence(0, meta.n_frames - 1) ELSE CAST(array() AS array<int>) END"

  def mediaFrames(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir)
      .select(col("media_id"), col("payload"),
        explode(expr(s"filter($frameIdxs, i -> i % 2 = 0)"))
          .as("frame_idx"))
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        md5(expr(s"substring(payload, frame_idx * $FrameBytes + 1, $FrameBytes)"))
          .as("frame_md5"))

  /** Per-media feature extraction over all frames — the feature values
    * are digest-derived stand-ins for codec output (see FakeDecoder
    * note); the explode → partial-agg shape is the real pipeline.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir)
      .select(col("media_id"), col("payload"),
        explode(expr(frameIdxs)).as("frame_idx"))
      .select(col("media_id"),
        expr(s"""CAST(conv(substring(md5(substring(payload, frame_idx * $FrameBytes + 1,
                 $FrameBytes)), 1, 8), 16, 10) AS BIGINT) % 256""").as("f"))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames_scanned"),
        (sum(col("f")).cast("double") / count(lit(1))).as("mean_feature"))

  /** Perceptual AVERAGE-HASH at frame granularity (the aHash family:
    * bit = unit brighter than the media's mean), over the same
    * digest-derived per-frame feature [[mediaFeatures]] extracts — for
    * video this is exactly keyframe-level aHash, the cheap perceptual
    * signature near-dup pipelines band on. The above/below-mean test
    * is CROSS-MULTIPLIED (`f·n > Σf`) so every bit is an exact integer
    * decision; the bitstring assembles in frame order via a sorted
    * struct array (deterministic under any partitioning), and the md5
    * gives the bandable fixed-width signature.
    *
    * Shape: one frame explode → one per-media aggregate carrying
    * (count, sum, ordered feature list ≤ n_frames ints) — payload
    * bytes never shuffle.
    */
  def mediaAhash(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir)
      .select(col("media_id"), col("payload"),
        explode(expr(frameIdxs)).as("frame_idx"))
      .select(col("media_id"), col("frame_idx"),
        expr(s"""CAST(conv(substring(md5(substring(payload, frame_idx * $FrameBytes + 1,
                 $FrameBytes)), 1, 8), 16, 10) AS BIGINT) % 256""").as("f"))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("f")).as("fsum"),
        sort_array(collect_list(struct(col("frame_idx"), col("f")))).as("fs"))
      .select(col("media_id"), col("n_frames"),
        expr("CAST(size(filter(fs, x -> x.f * n_frames > fsum)) AS BIGINT)")
          .as("n_ones"),
        expr("""concat_ws('', transform(fs,
                |  x -> CASE WHEN x.f * n_frames > fsum THEN '1' ELSE '0' END))"""
          .stripMargin).as("ahash"))
      .withColumn("ahash_md5", md5(col("ahash")))

  /** "Resize": keep the first half of the payload, halve the spatial
    * metadata — a byte-level truncation standing in for a real
    * downscale, with the checksum proving which bytes survived.
    */
  /** Frame-signature agreement fraction at or above which a
    * [[mediaDedupNear]] candidate counts as a payload-signal edge in
    * [[mediaSemdedup]] (the [[graft.streaming.StreamingCorpus]]
    * NearDupEst bar: one shared band + 5/9 agreement).
    */
  val MediaDupEst: Double = 5.0 / 9

  /** CROSS-MODAL dedup composition — one keep/drop decision per media
    * item from BOTH duplicate signals a multimodal (image+caption)
    * corpus needs:
    *   - PAYLOAD signal: exact content dups (md5 groups as star
    *     edges to the group min) plus frame-MinHash near-dups
    *     ([[mediaDedupNear]] candidates at ≥ [[MediaDupEst]]
    *     agreement) — catches re-encodes/trims of the same pixels;
    *   - SEMANTIC signal: the aligned caption-embedding near-dups
    *     (VectorOps.dedupEmbedding, cosine-verified pairs) — catches
    *     the same scene re-shot / re-captioned, which shares no
    *     payload bytes.
    * The union edge set propagates to connected components (the
    * bounded min-label rounds every dedup family shares —
    * TextOps.propagateBounded), so a chain A ~payload~ B ~semantic~ C
    * collapses to ONE curation cluster; keep = cluster minimum. Each
    * row also carries which signal(s) touched the item — the audit
    * columns a curation review reads (the spec plants a pair only the
    * union catches).
    *
    * Shape at 100 TB: both pair generators are banded equi-joins
    * (never all-pairs), the exact-dup stars are one digest-keyed
    * window, propagation is join + partial-agg rounds over the pair
    * graph, and the final assembly is three left joins on media_id.
    */
  def mediaSemdedup(spark: SparkSession, dir: String): DataFrame = {
    val exactEdges = media(spark, dir)
      .select(col("media_id"), md5(col("payload")).as("digest"))
      .withColumn("canon",
        min(col("media_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("digest"))))
      .where(col("media_id") =!= col("canon"))
      .select(col("canon").as("media_a"), col("media_id").as("media_b"))
    val nearEdges = mediaDedupNear(spark, dir)
      .where(col("est_jaccard") >= MediaDupEst)
      .select(col("media_a"), col("media_b"))
    // each edge stream feeds TWO consumers (the union + its signal
    // flag), and the propagation rounds read the union twice per
    // round — memoize both so the frame-MinHash and banded-cosine
    // chains derive once per session, not ~6× per run (measured:
    // uncut 6.0 s, per-call lineage cuts 4.2 s, memoized edges the
    // graph-family round-latency floor)
    val payloadEdges = IndexStore.frame(spark, dir, "media_payload_edges") {
      exactEdges.unionAll(nearEdges)
    }
    val semEdges = IndexStore.frame(spark, dir, "media_sem_edges") {
      VectorOps.dedupEmbedding(spark, dir)
        .select(col("vec_a").as("media_a"), col("vec_b").as("media_b"))
    }
    // the labels are themselves memoized (the dedupClusters cc_labels
    // pattern): the propagation rounds reference their input twice per
    // round, so an unpinned plan doubles the WHOLE upstream chain per
    // round — measured 28 s of driver-side analysis over the memoized
    // edge frames alone. Inside the memo build, one lineage cut on the
    // symmetrized edges keeps the round plans trivial; after the build
    // every run reads the cached label table.
    val labels = IndexStore.frame(spark, dir, "media_cc_labels") {
      val edges = payloadEdges.unionAll(semEdges)
        .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
        .distinct()
      TextOps.propagateBounded(TextOps.cutLineage(edges.unionAll(
        edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))))
    }
    def flag(e: DataFrame, name: String): DataFrame =
      e.select(explode(array(col("media_a"), col("media_b"))).as("media_id"))
        .distinct().withColumn(name, lit(true))
    media(spark, dir).select(col("media_id"))
      .join(labels.select(col("node").as("media_id"),
        col("label").as("cluster_id")), Seq("media_id"), "left")
      .join(flag(payloadEdges, "payload_signal"), Seq("media_id"), "left")
      .join(flag(semEdges, "semantic_signal"), Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("cluster_id"), col("media_id")).as("cluster_id"),
        coalesce(col("payload_signal"), lit(false)).as("payload_signal"),
        coalesce(col("semantic_signal"), lit(false)).as("semantic_signal"))
      .withColumn("keep", col("media_id") === col("cluster_id"))
  }

  def mediaResize(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir).select(
      col("media_id"),
      // floor on both engines: a bare int cast truncates in Spark but
      // rounds in DuckDB for the odd-width half values
      expr("CAST(floor(meta.width / 2) AS INT)").as("width"),
      expr("CAST(floor(meta.height / 2) AS INT)").as("height"),
      length(expr("substring(payload, 1, CAST(floor(length(payload) / 2) AS INT))"))
        .cast("long").as("n_bytes"),
      md5(expr("substring(payload, 1, CAST(floor(length(payload) / 2) AS INT))"))
        .as("checksum"))

  /** Exact media dedup: full-payload digest groupBy with the smallest
    * media_id as canonical — the image/audio-level member of the dedup
    * family ([[graft.operators.TextOps.dedupExact]] for binary
    * columns). One shuffle of 16-byte digests; payload bytes never
    * move.
    */
  def mediaDedupExact(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir)
      .groupBy(md5(col("payload")).as("content_hash"))
      .agg(min(col("media_id")).as("canonical_media_id"),
        count(lit(1)).as("n_copies"))

  /** Near-duplicate media via MinHash over FRAME digests: each item's
    * "shingle set" is its per-frame digest set (the keyframe-
    * fingerprint pattern — re-encoded or trimmed variants share most
    * frames), run through the same signature → banded-LSH → candidate
    * machinery as the text family (TextOps.rotLong/sigBandKeysExpr are
    * shared code). Emits candidate pairs with the signature-agreement
    * Jaccard estimate; exact frame-set verification composes
    * downstream exactly like dedup_ngram_jaccard does for text.
    */
  def mediaDedupNear(spark: SparkSession, dir: String): DataFrame = {
    // memoized like TextOps.minhashSignatures: the signature table is
    // the expensive artifact (payload frame explode + 9 rotation
    // mins), shared between this query and the cross-modal
    // composition ([[mediaSemdedup]]'s payload-signal edges)
    val sigs = IndexStore.frame(spark, dir, "media_frame_sigs") {
      mediaFrameSigsFrom(media(spark, dir))
    }
    mediaNearPairsFrom(sigs)
  }

  /** Frame-digest MinHash signatures over any media-shaped frame —
    * a per-item derivation, so the streaming media store computes it
    * batch-locally from THIS definition. */
  private[graft] def mediaFrameSigsFrom(m: DataFrame): DataFrame =
    m.select(col("media_id"), col("payload"),
        explode(expr(frameIdxs)).as("frame_idx"))
      .select(col("media_id"),
        md5(expr(s"substring(payload, frame_idx * $FrameBytes + 1, $FrameBytes)"))
          .as("h"))
      .groupBy(col("media_id"))
      .agg(array((0 until TextOps.NumHashes)
        .map(s => min(TextOps.rotLong("h", s * 3))): _*).as("sig"))

  /** Banded candidate pairs + agreement estimate over any
    * (media_id, sig) frame — shared with the streaming media store's
    * read side. */
  private[graft] def mediaNearPairsFrom(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(
      col("media_id"), col("sig"),
      posexplode(expr(TextOps.sigBandKeysExpr)).as(Seq("band_idx", "band_key")))
    val a = bands.select(col("media_id").as("media_a"), col("sig").as("sig_a"),
      col("band_idx"), col("band_key"))
    val b = bands.select(col("media_id").as("media_b"), col("sig").as("sig_b"),
      col("band_idx"), col("band_key"))
    a.join(b, Seq("band_idx", "band_key"))
      .where(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"),
        (expr(s"""size(filter(sequence(1, ${TextOps.NumHashes}),
                  i -> sig_a[i - 1] = sig_b[i - 1]))""")
          .cast("double") / TextOps.NumHashes).as("est_jaccard"))
      .distinct()
  }

  // -------------------------------------------------------------------
  // Decode boundary (real pure-JVM PPM codec)
  // -------------------------------------------------------------------

  final case class MediaRow(media_id: Long, payload: Array[Byte])

  /** A real decode's output: everything below is PARSED from the
    * payload bytes, never read off metadata columns.
    */
  final case class DecodedMedia(
      media_id: Long, dec_width: Int, dec_height: Int, dec_maxval: Int,
      n_pixel_bytes: Long, brightness: Long)

  /** The codec interface a real deployment implements. Deliberately
    * bytes-in, struct-out so the Spark side is codec-agnostic:
    * [[PpmDecoder]] is the shipped pure-JVM member; a libjpeg/ffmpeg
    * binding slots in with zero plumbing change (the formats the
    * container lacks codecs for).
    */
  trait MediaDecoder extends Serializable {
    def decode(row: MediaRow): DecodedMedia
  }

  /** Binary PPM (P6) decoder — an actual parser, not a stub: header
    * tokenizer with `#`-comment and whitespace handling per the netpbm
    * spec, the single post-maxval whitespace byte before the raster,
    * then a byte-sum brightness fold over exactly width·height·3
    * raster bytes. PPM because it is the one raster format a
    * dependency-free JVM can decode honestly.
    */
  object PpmDecoder extends MediaDecoder {
    def decode(row: MediaRow): DecodedMedia = {
      val b = row.payload
      var i = 0
      def isWs(c: Byte): Boolean =
        c == ' ' || c == '\n' || c == '\r' || c == '\t'
      def token(): String = {
        var scanning = true
        while (scanning) { // whitespace runs and #-comment lines interleave
          while (i < b.length && isWs(b(i))) i += 1
          if (i < b.length && b(i) == '#') {
            while (i < b.length && b(i) != '\n') i += 1
          } else scanning = false
        }
        val s = i
        while (i < b.length && !isWs(b(i))) i += 1
        new String(b, s, i - s, java.nio.charset.StandardCharsets.US_ASCII)
      }
      val magic = token()
      require(magic == "P6", s"media ${row.media_id}: not binary PPM: '$magic'")
      val w = token().toInt
      val h = token().toInt
      val maxval = token().toInt
      require(w > 0 && h > 0 && maxval > 0 && maxval < 65536,
        s"media ${row.media_id}: bad PPM header $w x $h maxval $maxval")
      i += 1 // spec: EXACTLY one whitespace byte separates maxval and raster
      // netpbm: maxval > 255 means TWO bytes per sample, big-endian
      val bps = if (maxval > 255) 2 else 1
      val n = w * h * 3 * bps
      require(b.length - i >= n,
        s"media ${row.media_id}: truncated raster: ${b.length - i} < $n")
      var sum = 0L
      var j = i
      val end = i + n
      if (bps == 1) while (j < end) { sum += (b(j) & 0xff); j += 1 }
      else while (j < end) {
        sum += ((b(j) & 0xff) << 8) | (b(j + 1) & 0xff); j += 2
      }
      DecodedMedia(row.media_id, w, h, maxval, n.toLong, sum)
    }
  }

  /** PPM-framed media: each document's bytes wrapped as a syntactically
    * valid P6 payload (header with a comment line, then the text bytes
    * cycled to exactly w·h·3 raster bytes via rpad — ASCII, so the
    * DuckDB oracle mirrors the raster in VARCHAR space). Dimensions are
    * deliberately SMALLER than [[media]]'s metadata so nothing decoded
    * can be read off a column.
    */
  def mediaPpm(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        expr("CAST(8 + doc_id % 16 AS INT)").as("w"),
        expr("CAST(8 + doc_id % 12 AS INT)").as("h"),
        expr("coalesce(nullif(text, ''), ' ')").as("t"))
      .select(col("media_id"),
        expr("""CAST(concat('P6', chr(10), '# graft synthetic', chr(10),
                CAST(w AS STRING), ' ', CAST(h AS STRING), chr(10),
                '255', chr(10), rpad(t, w * h * 3, t)) AS BINARY)""")
          .as("payload"))

  /** Typed partition-wise decode: one decoder instance per partition,
    * rows streamed through it — the iterator IS the batch (the JVM
    * shape of an Arrow-batch decode UDF). The decode itself cannot be
    * SQL, but its OUTPUT is scalars the oracle recomputes from the
    * same payload construction — the query is fully differential-
    * checked, codec included.
    */
  def mediaDecode(spark: SparkSession, dir: String,
      decoder: MediaDecoder = PpmDecoder): Dataset[DecodedMedia] = {
    import spark.implicits._
    mediaPpm(spark, dir)
      .as[MediaRow]
      .mapPartitions(rows => rows.map(decoder.decode))
  }
}
