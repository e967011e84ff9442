package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.{Num, Tables}

/** Multimodal column plumbing: opaque `binary` payloads + typed
  * metadata, processed in partition-local batches — the Spark-side shape
  * of an image/audio decode + featurize stage.
  *
  * The decode itself is STUBBED with a deterministic byte-level fake
  * (media codecs are not available in this environment); everything
  * around it — schema, batching, partitioning, output contract — is the
  * real production shape: batches of `batchSize` rows are processed at
  * once inside `mapPartitions` (like `mapInPandas` arrow batches), so a
  * real decoder could be swapped in per batch without changing the plan.
  */
object BinaryMeta {

  case class MediaRow(doc_id: Long, payload: Array[Byte], media_type: String, n_chars: Long)
  case class MediaFeatures(doc_id: Long, n_bytes: Int, byte_sum: Long,
                           f0: Double, f1: Double, f2: Double, f3: Double)

  /** Documents re-cast as opaque binary payloads with typed metadata.
    *
    * `spreadIn` (r19): the r18 round spread the scan UNCONDITIONALLY
    * for all ten consumers, which taxed the cheap metadata rollups
    * (qm4 0.71×, qm7 0.88× — the round's only regressions) with an
    * Exchange that moves the full payload bytes they never decode
    * (guide §2.3 "project before the exchange"). Now only the
    * consumers that run a WHOLE-PAYLOAD per-row decode (qm1/qm3/qm9/
    * qm10 — qm9 a REAL PNG encode+ImageIO decode per row) ask for the
    * spread; the metadata/frame consumers keep the unspread scan and
    * pick up parallelism at their own aggregation exchanges. Still a
    * no-op when the scan already splits (cluster scale).
    */
  def mediaTable(spark: SparkSession, sfDir: String,
                 spreadIn: Boolean = false): Dataset[MediaRow] = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    (if (spreadIn) Tables.spread(docs, "doc_id") else docs)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        concat(lit("text/"), col("lang")).as("media_type"), col("n_chars"))
      .as[MediaRow]
  }

  /** Per-byte moment contributions (b/255)^k on the 1e-8 grid
    * ([[Num.q8]]) for k = 1..4 — 256-entry tables precomputed ONCE on
    * the driver (q49's trig-table discipline: libm's pow never crosses
    * an engine boundary). The moment sums are exact int64, so the fake decode is
    * order-free and byte-for-byte mirrorable in SQL.
    */
  private[multimodal] val BytePow: Array[Array[Long]] =
    Array.tabulate(5, 256) { (k, b) =>
      if (k == 0) 0L
      else Num.q8(math.pow(b / 255.0, k.toDouble))
    }

  /** The SHARED featurize kernel: byte count, byte sum and the first
    * four normalized-byte moments of a decoded byte plane — exact
    * table-driven integers (see [[BytePow]]), so any decoder feeding it
    * stays SQL-checkable. The stub path feeds it the payload itself;
    * the real qm9 path feeds it ImageIO's decoded pixel plane.
    */
  private[graft] def momentFeatures(docId: Long, bytes: Array[Byte]): MediaFeatures = {
    var s = 0L
    val q = new Array[Long](5)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      s += b
      q(1) += BytePow(1)(b); q(2) += BytePow(2)(b)
      q(3) += BytePow(3)(b); q(4) += BytePow(4)(b)
      i += 1
    }
    def moment(k: Int): Double =
      if (bytes.isEmpty) 0.0
      else Num.r4(Num.fromQ8(q(k)) / bytes.length)
    MediaFeatures(docId, bytes.length, s, moment(1), moment(2), moment(3), moment(4))
  }

  /** STUB decode: deterministic per-byte "feature extraction" over the
    * raw payload. A real implementation would decode the payload
    * (image/audio frame) first — qm9 does exactly that through the
    * same [[momentFeatures]] kernel.
    */
  private def decodeBatch(batch: Seq[MediaRow]): Seq[MediaFeatures] =
    batch.map(r => momentFeatures(r.doc_id, r.payload))

  /** qm1: batched partition-local featurization over the media table. */
  def mediaFeatures(spark: SparkSession, sfDir: String, batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sfDir, spreadIn = true)
      .mapPartitions(_.grouped(batchSize).flatMap(decodeBatch))
      .toDF()
  }

  case class ResizedBucket(doc_id: Long, bucket: Int, n_bytes: Long,
                           byte_sum: Long, mean_byte: Long)

  /** The resize kernel: nearest-AREA (block-mean) downsample of a
    * decoded byte plane to exactly `r` buckets — byte at 0-based
    * position p lands in bucket ⌊p·r/L⌋ (the inverse of the standard
    * area-resampling range split; defining the kernel by the inverse
    * map is what makes the SQL mirror a one-expression GROUP BY). Per
    * bucket: exact integer byte count, sum, and floor-mean — all-int
    * arithmetic, so both engines agree bit for bit. Planes shorter
    * than `r` leave their empty buckets absent (grouped semantics in
    * both engines).
    */
  private[graft] def resizePlane(docId: Long, bytes: Array[Byte],
                                 r: Int): Seq[ResizedBucket] = {
    val L = bytes.length
    if (L == 0) Seq.empty
    else {
      val sums = new Array[Long](r)
      val cnts = new Array[Long](r)
      var p = 0
      while (p < L) {
        val k = (p.toLong * r / L).toInt
        sums(k) += bytes(p) & 0xff; cnts(k) += 1; p += 1
      }
      (0 until r).withFilter(cnts(_) > 0)
        .map(i => ResizedBucket(docId, i, cnts(i), sums(i), sums(i) / cnts(i)))
    }
  }

  /** qm10: media RESIZE — the normalize-before-featurize step every
    * image/audio pipeline runs (thumbnailing / fixed-grid
    * downsampling; here the 1-D analogue over the decoded byte plane,
    * consistent with how qm1/qm9 treat payloads as planes): each item
    * downsamples to `r` block-mean buckets through the SAME batched
    * mapPartitions decode seam as qm1 — a real codec swaps in per
    * batch (qm9 proved the seam) and this kernel consumes its pixel
    * plane unchanged. Stateless per-row fan-out bounded by r; no
    * shuffle; exact integer block sums/means so the output is
    * SQL-checkable through the hex-walk oracle.
    */
  def resizePlanes(spark: SparkSession, sfDir: String, r: Int = 16,
                   batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    require(r >= 1, s"r=$r")
    mediaTable(spark, sfDir, spreadIn = true)
      .mapPartitions(_.grouped(batchSize)
        .flatMap(_.flatMap(row => resizePlane(row.doc_id, row.payload, r))))
      .toDF()
  }

  /** qm10 oracle — the hex-walk byte extraction (qm1's) + the inverse
    * bucket map as one GROUP BY expression; floor-div means on
    * positive ints agree exactly across engines.
    */
  def qm10OracleSql(r: Int = 16): String = s"""
      WITH m AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS BIGINT) AS len
        FROM documents
      ), bytes AS (
        SELECT doc_id, len,
               CAST((i - 1) AS BIGINT) AS p,
               CAST(concat('0x', substr(hx, CAST((i - 1) * 2 + 1 AS INT), 2)) AS BIGINT) AS b
        FROM m, unnest(range(1, len + 1)) AS u(i)
      )
      SELECT doc_id, CAST((p * $r) // len AS INT) AS bucket,
             count(*) AS n_bytes, CAST(sum(b) AS BIGINT) AS byte_sum,
             CAST(CAST(sum(b) AS BIGINT) // count(*) AS BIGINT) AS mean_byte
      FROM bytes GROUP BY doc_id, CAST((p * $r) // len AS INT)"""

  case class ImageFeatures(doc_id: Long, width: Int, height: Int, n_pixels: Int,
                           byte_sum: Long, f0: Double, f1: Double, f2: Double, f3: Double)

  /** Deterministic gray-PNG synthesis for qm9's ingest side: payload
    * bytes laid row-major into a `side`-wide TYPE_BYTE_GRAY image
    * (height = ⌈len/side⌉, min 1; tail zero-padded), PNG-encoded via
    * the JDK's ImageIO writer. 8-bit gray PNG is lossless and Java's
    * PNG codec stores raster samples verbatim, so the decode side
    * recovers the exact pixel plane — which is what makes the REAL
    * decoder's output SQL-checkable.
    */
  private[graft] def encodeGrayPng(payload: Array[Byte], side: Int): Array[Byte] = {
    val h = math.max(1, (payload.length + side - 1) / side)
    val img = new java.awt.image.BufferedImage(
      side, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < side * h) {
      raster.setSample(i % side, i / side, 0,
        if (i < payload.length) payload(i) & 0xff else 0)
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image decode via the JDK-standard javax.imageio: any
    * ImageIO-supported payload (PNG/BMP/GIF/JPEG…) → (width, height,
    * gray pixel plane in row-major order). Samples are read off the
    * RASTER (band-averaged for color images), NOT getRGB — getRGB runs
    * a colorspace conversion that would gamma-shift gray samples and
    * break the exact round-trip the spec asserts. None for payloads no
    * installed reader recognizes (the honest decode-failure surface a
    * production pipeline must carry).
    */
  private[graft] def imageioGray(png: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    if (img == null) None
    else {
      val raster = img.getRaster
      val w = img.getWidth
      val h = img.getHeight
      val nb = raster.getNumBands
      val out = new Array[Byte](w * h)
      var y = 0
      var i = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var s = 0
          var b = 0
          while (b < nb) { s += raster.getSample(x, y, b); b += 1 }
          out(i) = (s / nb).toByte
          i += 1; x += 1
        }
        y += 1
      }
      Some((w, h, out))
    }
  }

  /** qm9: the qm decode seam with a REAL decoder plugged in — proof the
    * batched-mapPartitions contract qm1 stubs actually carries a public
    * codec unchanged. Each payload is deterministically synthesized
    * into a gray PNG (the ingest fake — this container has no media
    * corpus), decoded back with javax.imageio (genuine PNG parsing:
    * signature, IHDR, zlib inflate, defilter), and featurized by the
    * SAME [[momentFeatures]] kernel the stub path uses — downstream of
    * the decoder nothing changes, which is the seam's whole contract.
    * Because the gray-PNG round-trip is exact, the output is fully
    * SQL-checkable: the oracle is qm1's hex walk with the denominator
    * padded to the pixel plane (width × ⌈len/side⌉, zero pixels add 0
    * to every sum but count in the mean).
    *
    * Scale shape: identical to qm1 — stateless batched mapPartitions,
    * no shuffle, no state; decode cost is per-row CPU that scales
    * embarrassingly. ImageIO's executor-local disk cache is disabled
    * (setUseCache(false)) so decode never touches scratch disk.
    */
  def imageioFeatures(spark: SparkSession, sfDir: String,
                      batchSize: Int = 64, side: Int = 16): DataFrame = {
    import spark.implicits._
    require(side >= 1, s"side=$side")
    mediaTable(spark, sfDir, spreadIn = true).mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val png = encodeGrayPng(r.payload, side)
          val (w, h, pixels) = imageioGray(png).getOrElse((0, 0, Array.empty[Byte]))
          val mf = momentFeatures(r.doc_id, pixels)
          ImageFeatures(r.doc_id, w, h, mf.n_bytes, mf.byte_sum,
            mf.f0, mf.f1, mf.f2, mf.f3)
        }
      }
    }.toDF()
  }

  /** DuckDB mirror of [[imageioFeatures]]: the qm1 hex walk with the
    * moment denominator padded to the decoded pixel plane — valid
    * because the gray-PNG round-trip is sample-exact and zero pad
    * pixels contribute nothing to any sum.
    */
  def qm9OracleSql(side: Int = 16): String = {
    def tbl(k: Int): String = BytePow(k).mkString("[", ", ", "]")
    s"""
      WITH m AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS BIGINT) AS len
        FROM documents
      ), dims AS (
        SELECT doc_id, len,
               greatest(CAST(ceil(len / $side.0) AS BIGINT), 1) AS h
        FROM m
      ), bytes AS (
        SELECT doc_id,
               CAST(concat('0x', substr(hx, CAST((i - 1) * 2 + 1 AS INT), 2)) AS BIGINT) AS b
        FROM m, unnest(range(1, len + 1)) AS u(i)
      ), sums AS (
        SELECT doc_id, CAST(sum(b) AS BIGINT) AS bsum,
               CAST(sum((${tbl(1)})[CAST(b AS INT) + 1]) AS BIGINT) AS q1,
               CAST(sum((${tbl(2)})[CAST(b AS INT) + 1]) AS BIGINT) AS q2,
               CAST(sum((${tbl(3)})[CAST(b AS INT) + 1]) AS BIGINT) AS q3,
               CAST(sum((${tbl(4)})[CAST(b AS INT) + 1]) AS BIGINT) AS q4
        FROM bytes GROUP BY doc_id
      )
      SELECT d.doc_id, $side AS width, CAST(d.h AS INT) AS height,
             CAST($side * d.h AS INT) AS n_pixels,
             coalesce(s.bsum, 0) AS byte_sum,
             ${Num.r4sql(s"${Num.fromQ8sql("coalesce(s.q1, 0)")}/($side * d.h)")} AS f0,
             ${Num.r4sql(s"${Num.fromQ8sql("coalesce(s.q2, 0)")}/($side * d.h)")} AS f1,
             ${Num.r4sql(s"${Num.fromQ8sql("coalesce(s.q3, 0)")}/($side * d.h)")} AS f2,
             ${Num.r4sql(s"${Num.fromQ8sql("coalesce(s.q4, 0)")}/($side * d.h)")} AS f3
      FROM dims d LEFT JOIN sums s USING (doc_id)"""
  }

  /** DuckDB mirror of [[mediaFeatures]]: qm2's byte-faithful hex walk
    * + the SAME driver-generated [[BytePow]] tables as literal lists,
    * so every moment sum is the identical int64 in both engines.
    */
  def qm1OracleSql: String = {
    def tbl(k: Int): String = BytePow(k).mkString("[", ", ", "]")
    s"""
      WITH m AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS BIGINT) AS len
        FROM documents
      ), bytes AS (
        SELECT doc_id,
               CAST(concat('0x', substr(hx, CAST((i - 1) * 2 + 1 AS INT), 2)) AS BIGINT) AS b
        FROM m, unnest(range(1, len + 1)) AS u(i)
      ), sums AS (
        SELECT doc_id, CAST(sum(b) AS BIGINT) AS bsum,
               CAST(sum((${tbl(1)})[CAST(b AS INT) + 1]) AS BIGINT) AS q1,
               CAST(sum((${tbl(2)})[CAST(b AS INT) + 1]) AS BIGINT) AS q2,
               CAST(sum((${tbl(3)})[CAST(b AS INT) + 1]) AS BIGINT) AS q3,
               CAST(sum((${tbl(4)})[CAST(b AS INT) + 1]) AS BIGINT) AS q4
        FROM bytes GROUP BY doc_id
      )
      SELECT m.doc_id, CAST(m.len AS INT) AS n_bytes,
             coalesce(s.bsum, 0) AS byte_sum,
             CASE WHEN m.len = 0 THEN 0.0 ELSE ${Num.r4sql(s"${Num.fromQ8sql("s.q1")}/m.len")} END AS f0,
             CASE WHEN m.len = 0 THEN 0.0 ELSE ${Num.r4sql(s"${Num.fromQ8sql("s.q2")}/m.len")} END AS f1,
             CASE WHEN m.len = 0 THEN 0.0 ELSE ${Num.r4sql(s"${Num.fromQ8sql("s.q3")}/m.len")} END AS f2,
             CASE WHEN m.len = 0 THEN 0.0 ELSE ${Num.r4sql(s"${Num.fromQ8sql("s.q4")}/m.len")} END AS f3
      FROM m LEFT JOIN sums s USING (doc_id)"""
  }

  /** qm4: media shard manifest — pack binary payloads into
    * byte-budgeted training shards per modality (the webdataset/tar
    * shard-builder shape: readers stream whole shards, so shard
    * boundaries must be deterministic and size-bounded). Twin of qt11's
    * token-budget packing, one level up: the output is the per-SHARD
    * manifest (item count, byte total, doc id range) a shard writer
    * consumes, not the per-doc assignment. One window pass per
    * media_type stream (modalities pack independently in parallel;
    * within one, the exclusive byte prefix-sum is the inherent
    * sequential constraint) + a partial-agg'd |shards|-row rollup.
    * Oversized single payloads get their own shard (floor of the
    * exclusive prefix) rather than splitting — the tar-shard rule.
    *
    * Scale shape (r17): the per-media_type running byte count rides
    * [[graft.util.PrefixSum.runningSum]]'s two-pass distributed prefix
    * sum (qt11's rewrite — media_type has cardinality ~3, so the old
    * unbounded-frame window folded ALL media rows of a modality in one
    * sorted task at 100 TB); bit-identical output, bounded window
    * partitions, PlanSpec-pinned.
    */
  def shardManifest(spark: SparkSession, sfDir: String, budgetBytes: Long = 4096L): DataFrame = {
    require(budgetBytes >= 1, s"budgetBytes=$budgetBytes")
    val base = mediaTable(spark, sfDir).toDF()
      .select(col("doc_id"), col("media_type"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
    graft.util.PrefixSum.runningSum(base, Seq("media_type"), "doc_id", "n_bytes", "cum")
      .withColumn("shard", floor((col("cum") - col("n_bytes")) / lit(budgetBytes)).cast("long"))
      .groupBy("media_type", "shard")
      .agg(count(lit(1)).as("n_items"), sum("n_bytes").as("total_bytes"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
  }

  /** qm5: per-modality storage + dedup audit — the media-level qt18:
    * per media_type, item count, byte volume (total/mean), distinct
    * payloads and the exact-dup rate. ONE map-side-combined hash-agg
    * over the payload scan. The distinct count runs on md5(payload),
    * NOT the payload itself: the distinct-agg exchange then carries
    * 16-byte digests instead of full media blobs — at real media scale
    * countDistinct(payload) would push the whole corpus through one
    * shuffle. (Same answer for the dup-rate audit; an md5 collision
    * inside one modality is negligible at any corpus size.)
    * SQL-checkable because the payload is the UTF-8 encoding of the
    * text column (encode is injective), so DuckDB counts DISTINCT text.
    */
  def modalityStats(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir).toDF()
      .select(col("media_type"), col("payload"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_items"),
        sum("n_bytes").as("total_bytes"),
        Num.r4(avg("n_bytes")).as("mean_bytes"),
        countDistinct(md5(col("payload"))).as("n_distinct"))
      .withColumn("dup_rate",
        Num.r4((col("n_items") - col("n_distinct")) / col("n_items")))

  /** qm6: paired-modality coverage audit — the completeness gate a
    * multimodal training pipeline runs before a single batch is drawn:
    * every training item must have ALL its modalities present and
    * well-formed (a text payload AND an embedding of the expected
    * dimension here; images/audio slot into the same pairing by id).
    * One full-outer equi-join on the item id (co-bucketable at 100 TB)
    * + a |media_types|-row map-side-combined rollup: per modality,
    * item count, missing-embedding / missing-payload / dim-mismatch
    * counts and the complete-pair rate. Embedding-only orphans surface
    * under '(embedding_only)'. The test tables are fully paired, so
    * the counters legitimately read 0 — the audit PROVES it (qp10's
    * rationale).
    */
  def modalCoverage(spark: SparkSession, sfDir: String, expectDim: Int = 64): DataFrame = {
    val media = mediaTable(spark, sfDir).toDF()
      .select(col("doc_id"), col("media_type"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"), size(col("embedding")).cast("long").as("dim"))
    media.join(emb, Seq("doc_id"), "full_outer")
      .select(coalesce(col("media_type"), lit("(embedding_only)")).as("media_type"),
        col("n_bytes"), col("dim"))
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("dim").isNull, 1L).otherwise(0L)).as("n_missing_embedding"),
        sum(when(col("n_bytes").isNull, 1L).otherwise(0L)).as("n_missing_payload"),
        sum(when(col("dim").isNotNull && col("dim") =!= expectDim, 1L).otherwise(0L))
          .as("n_dim_mismatch"),
        sum(when(col("n_bytes").isNotNull && col("dim") === expectDim, 1L).otherwise(0L))
          .as("n_complete"))
      .withColumn("pct_complete",
        Num.r4(col("n_complete").cast("double") / col("n_items")))
  }

  case class MediaSig(doc_id: Long, sig: Long)

  /** STUB perceptual signature: aHash (average hash, public) structure
    * over the decoded byte plane — 32 block means thresholded on the
    * global mean → one bit each. A real image pipeline computes the
    * same shape over downsampled pixels; the signature contract
    * (doc_id, 32-bit long) is what the dedup stage consumes either way.
    */
  private def sigBatch(batch: Seq[MediaRow]): Seq[MediaSig] =
    batch.map { r =>
      val b = r.payload
      val nb = 32
      val sums = new Array[Long](nb)
      val cnts = new Array[Long](nb)
      var i = 0
      while (i < b.length) {
        val blk = (i.toLong * nb / b.length).toInt
        sums(blk) += (b(i) & 0xff); cnts(blk) += 1; i += 1
      }
      var gsum = 0L
      sums.foreach(gsum += _)
      var sig = 0L
      // block mean > global mean, decided by INTEGER cross-multiplication
      // (s_j/c_j > g/L ⟺ s_j·L > g·c_j for positive ints) — exact, so
      // the DuckDB mirror can never diverge on a double-rounding edge;
      // bounded: s_j·L ≤ 255·len² < 2^63 up to ~180 MB payloads
      for (j <- 0 until nb)
        if (cnts(j) > 0 && sums(j) * b.length > gsum * cnts(j)) sig |= (1L << j)
      MediaSig(r.doc_id, sig)
    }

  /** qm3: perceptual-hash near-duplicate media pairs — the dedup stage
    * of the decode → featurize → dedup multimodal chain. Signatures
    * come from the batched stub decode (qm1's seam); candidates come
    * from an 8-bit signature-chunk equi-join (EXACT pigeonhole: with 4
    * chunks, hamming ≤ 3 forces at least one untouched chunk), and the
    * exact hamming filter runs on the candidates only — never an
    * all-pairs join, the same blocking discipline as qd3's SimHash at
    * 100 TB. SQL-checked: the integer cross-multiplied threshold makes
    * the signatures exact, so [[qm3OracleSql]] mirrors the whole chain
    * through the byte-faithful hex walk; the spec additionally
    * recomputes signatures and pairs in the driver.
    */
  def phashNearDup(spark: SparkSession, sfDir: String, maxHam: Int = 3,
                   batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    require(maxHam >= 0 && maxHam < 4,
      s"maxHam=$maxHam: the 4-chunk pigeonhole is exact only below 4")
    val sigs = mediaTable(spark, sfDir, spreadIn = true)
      .mapPartitions(_.grouped(batchSize).flatMap(sigBatch)).toDF()
    val chunks = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"), expr(s"(sig >> ${8 * c}) & 255").as("cv"))): _*)).as("ch"))
      .select(col("doc_id"), col("sig"), col("ch.c").as("c"), col("ch.cv").as("cv"))
    val a = chunks.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("c"), col("cv"))
    val b = chunks.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("c"), col("cv"))
    // hamming BEFORE distinct: bit_count is codegen'd per candidate row,
    // so the multi-chunk dedup exchange carries only the ham<=maxHam
    // survivors (near-dups are rare) instead of the full candidate
    // stream — the widest shuffle in the old plan. Same output set:
    // (doc_a, doc_b) determines both sigs, hence ham.
    a.join(b, Seq("c", "cv")).filter(col("doc_a") < col("doc_b"))
      .withColumn("ham", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("ham") <= maxHam)
      .select(col("doc_a"), col("doc_b"), col("ham").cast("int").as("ham"))
      .distinct()
  }

  /** DuckDB mirror of [[phashNearDup]]: the hex walk → integer block
    * sums → cross-multiplied threshold bits → the same 8-bit-chunk
    * pigeonhole join and bit_count hamming filter. All-integer, so the
    * signatures are bit-identical to [[sigBatch]]'s.
    */
  def qm3OracleSql(maxHam: Int = 3): String = s"""
      WITH m AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS BIGINT) AS len
        FROM documents
      ), bytes AS (
        SELECT doc_id, len, i,
               CAST(concat('0x', substr(hx, CAST((i - 1) * 2 + 1 AS INT), 2)) AS BIGINT) AS b
        FROM m, unnest(range(1, len + 1)) AS u(i)
      ), blocks AS (
        SELECT doc_id, len, ((i - 1) * 32) // len AS blk,
               CAST(sum(b) AS BIGINT) AS s, count(*) AS c
        FROM bytes GROUP BY doc_id, len, ((i - 1) * 32) // len
      ), g AS (
        SELECT doc_id, CAST(sum(s) AS BIGINT) AS gsum FROM blocks GROUP BY doc_id
      ), sigs AS (
        SELECT b.doc_id,
               CAST(sum(CASE WHEN b.s * b.len > g.gsum * b.c
                             THEN (CAST(1 AS BIGINT) << CAST(b.blk AS INT)) ELSE 0 END) AS BIGINT) AS sig
        FROM blocks b JOIN g USING (doc_id) GROUP BY b.doc_id
      ), allsigs AS (
        SELECT m.doc_id, coalesce(s.sig, 0) AS sig
        FROM m LEFT JOIN sigs s USING (doc_id)
      ), chunks AS (
        SELECT doc_id, sig, c, (sig >> CAST(8 * c AS INT)) & 255 AS cv
        FROM allsigs, unnest(range(4)) AS u(c)
      ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.sig AS sig_a, b.sig AS sig_b
        FROM chunks a JOIN chunks b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
      )
      SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS ham
      FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= $maxHam"""

  case class Frame(doc_id: Long, frame_idx: Int, n_bytes: Int, frame_hash: Long)

  /** qm2: deterministic frame sampling — the video-column shape: each
    * payload is treated as a sequence of fixed-size frames; at most `k`
    * evenly-strided frames are emitted per row (bounded fan-out, so the
    * exploded side stays O(k·rows) at 100 TB). The per-frame decode is
    * the same stub seam as qm1 — a real codec slots into the frame loop
    * without changing schema or plan. The stub frame signature is a
    * positional byte checksum Σ byte_i·(i+1) (order-sensitive, wrap-free
    * in 64 bits), so the DuckDB oracle reproduces it exactly through the
    * injective text→payload encoding qm5 relies on.
    */
  def frameSample(spark: SparkSession, sfDir: String,
                  frameSize: Int = 256, k: Int = 4): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sfDir).flatMap { r =>
      val nFrames = math.max(1, r.payload.length / frameSize)
      val stride = math.max(1, nFrames / k)
      Range(0, nFrames, stride).take(k).map { fi =>
        val from = fi * frameSize
        val until = math.min(from + frameSize, r.payload.length)
        var h = 0L
        var i = from
        while (i < until) { h += (r.payload(i) & 0xff).toLong * (i - from + 1); i += 1 }
        Frame(r.doc_id, fi, until - from, h)
      }
    }.toDF()
  }

  /** qm7: video-level near-duplicate pairs from sampled-frame
    * signatures — the standard frame-fingerprint inverted index (each
    * sampled frame's signature is a posting; two videos are candidate
    * dups when postings collide; YouTube-style content matching shape,
    * public). Composes qm2's bounded frame sampling with qm3's
    * blocking discipline one level up: the join key is the frame
    * signature, so the pair space is O(collisions), never all-pairs.
    *
    * Scale levers, in the plan: (1) fan-out is bounded — ≤ k distinct
    * signatures per video enter the index; (2) STOP-FRAME guard — a
    * signature present in more than `maxDf` videos (black frames,
    * intros, test cards in a real pipeline) is dropped BEFORE the
    * self-join, capping any posting list's pair product at maxDf²
    * (qd4's document-frequency cap, same rationale); (3) the pair
    * rollup is one hash agg on (doc_a, doc_b). `sim` is the Jaccard
    * over the two videos' kept signature sets.
    */
  /** The df-capped distinct (doc_id, frame_hash) signature set —
    * session-cached: the df filter, per-doc counts, both sides of
    * qm7's pair join AND qm8's canonical election all read one
    * materialization.
    */
  private[multimodal] def keptFrames(spark: SparkSession, sfDir: String,
                                     frameSize: Int, k: Int, maxDf: Long): DataFrame =
    graft.util.StageCache.cached(spark, sfDir,
        s"framekept_${frameSize}_${k}_$maxDf") {
      // fr checkpoints first: it sits on both sides of the df-cap join,
      // and without materialization the mapPartitions decode + distinct
      // would run twice inside this one build
      val fr = frameSample(spark, sfDir, frameSize, k)
        .select("doc_id", "frame_hash").distinct()
        .localCheckpoint(eager = false)
      fr.join(
        fr.groupBy("frame_hash").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select("frame_hash"),
        "frame_hash")
    }

  def frameNearDup(spark: SparkSession, sfDir: String, frameSize: Int = 256,
                   k: Int = 4, maxDf: Long = 50L, minShared: Long = 1L): DataFrame = {
    require(maxDf >= 2 && minShared >= 1, s"maxDf=$maxDf minShared=$minShared")
    val kept = keptFrames(spark, sfDir, frameSize, k, maxDf)
    val nf = kept.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val a = kept.select(col("doc_id").as("doc_a"), col("frame_hash"))
    val b = kept.select(col("doc_id").as("doc_b"), col("frame_hash"))
    a.join(b, "frame_hash").filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(nf.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nf", "nf_a"), "doc_a")
      .join(nf.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nf", "nf_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        Num.r4(col("n_shared") / (col("nf_a") + col("nf_b") - col("n_shared")))
          .as("sim"))
  }

  /** qm8: media duplicate-cluster resolution — connected components
    * over qm7's frame near-dup pairs plus a CANONICAL-copy election
    * per cluster (the "which upload do we keep" decision a video
    * dedup pipeline ends with; YouTube/content-ID shape, public).
    * Composition of established machinery one level up: qm7's bounded
    * candidate graph (stop-frame df cap keeps it O(collisions)) feeds
    * the SAME pointer-doubling min-label propagation qd6 uses
    * (Dedup.ccFrom — O(log diameter) rounds, no driver union-find),
    * and the canonical member is elected per cluster by kept-signature
    * count (most intact copy) with lowest-id tie-break — qd16's
    * election discipline on media evidence.
    *
    * Output: one row per clustered video — (doc_id, cluster_id, nf,
    * cluster_size, is_canon). Singletons (no near-dup pair) don't
    * appear, matching qd6's edge-scoped labels.
    */
  def mediaClusters(spark: SparkSession, sfDir: String, frameSize: Int = 256,
                    k: Int = 4, maxDf: Long = 50L, minShared: Long = 1L): DataFrame = {
    // session-cached (symEdges' discipline): ccFrom's eager rounds
    // would otherwise re-run the whole pair join per iteration
    val edges = graft.util.StageCache.cached(spark, sfDir,
        s"qm8edges_${frameSize}_${k}_${maxDf}_$minShared") {
      val pairs = frameNearDup(spark, sfDir, frameSize, k, maxDf, minShared)
        .select("doc_a", "doc_b")
      pairs.unionByName(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))).distinct()
    }
    val labels = graft.text.Dedup.ccFrom(edges)
    val nf = keptFrames(spark, sfDir, frameSize, k, maxDf)
      .groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("nf").desc, col("doc_id").asc)
    val sw = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    labels.join(nf, "doc_id")
      .withColumn("cluster_size", count(lit(1)).over(sw))
      .withColumn("rn", row_number().over(cw))
      .select(col("doc_id"), col("cluster_id"), col("nf"), col("cluster_size"),
        when(col("rn") === 1, 1).otherwise(0).as("is_canon"))
  }

  /** Shared DuckDB frame CTE chain — the byte-faithful mirror of
    * [[frameSample]] (hex walk over encode(text), octet_length not
    * length, zero-length payloads still emit their (0, 0) frame).
    * `allframes` ends as (doc_id, fi, n_bytes, frame_hash); qm2 and
    * qm7 compose their finals over it so the two oracles can never
    * drift apart. frameSize/k are interpolated the same way the Spark
    * side parameterizes them, so a non-default call site cannot
    * silently diverge from its oracle.
    */
  private def framesCteSql(frameSize: Int = 256, k: Int = 4): String = s"""
      WITH m AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS BIGINT) AS len
        FROM documents
      ), fr AS (
        SELECT doc_id, hx, len, greatest(1, len // $frameSize) AS nframes FROM m
      ), fi0 AS (
        SELECT doc_id, hx, len,
               unnest(range(0, nframes, greatest(1, nframes // $k))) AS fi
        FROM fr
      ), f2 AS (
        SELECT * FROM (
          SELECT doc_id, hx, len, fi,
                 row_number() OVER (PARTITION BY doc_id ORDER BY fi) AS rn
          FROM fi0) WHERE rn <= $k
      ), fb AS (
        SELECT doc_id, fi, hx,
               least(fi*$frameSize + $frameSize, len) - fi*$frameSize AS n_bytes
        FROM f2
      ), byteterms AS (
        SELECT doc_id, fi,
               CAST(concat('0x', substr(hx, CAST((fi*$frameSize + i - 1) * 2 + 1 AS INT), 2)) AS BIGINT) * i AS term
        FROM fb, unnest(range(1, n_bytes + 1)) AS u(i)
      ), hs AS (
        SELECT doc_id, fi, CAST(sum(term) AS BIGINT) AS frame_hash
        FROM byteterms GROUP BY doc_id, fi
      ), allframes AS (
        SELECT f.doc_id, f.fi, f.n_bytes, coalesce(h.frame_hash, 0) AS frame_hash
        FROM fb f LEFT JOIN hs h ON h.doc_id = f.doc_id AND h.fi = f.fi
      )"""

  /** DuckDB mirror of [[frameSample]] over [[framesCteSql]]. */
  def qm2OracleSql(frameSize: Int = 256, k: Int = 4): String =
    framesCteSql(frameSize, k) + """
      SELECT doc_id, CAST(fi AS INT) AS frame_idx, CAST(n_bytes AS INT) AS n_bytes,
             frame_hash
      FROM allframes"""

  /** qm7/qm8's shared kept-signature/pair CTE chain over
    * [[framesCteSql]]: distinct per-doc signatures → df cap →
    * pigeonhole pair join.
    */
  private def framePairsCteSql(frameSize: Int, k: Int, maxDf: Long): String =
    framesCteSql(frameSize, k) + s"""
      , dfr AS (SELECT DISTINCT doc_id, frame_hash FROM allframes),
      dfc AS (SELECT frame_hash, count(*) AS df FROM dfr GROUP BY frame_hash),
      keepf AS (
        SELECT r.doc_id, r.frame_hash
        FROM dfr r JOIN dfc c USING (frame_hash) WHERE c.df <= $maxDf
      ), nf AS (SELECT doc_id, count(*) AS nf FROM keepf GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM keepf a JOIN keepf b
          ON a.frame_hash = b.frame_hash AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )"""

  /** DuckDB mirror of [[frameNearDup]]: the shared pair chain + Jaccard. */
  def qm7OracleSql(frameSize: Int = 256, k: Int = 4,
                   maxDf: Long = 50L, minShared: Long = 1L): String =
    framePairsCteSql(frameSize, k, maxDf) + s"""
      SELECT p.doc_a, p.doc_b, p.n_shared,
             ${Num.r4sql("CAST(p.n_shared AS DOUBLE) / (na.nf + nb.nf - p.n_shared)")} AS sim
      FROM pairs p
      JOIN nf na ON na.doc_id = p.doc_a
      JOIN nf nb ON nb.doc_id = p.doc_b
      WHERE p.n_shared >= $minShared"""

  /** DuckDB mirror of [[mediaClusters]]: the shared pair chain +
    * recursive-CTE transitive closure (qd6's oracle discipline) +
    * per-cluster canonical election.
    */
  def qm8OracleSql(frameSize: Int = 256, k: Int = 4,
                   maxDf: Long = 50L, minShared: Long = 1L): String = {
    val sql = framePairsCteSql(frameSize, k, maxDf) + s"""
      , fpairs AS (SELECT doc_a, doc_b FROM pairs WHERE n_shared >= $minShared),
      edges AS (
        SELECT doc_a, doc_b FROM fpairs
        UNION SELECT doc_b AS doc_a, doc_a AS doc_b FROM fpairs
      ), reach AS (
        SELECT doc_a AS src, doc_a AS dst FROM (SELECT DISTINCT doc_a FROM edges)
        UNION
        SELECT r.src, e.doc_b AS dst FROM reach r JOIN edges e ON r.dst = e.doc_a
      ), lab AS (
        SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
      ), clus AS (
        SELECT l.doc_id, l.cluster_id, CAST(n.nf AS BIGINT) AS nf,
               CAST(count(*) OVER (PARTITION BY l.cluster_id) AS BIGINT) AS cluster_size,
               row_number() OVER (PARTITION BY l.cluster_id ORDER BY n.nf DESC, l.doc_id) AS rn
        FROM lab l JOIN nf n USING (doc_id)
      )
      SELECT doc_id, cluster_id, nf, cluster_size,
             CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_canon
      FROM clus"""
    sql.replaceFirst("WITH m AS", "WITH RECURSIVE m AS")
  }
}
