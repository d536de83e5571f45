package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for a training-data pipeline: media is an opaque
  * BINARY payload plus a typed metadata struct; decode / feature-extract
  * / frame-sample are Spark-side plumbing around a per-partition codec.
  *
  * The actual image/audio codec is NOT available in this environment, so
  * [[decodePartition]] STUBS the codec call (clearly marked) with a
  * deterministic fake; everything around it — schema, batch iteration,
  * partitioning, output shape — is real and tested. Swap `stubDecode`
  * for an FFI/codec call and nothing else changes.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("kind", StringType), // image | audio | video
      StructField("n_bytes", LongType),
      StructField("declared_w", IntegerType),
      StructField("declared_h", IntegerType))))))

  /** Ingest raw media files through Spark's `binaryFile` source — the
    * object-store landing pattern: (path, modificationTime, length,
    * content) rows, pruned/pushed like any FileScan (a `pathGlobFilter`
    * keeps non-media files out at the source). File name (sans
    * extension) becomes media_id. */
  def readBinaryFiles(spark: org.apache.spark.sql.SparkSession, dir: String,
      glob: String, kind: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.[a-z]+$", 1).cast("long").as("media_id"),
        col("content").as("payload"),
        struct(
          lit(kind).as("kind"),
          col("length").as("n_bytes"),
          lit(64).as("declared_w"),
          lit(64).as("declared_h")).as("meta"))

  /** Wrap a text/doc table into media rows (payload = utf-8 bytes) —
    * the shape a binaryFile/object-store source would produce. */
  def asMedia(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      col(textCol).cast("binary").as("payload"),
      struct(
        lit("image").as("kind"),
        length(col(textCol).cast("binary")).cast("long").as("n_bytes"),
        lit(64).as("declared_w"),
        lit(64).as("declared_h")).as("meta"))

  /** Codegen'd (UDF-free) feature extraction on the payload: size,
    * checksum, head bytes. Runs inside whole-stage codegen — this is the
    * hot path that must NOT be per-row JVM⇄codec calls. */
  def binaryFeatures(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      col("meta.kind").as("kind"),
      length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("checksum"),
      lower(hex(substring(col("payload"), 1, 8))).as("head_hex"))

  /** Frame sampling: split the payload into fixed-size frames, keep
    * every `stride`-th — the video-keyframe access pattern, done with
    * array expressions (no data explosion until the explode itself). */
  def frameSample(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val nFrames = ceil(length(col("payload")).cast("double") / frameBytes).cast("long")
    media
      .select(col("media_id"), col("payload"), nFrames.as("n_frames"))
      .select(col("media_id"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_idx"),
        col("payload"))
      .where(col("frame_idx") % stride === 0)
      .select(col("media_id"), col("frame_idx"),
        lower(hex(substring(col("payload"),
          (col("frame_idx") * frameBytes + 1).cast("int"), lit(frameBytes)))).as("frame_hex"))
  }

  /** Decoded-media features produced by the (stubbed) codec. */
  final case class Decoded(
      media_id: Long, kind: String, width: Int, height: Int,
      mean_luma: Double, ok: Boolean)

  /** ========== STUB ==========
    * Stands in for the real codec (libjpeg/ffmpeg/...): deterministic
    * fake decode — dimensions from the metadata, "luminance" as the mean
    * payload byte. Replace ONLY this function to integrate a real codec. */
  private def stubDecode(payload: Array[Byte], kind: String,
      w: Int, h: Int): Decoded = {
    val mean =
      if (payload == null || payload.isEmpty) 0.0
      else payload.map(b => (b & 0xff).toDouble).sum / payload.length
    Decoded(-1L, kind, w, h, mean, ok = payload != null && payload.nonEmpty)
  }

  /** Per-partition decode: one codec context per partition (the
    * expensive init happens once per task, not per row — the same
    * pattern as a connection-reusing RPC stage, SURVEY §2.9 U1/U2).
    * Batch shape: Iterator[Row] → Iterator[Decoded]. */
  def decodePartition(media: DataFrame): Dataset[Decoded] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"),
        col("meta.kind"), col("meta.declared_w"), col("meta.declared_h"))
      .mapPartitions { rows =>
        // >>> real integration point: init codec context here, once <<<
        rows.map { r =>
          val d = stubDecode(r.getAs[Array[Byte]]("payload"), r.getAs[String]("kind"),
            r.getAs[Int]("declared_w"), r.getAs[Int]("declared_h"))
          d.copy(media_id = r.getAs[Long]("media_id"))
        }
      }
  }

  /** "Resize": deterministic downsample of the fake pixel stream —
    * byte-stride subsample re-checksummed. Real plumbing (projection,
    * argument flow), stubbed math. */
  def resizeStub(media: DataFrame, factor: Int): DataFrame =
    media.select(col("media_id"),
      md5(col("payload")).as("orig_checksum"),
      md5(substring(col("payload"), lit(1),
        greatest(lit(1), (length(col("payload")) / factor)).cast("int"))).as("resized_checksum"),
      (length(col("payload")) / factor).cast("long").as("resized_bytes"))

  /** Perceptual hash of every payload as gridRows/2 ≤16-bit dHash
    * quarters (q0..q{b−1}) — the metric-structured content hash the
    * exact checksums can't give (small payload change → small Hamming
    * distance). The hash itself is the fused native expression
    * [[graft.functions.MediaExprs.dHashQuarters]]; see its scaladoc
    * for the stubbed-codec stand-in (block-mean byte downsample in
    * place of decoded pixels — swap the sampling, keep everything
    * downstream) and for the grid-width scale lever (default 8×9 = 4
    * bands / radius-3 pigeonhole; 16×9 = 8 bands / radius-7 at the
    * same 16-bit band keys). */
  def dHashQuarters(media: DataFrame,
      gridRows: Int = graft.functions.MediaExprs.GridRows,
      gridCols: Int = graft.functions.MediaExprs.GridCols): DataFrame =
    media
      .withColumn("QS", graft.functions.MediaExprs.dHashQuarters(
        col("payload"), gridRows, gridCols))
      .select(col("media_id") +: (0 until gridRows / 2).map(k =>
        element_at(col("QS"), k + 1).as(s"q$k")): _*)

  /** The DEDUP DECISION on top of [[dHashNearDupPairs]] — q135's
    * keep-first rule applied to the media face: a payload is a
    * duplicate when some near-dup partner (Hamming ≤ `maxHamming`)
    * has a SMALLER id; `rep_id` is the least such partner, null for
    * kept rows. `rep_id` is PROVENANCE, not a transitive root —
    * exactly q135's contract: Hamming nearness is not transitive, so
    * a rep may itself be a dup of a still-smaller id (A–B–C chains
    * at pairwise distance ≤ t resolve C → B → A); a consumer that
    * needs every dup mapped to a KEPT canonical follows the rep
    * links (bounded by chain depth) or runs the connected-components
    * face (q101's shape) over the pair set. One aggregate over the
    * bounded pair set — the manifest shape a training-data pipeline
    * filters media by. */
  def dHashDedupManifest(media: DataFrame, maxHamming: Int = 3,
      gridRows: Int = graft.functions.MediaExprs.GridRows,
      gridCols: Int = graft.functions.MediaExprs.GridCols): DataFrame = {
    val pairs = dHashNearDupPairs(media, maxHamming, gridRows, gridCols)
      .select(col("a_id"), col("b_id"))
    val reps = pairs // keep-first: b dups to the least smaller-id partner
      .groupBy(col("b_id").as("media_id"))
      .agg(min(col("a_id")).as("rep_id"))
    media.select(col("media_id"))
      .join(reps, Seq("media_id"), "left")
      .select(col("media_id"),
        when(col("rep_id").isNull, "kept").otherwise("dup").as("status"),
        col("rep_id"))
  }

  /** Image near-dup pairs by banded perceptual Hamming distance — the
    * q121 wide-SimHash machinery applied to the media payloads (NEVER
    * all-pairs): any pair within total Hamming distance bands − 1
    * agrees exactly on ≥ 1 of the ≤16-bit quarters (pigeonhole), so
    * the (band, quarter) equi-join over 2¹⁶-value keys finds ALL such
    * pairs at ~n²/2¹⁶ candidates per band; candidates then re-rank by
    * the exact full-width Hamming distance and keep ≤ `maxHamming`.
    * EXACT for maxHamming ≤ bands − 1 (3 at the default 8×9 grid, 7
    * at 16×9); above that the bands are a recall<1 prefilter
    * (the `phash_band` family of `graft.bench.ScaleLaws` measures the
    * band/recall law at both widths). The
    * grid is the scale knob: wider grid → more bands at the SAME
    * per-band key cardinality → larger exact radius as n² outruns
    * 2¹⁶. */
  def dHashNearDupPairs(media: DataFrame, maxHamming: Int = 3,
      gridRows: Int = graft.functions.MediaExprs.GridRows,
      gridCols: Int = graft.functions.MediaExprs.GridCols): DataFrame = {
    val nb = gridRows / 2
    val qs = dHashQuarters(media, gridRows, gridCols)
      .localCheckpoint() // bands + re-rank read it
    Pairs.hammingJoin(Lsh.selfPairs(Lsh.quarterBands(qs, nb)), qs, qs, "a_id", "b_id", nb)
      .where(col("hamming") <= maxHamming)
  }
}
