package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / frame-sample
  * stages.
  *
  * The container has no image/audio codecs, so the *decode* step is a
  * deterministic stub ([[StubDecoder]]) — but everything Spark-side is
  * real: the binary column schema, the `Dataset[MediaRow].mapPartitions`
  * batch shape (one decoder instance per partition, exactly how a JNI /
  * native-codec decoder would be initialized once per task at scale),
  * and the frame-sampling layout.
  *
  * Scale notes: media blobs at 100 TB should be stored in their own
  * parquet column (dictionary/off by default for binary) or external
  * object store with the DataFrame carrying (uri, byte_range); decode is
  * embarrassingly parallel map work — no shuffle — so partition count is
  * sized by payload bytes (`spark.sql.files.maxPartitionBytes`), not row
  * count.
  */
object Multimodal {

  /** One media row: opaque payload + metadata. */
  case class MediaRow(doc_id: Long, media_type: String, content: Array[Byte])

  /** Decoded media metadata (what a real image decoder would emit). */
  case class Decoded(doc_id: Long, width: Int, height: Int, channels: Int,
      n_frames: Long)

  /** Media decoder contract: one instance per partition. */
  trait MediaDecoder extends Serializable {
    def decode(row: MediaRow): Decoded
  }

  /** Deterministic stand-in for a native codec: derives "dimensions"
    * from the first payload bytes. A real implementation would replace
    * exactly this class (JNI into libjpeg/ffmpeg) — the surrounding
    * plumbing is unchanged. */
  object StubDecoder extends MediaDecoder {
    override def decode(row: MediaRow): Decoded = {
      val b = row.content
      val w = 1 + (if (b.length > 0) (b(0) & 0xff) % 64 else 0)
      val h = 1 + (if (b.length > 1) (b(1) & 0xff) % 64 else 0)
      Decoded(row.doc_id, w, h, 3, (b.length + 255L) / 256L)
    }
  }

  /** The fixture corpus as a media table: utf-8 payload bytes standing in
    * for encoded media (schema/partitioning identical to the real case). */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id", lit("text/plain").as("media_type"),
        encode($"text", "UTF-8").as("content"))
  }

  /** Decode stage: typed mapPartitions — decoder initialized once per
    * partition, rows streamed through it. */
  def decodeAll(media: Dataset[MediaRow], decoder: MediaDecoder): Dataset[Decoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder setup would happen here (codec init, JNI)
      it.map(decoder.decode)
    }
  }

  /** Binary metadata projection (oracle-checkable). */
  def binaryMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sfDir)
      .select($"doc_id",
        length($"content").cast("long").as("n_bytes"),
        expr("cast((length(content) + 255) div 256 as bigint)").as("n_chunks"),
        sha2($"content", 256).as("sha256_hex"))
      .orderBy($"doc_id")
  }

  /** Decode stage as a query: runs the real mapPartitions path with the
    * stub codec; output is deterministic so the oracle can replicate it
    * (payload bytes are ascii text → byte k == character k). */
  def mediaDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = mediaTable(spark, sfDir).as[MediaRow]
    decodeAll(media, StubDecoder)
      .toDF()
      .select($"doc_id", $"width".cast("long").as("width"),
        $"height".cast("long").as("height"),
        $"channels".cast("long").as("channels"), $"n_frames")
      .orderBy($"doc_id")
  }

  /** Frame sampling: split each payload into 256-byte frames, emit
    * per-frame offsets and content fingerprints. */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sfDir)
      // empty payload ⇒ zero frames; without this guard sequence(0, -1)
      // would DESCEND ([0, -1]) while the oracle's range(0, 0) is empty
      .filter(length($"content") > 0)
      .withColumn("frame", explode(expr(
        """transform(sequence(0, cast((length(content) + 255) div 256 as int) - 1),
          f -> named_struct(
            'frame_id', cast(f as bigint),
            'off', cast(f * 256 + 1 as bigint),
            'frame_md5', md5(substring(content, f * 256 + 1, 256))))""")))
      .select($"doc_id", $"frame.frame_id", $"frame.off",
        $"frame.frame_md5")
      .orderBy($"doc_id", $"frame_id")
  }

  /** Feature-extraction output: coarse byte-class profile per payload
    * (what a real extractor would emit as an embedding). */
  case class MediaFeatures(doc_id: Long, n_letters: Long, n_digits: Long,
      n_spaces: Long, n_other: Long, letter_ratio: Double)

  /** Feature extraction over raw payload bytes via the same
    * per-partition batch shape as decode. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { row =>
        var letters = 0L; var digits = 0L; var spaces = 0L; var other = 0L
        row.content.foreach { b =>
          val c = (b & 0xff).toChar
          if (c >= 'a' && c <= 'z') letters += 1
          else if (c >= '0' && c <= '9') digits += 1
          else if (c == ' ') spaces += 1
          else other += 1
        }
        val n = row.content.length.max(1)
        // floor(x*1e4 + 0.5): HALF_UP like the oracle's round(), NOT
        // rint (half-even) — ratios with dyadic denominators land on
        // exact .5 boundaries
        MediaFeatures(row.doc_id, letters, digits, spaces, other,
          math.floor(letters.toDouble / n * 10000 + 0.5) / 10000)
      }
    }
  }

  /** Resize stage: stride-subsample the payload (every 4th byte) — the
    * image-downscale analogue for opaque payloads. */
  case class Resized(doc_id: Long, n_bytes: Long, resized_md5: String)

  def resize(media: Dataset[MediaRow], stride: Int): Dataset[Resized] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { row =>
        val out = row.content.indices.collect {
          case i if i % stride == 0 => row.content(i)
        }.toArray
        md.reset()
        val hex = md.digest(out).map("%02x".format(_)).mkString
        Resized(row.doc_id, out.length.toLong, hex)
      }
    }
  }

  /** m04: feature extraction as a query (byte-class profile). */
  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(mediaTable(spark, sfDir).as[MediaRow])
      .toDF()
      .orderBy($"doc_id")
  }

  /** m05: stride-4 resize with content fingerprint. */
  def mediaResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    resize(mediaTable(spark, sfDir).as[MediaRow], 4)
      .toDF()
      .orderBy($"doc_id")
  }

  /** m06: media dedup by content digest — the byte-identical dedup pass
    * a pipeline runs over image/audio payloads before any perceptual
    * hashing. Hashes the BINARY column (not a text projection), then
    * one hash-agg by digest; at 100 TB the md5 runs in the scan
    * projection and only (digest, doc_id) pairs reach the shuffle. */
  def mediaDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sfDir)
      .select($"doc_id", md5($"content").as("content_md5"),
        length($"content").cast("long").as("n_bytes"))
      .groupBy($"content_md5")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
        min($"n_bytes").as("n_bytes"))
      .orderBy($"keep_id")
  }

  /** m07: frame-level media near-dup — pairs of payloads sharing at
    * least one 256-byte frame fingerprint, with the shared-frame count.
    * The keyframe-fingerprint dedup used for video: content-identical
    * SEGMENTS link two files even when the whole-file digest (m06)
    * differs. The frame hash is itself the join bucket (an equi-join,
    * linear in collisions — the LSH degenerate case where the "band" is
    * the exact chunk); distinct (doc, frame) first so intra-doc repeats
    * of a chunk don't inflate pair counts. */
  def frameNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fr = frameSample(spark, sfDir)
      .select($"doc_id", $"frame_md5").distinct()
    fr.as("a").join(fr.as("b"),
        $"a.frame_md5" === $"b.frame_md5" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("n_shared_frames"))
      .orderBy($"d1", $"d2")
  }

  /** m08: STREAMING media ingest dedup at the FRAME level — the s24
    * incremental pattern on the m07 contract: the already-ingested
    * media corpus (even doc_ids) exists only as per-frame-fingerprint
    * state (one Long per distinct 256-byte-frame digest — the keyframe
    * index of a video store), and each incoming payload (odd doc_ids)
    * probes its own frames with point lookups. A re-upload that shares
    * ANY content segment — re-muxed container, truncated copy — is
    * flagged at ingest without rescanning stored media; whole-file
    * byte-dup (m06's digest) is the degenerate single-frame case.
    * Reuses [[graft.streaming.NearDupProcessor]] with the frame
    * fingerprint as bucket key: per incoming doc, `dup_of` = min
    * corpus doc sharing any frame (min over per-bucket minima) and
    * `n_shared_frames` = how many of its distinct frames the corpus
    * already holds. */
  def streamMediaDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.{BandEvent, BandMatch, NearDupProcessor, StreamOps}
    val dirStr = StreamOps.orderedBatchDir("m08", sfDir) {
      val fr = frameSample(spark, sfDir)
        .select($"frame_md5".as("bucket"), $"doc_id").distinct()
      def side(parity: Int, tag: String) = fr
        .filter($"doc_id" % 2 === parity)
        .select($"bucket", lit(tag).as("side"), $"doc_id")
      Seq(side(0, "O"), side(1, "N"))
    }
    val events = StreamOps.changelogStream(spark, dirStr,
      "bucket STRING, side STRING, doc_id BIGINT")
      .as[BandEvent]
    val stream = StreamOps.processed(events.groupByKey(_.bucket),
      new NearDupProcessor)
    StreamOps.runToMemory(stream, "graft_m08", "update")
      .groupBy($"new_doc")
      .agg(min($"dup_of").as("dup_of"),
        count(lit(1)).as("n_shared_frames"))
      .orderBy($"new_doc")
  }

  /** m09: scene-cut detection — the video-curation segmentation shape:
    * per payload, frames in order, a per-frame feature (letter count —
    * the stub stand-in for a real frame embedding), and a CUT wherever
    * the feature delta to the previous frame is large. The lag window
    * rides the same per-doc frame derivation as m03, so the "video"
    * decomposition cannot drift between sampling and segmentation.
    *
    * Scale design: frames explode map-side, ONE window exchange keyed
    * on doc_id (frame counts are bounded per payload), one hash-agg.
    * A real pipeline swaps the letter count for a frame-embedding
    * distance — the plan is identical. */
  def sceneCuts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val frames = Tables.documents(spark, sfDir)
      // empty text ⇒ zero frames (sequence(0, -1) would descend; the
      // oracle's range(0, nf) is empty) — same guard as frameSample
      .filter(length($"text") > 0)
      .withColumn("f", explode(expr(
        "sequence(0, cast((length(text) + 255) div 256 as int) - 1)")))
      .select($"doc_id", $"f".cast("long").as("frame_id"),
        expr("""length(regexp_replace(
          substring(text, f * 256 + 1, 256), '[^a-z]', ''))""")
          .cast("long").as("letters"))
    val w = Window.partitionBy($"doc_id").orderBy($"frame_id")
    frames
      .withColumn("delta", abs($"letters" - lag($"letters", 1).over(w)))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when($"delta" >= 10, 1L).otherwise(0L)).as("n_cuts"),
        coalesce(max($"delta"), lit(0L)).as("max_delta"))
      .orderBy($"doc_id")
  }

  /** m10: energy segmentation — the audio-curation VAD shape (and the
    * video equivalent of m09's cut list): per payload, a per-frame
    * scalar "energy", a threshold into active/silent, and CONTIGUOUS
    * ACTIVE RUNS reported as segments (start/end frame, length, mean
    * energy) via gaps-and-islands. m09 answers "where do scenes
    * change"; this answers "which spans are worth keeping" — the
    * clip-extraction step an audio/video training pipeline runs before
    * transcription or embedding.
    *
    * The energy itself is a deterministic md5-derived stand-in (the
    * fixture's word-bag text has no real silence; the [[StubDecoder]]
    * discipline) — a real pipeline swaps ONE expression for the
    * decoded-audio RMS and the segmentation plumbing is unchanged.
    *
    * Scale design: frames explode map-side off m03's derivation; the
    * islands window and the segment hash-agg both key on doc_id
    * (frame counts bounded per payload), then one output ordering. */
  def energySegments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Det
    val frames = Tables.documents(spark, sfDir)
      // empty text ⇒ zero frames — same guard as frameSample/sceneCuts
      .filter(length($"text") > 0)
      .withColumn("f", explode(expr(
        "sequence(0, cast((length(text) + 255) div 256 as int) - 1)")))
      .select($"doc_id", $"f".cast("long").as("frame_id"),
        (expr("""conv(substr(md5(substring(text, f * 256 + 1, 256)), 1, 4),
          16, 10)""").cast("long") % 256L).as("energy"))
      .withColumn("active", $"energy" >= 96L)
    val w = Window.partitionBy($"doc_id", $"active").orderBy($"frame_id")
    frames
      .withColumn("seg", $"frame_id" - row_number().over(w))
      .filter($"active")
      .groupBy($"doc_id", $"seg")
      .agg(min($"frame_id").as("start_frame"),
        max($"frame_id").as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum($"energy").as("sum_energy"))
      .select($"doc_id", $"start_frame", $"end_frame", $"n_frames",
        Det.r4($"sum_energy", $"n_frames").as("mean_energy"))
      .orderBy($"doc_id", $"start_frame")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m10_energy_segments" -> energySegments _,
    "m09_scene_cuts"   -> sceneCuts _,
    "m01_binary_meta"  -> binaryMeta _,
    "m08_stream_media_dedup" -> streamMediaDedup _,
    "m02_media_decode" -> mediaDecode _,
    "m03_frame_sample" -> frameSample _,
    "m04_media_features" -> mediaFeatures _,
    "m05_media_resize" -> mediaResize _,
    "m06_media_dedup"  -> mediaDedup _,
    "m07_frame_neardup" -> frameNearDup _,
  )

  val oracles: Map[String, String] = Map(
    // m03's frame derivation; pseudo-energy = md5-hex-prefix % 256
    // (the graft house hash idiom), islands key = frame_id − rn over
    // (doc, active); r4 exact mean
    "m10_energy_segments" -> {
      val D = graft.functions.Det.sql
      s"""WITH t AS (SELECT doc_id, text,
         |  (octet_length(encode(text)) + 255) // 256 AS nf FROM documents
         |  WHERE length(text) > 0),
         |fr AS (SELECT doc_id, CAST(f AS BIGINT) AS frame_id,
         |  ('0x' || substr(md5(substr(text, (f * 256 + 1)::INT, 256)), 1, 4))::BIGINT
         |    % 256 AS energy
         |  FROM t, unnest(range(0, nf)) u(f)),
         |fa AS (SELECT *, (energy >= 96) AS active,
         |  frame_id - row_number() OVER (PARTITION BY doc_id, (energy >= 96)
         |    ORDER BY frame_id) AS seg FROM fr)
         |SELECT doc_id, CAST(min(frame_id) AS BIGINT) AS start_frame,
         |  CAST(max(frame_id) AS BIGINT) AS end_frame,
         |  CAST(count(*) AS BIGINT) AS n_frames,
         |  ${D.r4("CAST(sum(energy) AS BIGINT)", "count(*)")} AS mean_energy
         |FROM fa WHERE active GROUP BY doc_id, seg
         |ORDER BY doc_id, start_frame""".stripMargin
    },
    // m03's frame derivation + the lag-delta window; single-frame
    // payloads have an all-NULL delta → 0 cuts, max_delta 0 in both
    // engines (NULL comparison falls to ELSE / COALESCE)
    "m09_scene_cuts" ->
      """WITH t AS (SELECT doc_id, text,
        |  (octet_length(encode(text)) + 255) // 256 AS nf FROM documents),
        |fr AS (SELECT doc_id, CAST(f AS BIGINT) AS frame_id,
        |  length(regexp_replace(substr(text, (f * 256 + 1)::INT, 256),
        |    '[^a-z]', '', 'g')) AS letters
        |  FROM t, unnest(range(0, nf)) u(f)),
        |d AS (SELECT doc_id, abs(letters - lag(letters) OVER
        |  (PARTITION BY doc_id ORDER BY frame_id)) AS delta FROM fr)
        |SELECT doc_id, count(*) AS n_frames,
        |  CAST(sum(CASE WHEN delta >= 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cuts,
        |  CAST(COALESCE(max(delta), 0) AS BIGINT) AS max_delta
        |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // odd payloads sharing >= 1 frame fingerprint with an even payload
    // (frame derivation = m03's CTE text)
    "m08_stream_media_dedup" ->
      """WITH t AS (SELECT doc_id, text,
        |  (octet_length(encode(text)) + 255) // 256 AS nf FROM documents),
        |fr AS (SELECT DISTINCT doc_id,
        |  md5(substr(text, (f * 256 + 1)::INT, 256)) AS fm
        |  FROM (SELECT doc_id, text, unnest(range(0, nf)) AS f FROM t)),
        |old AS (SELECT fm, min(doc_id) AS dup_of FROM fr
        |  WHERE doc_id % 2 = 0 GROUP BY fm)
        |SELECT fr.doc_id AS new_doc, min(old.dup_of) AS dup_of,
        |  count(*) AS n_shared_frames
        |FROM fr JOIN old USING (fm) WHERE fr.doc_id % 2 = 1
        |GROUP BY fr.doc_id ORDER BY new_doc""".stripMargin,
    "m01_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT) AS n_chunks,
        |sha256(text) AS sha256_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m02_media_decode" ->
      """SELECT doc_id,
        |CAST(1 + ascii(substr(text, 1, 1)) % 64 AS BIGINT) AS width,
        |CAST(1 + ascii(substr(text, 2, 1)) % 64 AS BIGINT) AS height,
        |CAST(3 AS BIGINT) AS channels,
        |CAST((octet_length(encode(text)) + 255) // 256 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m03_frame_sample" ->
      """WITH t AS (SELECT doc_id, text,
        |  (octet_length(encode(text)) + 255) // 256 AS nf FROM documents),
        |fr AS (SELECT doc_id, text, unnest(range(0, nf)) AS f FROM t)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_id,
        |CAST(f * 256 + 1 AS BIGINT) AS off,
        |md5(substr(text, (f * 256 + 1)::INT, 256)) AS frame_md5
        |FROM fr ORDER BY doc_id, frame_id""".stripMargin,
    "m04_media_features" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n,
        |  length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS n_letters,
        |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
        |  length(text) - length(regexp_replace(text, ' ', '', 'g')) AS n_spaces
        |  FROM documents)
        |SELECT doc_id, CAST(n_letters AS BIGINT) AS n_letters,
        |CAST(n_digits AS BIGINT) AS n_digits,
        |CAST(n_spaces AS BIGINT) AS n_spaces,
        |CAST(n - n_letters - n_digits - n_spaces AS BIGINT) AS n_other,
        |round(n_letters / CAST(greatest(n, 1) AS DOUBLE), 4) AS letter_ratio
        |FROM m ORDER BY doc_id""".stripMargin,
    "m05_media_resize" ->
      """SELECT doc_id,
        |CAST((octet_length(encode(text)) + 3) // 4 AS BIGINT) AS n_bytes,
        |md5(array_to_string([substr(text, i, 1)
        |  for i in range(1, length(text) + 1) if (i - 1) % 4 = 0], '')) AS resized_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m06_media_dedup" ->
      """WITH m AS (SELECT doc_id, md5(text) AS content_md5,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents)
        |SELECT content_md5, min(doc_id) AS keep_id, count(*) AS n_copies,
        |min(n_bytes) AS n_bytes
        |FROM m GROUP BY content_md5 ORDER BY keep_id""".stripMargin,
    "m07_frame_neardup" ->
      """WITH t AS (SELECT doc_id, text,
        |  (octet_length(encode(text)) + 255) // 256 AS nf FROM documents),
        |fr AS (SELECT DISTINCT doc_id,
        |  md5(substr(text, (f * 256 + 1)::INT, 256)) AS m
        |  FROM t, unnest(range(0, nf)) u(f))
        |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared_frames
        |FROM fr a JOIN fr b ON a.m = b.m AND a.doc_id < b.doc_id
        |GROUP BY d1, d2 ORDER BY d1, d2""".stripMargin,
  )
}
