package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
import javax.imageio.metadata.IIOMetadataNode

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** REAL video decode → frame-sample → per-frame perceptual hash — the
  * fourth face of the multimodal dedup family, built on the one
  * multi-frame codec the JDK actually ships: animated GIF (ImageIO
  * reads every frame via `ImageReader.read(i)`, writes sequences via
  * `writeToSequence` — verified deterministic: identical input frames
  * produce byte-identical containers). Generic containers (mp4/webm)
  * stay out of reach in this sandbox — no JDK codec — so they remain
  * byte-histogram stubs in [[Multimodal]]; everything that makes video
  * dedup VIDEO-shaped (frame extraction, temporal sampling, per-frame
  * hashing, alignment-free clip matching) is real here and
  * codec-agnostic: swap [[decodeFrames]] for an FFmpeg binding and
  * nothing downstream changes.
  *
  * ==Pipeline==
  *  1. decode all frames (mapPartitions — the [[Multimodal]] decode
  *     justification), keep every `every`-th frame (temporal sampling:
  *     a production pipeline never hashes all 30 fps);
  *  2. hash each sampled frame with [[ImagePhash.phashOf]] — stills
  *     and video frames share ONE perceptual space, so a video frame
  *     can even be matched against the image corpus;
  *  3. clip-grain near-dup: frame-grain candidates via the shared
  *     [[MultiIndexHamming]] core (radius ≤ 15 guaranteed, inline
  *     popcount verify), rolled up ALIGNMENT-FREE per video pair — a
  *     clip pairs when at least `minFrac` of the shorter side's
  *     sampled frames match some frame of the other, so a re-encode
  *     (same timeline) and a TRIMMED copy (shifted timeline) both
  *     surface, which fixed-ordinal matching would miss.
  *
  * Scale shape: the frame-hash relation is 16 bytes per sampled frame
  * (a 2-hour clip sampled at 1 fps is ~115 KB of codes); the only
  * shuffles are the chunk join (fixed ×9 probe fanout, pair work
  * inside hash-collision buckets only) and the (vid_a, vid_b) rollup
  * whose input is already candidate-sparse. Decode parallelism
  * follows [[Multimodal.repartitionForDecode]].
  */
object VideoFrames {

  val MaxDistance: Int = MultiIndexHamming.MaxDistance

  /** Frame ordinals pack into the frame id below this bound. */
  private val OrdSpace = 1000000L

  /** Encode grayscale frames as an animated GIF (deterministic for
    * identical input frames).
    */
  def encodeGif(frames: Seq[BufferedImage]): Array[Byte] = {
    require(frames.nonEmpty, "encodeGif needs at least one frame")
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      val wp = writer.getDefaultWriteParam
      val meta = writer.getDefaultImageMetadata(
        ImageTypeSpecifier.createFromBufferedImageType(frames.head.getType), wp)
      val fmt = meta.getNativeMetadataFormatName
      val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      val gce = new IIOMetadataNode("GraphicControlExtension")
      gce.setAttribute("disposalMethod", "none")
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("delayTime", "10")
      gce.setAttribute("transparentColorIndex", "0")
      root.appendChild(gce)
      meta.setFromTree(fmt, root)
      writer.prepareWriteSequence(null)
      frames.foreach(f => writer.writeToSequence(new IIOImage(f, null, meta), wp))
      writer.endWriteSequence()
    } finally {
      ios.close()
      writer.dispose()
    }
    bos.toByteArray
  }

  /** Every frame of an animated GIF; None if the payload doesn't
    * decode (the [[AudioFingerprint]] corrupt-payload convention).
    */
  def decodeFrames(bytes: Array[Byte]): Option[Vector[BufferedImage]] =
    try {
      val reader = ImageIO.getImageReadersByFormatName("gif").next()
      try {
        reader.setInput(ImageIO.createImageInputStream(new ByteArrayInputStream(bytes)))
        val n = reader.getNumImages(true)
        if (n <= 0) None
        else Some((0 until n).map(reader.read).toVector)
      } finally reader.dispose()
    } catch { case _: Exception => None }

  /** (media_id, ord, phash) for every `every`-th frame of every
    * decodable video in `media` — ord is the SAMPLE ordinal (0, 1, …),
    * phash the shared [[ImagePhash.phashOf]] DCT hash of that frame.
    */
  def framePhashes(media: Dataset[MediaRecord], every: Int = 2): DataFrame = {
    require(every >= 1, s"every=$every must be >= 1")
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      if (m.kind != "video") Iterator.empty
      else decodeFrames(m.content).iterator.flatMap { frames =>
        frames.indices.by(every).zipWithIndex.map { case (fi, ord) =>
          (m.media_id, ord.toLong, ImagePhash.phashOf(frames(fi)))
        }
      }
    }).toDF("media_id", "ord", "phash")
  }

  /** Near-duplicate video pairs (id_a < id_b): alignment-free
    * clip matching over sampled frame hashes — `matched_frames` =
    * the matched sample count on the smaller side, kept when it
    * reaches `minFrac` of that side's samples. Exact within the
    * frame-grain multi-probe radius.
    */
  def nearDuplicates(media: Dataset[MediaRecord], every: Int = 2,
      maxDist: Int = MaxDistance, minFrac: Double = 0.5): DataFrame = {
    val frames = graft.core.Materialize.pin(framePhashes(media, every))
    val sizes = frames.groupBy(col("media_id")).agg(count(lit(1)).as("n"))
    // frame-grain candidates through the shared chunk-join core; the
    // sample ordinal rides packed into the frame id
    val packed = frames
      .select((col("media_id") * OrdSpace + col("ord")).as("media_id"), col("phash"))
    val framePairs = MultiIndexHamming.nearDuplicatePairs(packed, "phash", maxDist)
      // integer `div`, not Column./ (double division — the q64 rule)
      .select(expr(s"id_a div $OrdSpace").as("vid_a"),
        pmod(col("id_a"), lit(OrdSpace)).as("ord_a"),
        expr(s"id_b div $OrdSpace").as("vid_b"),
        pmod(col("id_b"), lit(OrdSpace)).as("ord_b"))
      .filter(col("vid_a") =!= col("vid_b"))
    framePairs
      .groupBy(col("vid_a").as("id_a"), col("vid_b").as("id_b"))
      .agg(least(countDistinct(col("ord_a")), countDistinct(col("ord_b")))
        .as("matched_frames"))
      .join(sizes.select(col("media_id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("media_id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("n_min", least(col("n_a"), col("n_b")))
      .filter(col("matched_frames") >= greatest(lit(1L), ceil(col("n_min") * minFrac)))
      .select(col("id_a"), col("id_b"), col("matched_frames"), col("n_min"))
  }

  /** Persist the frame-grain (media_id, ord, phash) relation as a
    * probe-able index — 24 bytes/sampled frame, the corpus decoded
    * ONCE; day-2 batches probe stored frame hashes without re-decoding
    * a single corpus clip (the [[ImagePhash.writeIndex]] / q210
    * incremental discipline). `every` must match between build and
    * probe: the alignment-free rollup compares SAMPLE counts.
    */
  def writeIndex(media: Dataset[MediaRecord], indexDir: String,
      every: Int = 2): Unit =
    framePhashes(media, every).write.mode("overwrite").parquet(indexDir)

  /** Incremental clip near-dup: decode ONLY the new batch's frames,
    * probe the stored frame index, and run the same alignment-free
    * rollup as [[nearDuplicates]] restricted to (batch clip, index
    * clip) pairs — (probe_id, index_id, matched_frames, n_min). The
    * index side's sample counts come from the stored relation, so the
    * corpus contributes nothing but a parquet scan of its codes.
    */
  def nearDuplicatesAgainst(media: Dataset[MediaRecord], indexDir: String,
      every: Int = 2, maxDist: Int = MaxDistance,
      minFrac: Double = 0.5): DataFrame = {
    val batch = graft.core.Materialize.pin(framePhashes(media, every))
    val index = media.sparkSession.read.parquet(indexDir)
    val bSizes = batch.groupBy(col("media_id")).agg(count(lit(1)).as("n"))
    val iSizes = index.groupBy(col("media_id")).agg(count(lit(1)).as("n"))
    def packed(df: DataFrame) = df
      .select((col("media_id") * OrdSpace + col("ord")).as("media_id"), col("phash"))
    val framePairs = MultiIndexHamming
      .searchAgainst(packed(batch), packed(index), "phash", maxDist)
      .select(expr(s"probe_id div $OrdSpace").as("vp"),
        pmod(col("probe_id"), lit(OrdSpace)).as("ord_p"),
        expr(s"index_id div $OrdSpace").as("vi"),
        pmod(col("index_id"), lit(OrdSpace)).as("ord_i"))
      .filter(col("vp") =!= col("vi"))
    framePairs
      .groupBy(col("vp").as("probe_id"), col("vi").as("index_id"))
      .agg(least(countDistinct(col("ord_p")), countDistinct(col("ord_i")))
        .as("matched_frames"))
      .join(bSizes.select(col("media_id").as("probe_id"), col("n").as("n_p")),
        Seq("probe_id"))
      .join(iSizes.select(col("media_id").as("index_id"), col("n").as("n_i")),
        Seq("index_id"))
      .withColumn("n_min", least(col("n_p"), col("n_i")))
      .filter(col("matched_frames") >= greatest(lit(1L), ceil(col("n_min") * minFrac)))
      .select(col("probe_id"), col("index_id"), col("matched_frames"), col("n_min"))
  }
}
