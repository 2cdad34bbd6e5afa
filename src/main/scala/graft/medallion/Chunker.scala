package graft.medallion

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Chunked ingestion producer (reference `flows/landing.py:27-53`):
  * splits a CSV into ≤`maxBytes` chunks, each chunk re-prefixed with the
  * header line, then delivers chunks to the landing layer in buffered
  * batch objects (the Firehose role: 5 MB buffer, chunks concatenated in
  * arrival order — `infra/main.tf:75-83`).
  *
  * The header-per-chunk behavior is load-bearing fidelity: concatenated
  * batch objects contain embedded header lines, which downstream bronze
  * dedup (`flows/bronze.py:80`) and the silver header-row filter
  * (`flows/silver.py:108`) must clean up. "Fixing" it here would leave
  * those operators untested (SURVEY §7.3 risk 3).
  *
  * This is a driver-side producer by design — it models the external
  * ingestion edge (Kinesis put_record), not a distributed operator; each
  * source file is bounded by the chunk math, never held proportional to
  * cluster data volume.
  */
object Chunker {

  val DefaultMaxBytes: Int = 900 * 1024 // flows/landing.py:28
  val DefaultBufferBytes: Int = 5 * 1024 * 1024 // infra/main.tf:79

  /** Split CSV text into header-prefixed chunks of ≤ maxBytes (UTF-8
    * byte-counted, matching the reference's encode-length accounting).
    * A single body line larger than maxBytes still becomes its own
    * (oversized) chunk, as in the reference.
    */
  def split(text: String, maxBytes: Int = DefaultMaxBytes): Seq[String] = {
    val lines = text.linesIterator.toSeq
    if (lines.isEmpty) return Seq.empty
    val header = lines.head + "\n"
    val headerSize = header.getBytes(UTF_8).length

    val out = Seq.newBuilder[String]
    val chunk = new StringBuilder(header)
    var size = headerSize
    lines.tail.foreach { line =>
      val encoded = line + "\n"
      val encodedSize = encoded.getBytes(UTF_8).length
      if (size + encodedSize > maxBytes) {
        // guard like the tail flush: an oversized FIRST body line would
        // otherwise flush a spurious header-only chunk
        if (size > headerSize) out += chunk.toString
        chunk.clear()
        chunk ++= header ++= encoded
        size = headerSize + encodedSize
      } else {
        chunk ++= encoded
        size += encodedSize
      }
    }
    if (size > headerSize) out += chunk.toString
    out.result()
  }

  /** Firehose-style delivery: concatenate chunks in order into batch
    * objects of ≤ bufferBytes (≥1 chunk each) under `landingDir`,
    * named deterministically for replayable tests. Numbering continues
    * after the highest `part-NNNNN.csv` already in the dir: a second
    * delivery must neither overwrite the first nor reuse a name the
    * streaming file source has already seen.
    */
  def deliver(
      chunks: Seq[String],
      landingDir: String,
      bufferBytes: Int = DefaultBufferBytes): Seq[Path] = {
    val dir = Paths.get(landingDir)
    Files.createDirectories(dir)
    val batches = Seq.newBuilder[Seq[String]]
    var cur = Seq.newBuilder[String]
    var curSize = 0
    chunks.foreach { c =>
      val n = c.getBytes(UTF_8).length
      if (curSize > 0 && curSize + n > bufferBytes) {
        batches += cur.result(); cur = Seq.newBuilder[String]; curSize = 0
      }
      cur += c; curSize += n
    }
    val last = cur.result()
    if (last.nonEmpty) batches += last
    val Part = """part-(\d+)\.csv""".r
    val listing = Files.list(dir)
    val first =
      try listing.iterator().asScala.map(_.getFileName.toString)
        .collect { case Part(n) => n.toInt + 1 }.maxOption.getOrElse(0)
      finally listing.close()
    batches.result().zipWithIndex.map { case (batch, i) =>
      val p = dir.resolve(f"part-${first + i}%05d.csv")
      Files.write(p, batch.mkString.getBytes(UTF_8))
      p
    }
  }

  /** Chunk one CSV file and deliver it to the landing layer. */
  def ingestFile(
      csvPath: Path,
      landingDir: String,
      maxBytes: Int = DefaultMaxBytes,
      bufferBytes: Int = DefaultBufferBytes): Seq[Path] = {
    val text = new String(Files.readAllBytes(csvPath), UTF_8)
    deliver(split(text, maxBytes), landingDir, bufferBytes)
  }
}
