package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded generator of the reference-domain CSVs (bands, albums, reviews)
  * with every FIXTURES.md edge case planted at a fixed rate, plus the
  * closed-form row counts the medallion layers must produce from them.
  *
  * Cardinalities follow the sf0.1 shape (supplier → 1k bands,
  * part → 20k albums, lineitem → reviews); the review count is a
  * parameter. Every row is a pure function of
  * (seed, id), so a duplicate can re-emit any earlier row exactly.
  *
  * Planted rates (all fixed, by id):
  *  - bands.csv header `ID,Name,Country,Genre,Theme,Status,Formed in,Active`
  *    (upper case, a space in `Formed in`);
  *  - albums.csv header `id, Title ,band,year` (padded, capitalised);
  *  - band id ≡ 0 (mod 20): country ` brasil ` (padded, lower case);
  *  - band id ≡ 0 (mod 25): `formed_in` and `active` are `N/A`;
  *    ≡ 1 (mod 25): `formed_in` empty;
  *  - band id ≡ 3 (mod 10): quoted `active` with an embedded comma;
  *  - band id ≡ 7 (mod 50): the band has no albums;
  *  - album id ≡ 0 (mod 20): year `N/A`; ≡ 1 (mod 20): year empty;
  *  - review id ≡ 0 (mod 100): album id not in albums.csv (FK miss);
  *  - review id ≡ 0 (mod 7): `|` in content;
  *  - after every review id ≡ 0 (mod 50): one exact duplicate of an
  *    earlier review line;
  *  - chunking re-inserts the header into every 900 KB chunk, so every
  *    delivered object past its first chunk carries embedded header rows.
  */
object Gen {

  val Bands = 1000
  val Albums = 20000
  /** Reviews of the sf0.1 shape: lineitem has ~600k rows. */
  val Sf01Reviews = 600000

  val Countries: IndexedSeq[String] = IndexedSeq(
    "Algeria", "Argentina", "Brazil", "Canada", "Egypt", "Ethiopia", "France",
    "Germany", "India", "Indonesia", "Iran", "Iraq", "Japan", "Jordan", "Kenya",
    "Morocco", "Mozambique", "Peru", "China", "Romania", "Saudi Arabia",
    "Vietnam", "Russia", "United Kingdom", "United States")
  private val Genres = IndexedSeq("Death Metal", "Black/Death Metal", "Doom/Death Metal",
    "Technical Death Metal", "Melodic Death Metal")
  private val Themes = IndexedSeq("Occultism", "Death", "War", "Chaos", "Gore", "Antichristianity")
  private val Statuses = IndexedSeq("Active", "Split-up", "On hold")
  private val Words = IndexedSeq("altars", "madness", "left", "hand", "path", "stream",
    "slowly", "rot", "blessed", "sick", "legion", "spawn", "cursed", "abyss", "torment",
    "grave", "eternal", "rites", "crypt", "tomb", "riffs", "tone", "buzzsaw", "sunlight",
    "essential", "groundbreaking", "solid", "derivative", "brutal", "heavy")

  val BandsHeader = "ID,Name,Country,Genre,Theme,Status,Formed in,Active"
  val AlbumsHeader = "id, Title ,band,year"
  val ReviewsHeader = "id,album,title,score,content"

  /** Chunking constants of the program's landing defaults
    * (`Chunker.DefaultMaxBytes`, `Chunker.DefaultBufferBytes`), restated
    * so the expected counts do not come from the code under test.
    */
  val ChunkBytes: Int = 900 * 1024
  val BufferBytes: Int = 5 * 1024 * 1024

  private def rnd(seed: Long, kind: Int, id: Long) =
    new SplittableRandom(seed * 1000003L + kind * 7919L + id)
  private def words(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => Words(r.nextInt(Words.size))).mkString(" ")

  def bandCountry(seed: Long, id: Int): String =
    if (id % 20 == 0) " brasil " else Countries(rnd(seed, 1, id).nextInt(Countries.size))

  def bandLine(seed: Long, id: Int): String = {
    val r = rnd(seed, 2, id)
    val formed = 1970 + r.nextInt(40)
    val (formedIn, active) =
      if (id % 25 == 0) ("N/A", "N/A")
      else if (id % 10 == 3) (formed.toString, s"\"$formed-${formed + 10}, ${formed + 15}-present\"")
      else (if (id % 25 == 1) "" else formed.toString, s"$formed-present")
    Seq(id.toString, s"Band ${words(r, 2)} $id", bandCountry(seed, id),
      Genres(r.nextInt(Genres.size)), Themes(r.nextInt(Themes.size)),
      Statuses(r.nextInt(Statuses.size)), formedIn, active).mkString(",")
  }

  def albumBand(seed: Long, id: Int): Int = {
    val b = 1 + rnd(seed, 3, id).nextInt(Bands)
    if (b % 50 == 7) b + 1 else b
  }

  def albumLine(seed: Long, id: Int): String = {
    val r = rnd(seed, 4, id)
    val year = if (id % 20 == 0) "N/A" else if (id % 20 == 1) "" else (1980 + r.nextInt(41)).toString
    s"$id,${words(r, 3)},${albumBand(seed, id)},$year"
  }

  /** Album of review `id`; ids past [[Albums]] are FK misses. */
  def reviewAlbum(seed: Long, id: Long): Int =
    if (id % 100 == 0) Albums + 1 + rnd(seed, 5, id).nextInt(1000)
    else 1 + rnd(seed, 5, id).nextInt(Albums)

  def reviewLine(seed: Long, id: Long): String = {
    val r = rnd(seed, 6, id)
    val score = r.nextInt(101) / 10.0
    val content = if (id % 7 == 0) s"${words(r, 4)} | ${words(r, 3)}" else words(r, 6)
    s"$id,${reviewAlbum(seed, id)},${words(r, 2)},$score,$content"
  }

  /** Review ids in line order: distinct ids 1..n, and after every id ≡ 0
    * (mod 50) a duplicate of an earlier id.
    */
  def reviewIds(seed: Long, n: Int): Array[Long] = {
    val b = Array.newBuilder[Long]
    var id = 1L
    while (id <= n) {
      b += id
      if (id % 50 == 0) b += 1 + rnd(seed, 7, id).nextLong(id)
      id += 1
    }
    b.result()
  }

  /** Expected rows per table: `bronze/<ds>`, `silver/<t>`, `gold/<t>`. */
  type Counts = Map[String, Long]

  /** Embedded header rows the landing chunker creates for one file:
    * every chunk that is not the first of its delivered object.
    */
  def embeddedHeaders(lineBytes: Iterator[Int], headerBytes: Int): Int = {
    var chunks = 0; var chunkSize = 0; var chunkRows = 0
    var objects = 0; var objSize = 0
    def closeChunk(): Unit = if (chunkRows > 0) {
      if (objSize > 0 && objSize + chunkSize > BufferBytes) { objSize = 0 }
      if (objSize == 0) objects += 1
      objSize += chunkSize; chunks += 1
    }
    chunkSize = headerBytes
    lineBytes.foreach { n =>
      if (chunkSize + n > ChunkBytes) {
        closeChunk(); chunkSize = headerBytes; chunkRows = 0
      }
      chunkSize += n; chunkRows += 1
    }
    closeChunk()
    chunks - objects
  }

  private def utf8Len(s: String): Int = s.getBytes(UTF_8).length + 1

  /** Generated inputs: review lines split into `increments` equal slices,
    * and the expected counts after each slice is landed and published.
    */
  final case class Inputs(
      seed: Long, reviewLines: Array[Long], sliceEnds: IndexedSeq[Int],
      expected: IndexedSeq[Counts])

  def plan(seed: Long, reviews: Int, increments: Int): Inputs = {
    val ids = reviewIds(seed, reviews)
    val ends = (1 to increments).map(k => (ids.length.toLong * k / increments).toInt)
    val bandOfAlbum = Array.tabulate(Albums + 1)(a => if (a == 0) 0 else albumBand(seed, a))
    val countryOf = Array.tabulate(Bands + 1)(b => if (b == 0) "" else bandCountry(seed, b))
    val bandsWithAlbums = bandOfAlbum.drop(1).distinct.length.toLong
    require(embeddedHeaders((1 to Albums).iterator.map(a => utf8Len(albumLine(seed, a))),
      utf8Len(AlbumsHeader)) == 0 && embeddedHeaders((1 to Bands).iterator.map(b =>
      utf8Len(bandLine(seed, b))), utf8Len(BandsHeader)) == 0,
      "albums.csv and bands.csv must fit one landing chunk")

    val reviewed = new java.util.BitSet(Bands + 1)
    var fkMiss = false
    var unique = 0L
    var headerRows = 0
    var start = 0
    val expected = ends.map { end =>
      headerRows += embeddedHeaders(
        (start until end).iterator.map(i => utf8Len(reviewLine(seed, ids(i)))),
        utf8Len(ReviewsHeader))
      var i = start
      while (i < end) {
        val id = ids(i)
        // a duplicate re-emits an earlier id; only first sightings count
        if (id == unique + 1) {
          unique += 1
          val a = reviewAlbum(seed, id)
          if (a > Albums) fkMiss = true else reviewed.set(bandOfAlbum(a))
        }
        i += 1
      }
      start = end
      val reviewedBands = Iterator.iterate(reviewed.nextSetBit(0))(b => reviewed.nextSetBit(b + 1))
        .takeWhile(_ >= 0).toSeq
      val perCountry = reviewedBands.groupBy(b => countryOf(b)).values.map(_.size)
      val miss = if (fkMiss) 1L else 0L
      val brazilian = reviewedBands.count { b =>
        val c = countryOf(b).trim.toLowerCase; c == "brazil" || c == "brasil"
      }
      Map(
        "bronze/albums" -> Albums.toLong,
        "bronze/bands" -> Bands.toLong,
        "bronze/reviews" -> (unique + (if (headerRows > 0) 1 else 0)),
        "silver/albums" -> Albums.toLong,
        "silver/bands" -> Bands.toLong,
        "silver/music_catalog" -> Albums.toLong,
        "silver/reviews" -> unique,
        "silver/album_reviews" -> unique,
        "gold/top10_by_country" -> (perCountry.map(n => math.min(n, 10).toLong).sum + miss),
        "gold/band_avg_scores" -> (reviewedBands.size + miss),
        "gold/brazilian_bands" -> brazilian.toLong,
        "gold/band_album_counts" -> bandsWithAlbums)
    }
    Inputs(seed, ids, ends, expected)
  }

  private def writeLines(p: Path, header: String, lines: Iterator[String]): Long = {
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p, UTF_8)
    try {
      w.write(header); w.write('\n')
      lines.foreach { l => w.write(l); w.write('\n') }
    } finally w.close()
    Files.size(p)
  }

  /** bands.csv and albums.csv into `dir`; returns bytes written. */
  def writeDims(in: Inputs, dir: Path): Long =
    writeLines(dir.resolve("bands.csv"), BandsHeader,
      (1 to Bands).iterator.map(bandLine(in.seed, _))) +
    writeLines(dir.resolve("albums.csv"), AlbumsHeader,
      (1 to Albums).iterator.map(albumLine(in.seed, _)))

  /** Review lines of slice `k` (0-based) as `reviews.csv` in `dir`;
    * returns bytes written.
    */
  def writeReviews(in: Inputs, dir: Path, k: Int): Long = {
    val (from, to) = (if (k == 0) 0 else in.sliceEnds(k - 1), in.sliceEnds(k))
    writeLines(dir.resolve("reviews.csv"), ReviewsHeader,
      (from until to).iterator.map(i => reviewLine(in.seed, in.reviewLines(i))))
  }
}
