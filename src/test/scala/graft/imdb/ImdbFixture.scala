package graft.imdb

import java.nio.file.{Files, Path}

/** A tiny IMDB input set in the reference's layout, with every
  * FIXTURES.md A1-A6 quirk:
  *  - `train-1.csv`, `train-2.csv` (one glob): a header that starts
  *    with a comma (the unnamed pandas index), `\N` sentinels, empty
  *    numVotes cells, accented and empty titles, a boolean label;
  *  - `validation_hidden.csv`, `test_hidden.csv`: the same columns
  *    without the label;
  *  - `writing.json`: one top-level JSON array of {movie, writer};
  *  - `directing.json`: the pandas columns-orient object
  *    {"movie": {idx: tconst}, "director": {idx: nmconst}}, the two
  *    maps in opposite key order;
  *  - `train_gemma3_4b_cache.csv`, `validation_gemma3_4b_cache.csv`:
  *    tconst,genre over the genre whitelist plus `unknown`;
  *  - `tmdb_extra.csv`: a TMDB-like table with duplicate imdb_id rows
  *    and zero or empty budget cells.
  *
  * Movie `i` is a pure function of `i` through the rules below, so a
  * test derives each expected count from the rules, never from the
  * reader under test.
  */
object ImdbFixture {

  val trainIds: Range = 1 to 48
  val trainFiles: Seq[(String, Range)] = Seq("train-1.csv" -> (1 to 24), "train-2.csv" -> (25 to 48))
  val validationIds: Range = 49 to 60
  val testIds: Range = 61 to 72
  val allIds: Range = 1 to 72

  def id(i: Int): String = f"tt$i%07d"
  def startYear(i: Int): Option[Int] = if (i % 11 == 0) None else Some(1950 + i % 60)
  def hasRuntime(i: Int): Boolean = i % 6 != 0
  def hasVotes(i: Int): Boolean = i % 9 != 0
  def label(i: Int): Boolean = i % 3 == 0

  /** Writers of movie `i`, one JSON element each (a repeat included). */
  def writers(i: Int): Seq[String] = s"nm${i % 6}" +: (if (i % 2 == 0) Seq(s"nm${i % 4}") else Nil)
  def directed(i: Int): Boolean = i % 10 != 0
  def director(i: Int): String = s"nm${100 + i % 3}"

  /** The train cache covers the even train ids. */
  def trainCacheGenre(i: Int): Option[String] =
    if (i % 2 != 0) None else Some(if (i % 4 == 0) "Drama" else "unknown")
  /** The validation cache covers every validation id. */
  def validationCacheGenre(i: Int): String =
    if (i % 5 == 0) "unknown" else Enrichment.MovieGenres(i % Enrichment.MovieGenres.size)

  /** TMDB rows: the odd ids below 60, then 3 and 9 again. */
  val extraIds: Seq[Int] = (1 to 60 by 2) ++ Seq(3, 9)

  /** Writes the input set into a new temp directory. */
  def write(): Path = {
    val d = Files.createTempDirectory("graft_imdb_fixture")
    def file(name: String, lines: Seq[String]): Unit =
      Files.write(d.resolve(name), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    def movie(i: Int): String = {
      val title = if (i % 7 == 0) s"Amélie à Paris $i" else s"Movie $i"
      val original = if (i % 5 == 0) "" else title
      val year = startYear(i).fold("\\N")(_.toString)
      val runtime = if (hasRuntime(i)) (80 + i % 50).toString else "\\N"
      val votes = if (hasVotes(i)) s"${(i * 37) % 2000}.0" else ""
      s"$i,${id(i)},$title,$original,$year,\\N,$runtime,$votes"
    }
    val header = ",tconst,primaryTitle,originalTitle,startYear,endYear," +
      "runtimeMinutes,numVotes"
    trainFiles.foreach { case (name, ids) =>
      file(name, (header + ",label") +: ids.map(i => movie(i) + (if (label(i)) ",True" else ",False")))
    }
    file("validation_hidden.csv", header +: validationIds.map(movie))
    file("test_hidden.csv", header +: testIds.map(movie))
    file("writing.json", Seq(allIds.flatMap(i =>
      writers(i).map(w => s"""{"movie":"${id(i)}","writer":"$w"}""")).mkString("[", ",", "]")))
    // the director map lists its keys in reverse: JSON key order means
    // nothing, so only a join on the index key pairs the two maps
    def orient(f: Int => String, order: Seq[(Int, Int)] => Seq[(Int, Int)]) =
      order(allIds.filter(directed).zipWithIndex)
        .map { case (i, k) => s""""$k":"${f(i)}"""" }.mkString("{", ",", "}")
    file("directing.json", Seq(
      s"""{"movie":${orient(id, identity)},"director":${orient(director, _.reverse)}}"""))
    file("train_gemma3_4b_cache.csv", "tconst,genre" +:
      trainIds.flatMap(i => trainCacheGenre(i).map(g => s"${id(i)},$g")))
    file("validation_gemma3_4b_cache.csv", "tconst,genre" +:
      validationIds.map(i => s"${id(i)},${validationCacheGenre(i)}"))
    file("tmdb_extra.csv", "id,imdb_id,title,budget,revenue,popularity" +:
      extraIds.zipWithIndex.map { case (i, k) =>
        val money = if (i % 5 == 0) "0" else if (i % 7 == 0) "" else s"${i * 1000}"
        s"$k,${id(i)},Movie $i,$money,${i * 2500},${i % 4}.5"
      })
    d
  }
}
