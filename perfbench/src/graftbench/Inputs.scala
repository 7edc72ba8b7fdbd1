package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{LocalDate, LocalDateTime}

import scala.util.Random

import graft.gen.FixtureGen

/** Seeded input generators. Every input the program sees is produced here
  * from the workload seed; the same seed gives byte-identical files. */
object Inputs {

  /** lake_etl: days x rows-per-day of raw payments CSV. */
  val EtlDays = 4
  val EtlRowsPerDay = 25000
  /** lake_etl and the curation probe draw their input from
    * `seed mod Variants`, the seeds whose expected outputs are committed. */
  val Variants = 16

  def payments(rawRoot: String, seed: Long): Seq[File] =
    FixtureGen.generate(rawRoot, FixtureGen.Config(days = EtlDays,
      rowsPerDay = EtlRowsPerDay, invalidRate = 0.02, seed = seed))

  /** The curation probe: documents over the 31-word vocabulary of the sf0.1
    * `documents` table, with planted shares of exact duplicates (a copy, or
    * a copy with one doubled space, so the normalized fingerprint still
    * matches), near duplicates (one or two word substitutions) and short
    * documents below the quality gate's length floor. */
  val CorpusDocs = 10000
  val Vocabulary: Vector[String] = Vector("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  val ExactShare = 0.05
  val NearShare = 0.10
  val ShortShare = 0.05

  def corpus(jsonl: String, n: Int, seed: Long): Unit = {
    val rng = new Random(seed)
    def words(k: Int): Array[String] = Array.fill(k)(Vocabulary(rng.nextInt(Vocabulary.size)))
    val texts = new Array[String](n)
    writeLines(jsonl, (0 until n).iterator.map { i =>
      val r = rng.nextDouble()
      val text =
        if (i > 0 && r < ExactShare) {
          val base = texts(rng.nextInt(i))
          if (rng.nextBoolean()) base else {
            val at = base.indexOf(' ', rng.nextInt(base.length))
            if (at < 0) base else base.substring(0, at) + " " + base.substring(at)
          }
        } else if (i > 0 && r < ExactShare + NearShare) {
          val w = texts(rng.nextInt(i)).split(" ")
          (0 to rng.nextInt(2)).foreach(_ => w(rng.nextInt(w.length)) =
            Vocabulary(rng.nextInt(Vocabulary.size)))
          w.mkString(" ")
        } else if (r < ExactShare + NearShare + ShortShare) words(5 + rng.nextInt(8)).mkString(" ")
        else words(20 + rng.nextInt(81)).mkString(" ")
      texts(i) = text
      Json.obj(Seq("doc_id" -> i.toString, "text" -> Json.str(text),
        "lang" -> Json.str("en"), "source" -> Json.str(s"src${rng.nextInt(10)}"),
        "n_chars" -> text.length.toString))
    })
  }

  /** The streaming probe: one raw CSV file per micro-batch, a new day each. */
  val StreamRowsPerFile = 20000
  val StreamStart: LocalDate = LocalDate.parse("2025-01-01")

  /** Writes day `day`'s file under `staging` and returns it. */
  def streamDay(staging: String, seed: Long, day: Int): File = {
    val date = StreamStart.plusDays(day.toLong)
    FixtureGen.generate(staging, FixtureGen.Config(startDate = date, days = 1,
      rowsPerDay = StreamRowsPerFile, invalidRate = 0.02,
      seed = seed * 1000003L + day))
    new File(s"$staging/transactions/ingest_date=$date/transactions_$date.csv")
  }

  /** Reference for the streaming sink check, computed from the file text
    * alone: distinct txn_ids among rows whose txn_ts parses. */
  def distinctTimedIds(csv: File): Long = {
    val src = scala.io.Source.fromFile(csv, "UTF-8")
    try src.getLines().drop(1).map(_.split(",", -1)).filter { f =>
      f.length == 8 && scala.util.Try(LocalDateTime.parse(f(6))).isSuccess
    }.map(_(0)).toSet.size.toLong
    finally src.close()
  }

  /** catalog: the seed only permutes the query order. */
  def order[A](xs: Seq[A], seed: Long): Seq[A] = new Random(seed).shuffle(xs)

  def writeLines(path: String, lines: Iterator[String]): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}
