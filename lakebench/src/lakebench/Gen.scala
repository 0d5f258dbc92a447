package lakebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.scd2.Scd2

/** Seeded input generators. Every value is a pure function of
 *  (seed, key, revision), so the driver-side models that check results
 *  recompute exactly what the executors generated. */
object Gen {

  /** SplitMix64 finalizer over a combined key. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val States = Array(
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA", "HI", "ID",
    "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN", "MS",
    "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "OH", "OK",
    "OR", "PA", "RI", "SC", "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV",
    "WI", "WY")

  final case class Contact(id: Int, name: String, email: String, state: String) {
    def row: Row = Row(id, name, email, state)
  }

  /** Contact `id` at revision `rev`: a new revision changes every
   *  payload column, so its SCD2 checksum differs from all earlier ones. */
  def contact(seed: Long, id: Int, rev: Int): Contact = {
    val h = mix(mix(seed, id.toLong), rev.toLong)
    Contact(id, s"name-$id-r$rev-${h & 0xffff}",
      s"user$id.r$rev.${(h >>> 16) & 0xffff}@example.com",
      States(java.lang.Math.floorMod(h >>> 32, States.length.toLong).toInt))
  }

  /** Revision-0 contacts with ids in [from, until), in the reference's
   *  declared source schema. */
  def contacts(spark: SparkSession, seed: Long, from: Int, until: Int): DataFrame = {
    val rows = spark.sparkContext
      .range(from.toLong, until.toLong, 1L, spark.sparkContext.defaultParallelism)
      .map(i => contact(seed, i.toInt, 0).row)
    spark.createDataFrame(rows, Scd2.contactSchema)
  }

  def contactsOf(spark: SparkSession, cs: Seq[Contact]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(cs.map(_.row).asJava, Scd2.contactSchema)
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  val WordsPerDoc = 40
  private val Vocabulary = 1L << 20

  private def word(seed: Long, w: Long): String = {
    var h = mix(seed ^ 0x5bd1e995L, w)
    val sb = new StringBuilder
    val len = 5 + java.lang.Math.floorMod(h, 5L).toInt
    var i = 0
    while (i < len) { h = mix(h, i.toLong); sb += ('a' + java.lang.Math.floorMod(h, 26L)).toChar; i += 1 }
    sb.toString
  }

  /** Words of document `doc`, drawn from a 2^20-word vocabulary: two
   *  independent documents share no word 3-shingle in practice. */
  def docWords(seed: Long, doc: Long): Array[String] =
    Array.tabulate(WordsPerDoc)(j =>
      word(seed, java.lang.Math.floorMod(mix(mix(seed, doc), j.toLong), Vocabulary)))

  /** A near-copy of `doc`: its last word replaced, which changes one of
   *  its 38 word 3-shingles, so the copy's Jaccard to `doc` is 37/39.
   *  The check wants every copy dropped, so a copy must lie where the
   *  index's 16 bands of 4 MinHash rows cannot miss it: at 37/39 no band
   *  matches with probability (1 - (37/39)^4)^16, about 3e-12. A middle
   *  word would change three shingles (Jaccard 35/41), and there banded
   *  LSH misses about 5 copies in a million by design, about one run in
   *  sixty at 3,000 copies a run. */
  def nearCopy(seed: Long, doc: Long, salt: Long): String = {
    val w = docWords(seed, doc)
    w(WordsPerDoc - 1) = word(seed ^ 0x7f4a7c15L, salt)
    w.mkString(" ")
  }

  def corpus(spark: SparkSession, seed: Long, docs: Int): DataFrame = {
    val rows = spark.sparkContext
      .range(0L, docs.toLong, 1L, spark.sparkContext.defaultParallelism)
      .map(d => Row(d, docWords(seed, d).mkString(" ")))
    spark.createDataFrame(rows, DocSchema)
  }
}
