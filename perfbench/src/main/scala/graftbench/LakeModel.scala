package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

/** Plain-Scala last-write-wins model of the refreshed cards table, and the
  * order-insensitive checksum both sides compute: the sum over rows of the
  * XXH64 (seed 42, Spark's `xxhash64`) of a canonical '|'-joined row. */
object LakeModel {
  val Null = "\\N"

  def canonical(c: Gen.Card): String =
    Seq(c.id, c.set, c.released.getOrElse(Null), c.layout, c.rarity, c.cmc.toString,
      c.usdCents.fold(Null)(_.toString), c.eurCents.fold(Null)(_.toString),
      c.standard, c.modern, c.commander).mkString("|")

  def rowHash(canonicalRow: String): Long = {
    val b = canonicalRow.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  def checksum(rows: Iterable[String]): BigInt = rows.foldLeft(BigInt(0))(_ + rowHash(_))

  /** The same canonical row over the lake table's columns. */
  val canonicalCol: Column = {
    def s(c: Column) = coalesce(c.cast("string"), lit(Null))
    concat_ws("|", col("id"), col("set"), s(col("released_date")), col("layout"),
      col("rarity"), s(col("cmc").cast("int")), s(col("usd_cents")), s(col("eur_cents")),
      col("standard"), col("modern"), col("commander"))
  }

  /** Spark side of [[checksum]]: (row count, checksum). */
  val checksumCols: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(xxhash64(canonicalCol).cast("decimal(38,0)")).as("h"))
}

/** Live rows by id, with the set of ids the last commit changed. */
final class LakeModel {
  val rows = mutable.LinkedHashMap.empty[String, Gen.Card]
  /** Ids in insertion order, for the refresh skew toward recent cards. */
  val order = mutable.ArrayBuffer.empty[String]

  def upsert(cards: Seq[Gen.Card]): Set[String] = {
    cards.foreach { c =>
      if (!rows.contains(c.id)) order += c.id
      rows(c.id) = c
    }
    cards.map(_.id).toSet
  }

  def delete(ids: Seq[String]): Set[String] = {
    val hit = ids.filter(rows.contains).toSet
    rows --= hit
    hit
  }

  def count: Long = rows.size.toLong
  def checksum: BigInt = LakeModel.checksum(rows.values.map(LakeModel.canonical))

  /** (cards, sum of USD cents) per set, as the aggregate read reports it. */
  def perSet: Map[String, (Long, Long)] =
    rows.values.groupBy(_.set).map { case (s, cs) =>
      s -> (cs.size.toLong, cs.flatMap(_.usdCents).sum)
    }
}
