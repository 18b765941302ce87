package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload. The runner calls `setup` once (it generates
  * the inputs and builds the initial state from scratch), then `warmup`
  * once, then a fixed number of whole `round`s, then `finish`. */
trait Workload {
  /** Sizes of the generated inputs, recorded with every result. */
  def inputs: Map[String, Any]
  /** About how long one measured round takes; a run of `--seconds` runs
    * `max(1, floor(seconds / nominalRoundS))` rounds. */
  def nominalRoundS: Double
  def setup(h: Harness): Unit
  def warmup(h: Harness): Unit
  def round(h: Harness, r: Int): Unit
  /** Untimed work after the measured loop (a correctness pass). */
  def finish(h: Harness): Unit = ()
  /** Units of work the measured operations completed (rows, queries, docs). */
  def work: Double
  def workUnit: String
  /** Workload-specific end-to-end figures for the report. */
  def extra(h: Harness): Map[String, (Double, String)] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, work: File): Workload = name match {
    case "lake_refresh" => new LakeRefresh(spark, seed, work)
    case "star_query"   => new StarQuery(spark, seed, work)
    case "corpus_dedup" => new CorpusDedup(spark, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  /** Relative path -> size of every file under `dir`. */
  def listing(dir: File): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    def walk(f: File, rel: String): Unit =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty)
        .foreach(c => walk(c, rel + "/" + c.getName))
      else out(rel) = f.length
    if (dir.exists) walk(dir, "")
    out.toMap
  }

  /** Bytes of files present in `after` that were not in `before`. */
  def bytesAdded(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (p, n) if !before.contains(p) => n }.sum
}
