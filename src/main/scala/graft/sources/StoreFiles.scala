package graft.sources

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet file sets that an index store ([[AnnIndexStore]],
  * [[DedupIndexStore]]) writes and reads back itself. Each store declares
  * the schema of every file set it owns: writes conform to it, and reads
  * pass it to `spark.read.schema(...)`. A bare `spark.read.parquet(dir)`
  * runs a one-task footer job to infer what the store already knows — on
  * a warm serve that was about six jobs of pure overhead per call. */
private[sources] object StoreFiles {

  /** `df` projected to `schema`'s column order, casting only a column
    * whose type differs — a frame that already matches plans (and writes)
    * exactly as before, so the declared read schema holds by construction. */
  def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toIndexedSeq.map { f =>
      if (DataType.equalsStructurally(df.schema(f.name).dataType, f.dataType,
          ignoreNullability = true)) col(f.name)
      else col(f.name).cast(f.dataType).as(f.name)
    }: _*)

  /** part-file names currently in a store directory. */
  def partFiles(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSet

  /** Upper bound on waiting for an append's observed row count. The
    * metrics arrive through the listener bus right after the write
    * returns; a sink that never delivers them must fail, not hang. */
  val ObservationWait: FiniteDuration = 60.seconds

  /** Append `df` (conformed to `schema`) to the parquet directory `dir`,
    * counting its rows on the way through `observe` instead of a second
    * job. Returns the row count and the part files this append wrote — a
    * before/after listing diff, exact because a store has one writer per
    * path by contract. Rows written with no new part file in the listing
    * (a non-local filesystem, a part-file naming change) fail loudly:
    * bookkeeping them as appended would leave rows the store never
    * indexes. */
  def appendCounted(df: DataFrame, schema: StructType, dir: String,
      store: String): (Long, Seq[String]) = {
    val before = partFiles(dir)
    val obs = Observation()
    conform(df, schema).observe(obs, count(lit(1)).as("n"))
      .write.mode("append").parquet(dir)
    val n =
      try Await.result(obs.future, ObservationWait).getAs[Long]("n")
      catch { case e: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"$store: the appended row count for $dir did not arrive within " +
            s"$ObservationWait", e)
      }
    val newFiles = (partFiles(dir) -- before).toSeq.sorted.map(f => s"$dir/$f")
    require(n == 0 || newFiles.nonEmpty,
      s"$store: appended $n rows to $dir, but its listing shows no new part " +
        "file — the rows would be counted and never indexed")
    (n, newFiles)
  }
}
