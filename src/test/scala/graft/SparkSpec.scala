package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs; sf0.001 testdata keeps suites fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val SfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession(getClass.getSimpleName, cpus = "4")

  override def afterAll(): Unit = {
    // one JVM per sbt test run (fork := true); keep the session for speed
    super.afterAll()
  }

  /** An index store reads its file sets with the schemas it declares, so
    * each set under `dir` (named `<set>.parquet` or `<set>-g<gen>.parquet`)
    * must hold exactly the declared columns and types, and every declared
    * set must be there. */
  def assertDeclaredSchemas(dir: String,
      declared: Map[String, org.apache.spark.sql.types.StructType]): Unit = {
    val sets = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
      .map(d => d.getName.takeWhile(c => c != '-' && c != '.') -> d.getPath)
    assert(sets.map(_._1).toSet == declared.keySet)
    for ((name, path) <- sets) {
      val written = spark.read.parquet(path).schema
      assert(written.fieldNames.sameElements(declared(name).fieldNames) &&
        org.apache.spark.sql.types.DataType.equalsStructurally(written, declared(name),
          ignoreNullability = true), s"$path: wrote $written, declares ${declared(name)}")
    }
  }

  /** Non-vacuity guard for oracle-gated queries: a predicate that matches
    * zero rows would hash-match an empty oracle result and pass the
    * correctness gate without verifying anything. */
  def assertNonEmpty(df: org.apache.spark.sql.DataFrame, what: String): Unit =
    assert(!df.isEmpty, s"$what returned zero rows — a vacuous oracle match")
}
