package graft

import org.apache.spark.sql.functions._
import graft.sources.DedupIndexStore

/** Contracts of the persisted MinHash/LSH dedup index that the
  * dedup_index_serve oracle can't express: append-built ≡
  * rebuilt-from-scratch (signatures are deterministic, banding is
  * frozen), and the corpus-snapshot staleness gate. */
class DedupIndexSpec extends SparkSpec {

  private def freshPath(tag: String): String = {
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_dedup_idx_spec_$tag").toString
    graft.sources.LakeTable.deleteRecursively(new java.io.File(p))
    p
  }

  test("append-built index is row-identical to a from-scratch rebuild, probes agree") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val cls = col("doc_id") % 7
    val base = docs.filter(cls =!= 3 && cls =!= 5)
    val batchA = docs.filter(cls === 5)
    val probes = docs.filter(cls === 3)

    val grown = freshPath("grown")
    DedupIndexStore.write(spark, SfDir, grown, base)
    DedupIndexStore.append(spark, SfDir, grown, batchA)
    val scratch = freshPath("scratch")
    DedupIndexStore.write(spark, SfDir, scratch, base.unionByName(batchA))

    def postings(p: String) = spark.read.parquet(DedupIndexStore.livePostings(p))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(postings(grown) == postings(scratch),
      "append produced different postings than a rebuild — banding not frozen")

    def decisions(p: String) = DedupIndexStore.probe(spark, SfDir, p, probes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val d = decisions(grown)
    assert(d == decisions(scratch))
    assert(d.nonEmpty, "no verified near-dup pair — probe vacuous at this SF")
  }

  test("compaction is row-invisible and heals fragments; retract ≡ rebuild over survivors") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val cls = col("doc_id") % 7
    val base = docs.filter(cls =!= 3 && cls =!= 5)
    val batchA = docs.filter(cls === 5)
    val probes = docs.filter(cls === 3)

    val p = freshPath("maint")
    DedupIndexStore.write(spark, SfDir, p, base)
    DedupIndexStore.append(spark, SfDir, p, batchA.filter(col("doc_id") % 14 === 12))
    DedupIndexStore.append(spark, SfDir, p, batchA.filter(col("doc_id") % 14 === 5))
    def postings(path: String) = spark.read.parquet(DedupIndexStore.livePostings(path))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    // compaction: the fragment count shrinks, the postings SET does not
    val pre = postings(p)
    val fragsBefore = DedupIndexStore.postingsFragments(p)
    assert(fragsBefore > 1, s"fixture not fragmented ($fragsBefore fragments)")
    DedupIndexStore.compactIndex(spark, SfDir, p, targetFiles = 1)
    assert(DedupIndexStore.postingsFragments(p) == 1)
    assert(postings(p) == pre, "compaction changed the postings set")
    // retraction under the frozen banding equals a from-scratch rebuild
    // over the survivor set — postings AND probe decisions
    val retracted = docs.filter(col("doc_id") % 14 === 5)
    DedupIndexStore.retract(spark, SfDir, p, retracted.select("doc_id"))
    val survivors = freshPath("maint_scratch")
    DedupIndexStore.write(spark, SfDir, survivors,
      base.unionByName(batchA.filter(col("doc_id") % 14 =!= 5)))
    assert(postings(p) == postings(survivors),
      "retract left different postings than a rebuild over the survivors")
    def shingleIds(path: String) = spark.read.parquet(DedupIndexStore.liveShingles(path))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(shingleIds(p) == shingleIds(survivors),
      "retract stranded (or lost) verification shingles")
    def decisions(path: String) = DedupIndexStore.probe(spark, SfDir, path, probes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(decisions(p) == decisions(survivors))
    // generation hygiene: old generations and meta temp files are gone
    val left = Option(new java.io.File(p).listFiles).getOrElse(Array.empty).map(_.getName)
    assert(!left.exists(_.startsWith(".tmp-meta")), s"stray meta temp: ${left.mkString(",")}")
    assert(left.count(_.startsWith("postings-g")) == 1 &&
      left.count(_.startsWith("shingles-g")) == 1,
      s"old generations survived: ${left.mkString(",")}")
    // the probe still refuses a different corpus after maintenance
    val err = intercept[IllegalStateException] {
      DedupIndexStore.probe(spark, "/root/testdata/sf0.01", p, probes.limit(1))
    }
    assert(err.getMessage.contains("DIFFERENT corpus"))
  }

  test("entry emits append-generation hits and novelty; probing a stale index fails loudly") {
    val out = graft.dedup.DedupOps.qDedupIndexServe(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    assert(out.exists(_._2 > 0), "no probe doc matched the index — gate vacuous")
    assert(out.exists(_._3 > 0),
      "no probe doc matched the APPENDED generation — the append path is untested")
    assert(out.exists(_._4 == 1L), "every probe doc was a dup — novelty branch untested")
    out.foreach { case (id, n, nApp, novel) =>
      assert(nApp <= n && (novel == 1L) == (n == 0L), s"inconsistent row for doc $id")
    }
    // the staleness gate: an index built over THIS corpus must refuse
    // probes resolved against a different one
    val path = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_dedup_idx_${graft.SessionCache.dirKey(SfDir)}").toString
    val err = intercept[IllegalStateException] {
      DedupIndexStore.probe(spark, "/root/testdata/sf0.01", path,
        Tables.documents(spark, SfDir).select("doc_id", "text").limit(1))
    }
    assert(err.getMessage.contains("DIFFERENT corpus"))
  }

  test("a warm store builds its probe frame with no Spark job; files match the declared schemas") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val cls = col("doc_id") % 7
    val p = freshPath("warm")
    DedupIndexStore.write(spark, SfDir, p, docs.filter(cls =!= 3 && cls =!= 5))
    DedupIndexStore.append(spark, SfDir, p, docs.filter(cls === 5))
    val probes = docs.filter(cls === 3)
    val first = DedupIndexStore.probe(spark, SfDir, p, probes).collect().toSet
    val (again, jobs) = org.apache.spark.graft.JobCount(spark.sparkContext)(
      DedupIndexStore.probe(spark, SfDir, p, probes))
    assert(jobs == 0, s"building a probe on an unchanged store ran $jobs Spark jobs")
    assert(again.collect().toSet == first)
    assertDeclaredSchemas(p, DedupIndexStore.Schemas)
  }
}
