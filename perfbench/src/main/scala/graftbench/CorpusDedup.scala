package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{AnnIndexStore, DedupIndexStore}
import graft.text.TextOps

/** The LLM-data ingest gate: each batch is cleaned by a `TextOps` stage,
  * probed against the MinHash dedup index, and its survivors are appended
  * to the dedup and ANN indexes; ANN top-k is served after every change. */
final class CorpusDedup(spark: SparkSession, seed: Long, root: File) extends Workload {

  val baseDocs = 500
  val baseVectors = 500
  val dim = 64
  val batch = 100
  val minTokens = 8
  val inputs: Map[String, Any] = Map("base_docs" -> baseDocs, "base_vectors" -> baseVectors,
    "dim" -> dim, "batch_docs" -> batch, "steps_per_round" -> 2)
  val workUnit = "batch docs"
  val nominalRoundS = 10.0
  var work = 0.0

  private val data = new File(root, "corpus_dedup")
  private def dataDir = new File(data, "corpus").getPath
  private def dedupPath = new File(data, "dedup_index").getPath
  private def annPath = new File(data, "ann_index").getPath

  private val vocab = Gen.vocabulary(seed, 4000)
  private val space = new Gen.VectorSpace(seed, dim, 24)
  /** Live documents (as the index holds them: cleaned tokens) and vectors. */
  private val live = mutable.LinkedHashMap.empty[Long, Vector[String]]
  private val vectors = mutable.LinkedHashMap.empty[Long, Array[Double]]
  private val admitted = mutable.ArrayBuffer.empty[Long]
  private val retracted = mutable.Set.empty[Long]
  private var resurrect = Seq.empty[Vector[String]]
  private var nextId = 100000L
  private var batchNo = 0L
  private var planted = 0L
  private var plantedFound = 0L
  private var recallSum = 0.0
  private var recallN = 0
  private var indexBytes = 0L
  private var admittedDocs = 0L

  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("vec", ArrayType(DoubleType, containsNull = false))))

  def setup(h: Harness): Unit = {
    Workload.deleteTree(data)
    val r = Gen.rng(seed, "corpus")
    val docs = (0 until baseDocs).map(i => i.toLong -> Gen.novelTokens(r, vocab, 30, 80))
    docs.foreach { case (id, t) => live(id) = t }
    spark.createDataFrame(java.util.Arrays.asList(docs.map { case (id, t) =>
        Row(id, t.mkString(" "), if (id % 5 == 0) "de" else "en", s"src${id % 4}", t.mkString(" ").length.toLong)
      }: _*), StructType(docSchema.fields ++ Seq(StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType))))
      .coalesce(1).write.parquet(s"$dataDir/documents.parquet")
    val vecRows = (0 until baseVectors).map { i =>
      val v = space.vector(i)
      vectors(i.toLong) = v.map(_.toDouble)
      Row(i.toLong, v.toSeq, space.label(i))
    }
    spark.createDataFrame(java.util.Arrays.asList(vecRows: _*), StructType(Seq(
        StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType))))
      .coalesce(1).write.parquet(s"$dataDir/embeddings.parquet")
    DedupIndexStore.write(spark, dataDir, dedupPath, spark.read.parquet(s"$dataDir/documents.parquet"))
    AnnIndexStore.write(spark, dataDir, annPath)
  }

  def warmup(h: Harness): Unit = step(h, 0)

  def round(h: Harness, r: Int): Unit = (0 until 2).foreach(step(h, _))

  /** One batch through the gate, then a retraction (even steps) or a
    * compaction (odd steps) of both indexes; top-k is served after each. */
  private def step(h: Harness, s: Int): Unit = {
    gate(h)
    serve(h)
    if (s % 2 == 0) {
      val r = Gen.rng(seed, "retract", batchNo)
      val ids = r.shuffle(admitted.toSeq).take(8)
      val idsDf = spark.createDataFrame(java.util.Arrays.asList(ids.map(Row(_)): _*),
        StructType(Seq(StructField("doc_id", LongType))))
      write(h, "dedup_retract", "dedup_index.retract", dedupPath) {
        DedupIndexStore.retract(spark, dataDir, dedupPath, idsDf)
      }
      write(h, "ann_retract", "ann_index.retract", annPath) {
        AnnIndexStore.retract(spark, dataDir, annPath, idsDf.withColumnRenamed("doc_id", "vec_id"))
      }
      resurrect = ids.map(live)
      ids.foreach { id => live -= id; vectors -= id; retracted += id }
      admitted --= ids
      serve(h)
    }
    else {
      write(h, "dedup_compact", "dedup_index.compact", dedupPath) {
        DedupIndexStore.compactIndex(spark, dataDir, dedupPath, targetFiles = 4)
      }
      write(h, "ann_compact", "ann_index.compact", annPath) {
        AnnIndexStore.compactIndexFiles(spark, dataDir, annPath, targetFiles = 4)
      }
      serve(h)
    }
  }

  /** A write to one index store. The bytes it added, rewrites by retract
    * and compact included, count toward `bytes_written_per_row`. */
  private def write(h: Harness, op: String, layer: String, path: String)(body: => Unit): Unit = {
    val before = Workload.listing(new File(path))
    h.op(op, "write")(h.call(layer)(body))
    val added = Workload.bytesAdded(before, Workload.listing(new File(path)))
    if (h.measuring) {
      h.add(layer.takeWhile(_ != '.') + ".bytes_written", added)
      indexBytes += added
    }
  }

  /** One batch through the ingest gate: clean, probe, admit survivors. */
  private def gate(h: Harness): Unit = {
    batchNo += 1
    val r = Gen.rng(seed, "batch", batchNo)
    val liveIds = live.keys.toIndexedSeq
    val docs = mutable.ArrayBuffer.empty[(Long, Vector[String])]
    val sources = mutable.Map.empty[Long, Long]
    val junk = mutable.Set.empty[Long]
    resurrect.foreach { t => docs += nextId -> t; nextId += 1 }
    resurrect = Seq.empty
    // the shares are exact per batch (slot i of n falls in percentile
    // i * 100 / n), so the admitted count does not drift with the seed
    val free = batch - docs.size
    for (k <- r.shuffle((0 until free).map(_ * 100 / free))) {
      val id = nextId; nextId += 1
      if (k < 30) {
        val src = liveIds(r.nextInt(liveIds.size))
        docs += id -> (if (k < 20) Gen.nearDuplicate(live(src), r, vocab) else live(src))
        sources(id) = src
      } else if (k < 35) { docs += id -> Gen.novelTokens(r, vocab, 1, minTokens - 1); junk += id }
      else if (k < 40) {
        val t = Gen.novelTokens(r, vocab, 30, 80)
        docs += id -> t.patch(r.nextInt(t.size), Seq("mail", "ops@example.com", "or", "https://example.com/x", "5551234567"), 0)
      } else docs += id -> Gen.novelTokens(r, vocab, 30, 80)
    }
    val batchPath = new File(data, s"batch-$batchNo.parquet").getPath
    val vecPath = new File(data, s"batch-$batchNo-vectors.parquet").getPath
    val stagedPath = new File(data, s"staged-$batchNo.parquet").getPath
    spark.createDataFrame(java.util.Arrays.asList(docs.map { case (id, t) => Row(id, t.mkString(" ")) }.toSeq: _*), docSchema)
      .coalesce(1).write.parquet(batchPath)
    val batchVectors = docs.map { case (id, _) => id -> space.vector(id).map(_.toDouble) }.toMap
    spark.createDataFrame(java.util.Arrays.asList(batchVectors.toSeq.map { case (id, v) => Row(id, v.toSeq) }: _*), vecSchema)
      .coalesce(1).write.parquet(vecPath)

    h.op("text_stage", "stage") {
      h.call("text") {
        spark.read.parquet(batchPath)
          .withColumn("text", TextOps.scrubPii(col("text")))
          .filter(TextOps.wsTokenCount(col("text")) >= minTokens)
          .write.parquet(stagedPath)
      }
    }
    val staged = spark.read.parquet(stagedPath).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    h.check(s"text stage batch $batchNo keeps every doc of at least $minTokens tokens, scrubbed")(
      staged.keySet == docs.map(_._1).toSet -- junk &&
        staged.values.forall(t => !Gen.hasPii(t)))
    if (h.measuring) { h.add("text.in", docs.size); h.add("text.kept", staged.size) }
    val stagedTokens = staged.map { case (id, t) => id -> Gen.tokens(t) }

    val pairs = h.op("probe", "read") {
      h.call("dedup_index.probe") {
        DedupIndexStore.probe(spark, dataDir, dedupPath, spark.read.parquet(stagedPath)).collect()
      }
    }.getOrElse(Array.empty[Row])
    h.check(s"probe batch $batchNo: every pair is a live base doc at Jaccard >= 0.5, counts exact")(
      pairs.forall { p =>
        val (d, b) = (p.getLong(0), p.getLong(1))
        live.contains(b) && stagedTokens.contains(d) && {
          val (sa, sb) = (Gen.shingles(stagedTokens(d)), Gen.shingles(live(b)))
          val inter = (sa intersect sb).size.toLong
          val union = sa.size + sb.size - inter
          inter == p.getLong(2) && union == p.getLong(3) && inter * 2 >= union
        }
      })
    val found = pairs.map(p => (p.getLong(0), p.getLong(1))).toSet
    val hits = sources.count { case (d, src) => found((d, src)) }
    h.check(s"probe batch $batchNo finds $hits of ${sources.size} planted duplicates")(
      hits >= 0.9 * sources.size)
    if (h.measuring) { planted += sources.size; plantedFound += hits }

    val rejected = (found.map(_._1) ++ junk).toSeq
    val survivors = staged.keys.filterNot(rejected.contains).toSeq.sorted
    write(h, "append", "dedup_index.append", dedupPath) {
      DedupIndexStore.append(spark, dataDir, dedupPath,
        spark.read.parquet(stagedPath).filter(!col("doc_id").isin(rejected: _*)))
    }
    write(h, "ann_append", "ann_index.append", annPath) {
      AnnIndexStore.append(spark, dataDir, annPath,
        spark.read.parquet(vecPath).filter(!col("vec_id").isin(rejected: _*)))
    }
    survivors.foreach { id => live(id) = stagedTokens(id); vectors(id) = batchVectors(id) }
    admitted ++= survivors
    if (h.measuring) { work += docs.size; admittedDocs += survivors.size }
  }

  /** ANN top-10 for the planted queries, against brute force over the
    * live vectors. */
  private def serve(h: Harness): Unit = {
    h.op("serve", "read") {
      h.call("ann_index.serve")(AnnIndexStore.serve(spark, dataDir, annPath).collect())
    }.foreach { rows =>
      val served = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      val truth = bruteTop10(served.keys.toSeq)
      val recalls = truth.map { case (q, t) => (served(q) intersect t).size / 10.0 }
      val recall = recalls.sum / recalls.size
      h.check(s"serve after batch $batchNo: ${served.size} queries, no retracted id")(
        served.size == (0 until baseVectors).count(_ % 25 == 0) &&
          served.values.forall(_.forall(id => !retracted.contains(id))))
      h.check(f"serve after batch $batchNo: mean recall@10 $recall%.3f vs brute force")(recall >= 0.6)
      if (h.measuring) { recallSum += recall; recallN += 1 }
    }
  }

  private def bruteTop10(queryIds: Seq[Long]): Map[Long, Set[Long]] = {
    val base = vectors.toArray
    val norms = base.map { case (_, v) => math.sqrt(v.map(x => x * x).sum) }
    queryIds.map { q =>
      val qv = vectors(q - 1000000L).map(_ * 1.01)
      val qn = math.sqrt(qv.map(x => x * x).sum)
      val scored = base.indices.map { i =>
        val v = base(i)._2
        var dot = 0.0; var j = 0
        while (j < v.length) { dot += qv(j) * v(j); j += 1 }
        (-(dot / (qn * norms(i))), base(i)._1)
      }
      q -> scored.sorted.take(10).map(_._2).toSet
    }.toMap
  }

  override def extra(h: Harness): Map[String, (Double, String)] = Map(
    "dup_recall" -> (if (planted > 0) plantedFound.toDouble / planted else 0.0, "fraction"),
    "ann_recall_at_10" -> (if (recallN > 0) recallSum / recallN else 0.0, "fraction"),
    "bytes_written_per_row" -> (if (admittedDocs > 0) indexBytes.toDouble / admittedDocs else 0.0, "bytes"),
    "text.keep_ratio" -> (h.counters.getOrElse("text.kept", 0.0) / math.max(1.0, h.counters.getOrElse("text.in", 0.0)), "ratio"),
    "dedup_index.fragments" -> (DedupIndexStore.postingsFragments(dedupPath).toDouble, "count"),
    "ann_index.fragments" -> (AnnIndexStore.codesFragments(annPath).toDouble, "count"))
}
