package graftbench

import java.io.File
import java.nio.file.Files

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.IngestOps
import graft.sources.LakeTable

/** Daily refresh of a keyed cards table: ingest a Scryfall-shaped batch,
  * upsert it with `LakeTable.merge`, and read after every commit. Each
  * round ends by serving registered query entries (cards-sets from the
  * session cache, and a TPC-H entry over a small star schema). */
final class LakeRefresh(spark: SparkSession, seed: Long, root: File) extends Workload {
  import spark.implicits._

  val catalogue = 8000
  val batch = 400
  val serveSf = 0.005
  val serveQueries = Seq("q_cards_per_set", "q18_large_orders")
  val inputs: Map[String, Any] = Map("catalogue_cards" -> catalogue, "batch_lines" -> batch,
    "sets" -> Gen.NSets, "steps_per_round" -> 3, "serve_sf" -> serveSf,
    "serve_queries" -> serveQueries.size)
  val workUnit = "source rows"
  val nominalRoundS = 8.0
  var work = 0.0

  private val data = new File(root, "lake_refresh")
  private def table = new File(data, "cards_lake").getPath
  private def staged = new File(data, "staged").getPath
  private def tables = new File(data, "tables").getPath
  private val model = new LakeModel
  private var version = 0
  private var batchNo = 0L
  private var upserted = 0L
  private var bytesWritten = 0L

  def setup(h: Harness): Unit = {
    Workload.deleteTree(data)
    data.mkdirs()
    val r = Gen.rng(seed, "catalogue")
    val cards = Vector.fill(catalogue)(Gen.newCard(r))
    val jsonl = new File(data, "catalogue.jsonl").toPath
    Files.write(jsonl, cards.map(c => Gen.cardJson(c)).asJava)
    (0 until Gen.NSets).map(i => (Gen.setCode(i), s"Set ${Gen.setCode(i)}", if (i % 3 == 0) "core" else "expansion"))
      .toDF("code", "set_name", "set_type").coalesce(1)
      .write.mode("overwrite").parquet(new File(data, "sets.parquet").getPath)
    val ingested = tableColumns(IngestOps.ingestParsedCards(
      spark.read.schema(IngestOps.CardSchema).json(jsonl.toString)))
      .filter(col("accepted")).drop("accepted")
    version = LakeTable.create(spark, table, ingested, Seq("id"), nBuckets = 8, layout = "range")
    model.upsert(cards)
    h.check("setup: created table matches the model")(tableMatchesModel())
    StarSchema.generate(spark, seed, tables, serveSf)
  }

  def warmup(h: Harness): Unit = { step(h, 0); serve(h) }

  def round(h: Harness, r: Int): Unit = { (0 until 3).foreach(step(h, _)); serve(h) }

  private def serve(h: Harness): Unit =
    serveQueries.foreach(q => StarSchema.runQuery(spark, h, q, "query", tables))

  /** The served queries' results, for the DuckDB oracle after the run. */
  override def finish(h: Harness): Unit =
    StarSchema.writeResults(spark, h, serveQueries, tables, new File(data, "results"))

  /** One daily batch; the second step of a round also withdraws cards and
    * the third compacts, so every round ends with a compaction. */
  private def step(h: Harness, s: Int): Unit = {
    val (lines, expect) = nextBatch()
    val path = new File(data, s"batch-$batchNo.jsonl").toPath
    Files.write(path, lines.asJava)
    val counts = h.op("ingest", "stage") {
      h.call("ingest") {
        val obs = Observation()
        tableColumns(IngestOps.ingestParsedCards(
          spark.read.schema(IngestOps.CardSchema).json(path.toString)))
          .observe(obs, count(lit(1)).as("rows"), sum(col("accepted").cast("long")).as("accepted"))
          .write.mode("overwrite").parquet(staged)
        val m = Await.result(obs.future, 60.seconds)
        (m.getAs[Long]("rows"), m.getAs[Long]("accepted"))
      }
    }
    counts.foreach { case (rows, accepted) =>
      h.check(s"ingest batch $batchNo: $accepted of $rows lines accepted, expected ${expect.size} of ${lines.size}")(
        rows == lines.size && accepted == expect.size)
      if (h.measuring) { h.add("ingest.rows", rows); h.add("ingest.accepted", accepted) }
    }
    commit(h, "merge", "lake.merge", model.upsert(expect)) {
      LakeTable.merge(spark, table, spark.read.parquet(staged).filter(col("accepted")).drop("accepted"), Seq("id"))
    }
    if (h.measuring) { work += lines.size; upserted += expect.size }
    if (s == 1) {
      val r = Gen.rng(seed, "withdraw", batchNo)
      val ids = Seq.fill(20)(model.order(r.nextInt(model.order.size))).distinct
      commit(h, "delete_dv", "lake.delete", model.delete(ids)) {
        LakeTable.deleteDV(spark, table, ids.toDF("id"), Seq("id"))
      }
    }
    if (s == 2) commit(h, "compact", "lake.compact", Set.empty) {
      LakeTable.compact(spark, table, targetFiles = 8)
    }
  }

  /** The next refresh batch as JSON lines, and the cards it should upsert:
    * 85% refreshes of existing cards skewed toward recently added ones,
    * 9% new cards (a third with unparseable dates), 3% malformed lines and
    * 3% lines with a layout outside the allowed domain. These shares are
    * assumptions, not measured from real refresh batches (README.md). */
  private def nextBatch(): (Seq[String], Seq[Gen.Card]) = {
    batchNo += 1
    val r = Gen.rng(seed, "batch", batchNo)
    val used = scala.collection.mutable.Set.empty[String]
    val lines = Seq.newBuilder[String]
    val expect = Seq.newBuilder[Gen.Card]
    for (i <- 0 until batch) {
      val k = r.nextInt(100)
      if (k < 3) lines += Gen.malformedLine(r)
      else if (k < 12) {
        val c = Gen.newCard(r)
        if (i % 3 == 0) { lines += Gen.cardJson(c, badDate = true); expect += c.copy(released = None) }
        else { lines += Gen.cardJson(c); expect += c }
      } else {
        // recency skew: the square of a uniform draw favours the tail of `order`
        val u = r.nextDouble()
        val id = model.order(model.order.size - 1 - (u * u * (model.order.size - 1)).toInt)
        if (used.add(id) && model.rows.contains(id)) {
          val c = Gen.refreshed(model.rows(id), r)
          if (k < 15) lines += Gen.cardJson(c, layoutOverride = Some("weird_layout"))
          else { lines += Gen.cardJson(c); expect += c }
        } else lines += Gen.cardJson(Gen.newCard(r), layoutOverride = Some("weird_layout"))
      }
    }
    (lines.result(), expect.result())
  }

  /** A committing operation, the reads that follow it, and the checks of
    * both against the model. `changed` applies the commit to the model and
    * returns the ids the commit changed. */
  private def commit(h: Harness, opName: String, layer: String, changed: => Set[String])(
      body: => Int): Unit = {
    val before = Workload.listing(new File(table))
    val filesBefore = LakeTable.manifestFiles(table, version).toSet
    val v = h.op(opName, "write")(h.call(layer)(body))
    val keys = changed
    v.foreach { nv =>
      val after = Workload.listing(new File(table))
      val filesAfter = LakeTable.manifestFiles(table, nv).toSet
      if (h.measuring) {
        bytesWritten += Workload.bytesAdded(before, after)
        h.add("lake.files_rewritten", (filesBefore -- filesAfter).size)
      }
      h.check(s"$opName v$nv matches the model")(nv == version + 1 && tableMatchesModel())
      version = nv
      reads(h, keys)
    }
  }

  private def reads(h: Harness, changedKeys: Set[String]): Unit = {
    val sets = spark.read.parquet(new File(data, "sets.parquet").getPath)
    h.op("read_agg", "read") {
      h.call("lake.read") {
        LakeTable.read(spark, table).groupBy("set")
          .agg(count(lit(1)).as("n"), sum(col("usd_cents")).as("usd"))
          .join(broadcast(sets), col("set") === col("code"))
          .select("code", "set_type", "n", "usd").collect()
      }
    }.foreach { rows =>
      val expect = model.perSet
      h.check(s"read_agg v$version per-set counts and sums")(
        rows.length == expect.size && rows.forall { row =>
          val usd = if (row.isNullAt(3)) 0L else row.getLong(3)
          expect.get(row.getString(0)).contains((row.getLong(2), usd))
        })
    }
    // point lookups are the most frequent read: six per commit, so the
    // median read is a lookup, not the boundary between lookups and the
    // costlier aggregate and changes reads
    val lookup = Gen.rng(seed, "lookup", version)
    for (_ <- 1 to 6) {
      val id = model.order(lookup.nextInt(model.order.size))
      h.op("scan_point", "read") {
        h.call("lake.scan") {
          LakeTable.scan(spark, table, "id", id, id).select(LakeModel.canonicalCol).collect()
        }
      }.foreach { rows =>
        h.check(s"scan_point v$version id $id")(
          rows.map(_.getString(0)).toSeq == model.rows.get(id).map(LakeModel.canonical).toSeq)
        if (h.measuring) {
          val (kept, total) = LakeTable.prunedEntries(table, version, "id", id, id)
          h.add("lake.scan.files_kept", kept.size); h.add("lake.scan.files_total", total)
        }
      }
    }
    h.op("changes", "read") {
      h.call("lake.changes") {
        LakeTable.changes(spark, table, version - 1, version, Seq("id")).select("id").collect()
      }
    }.foreach { rows =>
      val got = rows.map(_.getString(0)).toSet
      h.check(s"changes(v${version - 1}, v$version) returns exactly the ${changedKeys.size} changed ids")(
        got == changedKeys && rows.length == got.size)
    }
  }

  private def tableMatchesModel(): Boolean = {
    val row = LakeTable.read(spark, table).agg(LakeModel.checksumCols.head, LakeModel.checksumCols.tail: _*).head()
    val h = if (row.isNullAt(1)) BigInt(0) else BigInt(row.getDecimal(1).toBigInteger)
    row.getLong(0) == model.count && h == model.checksum
  }

  /** The lake table's columns out of the ingested cards, plus the
    * accept flag: a parseable line with an id and an allowed layout. */
  private def tableColumns(ingested: DataFrame): DataFrame =
    ingested.select(col("id"), col("name"), col("set"), col("released_date"), col("layout"),
      col("rarity"), col("cmc"),
      (col("price_usd") * 100).cast("bigint").as("usd_cents"),
      (expr("try_cast(prices.eur as decimal(10,2))") * 100).cast("bigint").as("eur_cents"),
      col("legalities")("standard").as("standard"), col("legalities")("modern").as("modern"),
      col("legalities")("commander").as("commander"),
      col("image_normal"), col("n_faces"), col("edhrec_rank"),
      (col("id").isNotNull && coalesce(col("layout_valid"), lit(false))).as("accepted"))

  override def extra(h: Harness): Map[String, (Double, String)] = {
    val m = LakeTable.manifest(table, version)
    val kept = h.counters.getOrElse("lake.scan.files_kept", 0.0)
    val total = h.counters.getOrElse("lake.scan.files_total", 0.0)
    val rows = h.counters.getOrElse("ingest.rows", 0.0)
    Map(
      "bytes_written_per_row" -> (if (upserted > 0) bytesWritten.toDouble / upserted else 0.0, "bytes"),
      "lake.bytes_written" -> (bytesWritten.toDouble, "bytes"),
      "lake.live_files" -> (m.files.size.toDouble, "count"),
      "lake.scan.files_kept_ratio" -> (if (total > 0) kept / total else 0.0, "ratio"),
      "ingest.accept_ratio" -> (if (rows > 0) h.counters.getOrElse("ingest.accepted", 0.0) / rows else 0.0, "ratio"),
      "table_rows" -> (model.count.toDouble, "count"))
  }
}
