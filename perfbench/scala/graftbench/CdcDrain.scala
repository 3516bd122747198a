package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.cdc.{Envelope, SchemaHistory}
import graft.streaming.Sinks
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The CDC consumer: drains a Debezium-envelope backlog for `orders` and
  * `lineitem` (one JSON-lines file-source topic each) through
  * `Envelope.parse` → `Envelope.extractNewRecordState` →
  * `Sinks.foreachBatchUpsert` with `Trigger.AvailableNow`, one file per
  * micro-batch. Each topic opens with a few large snapshot files; the
  * change files that follow carry Zipf-skewed updates, deletes, new keys,
  * stale versions, a redelivered file, and — after the consumer restarts
  * with a widened row schema — a nullable added column. Once both tables
  * are drained, the consumer's downstream reader runs one contract query of
  * the same shape: the gauntlet's Q3 over CDC-materialized `orders` and
  * `lineitem` (`q03_materialized`) on a small star schema. An op is one
  * change-phase micro-batch; its latency is the batch's `triggerExecution`.
  * The timed region is the drain plus the query.
  */
final class CdcDrain(spark: SparkSession, inputs: String, work: String) extends Workload {
  import CdcDrain.Table

  private val tables = Seq(
    Table("orders", Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType, "o_orderdate" -> LongType,
      "o_orderpriority" -> StringType), Seq("o_orderkey"), Nil, "o_comment"),
    Table("lineitem", Seq("l_orderkey" -> LongType, "l_rowid" -> LongType,
      "l_partkey" -> LongType, "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
      "l_tax" -> DoubleType, "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> LongType), Seq("l_orderkey", "l_rowid"), Seq("l_orderkey"), "l_comment"))

  private def expected(src: String): JsonNode =
    new ObjectMapper().readTree(new File(s"$src/expected.json"))

  /** Layer of the op spans. */
  private val opLayer = "streaming"

  /** The downstream contract query, its star schema, and where its result
    * is written for the DuckDB compare.
    */
  private val analyst = "q03_materialized"
  private val starDir = s"$inputs/cdc_star"
  private val results = s"$work/results"

  /** Runs the contract query through the `noop` sink; returns its build
    * and execution times in microseconds.
    */
  private def query(tr: Tracer): (Long, Long) = {
    val b0 = tr.nowUs
    val df = tr.span("call", "contract.build", "contract")(
      graft.SparkEntry.queries(analyst)(spark, starDir))
    val b1 = tr.nowUs
    tr.span("call", "contract.exec", "contract")(
      df.write.format("noop").mode("overwrite").save())
    (b1 - b0, tr.nowUs - b1)
  }

  /** Lays the backlog out: `now` files in the topic, `later` files staged
    * beside it. Modification times follow file order, which is the order
    * the file source reads them in.
    */
  private def stage(src: String, root: String): Unit =
    tables.filter(t => new File(s"$src/${t.name}").isDirectory).foreach { t =>
      val base = System.currentTimeMillis() - 3600 * 1000L
      val files = Seq("now" -> s"$root/${t.name}/topic", "later" -> s"$root/${t.name}/later")
        .flatMap { case (sub, dst) =>
          new File(dst).mkdirs()
          Option(new File(s"$src/${t.name}/$sub").listFiles).getOrElse(Array.empty[File])
            .sortBy(_.getName).map(f => f -> new File(dst, f.getName))
        }
      files.zipWithIndex.foreach { case ((from, to), i) =>
        Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)
        to.setLastModified(base + i * 1000L)
      }
    }

  /** Drains one table's backlog: the first consumer with the base schema,
    * then a restart with the widened schema after the `later` files land.
    * Returns the streaming query id (a restart keeps it).
    */
  private def drain(t: Table, root: String, tr: Tracer): String = {
    val topic = s"$root/${t.name}/topic"
    def consume(widened: Boolean): String = {
      val raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(topic)
      val changes = tr.span("call", "Envelope.extractNewRecordState", "cdc")(
        Envelope.extractNewRecordState(
          tr.span("call", "Envelope.parse", "cdc")(Envelope.parse(raw, t.schema(widened)))))
      tr.span("call", "Sinks.foreachBatchUpsert", "streaming") {
        val q = Sinks.foreachBatchUpsert(changes, s"$root/${t.name}/table",
          s"$root/${t.name}/ckpt", t.keys, "__lsn", bucketCols = t.bucketCols)
        q.awaitTermination()
        q.id.toString
      }
    }
    val first = consume(widened = false)
    Option(new File(s"$root/${t.name}/later").listFiles).getOrElse(Array.empty[File])
      .sortBy(_.getName).foreach { f =>
        val dst = new File(topic, f.getName)
        val mtime = f.lastModified
        Files.move(f.toPath, dst.toPath)
        dst.setLastModified(mtime)
      }
    val second = consume(widened = true)
    require(first == second, "a restart from the same checkpoint keeps the query id")
    first
  }

  /** The backlog is laid out by each pass itself (`stage`). */
  def prepare(dir: String): Unit = ()

  /** Drains the small warm-up backlog of `lineitem` (both tables share
    * every code path), then runs the contract query once, writing its
    * result for the DuckDB compare (the query is deterministic: the timed
    * executions produce the same rows).
    */
  def warmUp(dir: String, tr: Tracer): Unit = {
    stage(s"$inputs/cdc_warm", dir)
    drain(tables.last, dir, tr)
    graft.SparkEntry.queries(analyst)(spark, starDir).write.parquet(s"$results/$analyst")
    Files.write(new File(s"$results/oracle_sql.json").toPath,
      Json.obj(analyst -> Json.str(graft.SparkEntry.oracleSql(analyst))).getBytes("UTF-8"))
  }

  def timed(dir: String, tr: Tracer): PassResult = {
    stage(s"$inputs/cdc", dir)
    val exp = expected(s"$inputs/cdc")
    val t0 = tr.nowUs
    val queryIds = tables.map(t => t -> drain(t, dir, tr))
    val (buildUs, execUs) = query(tr)
    val wall = (tr.nowUs - t0) / 1e6
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    val progress = tr.progress.asScala.toSeq.filter(_.inputRows > 0)
    // one micro-batch per topic file: snapshot files first, then changes
    val perTable = queryIds.map { case (t, id) =>
      val e = exp.get(t.name)
      val batches = progress.filter(_.queryId == id).sortBy(_.batchId)
      val files = e.get("snapshot_files").asInt + e.get("change_files").asInt
      (batches.splitAt(e.get("snapshot_files").asInt),
        Check(s"${t.name}.batches", batches.size == files,
          s"${batches.size} micro-batches for $files topic files"))
    }
    val snap = perTable.flatMap(_._1._1)
    val ch = perTable.flatMap(_._1._2)
    val ops = ch.map(p => Op(p.startUs, p.endUs))
    if (tr.enabled) {
      snap.foreach(p => tr.addSpan("phase", "snapshot batch", "streaming", p.startUs, p.endUs))
      ch.foreach(p => tr.addSpan("op", s"batch ${p.batchId}", opLayer, p.startUs, p.endUs))
    }
    def p50(key: String) = Layers.median(ch.map(_.durationMs.getOrElse(key, 0L).toDouble))
    // rows applied, from the generator (numInputRows counts every re-read
    // of a batch by the sink's jobs)
    def events(key: String) = tables.map(t => exp.get(t.name).get(key).asDouble).sum
    val changeRows = events("change_events")
    val inOps = tr.jobs.values.asScala.toSeq
      .filter(j => ch.exists(p => p.startUs <= j.startUs && j.startUs <= p.endUs))
    val inOpStages = inOps.flatMap(_.stageIds).toSet
    val opOutputRows = tr.stages.asScala.toSeq.filter(s => inOpStages.contains(s.stageId))
      .map(_.outputRows).sum.toDouble
    val snapMs = snap.map(_.triggerMs).sum.toDouble
    PassResult(ops, wall, Map(
      "streaming.trigger_ms_p50" -> p50("triggerExecution"),
      "streaming.add_batch_ms_p50" -> p50("addBatch"),
      "streaming.wal_commit_ms_p50" -> p50("walCommit"),
      "streaming.commit_offsets_ms_p50" -> p50("commitOffsets"),
      "streaming.query_planning_ms_p50" -> p50("queryPlanning"),
      "streaming.latest_offset_ms_p50" -> p50("latestOffset"),
      "streaming.get_batch_ms_p50" -> p50("getBatch"),
      "streaming.jobs_per_batch" -> inOps.size.toDouble / math.max(ch.size, 1),
      "streaming.write_amplification" -> (if (changeRows > 0) opOutputRows / changeRows else 0.0),
      "cdc.input_rows" -> (snap ++ ch).map(_.inputRows).sum.toDouble,
      "cdc.snapshot_rows_per_s" ->
        (if (snapMs > 0) events("snapshot_events") / (snapMs / 1000) else 0.0),
      "contract.build_ms_p50" -> buildUs / 1000.0,
      "contract.exec_ms_p50" -> execUs / 1000.0),
      perTable.map(_._2))
  }

  def finish(dir: String): (Seq[Check], Map[String, Double]) = {
    val exp = expected(s"$inputs/cdc")
    val perTable = tables.map { t =>
      val target = s"$dir/${t.name}/table"
      val rows = Sinks.currentState(spark, target, opCol = "__op")
        .select(t.checkedCols.map(org.apache.spark.sql.functions.col): _*).collect()
      val got = CdcDrain.summarize(rows)
      val e = exp.get(t.name)
      val want = (e.get("rows").asLong, BigInt(e.get("hash").asText))
      val bad = (e.get("corrupt_rows").asLong, BigInt(e.get("corrupt_hash").asText))
      val actions = SchemaHistory.read(spark, target).select("action").collect().map(_.getString(0))
        .toSeq
      val historyOk = CdcDrain.historyHolds(actions)
      val checks = Seq(
        Check(s"${t.name}.state", got == want, s"got $got want $want"),
        Check(s"${t.name}.state.self_test", got != bad,
          "the expectation with one delete dropped must not match"),
        Check(s"${t.name}.schema_history", historyOk, actions.mkString(",")),
        Check(s"${t.name}.schema_history.self_test",
          !CdcDrain.historyHolds(actions.filterNot(_ == "widen")),
          "a history without its widen event must not pass"))
      val files = Files2.files(target, f => f.getName.endsWith(".parquet")).size
      (checks, Files2.du(target), got._1, files, actions.size)
    }
    (perTable.flatMap(_._1), Map(
      "stored_bytes_per_row" -> perTable.map(_._2).sum.toDouble / math.max(perTable.map(_._3).sum, 1L),
      "streaming.table_files" -> perTable.map(_._4).sum.toDouble,
      "cdc.schema_history_events" -> perTable.map(_._5).sum.toDouble))
  }
}

object CdcDrain {
  /** One replicated table: its row image, merge key and layout columns, and
    * the nullable column the widened schema adds.
    */
  final case class Table(name: String, cols: Seq[(String, DataType)], keys: Seq[String],
                         bucketCols: Seq[String], added: String) {
    def schema(widened: Boolean): StructType = StructType(
      (cols ++ (if (widened) Seq(added -> StringType) else Nil))
        .map { case (n, t) => StructField(n, t) })
    def checkedCols: Seq[String] = cols.map(_._1) :+ added :+ "__lsn"
  }

  /** Row count and order-independent content hash: the sum, mod 2^64, of
    * the first 8 bytes of SHA-256 over each row's canonical text. Doubles
    * are canonical as hundredths (every generated amount has two decimals).
    */
  def summarize(rows: Array[Row]): (Long, BigInt) = {
    val md = MessageDigest.getInstance("SHA-256")
    var h = 0L
    rows.foreach { r =>
      val text = (0 until r.length).map { i =>
        r.get(i) match {
          case null => "∅"
          case d: java.lang.Double => math.round(d * 100).toString
          case v => v.toString
        }
      }.mkString("␟")
      val d = md.digest(text.getBytes(StandardCharsets.UTF_8))
      h += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    (rows.size.toLong, BigInt(java.lang.Long.toUnsignedString(h)))
  }

  /** The schema history must record the first write's pin and the widening. */
  def historyHolds(actions: Seq[String]): Boolean =
    actions.contains("pin") && actions.contains("widen")
}
