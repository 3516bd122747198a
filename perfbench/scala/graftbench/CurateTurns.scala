package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.llm.{Classifier, Dedup}
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The curation operator: intake turns of `Ingest.curateBatch` (NB quality
  * gate → LSH dedup against the growing index → corpus append with
  * manifest sidecars → novelty) over seeded documents with fixed exact- and
  * near-duplicate rates, then one `Ingest.retractEverywhere` turn and one
  * `Ingest.maintainEverywhere` turn. Setup trains the gate model on a
  * held-out slice and runs turn 0, which primes the index and the corpus;
  * the timed pass starts from a copy of that state. An op is one
  * `curateBatch` turn. Correctness is checked against a separate-stage
  * control over the same turns.
  */
final class CurateTurns(spark: SparkSession, inputs: String) extends Workload {
  private val src = s"$inputs/curate"
  private var modelPath: String = _
  private var primed: String = _
  /** The docs the retract turn removes, read once in setup. */
  private var retractDocs: DataFrame = _

  private val turns: Seq[String] =
    Option(new File(src).listFiles).getOrElse(Array.empty[File]).map(_.getName)
      .filter(_.startsWith("turn_")).sorted.map(n => s"$src/$n").toSeq

  private def paths(root: String) = (s"$root/index", s"$root/corpus", s"$root/novelty")

  /** Layer of the op spans. */
  private val opLayer = "streaming"

  private def turn(i: Int, root: String, t: Tracer): Op = {
    val (idx, adm, nov) = paths(root)
    val batch = spark.read.parquet(turns(i))
    val s = t.nowUs
    t.span("op", s"turn $i", opLayer)(t.span("call", "Ingest.curateBatch", "streaming")(
      Ingest.curateBatch(batch, i.toLong, modelPath, Seq("en"), idx, adm, nov, "text", "doc_id",
        statsCols = Seq("doc_id"))))
    Op(s, t.nowUs)
  }

  def prepare(dir: String): Unit = {
    modelPath = s"$dir/model"
    Classifier.nbWrite(spark.read.parquet(s"$src/train.parquet"), "text", "lang", modelPath)
  }

  /** Admitted ids and gate passes of the separate-stage control. */
  private var controlResult: (Set[Long], Long) = _

  /** Turn 0 primes the state every timed pass starts from, and warms the
    * intake path. The separate-stage control runs beside it: it shares no
    * state with the intake path, and both are driver-bound.
    */
  def warmUp(dir: String, t: Tracer): Unit = {
    primed = s"$dir/primed"
    retractDocs = spark.read.parquet(s"$src/retract.parquet").select("doc_id", "text", "lang")
    graft.ops.DriverPool.run(Seq(
      () => { turn(0, primed, t); () },
      () => { controlResult = control(s"$dir/control") }), parallelism = 2)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).toSet

  /** Admitted ids at the named points of the last timed pass. */
  private val snapshots = scala.collection.mutable.Map[String, Set[Long]]()

  /** Turns 1.., the retraction and the maintenance, on a copy of the primed
    * state. The admitted set is read around the retraction with the clock
    * stopped and tracing off.
    */
  def timed(dir: String, t: Tracer): PassResult = {
    val root = s"$dir/fused"
    Files2.copy(primed, root)
    val (idx, adm, nov) = paths(root)
    def snapshot(point: String): Long =
      t.untraced { snapshots(point) = ids(Ingest.admitted(spark, adm)) }
    val t0 = t.nowUs
    val ops = turns.indices.drop(1).map(i => turn(i, root, t))
    val paused = snapshot("before_retract")
    val r0 = t.nowUs
    t.span("call", "Ingest.retractEverywhere", "streaming")(
      Ingest.retractEverywhere(spark, retractDocs, retractionId = turns.size.toLong,
        Ingest.RetractTargets(lshIndexPath = Some(idx), noveltyPath = Some(nov),
          corpusDir = Some(adm)), "text", "doc_id"))
    val r1 = t.nowUs
    val paused2 = snapshot("after_retract")
    val m0 = t.nowUs
    t.span("call", "Ingest.maintainEverywhere", "streaming")(
      Ingest.maintainEverywhere(spark, Ingest.MaintainTargets(lshIndexPath = Some(idx),
        noveltyPath = Some(nov), corpusDir = Some(adm), corpusStatsCols = Seq("doc_id"),
        compactCorpus = true)))
    val m1 = t.nowUs
    PassResult(ops, (m1 - t0 - paused - paused2) / 1e6, Map(
      "streaming.curate_call_s_p50" -> Layers.median(ops.map(_.ms / 1000)),
      "streaming.retract_call_s" -> (r1 - r0) / 1e6,
      "streaming.maintain_call_s" -> (m1 - m0) / 1e6))
  }

  /** The separate-stage control, run from scratch: classify every offered
    * doc, then gate and dedup turn by turn against the control's own index.
    * Returns (admitted ids, docs the gate passed).
    */
  private def control(root: String): (Set[Long], Long) = {
    val offered = turns.map(f => spark.read.parquet(f)).reduce(_ unionByName _)
    val scored = Classifier.nbClassifyIndexed(spark, modelPath, offered, "text", "doc_id")
      .where(col("predicted") === "en").withColumnRenamed("doc", "__doc").localCheckpoint()
    val kept = turns.zipWithIndex.flatMap { case (f, i) =>
      val batch = spark.read.parquet(f)
      val gated = batch.join(scored, batch("doc_id") === scored("__doc")).drop("__doc")
      ids(Dedup.ingestAgainstIndex(spark, s"$root/index", i.toLong, gated, "text", "doc_id"))
    }
    (kept.toSet, scored.count())
  }

  def finish(dir: String): (Seq[Check], Map[String, Double]) = {
    val exp = new ObjectMapper().readTree(new File(s"$src/expected.json"))
    val offered = exp.get("offered").asLong
    val removed = exp.get("removed").elements().asScala.map(_.asLong).toSet
    val (want, passed) = controlResult
    val admittedNow = ids(Ingest.admitted(spark, s"$dir/fused/corpus"))
    val beforeRetract = snapshots("before_retract")
    val afterRetractIds = snapshots("after_retract")
    // the retraction must hit admitted docs, and none of them may survive it
    def noneRemoved(got: Set[Long]) = (want & removed).nonEmpty && (got & removed).isEmpty
    // exact duplicates share their text: at most one copy may be admitted
    val textOf = turns.map(f => spark.read.parquet(f).select("doc_id", "text")).reduce(_ union _)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val admittedTexts = beforeRetract.toSeq.map(textOf)
    def distinctTexts(texts: Seq[String]) = texts.distinct.size == texts.size
    val checks = Seq(
      Check("admitted_equals_control", beforeRetract == want,
        s"fused ${beforeRetract.size} control ${want.size}"),
      Check("admitted_equals_control.self_test", beforeRetract != want - want.max,
        "a control missing one admitted id must not match"),
      Check("no_exact_duplicate_admitted", distinctTexts(admittedTexts),
        s"${admittedTexts.size} admitted docs, ${admittedTexts.distinct.size} distinct texts"),
      Check("no_exact_duplicate_admitted.self_test",
        !distinctTexts(admittedTexts ++ admittedTexts.take(1)),
        "a second copy of an admitted text must be caught"),
      Check("retracted_gone", noneRemoved(afterRetractIds),
        s"${(want & removed).size} admitted docs retracted, " +
          s"${(afterRetractIds & removed).size} still admitted after the retract turn"),
      Check("retracted_gone.self_test", !noneRemoved(afterRetractIds + removed.head),
        "a removed id left in the corpus must be caught"),
      Check("maintained_corpus", admittedNow == want -- removed,
        s"after maintenance ${admittedNow.size}, want ${(want -- removed).size}"))
    val (idx, adm, _) = paths(s"$dir/fused")
    (checks, Map(
      "stored_bytes_per_row" -> (Files2.du(adm) + Files2.du(idx)).toDouble /
        math.max(admittedNow.size, 1),
      // the pass's admitted set over what the frozen gate model passes
      "streaming.admitted_ratio" -> beforeRetract.size.toDouble / offered,
      "streaming.dedup_drop_ratio" ->
        (if (passed > 0) (passed - beforeRetract.size).toDouble / passed else 0.0)))
  }
}
