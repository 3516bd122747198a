package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The analyst: the 22 TPC-H-shape gauntlet queries over the generated
  * star schema, in a seeded shuffled order per round, each through the
  * `noop` sink. An op is one query execution (build + execute).
  *
  * Correctness: the warm-up writes every query's result as parquet, with
  * `oracle_sql.json` beside it, and the runner compares them to DuckDB
  * (`tools/check_oracle.py`).
  */
final class StarQueries(spark: SparkSession, inputs: String, work: String) extends Workload {
  private val dir = s"$inputs/star"
  private val order: Seq[String] =
    new ObjectMapper().readTree(new File(s"$dir/order.json")).elements().asScala
      .map(_.asText).toSeq
  private val names = order.distinct.sorted
  private val queries = graft.SparkEntry.queries

  /** Layer of the op spans. */
  private val opLayer = "contract"

  private def run(name: String, t: Tracer): Unit = {
    val df = t.span("call", "contract.build", "contract")(queries(name)(spark, dir))
    t.span("call", "contract.exec", "contract")(
      df.write.format("noop").mode("overwrite").save())
  }

  def prepare(prepDir: String): Unit = graft.core.Engine.registerAll(spark, dir)

  /** Runs every query once, writing its result as parquet for the oracle
    * compare (the queries are deterministic: the timed executions produce
    * the same rows).
    */
  def warmUp(warmDir: String, t: Tracer): Unit = names.foreach { n =>
    queries(n)(spark, dir).write.mode("overwrite").parquet(s"$work/results/$n")
  }

  def timed(passDir: String, t: Tracer): PassResult = {
    val ops = order.map { name =>
      val s = t.nowUs
      val failed = try { t.span("op", name, opLayer)(run(name, t)); false }
      catch { case e: Exception => System.err.println(s"[perfbench] $name failed: $e"); true }
      Op(s, t.nowUs, failed)
    }
    val wall = (ops.last.endUs - ops.head.startUs) / 1e6
    val client = t.spans.toArray(Array.empty[Span]).toSeq
    def p50(name: String) = Layers.median(client.filter(_.name == name).map(_.durUs / 1000.0))
    PassResult(ops, wall, Map("contract.build_ms_p50" -> p50("contract.build"),
      "contract.exec_ms_p50" -> p50("contract.exec")))
  }

  def finish(passDir: String): (Seq[Check], Map[String, Double]) = {
    val out = s"$work/results"
    val oracle = graft.SparkEntry.oracleSql
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      Json.obj(names.map(n => n -> Json.str(oracle(n))): _*).getBytes("UTF-8"))
    // the workload stores nothing: bytes per row of the tables it reads
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
    val bytes = tables.map(n => Files2.du(s"$dir/$n.parquet")).sum
    val rows = tables.map(n => spark.read.parquet(s"$dir/$n.parquet").count()).sum
    (Seq(Check("star_results_written", ok = true, out)),
      Map("stored_bytes_per_row" -> bytes.toDouble / rows))
  }
}
