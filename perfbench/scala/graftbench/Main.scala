package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One op of a timed pass: a change-phase micro-batch, a query execution or
  * a curation turn. Times are epoch microseconds.
  */
final case class Op(startUs: Long, endUs: Long, failed: Boolean = false) {
  def ms: Double = (endUs - startUs) / 1000.0
}

final case class Check(name: String, ok: Boolean, detail: String)

/** What one timed pass did. `metrics` holds the workload's own numbers
  * (end-to-end and per-layer) keyed by metric name.
  */
final case class PassResult(ops: Seq[Op], wallS: Double, metrics: Map[String, Double],
                            checks: Seq[Check] = Nil) {
  def withFinish(f: (Seq[Check], Map[String, Double])): PassResult =
    copy(metrics = metrics ++ f._2, checks = checks ++ f._1)
}

trait Workload {
  /** Input preparation, in a fresh `dir`. */
  def prepare(dir: String): Unit
  /** Runs the timed pass's code paths once, before timing starts. */
  def warmUp(dir: String, tracer: Tracer): Unit
  /** The timed pass over fresh state in `dir`. */
  def timed(dir: String, tracer: Tracer): PassResult
  /** Correctness checks and size metrics of the pass that ran in `dir`;
    * runs after tracing stops, so its Spark jobs and FS calls are not
    * counted.
    */
  def finish(dir: String): (Seq[Check], Map[String, Double])
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val trace = arg(args, "trace") == "1"
    val inputs = arg(args, "inputs")
    val work = arg(args, "work")
    val cores = Runtime.getRuntime.availableProcessors
    val tStart = System.nanoTime()
    val spark = BenchSession(work, cores)
    val sessionS = (System.nanoTime() - tStart) / 1e9
    val tracer = new Tracer(spark)
    val wl: Workload = workload match {
      case "cdc_drain" => new CdcDrain(spark, inputs, work)
      case "star_queries" => new StarQueries(spark, inputs, work)
      case "curate_turns" => new CurateTurns(spark, inputs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tPrep = System.nanoTime()
    wl.prepare(s"$work/setup")
    val prepS = (System.nanoTime() - tPrep) / 1e9
    val tWarm = System.nanoTime()
    wl.warmUp(s"$work/warmup", tracer)
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val tTimed = System.nanoTime()
    val timedPass = wl.timed(s"$work/pass", tracer)
    val tFinish = System.nanoTime()
    val plain = timedPass.withFinish(wl.finish(s"$work/pass"))
    System.err.println(f"[perfbench] session $sessionS%.1f s, prepare $prepS%.1f s, " +
      f"warm-up $warmS%.1f s, timed ${(tFinish - tTimed) / 1e9}%.1f s, " +
      f"checks ${(System.nanoTime() - tFinish) / 1e9}%.1f s")
    val fields = Seq(
      "session_s" -> Json.num(sessionS),
      "prepare_s" -> Json.num(prepS),
      "warmup_s" -> Json.num(warmS),
      "ops_ms" -> Json.arr(plain.ops.map(o => Json.num(o.ms))),
      "failed_ops" -> Json.num(plain.ops.count(_.failed).toDouble),
      "wall_s" -> Json.num(plain.wallS),
      "metrics" -> Json.metrics(plain.metrics),
      "checks" -> Json.checks(plain.checks),
      "rss_peak_mb" -> Json.num(BenchSession.rssPeakMb()))
    val traced =
      if (!trace) Nil
      else {
        tracer.start()
        val runStart = tracer.nowUs
        val timedPass = wl.timed(s"$work/traced", tracer)
        tracer.addSpan("run", "run", "bench", runStart, tracer.nowUs)
        tracer.stop()
        val pass = timedPass.withFinish(wl.finish(s"$work/traced"))
        val spans = tracer.link()
        Files.write(Paths.get(s"$work/spans.json"), Json.arr(spans.map(s => Json.obj(
          "id" -> Json.num(s.id.toDouble), "parent" -> Json.num(s.parent.toDouble),
          "kind" -> Json.str(s.kind), "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
          "start_us" -> Json.num(s.startUs.toDouble), "end_us" -> Json.num(s.endUs.toDouble))))
          .getBytes("UTF-8"))
        val layers = Layers.metrics(tracer, spans, pass, cores) ++
          Map("trace.overhead_ratio" -> pass.wallS / plain.wallS,
            "trace.spans" -> spans.size.toDouble)
        Seq("traced" -> Json.obj(
          "ops" -> Json.num(pass.ops.size.toDouble),
          "failed_ops" -> Json.num(pass.ops.count(_.failed).toDouble),
          "wall_s" -> Json.num(pass.wallS),
          "checks" -> Json.checks(pass.checks),
          "metrics" -> Json.metrics(layers)))
      }
    val result = Json.obj(fields ++ traced: _*)
    println("GRAFTBENCH_RESULT " + result)
    spark.stop()
  }
}

object BenchSession {
  /** The engine's own local session, with the counting file systems and
    * every scratch directory inside the run's work dir.
    */
  def apply(work: String, cores: Int): SparkSession = {
    val spark = graft.core.Engine.local(cores = cores, shufflePartitions = cores,
      extraConfs = Map(
        "spark.hadoop.fs.file.impl" -> classOf[CountingLocalFileSystem].getName,
        "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
          classOf[org.apache.hadoop.fs.local.GraftBenchCountingFs].getName,
        "spark.local.dir" -> s"$work/spark-local",
        "spark.sql.warehouse.dir" -> s"$work/warehouse"))
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    require(fs.isInstanceOf[CountingLocalFileSystem],
      s"file:// resolved to ${fs.getClass.getName}, not the counting file system")
    spark
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Minimal JSON writer. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def metrics(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)
  def checks(cs: Seq[Check]): String =
    arr(cs.map(c => obj("name" -> str(c.name), "ok" -> bool(c.ok), "detail" -> str(c.detail))))
}

/** File helpers. */
object Files2 {
  def du(path: String): Long = {
    val f = new File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => du(c.getPath)).sum).getOrElse(0L)
  }
  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator.asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
  }
  def files(path: String, pred: File => Boolean): Seq[File] = {
    val f = new File(path)
    if (!f.exists) Nil
    else if (f.isFile) (if (pred(f)) Seq(f) else Nil)
    else Option(f.listFiles).map(_.toSeq.sortBy(_.getName).flatMap(c => files(c.getPath, pred)))
      .getOrElse(Nil)
  }
}
