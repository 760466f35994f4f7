package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run in one JVM: start a `local[nproc]` session built
  * like Pipeline.main's, run one workload, time a calibration probe and
  * write the raw measurements as JSON. `perfbench/run.py` builds this,
  * generates the inputs, launches it and turns the measurements into
  * the reported metrics.
  *
  * Usage: perfbench.Main <workload[,workload...]> <inputDir> <workDir>
  *   <outJson> <ops[,ops...]> <trace 0|1>
  */
object Main {

  final case class Ctx(spark: SparkSession, inputs: String, work: String,
      ops: Int, tracer: Option[Tracer]) {
    /** `body` inside a span when tracing, bare otherwise. */
    def span[T](name: String, op: Int)(body: => T): T =
      tracer.fold(body)(_.span(name, op)(body))
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Host-speed probe shaped like graft.Bench.calibration (in-memory rows
    * through a hash aggregate and a sort, no IO), smaller so it costs
    * under a second: one pass over 2M rows. */
  def calibration(spark: SparkSession, cpus: Int): Double =
    seconds {
      spark.range(0L, 2000000L, 1L, cpus)
        .selectExpr("id % 97 AS k", "xxhash64(id) % 1048576 AS h")
        .groupBy("k").agg(sum("h").as("s")).orderBy("s")
        .write.mode("overwrite").format("noop").save()
    }._2

  def main(args: Array[String]): Unit = {
    val Array(workloadArg, inputs, work, out, opsArg, traceArg) = args
    val cpus = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = seconds(session(cpus, work))
    val tracer = if (traceArg == "1") Some(new Tracer(spark)) else None
    // Several workloads (comma-separated, with one op count each) run
    // concurrently in this JVM, each on its own sub-directories of the
    // input and work directories. run.py does so once per build, so that
    // the JVM's class-data archive holds the classes every workload loads;
    // their measurements are not used.
    val workloads = workloadArg.split(",").toSeq
    def dir(base: String, w: String) =
      if (workloads.size == 1) base else s"$base/$w"
    val runs = workloads.zip(opsArg.split(",").map(_.toInt)).map {
      case (workload, ops) => Future {
        val ctx = Ctx(spark, dir(inputs, workload), dir(work, workload), ops,
          tracer)
        val storage = new StoragePeak
        val run: Ctx => Map[String, Any] = workload match {
          case "mart_refresh" => Workloads.martRefresh
          case "dashboard"    => Workloads.dashboard
          case "price_ingest" => Workloads.priceIngest
          case other =>
            throw new IllegalArgumentException(s"unknown workload $other")
        }
        val result = run(ctx)
        val peakMb = storage.stop()
        // After the workload, so the probe runs in a warm JVM and
        // measures the host rather than JIT compilation.
        val calib = calibration(spark, cpus)
        Map("workload" -> workload, "cpus" -> cpus, "session_s" -> sessionS,
          "calibration_s" -> calib, "storage_mem_peak_mb" -> peakMb) ++
          result ++ tracer.map(t => "trace" -> t.report())
      }
    }
    val reports = runs.map(Await.result(_, Duration.Inf))
    tracer.foreach(_.stop())
    val report = if (reports.size == 1) reports.head
      else workloads.zip(reports).toMap
    Files.write(Paths.get(out), Json(report).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Minimal JSON writer for the measurement report. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
