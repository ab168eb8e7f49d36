package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One attempted op: its kind ("batch", "pass", "append", "query",
  * "compact"), a name the checks refer to it by, its seconds, whether it
  * is a timed sample (warm-up ops are attempted but not timed), the input
  * rows it processed, and whether it threw.
  */
final case class Op(kind: String, name: String, seconds: Double, timed: Boolean, rows: Long, failed: Boolean)

/** What a workload hands back: every attempted op, the one-off build and
  * set-up times, and everything the checks need.
  */
final class Result {
  val ops = mutable.ArrayBuffer.empty[Op]
  val errors = mutable.ArrayBuffer.empty[String]
  val setupS = mutable.ArrayBuffer.empty[Double]
  var buildS = 0.0
  var windowS = 0.0
  val info = mutable.LinkedHashMap.empty[String, Any]

  /** Runs `f` as one op under a root span of its own trace and records
    * it. An op that throws is recorded as failed, not rethrown; the
    * report counts it as missing every latency figure. Returns the
    * seconds spent.
    */
  def run(tr: Tracer, kind: String, name: String, timed: Boolean, rows: Long = 0L)(f: => Unit): Double = {
    var failed = false
    val (_, s) = Main.timed {
      try tr.op(kind)(f)
      catch {
        case e: Exception =>
          failed = true
          errors += s"$kind $name: $e"
      }
    }
    ops += Op(kind, name, s, timed, rows, failed)
    s
  }
}

/** Runs one workload in this JVM and writes its raw result as JSON.
  *
  * Usage: perfbench.Main --workload W --data DIR --out FILE --seconds S
  *          --trace 0|1 --cores N --spans FILE
  *
  * A traced run writes its spans to the spans file as
  * [id, name, parent, trace, start s, end s], times from the window start.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val data = opts("data")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt

    val res = new Result
    // corpus_dedup derives its corpus with graft.ScaleUp, a main that
    // builds and stops its own session: it runs before ours starts
    if (workload == "corpus_dedup") CorpusDedup.scaleUp(data, res)

    val spark = session(data, cores)
    val tracer = new Tracer(spark, traced)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val run: Runner = workload match {
      case "etl_versioned" => new EtlVersioned(spark, tracer, data, res)
      case "corpus_dedup" => new CorpusDedup(spark, tracer, data, res)
      case "index_serve" => new IndexServe(spark, tracer, data, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.setup()
    val cg0 = tracer.codegenNs
    val t0 = System.nanoTime()
    tracer.op("window") {
      run.build()
      run.loop(seconds)
    }
    res.windowS = (System.nanoTime() - t0) / 1e9
    val codegenS = (tracer.codegenNs - cg0) / 1e9
    val (_, checkS) = timed(run.check())
    res.info("check_s") = checkS
    tracer.drain()

    res.info("spark_version") = spark.version
    res.info("cores") = cores
    res.info("heap_mb") = Runtime.getRuntime.maxMemory / (1024 * 1024)
    res.info("peak_exec_mem_bytes") = tracer.peakExecMem
    if (traced) {
      res.info("layers") = Layers.report(tracer, res, cores, codegenS)
      Json.writeFile(opts("spans"), Json(tracer.spans.map(s =>
        Seq(s.id, s.name, s.parent, s.trace, (s.start - t0) / 1e9, (s.end - t0) / 1e9))))
    }
    Json.writeFile(opts("out"), Json.result(res))
    spark.stop()
  }

  /** The program's session factory, sized for this machine: local[n]
    * with n shuffle partitions, and a warehouse and scratch directory
    * private to this run.
    */
  def session(data: String, cores: Int): SparkSession = {
    val spark = graft.GraftSession
      .builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$data/warehouse")
      .config("spark.local.dir", s"$data/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** A workload: set-up (repeated; each repetition timed into `setupS`),
  * an optional one-off build (timed into `buildS`), a closed loop of
  * ops for `seconds` of op time, then correctness checks outside the
  * timed window.
  */
trait Runner {
  def setup(): Unit
  def build(): Unit = ()
  def loop(seconds: Double): Unit
  def check(): Unit
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => " "
      case c => c.toString
    }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => apply(other.toString)
  }

  def result(r: Result): String = apply(
    mutable.LinkedHashMap[String, Any](
      "ops" -> r.ops.map(o =>
        mutable.LinkedHashMap[String, Any](
          "kind" -> o.kind, "name" -> o.name, "s" -> o.seconds, "timed" -> o.timed, "rows" -> o.rows, "failed" -> o.failed)),
      "errors" -> r.errors.take(20),
      "setup_s" -> r.setupS,
      "build_s" -> r.buildS,
      "window_s" -> r.windowS,
      "info" -> r.info
    )
  )

  def writeFile(path: String, s: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.write(s)
    finally w.close()
  }
}
