package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The JVM half of the benchmark: drives one workload against graft's
  * public entry points and writes raw measurements to
  * `<work>/result.json`. Inputs and their expected outcomes come from the
  * Python generator (`gen.py`); the comparison against those expectations
  * happens in `run.py`, outside this process.
  *
  * Usage: graftbench.Main workload=<w> work=<dir> seconds=<s> trace=<0|1>
  *        cores=<n> [queries=<queries.sql>]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = kv("workload")
    val work = kv("work")
    val cores = kv("cores").toInt
    val spark = graft.core.Engine.local(cores = cores, shufflePartitions = cores,
      extraConfs = Map("spark.sql.streaming.pollingDelay" -> "5ms"))
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, workload, work, kv("seconds").toDouble, kv("trace") == "1",
      kv.get("queries"))
    val out = mutable.LinkedHashMap[String, Any]("workload" -> workload)
    try {
      ctx.awaitInputs()
      workload match {
        case "cdc_backlog" => Workloads.cdcBacklog(ctx)
        case "curate" => Workloads.curate(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out ++= ctx.result
    } catch {
      case e: Throwable =>
        out("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      Files.write(Paths.get(work, "result.json"), Json.write(out).getBytes("UTF-8"))
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      spark.stop()
    }
  }
}

/** Run-wide state: the session, the clock, the tracer and collectors, and
  * the result map the workload fills.
  */
final class Ctx(val spark: SparkSession, val workload: String, val work: String,
                val seconds: Double, val trace: Boolean, val queriesPath: Option[String]) {
  val tracer = new Tracer
  val col = new Collectors(spark, trace)
  val result = mutable.LinkedHashMap[String, Any]()
  val root: Int = tracer.nextId()
  private val runStart = tracer.now()
  result("session_ready_epoch_ms") = runStart
  var setupEnd: Double = 0.0
  var measureStart: Double = 0.0
  var fsAtMeasure: Map[String, Long] = Map.empty

  def path(rel: String): String = Paths.get(work, rel).toString

  def awaitInputs(): Unit = {
    val ready = Paths.get(work, "inputs.ready")
    val deadline = System.currentTimeMillis() + 120000
    while (!Files.exists(ready)) {
      require(System.currentTimeMillis() < deadline, "inputs never became ready")
      Thread.sleep(10)
    }
    tracer.add(Span(tracer.nextId(), root, "setup.session+generate", "bench", runStart, tracer.now()))
  }

  def phase[T](name: String)(body: Int => T): T = tracer.span(name, "bench", root)(body)._1

  /** Marks the end of set-up: everything after is the measured window. */
  def startMeasuring(): Unit = {
    col.drain()
    setupEnd = tracer.now()
    measureStart = setupEnd
    result("setup_end_epoch_ms") = setupEnd
    if (trace) {
      fsAtMeasure = FsStats.snapshot()
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .foreach(_.resetPeakUsage())
    }
  }

  def deadline(share: Double): Double = measureStart + share * seconds * 1000

  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** The report or reader SQL by name from the shared queries file. */
  lazy val queries: Seq[(String, String)] = {
    val text = new String(Files.readAllBytes(Paths.get(queriesPath.get)), "UTF-8")
    text.split("(?m)^-- name: ").toSeq.map(_.trim).filter(_.nonEmpty).map { block =>
      val nl = block.indexOf('\n')
      block.take(nl).trim -> block.drop(nl + 1).trim.stripSuffix(";")
    }
  }
}

/** Result rows as JSON-friendly values (decimals and dates as strings). */
object Rows {
  def toJson(rows: Seq[Row]): Seq[Seq[Any]] = rows.map(_.toSeq.map {
    case null => null
    case d: java.math.BigDecimal => d.toPlainString
    case d: java.sql.Date => d.toString
    case v => v
  })

  def collect(df: DataFrame): Seq[Seq[Any]] = toJson(df.collect().toSeq)
}

/** A minimal JSON writer for the result file. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
