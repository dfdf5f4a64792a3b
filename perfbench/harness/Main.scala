package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** What one run measured and what went wrong, written as JSON for
  * run.py to check and print. */
final class Result {
  private val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  private val layers = mutable.LinkedHashMap[String, (Double, String)]()
  private val failures = mutable.ArrayBuffer[String]()
  val info = mutable.LinkedHashMap[String, Any]()
  var attempted = 0

  def endToEnd(name: String, value: Double, unit: String): Unit = e2e(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)
  def fail(msg: String): Unit = { System.err.println(s"[perfbench] FAIL $msg"); failures += msg }

  def toJson: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u).asJava }.asJava
    new ObjectMapper().writeValueAsString(Map(
      "attempted" -> attempted,
      "failures" -> failures.asJava,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layers),
      "info" -> info.asJava).asJava)
  }
}

/** Benchmark harness: runs one workload against graft's public API in
  * a single local-mode JVM and writes `--out` (result JSON) and, for a
  * traced run, `--spans` (one JSON span per line).
  *
  * Arguments: --workload W --data DIR --work DIR --out FILE --spans FILE
  * --seconds S --trace 0|1 --cores N, and for the CDC workload --rate
  * drops/s --warm N --scheduled N --burst N --changed 0/1 string. */
object Main {
  private var spansPath = ""

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    spansPath = opt("spans")
    val sessionStart = System.nanoTime()
    val spark = graft.core.Session.local(cores, cores)
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark.sparkContext, trace)
    val res = new Result
    res.info("session_s") = (System.nanoTime() - sessionStart) / 1e9
    try workload match {
      case "cdc_diff_stream" =>
        val plan = CdcStream.Plan(opt("warm").toInt, opt("scheduled").toInt,
          opt("burst").toInt, opt("rate").toDouble, opt("changed").map(_ == '1'))
        CdcStream.run(spark, tr, res, opt("work"), plan, trace, sessionStart)
      case "batch_mix" =>
        Batch.run(spark, tr, res, opt("data"), opt("work"), opt("seconds").toDouble,
          cores, trace, sessionStart)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable => res.fail(s"run aborted: ${message(e)}")
    } finally {
      Files.writeString(Paths.get(opt("out")), res.toJson)
      spark.stop()
    }
  }

  def message(e: Throwable): String =
    Option(e.getMessage).map(_.linesIterator.take(2).mkString(" ")).getOrElse(e.getClass.getName)

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  val EmptyDigest: String = md5("")

  /** Order-independent digest of a result's rows. */
  def digest(df: DataFrame): String = md5(df.collect().map(_.toString).sorted.mkString("\n"))

  /** The inputs scripts/check.py compares: each query's oracle SQL and
    * the list of queries whose results were written. */
  def writeOracleInputs(dir: String, names: Seq[String], oracles: Map[String, String]): Unit = {
    val m = new ObjectMapper()
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "oracle_sql.json"),
      m.writeValueAsString(names.flatMap(n => oracles.get(n).map(n -> _)).toMap.asJava))
    Files.writeString(Paths.get(dir, "queries.json"), m.writeValueAsString(names.asJava))
  }

  def writeSpans(tr: Tracer, spans: Seq[Span], self: Map[Long, Double]): Unit = {
    val m = new ObjectMapper()
    val lines = spans.sortBy(_.startMs).map { s =>
      m.writeValueAsString((Map[String, Any]("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> self.getOrElse(s.id, s.durMs)) ++ s.attrs).asJava)
    }
    Files.write(Paths.get(spansPath), lines.asJava, UTF_8)
  }
}
