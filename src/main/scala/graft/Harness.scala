package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.{Failure, Success, Try}

/** The one session and query loop behind every main and the test suites:
  * the session config, the registry selection, the timed run that
  * releases what a query pinned, and the JSON string writer.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4 (Bench's contract). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Local session on `cpus` cores: UTC, one shuffle partition per core,
    * the nanosecond-timestamp read conf, no UI. Runs one throwaway job so
    * JVM and codegen warm-up is not billed to the first query.
    */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tables.NanosConf, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** The whole registry sorted by name when `names` is empty, else exactly
    * `names`; an unknown name is an error, never a silent skip.
    */
  def select(names: Seq[String]): Seq[(String, Query)] = {
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) registry.toSeq.sortBy(_._1)
    else names.distinct.map(n => n -> registry(n))
  }

  /** One timed execution: the wall seconds and the value or the error. */
  final case class Run[T](seconds: Double, result: Try[T])

  /** Times `body`, then releases every RDD it persisted, outside the
    * timed region. localCheckpoint keeps its RDD persisted until the
    * DataFrame is GC'd AND the async ContextCleaner runs, so hundreds of
    * sequential queries leak checkpoint blocks into the BlockManager and
    * the eviction churn bills whichever queries run mid-pressure (10-40x
    * spikes were measured without this). A production job runs one
    * query per application; this resets to that state between queries.
    */
  def run[T](spark: SparkSession)(body: => T): Run[T] = {
    val t0 = System.nanoTime()
    val result = try Success(body) catch { case e: Throwable => Failure(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    Run(seconds, result)
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped (a raw tab or CR in oracle SQL would make a
    * json.load of oracle_sql.json fail); everything else passes as is.
    */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
