package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{OpFamily, SparkEntry, Tables}
import graft.operators.ArtifactCache

/** One benchmark process. It builds the session the way `graft.Bench`
  * does, times the given registry queries pass after pass through Spark's
  * `noop` sink, and writes what it measured to `<out>/result.json`.
  *
  * {{{
  * Main --sf-dir D --out O --work W --cpus N --queries Family:query,...
  *      --seconds S --trace 0|1 --resetups K
  * }}}
  *
  * Order of work: set-up from process start; a first pass; warm passes
  * for at least [[WarmSeconds]]; steady passes until `S` seconds have gone
  * (at least four); then `K` more session set-ups on the running context.
  * The warm passes let JIT compilation settle before the steady passes.
  * The first and the first warm pass also write every query's rows to
  * `<out>/outputs/<pass>/<query>` (untimed, before the query's materialized
  * blocks are released), with the oracle SQL beside them, for the DuckDB
  * check: on a workload that uses the artifact store, the first pass
  * checks the path that builds the artifacts and the warm pass the one
  * that re-attaches them. With `--trace 1` the steady passes come in
  * pairs, one traced (job groups, a job listener, per-query storage reads)
  * and one untraced, in alternating order, so the tracing overhead is
  * measured; one last pass times the old `.count()`.
  */
object Main {
  private final case class Query(name: String, family: String,
      fn: (SparkSession, String) => DataFrame)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Fewest steady passes a run takes, however long they are: the
    * reported steady figures are medians. */
  private val MinSteadyPasses = 4

  /** Warm-up before the steady passes. A fresh JVM keeps getting faster
    * for 20-30 s of passes while the JIT compiles Spark's planner and
    * scheduler; this keeps the steepest part of that slope out of the
    * steady median. */
  private val WarmSeconds = 6.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val out = Paths.get(opt("out"))
    val sfDir = opt("sf-dir")
    val cpus = opt("cpus").toInt
    Files.createDirectories(out)
    val queries = opt("queries").split(",").toSeq.map { fq =>
      val Array(family, name) = fq.split(":")
      val obj = Class.forName(s"graft.operators.$family$$")
        .getField("MODULE$").get(null).asInstanceOf[OpFamily]
      Query(name, family, obj.queries(name))
    }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosConf, "true")
      .config("spark.local.dir", s"${opt("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opt("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ready(spark, sfDir)
    val startS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val run = new Run(spark, sfDir, queries, opt("trace") == "1")
      .all(opt("seconds").toDouble, out)
    val resetups = (1 to opt("resetups").toInt).map { _ =>
      val t0 = System.nanoTime()
      ready(spark.newSession(), sfDir)
      (System.nanoTime() - t0) / 1e9
    }
    val prov = provenance(spark, cpus)
    spark.stop()
    Files.writeString(out.resolve("result.json"), mapper.writeValueAsString(
      run ++ Map("start_s" -> startS, "setup_s" -> resetups,
        "provenance" -> prov)))
  }

  /** The rest of set-up once a session exists: table resolution through
    * [[Tables]] and one warm-up job. */
  private def ready(spark: SparkSession, sfDir: String): Unit = {
    Tables.all.foreach(Tables.table(spark, sfDir, _))
    Tables.events(spark, sfDir)
    spark.range(1000).selectExpr("sum(id)").collect()
  }

  private def provenance(spark: SparkSession, cpus: Int): Map[String, Any] =
    Map("spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "cpus" -> cpus,
      "available_processors" -> Runtime.getRuntime.availableProcessors)

  private final class Run(spark: SparkSession, sfDir: String,
      queries: Seq[Query], trace: Boolean) {
    private val sc = spark.sparkContext
    private val blocks = new BlockCounter
    sc.addSparkListener(blocks)
    private val jobs = new JobRecorder
    private val nano0 = System.nanoTime()
    private val epochMs0 = System.currentTimeMillis()
    private var passIdx = 0
    private val dumpErrors = Map.newBuilder[String, String]

    private def now: Double = (System.nanoTime() - nano0) / 1e9
    private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum

    def all(seconds: Double, out: Path): Map[String, Any] = {
      val oracle = SparkEntry.oracleSql
      Files.writeString(out.resolve("oracle_sql.json"), mapper
        .writeValueAsString(queries.flatMap(q =>
          oracle.get(q.name).map(q.name -> _)).toMap))
      val passes = Seq.newBuilder[Map[String, Any]]
      val outputs = out.resolve("outputs")
      passes += pass("first", traced = trace, dump = Some(outputs.resolve("first")))
      val tw = now
      passes += pass("warm", traced = false, dump = Some(outputs.resolve("warm")))
      while (now - tw < WarmSeconds) passes += pass("warm", traced = false)
      val t0 = now
      var steady = 0
      do {
        if (!trace) passes += pass("steady", traced = false)
        else {
          val tracedFirst = steady % 4 == 0
          passes += pass("steady", traced = tracedFirst)
          passes += pass("steady", traced = !tracedFirst)
        }
        steady += (if (trace) 2 else 1)
      } while (now - t0 < seconds || steady < MinSteadyPasses)
      if (trace) passes += pass("count", traced = false, count = true)
      Map("epoch_ms0" -> epochMs0, "passes" -> passes.result(),
        "jobs" -> jobs.all.map(_.toMap), "dump_errors" -> dumpErrors.result())
    }

    private def pass(kind: String, traced: Boolean, count: Boolean = false,
        dump: Option[Path] = None): Map[String, Any] = {
      passIdx += 1
      PerfbenchBus.drain(sc)
      blocks.take()
      if (traced) sc.addSparkListener(jobs)
      val gc0 = gcMs
      val start = now
      val qs = queries.map(q => query(q, traced, count, dump))
      val end = now
      PerfbenchBus.drain(sc)
      if (traced) sc.removeSparkListener(jobs)
      Map("idx" -> passIdx, "kind" -> kind, "traced" -> traced,
        "start" -> start, "end" -> end, "gc_s" -> (gcMs - gc0) / 1e3,
        "block_bytes" -> (qs.map(_("block_bytes").asInstanceOf[Long]).sum +
          blocks.take()),
        "store_bytes" -> storeBytes, "queries" -> qs)
    }

    /** build → plan → noop execute of one query (or `.count()` for the
      * legacy pass). Untimed afterwards: the optional output dump, then
      * the release of what the query persisted, as `graft.Bench` does. */
    private def query(q: Query, traced: Boolean, count: Boolean,
        dump: Option[Path]): Map[String, Any] = {
      def group(phase: String): Unit =
        if (traced) sc.setJobGroup(s"$passIdx/${q.name}/$phase", phase)
      val builds0 = ArtifactCache.builds.get()
      val hits0 = ArtifactCache.hits.get()
      val t = Array.fill(4)(Double.NaN)
      var df: DataFrame = null
      t(0) = now
      val error = try {
        group("build")
        df = q.fn(spark, sfDir)
        t(1) = now
        if (count) df.count()
        else {
          group("plan")
          df.queryExecution.executedPlan
          t(2) = now
          group("execute")
          df.write.format("noop").mode("overwrite").save()
        }
        null
      } catch {
        case e: Throwable =>
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .take(300)
      }
      t(3) = now
      // marks a query never reached (it threw, or the pass counted instead
      // of planning) close their phase with zero length
      if (t(1).isNaN) t(1) = t(3)
      if (t(2).isNaN) t(2) = if (count) t(1) else t(3)
      if (traced) sc.clearJobGroup()
      var rec = Map[String, Any]("name" -> q.name, "family" -> q.family,
        "start" -> t(0), "built" -> t(1), "planned" -> t(2), "end" -> t(3),
        "error" -> error,
        "artifact_builds" -> (ArtifactCache.builds.get() - builds0),
        "artifact_hits" -> (ArtifactCache.hits.get() - hits0))
      // per-query storage figures need a drained bus; untraced passes
      // without a dump read the pass total once, at the pass end
      if (traced || dump.isDefined) {
        PerfbenchBus.drain(sc)
        rec += "block_bytes" -> blocks.take()
      } else rec += "block_bytes" -> 0L
      if (traced) rec ++= Map("held_rdds" -> sc.getPersistentRDDs.size,
        "held_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      for (dir <- dump if error == null) {
        try df.coalesce(1).write.mode("overwrite")
          .parquet(dir.resolve(q.name).toString)
        catch { case e: Throwable =>
          dumpErrors += q.name -> s"${dir.getFileName}: ${e.getMessage}".take(300) }
        PerfbenchBus.drain(sc)
        blocks.take() // what the dump itself persisted is not the query's
      }
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      rec
    }

    private def storeBytes: Long = {
      val root = Paths.get(ArtifactCache.root)
      if (!Files.isDirectory(root)) 0L
      else {
        val s = Files.walk(root)
        try s.iterator.asScala.filter(Files.isRegularFile(_))
          .map(Files.size).sum
        finally s.close()
      }
    }
  }
}
