package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{SparkPlan, SQLExecution}

import graft.streaming.Streaming

/** One benchmark run in its own JVM: set up, run the planned steps in a
  * closed loop with one client, and write what was measured as JSON.
  *
  * Usage (normally started by run.py):
  * {{{
  *   perfbench.Harness --workload <name> --plan <steps.tsv> --data <dir>
  *     --work <dir> --out <result.json> --cores <n> --trace <0|1> [--rows <n>]
  * }}}
  *
  * A plan line is tab-separated: `query <name>` runs a registry query;
  * `sql <verb> <statement>` runs one SQL statement on the lifecycle
  * table; `asof asof_read <generations back>` reads an older version;
  * `compact compact -` runs `Streaming.compactShards`.
  *
  * Every step is timed as three spans: build (the query builder, or
  * `spark.sql`), plan (`queryExecution.executedPlan`) and execute
  * (running that plan). Query results are reduced to an
  * order-insensitive digest; statement results are returned whole.
  */
object Harness {

  private val TableName = "graft.b.t"

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def main(argv: Array[String]): Unit = {
    val args = new Args(
      argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val traced = args("trace") == "1"
    val workload = args("workload")
    val plan = Files.readAllLines(Paths.get(args("plan"))).asScala.filter(_.nonEmpty)
      .map(_.split("\t", 3).toSeq).toSeq
    val spans = new Spans
    val setup = ArrayBuffer.empty[(String, Double)]
    def timed[A](label: String)(body: => A): A = {
      val t0 = Clock.nowMs
      val r = body
      setup += label -> (Clock.nowMs - t0) / 1000.0
      r
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = graft.core.Session.driverLocal(args("cores"), "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    setup += "session_s" -> (Clock.nowMs - jvmStart) / 1000.0
    timed("warmup_s")(warmUp(spark))
    val table = if (workload == "table_lifecycle") {
      val t = new Lifecycle(spark, args("work"))
      timed("load_s")(t.create(args("rows").toLong))
      Some(t)
    } else None

    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val actions = if (traced) Some(new PhaseListener) else None
    actions.foreach(spark.listenerManager.register)
    println("PERFBENCH READY")
    System.out.flush()

    val before = Counters.snapshot()
    val windowStart = Clock.nowMs
    val steps = spans.open("workload", workload) {
      plan.zipWithIndex.map { case (p, i) =>
        runStep(spark, spans, traced, table, args("data"), args.get("dump"), i, p)
      }
    }
    val windowEnd = Clock.nowMs
    val after = Counters.snapshot()
    tracer.foreach { _ => org.apache.spark.perfbench.Bus.drain(spark.sparkContext) }

    val tableReport = table.map(_.report(traced))
    val out = Map(
      "workload" -> workload,
      "trace" -> traced,
      "cores" -> args("cores").toInt,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"),
      "setup" -> setup.toMap,
      "window" -> Map("start" -> windowStart, "end" -> windowEnd),
      "before" -> before,
      "after" -> after,
      "steps" -> steps,
      "spans" -> spans.all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start" -> s.start, "end" -> s.end)),
      "jobs" -> tracer.map(_.jobRecords).getOrElse(Nil),
      "stages" -> tracer.map(_.stageRecords).getOrElse(Nil),
      "action_phases" -> actions.map(_.totals.asScala.map { case (k, v) => k -> v.doubleValue })
        .getOrElse(Map.empty),
      "table" -> tableReport,
      "rss_peak_mb" -> Counters.rssPeakMb())
    Files.write(Paths.get(args("out")), Json(out).getBytes("UTF-8"))
    spark.stop()
  }

  /** A small synthetic job, so that the first step does not pay for
    * loading the engine's classes and starting its code generator.
    */
  private def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(10000).groupBy((col("id") % 97).as("k")).agg(sum(col("id")), count(lit(1)))
      .write.mode("overwrite").format("noop").save()
  }

  private def runStep(
      spark: SparkSession,
      spans: Spans,
      traced: Boolean,
      table: Option[Lifecycle],
      data: String,
      dump: Option[String],
      index: Int,
      p: Seq[String]): Map[String, Any] = {
    val kind = p.head
    val verb = if (kind == "query") "query" else p(1)
    val name = if (kind == "query") p(1) else s"$index:$verb"
    val phase = new Phase(spark, spans, traced, name)
    val opens0 = CountingFileSystem.dataOpens.get
    val start = Clock.nowMs
    val result: Map[String, Any] =
      try spans.open("step", name) {
        val r = kind match {
          case "query" => runQuery(spark, data, name, phase, dump)
          case "compact" => phase("execute")(table.get.compact())
          case "asof" => table.get.asOf(p(2).toInt, phase)
          case "sql" => table.get.statement(verb, p(2), phase)
        }
        // Blocks a query persisted stay cached in an ETL JVM until
        // released; release them here, inside the timed window.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        r + ("ok" -> true)
      } catch {
        case e: Exception =>
          Map("ok" -> false, "error" ->
            (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300))
      }
    val end = Clock.nowMs
    result ++ Map("index" -> index, "kind" -> kind, "verb" -> verb, "name" -> name,
      "start" -> start, "end" -> end, "data_opens" -> (CountingFileSystem.dataOpens.get - opens0))
  }

  /** Opens the build, plan or execute span of one step. In a traced run
    * it also tags the jobs the span launches with its id.
    */
  final class Phase(spark: SparkSession, spans: Spans, traced: Boolean, name: String) {
    def apply[A](kind: String)(body: => A): A = spans.open(kind, name) {
      if (traced) spark.sparkContext.setLocalProperty(Tracer.SpanKey, spans.current.toString)
      body
    }
  }

  private def runQuery(
      spark: SparkSession,
      data: String,
      name: String,
      phase: Phase,
      dump: Option[String]): Map[String, Any] = {
    val fn = graft.SparkEntry.queries(name)
    val df = phase("build")(fn(spark, data))
    val qe = df.queryExecution
    val plan = phase("plan")(qe.executedPlan)
    val (rows, h1, h2) = phase("execute") {
      SQLExecution.withNewExecutionId(qe, Some(name))(digest(plan))
    }
    // Pinning only: keep the result and the oracle SQL for the DuckDB
    // cross-check in pin.py.
    dump.foreach { dir =>
      df.write.mode("overwrite").parquet(s"$dir/$name")
      graft.SparkEntry.oracleSql.get(name).foreach { sql =>
        Files.write(Paths.get(dir, s"$name.sql"), sql.getBytes("UTF-8"))
      }
    }
    Map(
      "rows" -> rows,
      "digest" -> f"$h1%016x$h2%016x:$rows",
      "phases" -> phases(df))
  }

  /** Order-insensitive digest of a plan's output: the row count and two
    * wrapping sums of 64-bit hashes of each row in its canonical
    * (UnsafeRow) encoding.
    */
  def digest(plan: SparkPlan): (Long, Long, Long) = {
    val schema = plan.schema
    plan.execute().mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var a = 0L
      var b = 0L
      it.foreach { r =>
        val u = proj(r)
        a += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        b += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 7919L)
        n += 1
      }
      Iterator((n, a, b))
    }.collect().foldLeft((0L, 0L, 0L)) { case ((n, a, b), (m, x, y)) => (n + m, a + x, b + y) }
  }

  /** Catalyst phase times of a DataFrame's query execution, in ms. */
  def phases(df: DataFrame): Map[String, Double] =
    df.queryExecution.tracker.phases.map { case (k, v) =>
      k -> (v.endTimeMs - v.startTimeMs).toDouble
    }

  /** The lifecycle table: a 16-shard `graft` catalog table under
    * `<work>/catalog`.
    */
  final class Lifecycle(spark: SparkSession, work: String) {
    private val root = Paths.get(work, "catalog").toAbsolutePath.toString
    private val path = s"$root/b/t"
    private val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    private var gen = 0L
    private var initialGen = 0L

    def create(rows: Long): Unit = {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.root", root)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.b")
      spark.sql(s"CREATE TABLE $TableName (id BIGINT, v BIGINT, s STRING, shard INT) " +
        "PARTITIONED BY (shard)")
      spark.sql(s"INSERT INTO $TableName SELECT id, id * 3, concat('s', id), " +
        s"CAST(id % 16 AS INT) FROM range($rows)")
      gen = latestGen()
      initialGen = gen
    }

    private def latestGen(): Long = Streaming.manifestGenerations(fs, path).last

    def statement(verb: String, sql: String, phase: Phase): Map[String, Any] = {
      val df = phase("build")(spark.sql(sql))
      phase("plan")(df.queryExecution.executedPlan)
      val rows = phase("execute")(df.collect())
      val isWrite = Set("merge", "update", "delete", "insert")(verb)
      if (isWrite) gen = latestGen()
      Map(
        "result" -> rows.toSeq.map(_.toSeq.map {
          case null => null
          case n: java.lang.Number => n.longValue
          case x => x.toString
        }),
        "gen" -> gen,
        "phases" -> phases(df))
    }

    def asOf(back: Int, phase: Phase): Map[String, Any] = {
      val oldest = Streaming.manifestGenerations(fs, path).head
      val at = math.max(oldest, gen - back)
      statement("asof_read", s"SELECT count(*), sum(v) FROM $TableName VERSION AS OF $at",
        phase) + ("at" -> at)
    }

    def compact(): Map[String, Any] = {
      val n = Streaming.compactShards(spark, path, "shard")
      gen = latestGen()
      Map("compacted" -> n, "gen" -> gen)
    }

    private def bytesUnder(dir: String, keep: String => Boolean): Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!fs.exists(p)) 0L
      else {
        val it = fs.listFiles(p, true)
        var total = 0L
        while (it.hasNext) {
          val f = it.next()
          if (!f.getPath.getName.endsWith(".crc") && keep(f.getPath.getName)) total += f.getLen
        }
        total
      }
    }

    /** Final contents and on-disk footprint, after the timed window.
      * With `full` (the traced run) also the footprint of a compact
      * rewrite of the same rows, and the D2 probe.
      */
    def report(full: Boolean): Map[String, Any] = {
      val finalRows = spark.sql(s"SELECT id, v, s FROM $TableName").collect()
        .map(r => Seq(r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1), r.getString(2)))
        .sortBy(_.head.asInstanceOf[Long])
      val manifests = path + ".__manifests"
      val tableBytes = bytesUnder(path, _ => true) + bytesUnder(manifests, _ => true)
      val manifestBytes = bytesUnder(manifests, n => !n.startsWith("dv-"))
      val filesLive = Streaming.latestManifest(fs, path).map(_._2.size).getOrElse(0)
      val contents = Map(
        "final_rows" -> finalRows.toSeq,
        "initial_gen" -> initialGen,
        "table_bytes" -> tableBytes,
        "manifest_bytes" -> manifestBytes,
        "files_live" -> filesLive)
      if (!full) return contents
      spark.sql("CREATE TABLE graft.b.c (id BIGINT, v BIGINT, s STRING, shard INT) " +
        "PARTITIONED BY (shard)")
      spark.sql(s"INSERT INTO graft.b.c SELECT id, v, s, shard FROM $TableName")
      val compactBytes = bytesUnder(s"$root/b/c", _ => true) +
        bytesUnder(s"$root/b/c.__manifests", _ => true)
      // D2: UPDATE/DELETE with BETWEEN in the condition. Probed on the
      // copy, so the lifecycle table's final state is already recorded.
      val d2 = Seq(
        "UPDATE graft.b.c SET v = v + 1L WHERE id BETWEEN 1 AND 3",
        "DELETE FROM graft.b.c WHERE id BETWEEN 1 AND 3").map { sql =>
        try { spark.sql(sql).collect(); Map("sql" -> sql, "failed" -> false) }
        catch {
          case e: Exception => Map("sql" -> sql, "failed" -> true,
            "error" -> String.valueOf(e.getMessage).take(160))
        }
      }
      contents ++ Map("compact_bytes" -> compactBytes, "d2_probe" -> d2)
    }
  }
}
