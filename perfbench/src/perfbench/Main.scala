package perfbench

import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.collection.mutable

import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** JVM side of the benchmark: runs one workload and writes its raw record
  * as JSON. `perfbench/run.py` prepares the inputs and scratch directories,
  * launches this, checks outputs against the DuckDB oracle and prints the
  * result line.
  *
  * Arguments: `--workload txn_loop|store_ingest|analytics_read --seed N
  * --seconds S --trace 0|1 --scratch DIR --data DIR --out FILE`. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      scratch: String, data: String, out: String)

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("scratch"), m("data"), m("out"))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o)
    try {
      val marks = mutable.LinkedHashMap[String, Long]("jvm_start" -> jvmStart,
        "session_ready" -> System.currentTimeMillis())
      val tr = new Trace(spark, o.trace)
      val rec = mutable.LinkedHashMap[String, Any](
        "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
        "trace" -> o.trace, "cores" -> cores,
        "confs" -> spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted.toMap)
      rec("self_check") = selfCheck(tr, o.scratch)
      marks("self_checked") = System.currentTimeMillis()
      rec("marks") = marks
      o.workload match {
        case "txn_loop" => TxnLoop.run(tr, o, rec)
        case "store_ingest" => QueryLoop.run(tr, o, rec, QueryLoop.Ingest, ingest = true)
        case "analytics_read" => QueryLoop.run(tr, o, rec, QueryLoop.Analytics, ingest = false)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (tr.on) rec("spans") = tr.spans
      Files.writeString(Paths.get(o.out), Json.write(rec.toMap))
    } finally spark.stop()
  }

  def cores: Int = Runtime.getRuntime.availableProcessors

  /** The session `graft.Bench` builds, with master and shuffle partitions
    * set to the core count; a traced run also installs the counting
    * `file:` file systems. */
  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.scratch}/local")
      .config("spark.sql.warehouse.dir", s"${o.scratch}/warehouse")
    if (o.trace) {
      b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      b.config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[CountingAfs].getName)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def await(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(10)
    }
  }

  private def check(ok: Boolean, what: String): Unit =
    if (!ok) throw new IllegalStateException(s"collector self-check failed: $what")

  /** Planted positives: each collector must see a known call before the run
    * is trusted. The same calls run untraced too, so both kinds of run pay
    * the same warm-up. The streaming workloads check the streaming collector
    * on their own first query ([[checkStreaming]]). */
  def selfCheck(tr: Trace, scratch: String): Map[String, Any] = {
    val spark = tr.spark
    val out = mutable.LinkedHashMap[String, Any]()
    // a batch job: jobs, stages, tasks and the planning phases
    val (j0, p0) = (tr.jobs.all.size, tr.plans.recs.size)
    spark.range(0, 4000, 1, 4).selectExpr("sum(id) AS s").collect()
    tr.barrier()
    if (tr.on) {
      val js = tr.jobs.all.drop(j0)
      check(js.nonEmpty && js.map(_.stages).sum >= 1 && js.map(_.tasks).sum >= 4,
        s"job listener saw ${js.size} jobs")
      check(tr.plans.recs.size > p0, "query-execution listener saw no planning phases")
      out("jobs") = js.size
      out("tasks") = js.map(_.tasks).sum
    }
    // both file-system APIs on a scratch directory
    if (tr.on) {
      val conf = spark.sparkContext.hadoopConfiguration
      val dir = new Path(s"file://$scratch/selfcheck")
      val fs = dir.getFileSystem(conf)
      check(fs.isInstanceOf[CountingFs], s"file: resolves to ${fs.getClass.getName}")
      val s0 = FsCounters.snapshot()
      fs.mkdirs(dir)
      val os = fs.create(new Path(dir, "a"), true)
      os.write(Array.fill[Byte](64)(1)); os.close()
      fs.listStatus(dir)
      fs.rename(new Path(dir, "a"), new Path(dir, "b"))
      fs.delete(new Path(dir, "b"), false)
      val d1 = FsCounters.delta(s0, FsCounters.snapshot())
      Seq("list_calls", "create_calls", "rename_calls", "delete_calls", "mkdirs_calls")
        .foreach(k => check(d1(k) >= 1, s"FileSystem $k did not move"))
      check(d1("bytes_written") >= 64, "bytes_written did not move")
      val fc = FileContext.getFileContext(dir.toUri, conf)
      val s1 = FsCounters.snapshot()
      fc.create(new Path(dir, "c"), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)).close()
      fc.util().listStatus(dir)
      fc.rename(new Path(dir, "c"), new Path(dir, "d"), Options.Rename.OVERWRITE)
      fc.delete(new Path(dir, "d"), false)
      val d2 = FsCounters.delta(s1, FsCounters.snapshot())
      Seq("list_calls", "create_calls", "rename_calls", "delete_calls")
        .foreach(k => check(d2(k) >= 1, s"FileContext $k did not move"))
      out("fs_filesystem") = d1
      out("fs_filecontext") = d2
    }
    out.toMap
  }

  /** Planted positive for the streaming collector on a query that has run
    * data: a progress event with input must be in, and in a traced run that
    * batch's jobs must carry the query's id and batch id. */
  def checkStreaming(tr: Trace, q: StreamingQuery): Map[String, Any] = {
    def withInput = tr.streams.all.filter(p => p.runId == q.runId && p.numInputRows > 0)
    Main.await(s"progress of ${q.name}", 30000)(withInput.nonEmpty)
    val batch = withInput.map(_.batchId).min
    if (!tr.on) Map("batch_id" -> batch)
    else {
      tr.barrier()
      val n = tr.jobs.all.count(j => j.queryId == q.id.toString && j.batchId == batch)
      check(n >= 1, s"no job carried ${q.name}'s query id and batch id $batch")
      Map("batch_id" -> batch, "trigger_jobs" -> n)
    }
  }
}

/** JSON via the Jackson Scala module that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
