package perfbench

import java.io.{File, FileWriter, PrintWriter}
import java.lang.management.ManagementFactory
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Closed-loop benchmark client for the engine's catalog.
  *
  * One JVM, one SparkSession at local[cores], one thread issuing catalog
  * entries (`graft.SparkEntry.catalog`) one after another. Every layer is
  * measured from outside: timers around `QueryDef.fn` (build), the
  * physical plan (plan) and the action (exec); Spark's public listeners
  * for jobs, stages, tasks and micro-batches; the heap in use after a
  * forced GC between passes. Nothing inside the engine is instrumented.
  *
  * Arguments are `key=value` pairs: data, ops (comma list), seed,
  * seconds, trace (0|1), work (run directory), out (event log).
  * Every observation is appended to the event log as one JSON line and
  * flushed, so a run killed from outside still leaves what it finished;
  * `run.py` turns the log into metrics.
  */
object Harness {

  final class Log(path: String) {
    private val w = new PrintWriter(new FileWriter(path, true))
    def apply(fields: (String, Any)*): Unit = synchronized {
      w.println(fields.map { case (k, v) => Json.str(k) + ":" + Json.value(v) }
        .mkString("{", ",", "}"))
      w.flush()
    }
    def close(): Unit = synchronized(w.close())
  }

  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def value(v: Any): String = v match {
      case null => "null"
      case s: String => str(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
      case other => str(other.toString)
    }
  }

  /** The phase every listener event is tagged with. */
  @volatile var phase: String = "setup"

  def nowS: Double = System.currentTimeMillis() / 1000.0

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val data = conf("data")
    val ops = conf("ops").split(',').toSeq
    val seed = conf("seed").toLong
    val seconds = conf("seconds").toDouble
    val trace = conf("trace") == "1"
    val work = new File(conf("work"))
    val log = new Log(conf("out"))
    val cores = Runtime.getRuntime.availableProcessors()
    val catalog = graft.SparkEntry.catalog.toMap
    ops.foreach(o => require(catalog.contains(o), s"unknown catalog entry $o"))
    log("type" -> "start", "cores" -> cores, "ops" -> ops, "t" -> nowS)

    // ---- set-up, three times: session up and every input table opened
    // (its parquet schema resolved), the state the first query starts
    // from; the first counts from process start
    val procStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    var spark: SparkSession = null
    (1 to 3).foreach { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 1) procStart else nowS
      spark = session(work, cores)
      graft.Tables.names.foreach(t => graft.Tables(spark, data, t).schema)
      log("type" -> "setup", "i" -> i, "s" -> (nowS - t0))
    }
    val sc = spark.sparkContext
    sc.setCheckpointDir(new File(work, "checkpoint").getPath)
    spark.streams.addListener(new BatchListener(log))
    val jobs = if (trace) Some(new JobListener(log)) else None
    jobs.foreach(sc.addSparkListener)

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // what the ops leave behind; entries Spark itself made at start stay
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val keep = Option(tmp.listFiles()).toSeq.flatten.map(_.getName).toSet
    val scratch = Seq(tmp, new File(work, "warehouse"))

    /** One catalog entry, timed in three layers. The result digest, the
      * output size accounting and the cleanup happen after the clock stops. */
    def runOp(name: String, pass: Int, writeTo: Option[File]): Unit = {
      val q = catalog(name)
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val startS = nowS
      var stage = "build"
      var tb, tp = t0
      val result = try {
        val df = q.fn(spark, data)
        tb = System.nanoTime(); stage = "plan"
        df.queryExecution.executedPlan
        tp = System.nanoTime(); stage = "exec"
        val rows = df.collect()
        Right((df, rows))
      } catch { case e: Throwable => Left(e) }
      val te = System.nanoTime()
      val ce = os.getProcessCpuTime
      val endS = nowS
      val fields = Seq[(String, Any)]("type" -> "op", "phase" -> phase,
        "pass" -> pass, "id" -> name, "t0" -> startS, "t1" -> endS,
        "total_s" -> (te - t0) / 1e9, "cpu_s" -> (ce - c0) / 1e9)
      result match {
        case Right((df, rows)) =>
          writeTo.foreach { dir =>
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .coalesce(1).write.mode("overwrite").parquet(new File(dir, name).getPath)
          }
          val (inB, outB) = outputBytes(scratch, keep)
          log(fields ++ Seq("ok" -> true, "build_s" -> (tb - t0) / 1e9,
            "plan_s" -> (tp - tb) / 1e9, "exec_s" -> (te - tp) / 1e9,
            "rows" -> rows.length, "digest" -> digest(df, rows),
            "landed_b" -> inB, "written_b" -> outB): _*)
        case Left(e) =>
          log(fields ++ Seq("ok" -> false, "stage" -> stage,
            "err" -> (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(400)): _*)
      }
      cleanup(spark, scratch, keep)
    }

    def shuffled(pass: Int): Seq[String] = new scala.util.Random(seed * 1000003L + pass).shuffle(ops)

    // ---- check pass: every op once, results kept for the oracle compare
    // (also the JIT warm-up; neither set-up nor the timed window)
    phase = "check"
    val checkDir = new File(work, "check")
    checkDir.mkdirs()
    val t0c = nowS
    shuffled(0).foreach(o => runOp(o, 0, Some(checkDir)))
    log("type" -> "check", "s" -> (nowS - t0c))
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    java.nio.file.Files.writeString(new File(checkDir, "oracle_sql.json").toPath,
      oracles.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}"))

    // The check pass leaves the JIT compiling what it made hot; timing
    // while the compiler threads share the cores would charge that to
    // whichever op runs first. Wait (at most 5 s) until no compilation
    // happened for a moment, then collect the check pass's garbage.
    val jit = ManagementFactory.getCompilationMXBean
    val q0 = System.nanoTime()
    var compiled = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.nanoTime() - q0 < 5000000000L) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = now - compiled < 5
      compiled = now
    }
    System.gc()
    log("type" -> "quiesce", "s" -> (System.nanoTime() - q0) / 1e9, "quiet" -> quiet)

    // ---- timed window: whole passes while `seconds` have not elapsed. After each pass (off the clock) a full GC, a pause
    // for Spark's cleaner to drop the blocks and shuffles no longer
    // referenced, another GC, and the heap still in use: the live set the
    // pass left behind.
    phase = "timed"
    val memory = ManagementFactory.getMemoryMXBean
    val w0 = nowS
    log("type" -> "window_start", "t" -> w0)
    var pass = 1
    while (pass == 1 || nowS - w0 < seconds) {
      val p0 = nowS
      val c0 = os.getProcessCpuTime
      shuffled(pass).foreach(o => runOp(o, pass, None))
      val p1 = nowS
      val c1 = os.getProcessCpuTime
      System.gc(); Thread.sleep(100); System.gc()
      log("type" -> "pass", "pass" -> pass, "t0" -> p0, "t1" -> p1, "cpu_s" -> (c1 - c0) / 1e9,
        "live_heap_b" -> memory.getHeapMemoryUsage.getUsed)
      pass += 1
    }
    val w1 = nowS
    phase = "after"
    org.apache.spark.PerfbenchBus.drain(sc)
    log("type" -> "window_end", "t" -> w1)

    // ---- functions kernel probe (traced runs only)
    if (trace) {
      phase = "probe"
      KernelProbe.run(spark, data, seed, log)
    }
    spark.stop()
    log("type" -> "end", "t" -> nowS)
    log.close()
  }

  def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
      .config("spark.local.dir", new File(work, "local").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "streaming").getPath)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bytes an op left behind: landed input (`*_landing*`, `*_shard*`)
    * versus everything else it wrote (tables, pairs, labels, checkpoints). */
  def outputBytes(roots: Seq[File], keep: Set[String]): (Long, Long) = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum else f.length()
    val top = left(roots, keep)
    val (in, out) = top.partition(f => f.getName.contains("_landing") || f.getName.contains("_shard"))
    (in.map(size).sum, out.map(size).sum)
  }

  /** What the ops left in `roots`: every entry not named in `keep`. */
  def left(roots: Seq[File], keep: Set[String]): Seq[File] =
    roots.flatMap(r => Option(r.listFiles()).toSeq.flatten).filterNot(f => keep(f.getName))

  /** Drop every table and delete every file an op left behind. */
  def cleanup(spark: SparkSession, roots: Seq[File], keep: Set[String]): Unit = {
    spark.catalog.listTables().collect().foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    }
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    left(roots, keep).foreach(rm)
  }

  /** Order-insensitive digest of a result: columns by name, rows sorted. */
  def digest(df: DataFrame, rows: Array[Row]): String = {
    val names = df.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    def show(v: Any): String = v match {
      case null => "NULL"
      case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => show(k) + "=" + show(x) }.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(show).mkString("(", ",", ")")
      case a: Array[Byte] => a.mkString("b", ".", "")
      case other => other.toString
    }
    val lines = rows.map(r => order.map(i => show(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Micro-batch progress of every streaming query (`IngestLoop`,
    * `EventStream`). */
  final class BatchListener(log: Log) extends StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      log("type" -> "batch", "phase" -> phase, "t" -> nowS, "rows" -> p.numInputRows,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_ms" -> d.getOrElse("addBatch", 0L),
        "plan_ms" -> d.getOrElse("queryPlanning", 0L),
        "wal_ms" -> d.getOrElse("walCommit", 0L))
    }
  }

  /** Jobs, stages and task metrics. A job is attributed to the first
    * engine source file in its stage's recorded call site. */
  final class JobListener(log: Log) extends SparkListener {
    final class Agg {
      var tasks, failed = 0
      var runMs, gcMs, schedMs = 0L
      var cpuNs, srB, swB, spillB, inB, inRows, outB = 0L
    }
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val aggs = new java.util.concurrent.ConcurrentHashMap[Int, Agg]()
    private val FileRe = """\(([A-Za-z0-9_]+)\.scala:\d+\)""".r

    def origin(details: String): String =
      details.linesIterator.map(_.trim).find(_.startsWith("graft."))
        .flatMap(l => FileRe.findFirstMatchIn(l).map(_.group(1))).getOrElse("-")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageInfos.foreach(s => stageJob.put(s.stageId, e.jobId))
      aggs.put(e.jobId, new Agg)
      val file = e.stageInfos.sortBy(-_.stageId).headOption.map(s => origin(s.details)).getOrElse("-")
      val streaming = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
      log("type" -> "job_start", "phase" -> phase, "job" -> e.jobId, "t" -> e.time / 1000.0,
        "file" -> file, "streaming" -> streaming)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val a = aggs.remove(e.jobId)
      val fields = Seq[(String, Any)]("type" -> "job_end", "job" -> e.jobId, "t" -> e.time / 1000.0,
        "ok" -> (e.jobResult == JobSucceeded))
      if (a == null) log(fields: _*)
      else log(fields ++ Seq("tasks" -> a.tasks, "failed_tasks" -> a.failed,
        "task_s" -> a.runMs / 1e3, "cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
        "sched_s" -> a.schedMs / 1e3, "shuffle_read_b" -> a.srB, "shuffle_write_b" -> a.swB,
        "spill_b" -> a.spillB, "input_b" -> a.inB, "input_rows" -> a.inRows,
        "output_b" -> a.outB): _*)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      log("type" -> "stage", "stage" -> s.stageId, "job" -> stageJob.getOrDefault(s.stageId, -1),
        "t0" -> s.submissionTime.map(_ / 1000.0).getOrElse(0.0),
        "t1" -> s.completionTime.map(_ / 1000.0).getOrElse(0.0),
        "name" -> s.name, "tasks" -> s.numTasks)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = stageJob.getOrDefault(e.stageId, -1)
      val a = aggs.get(job)
      if (a == null) return
      val i = e.taskInfo
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (i.failed || i.killed) a.failed += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.srB += m.shuffleReadMetrics.totalBytesRead
          a.swB += m.shuffleWriteMetrics.bytesWritten
          a.spillB += m.diskBytesSpilled
          a.inB += m.inputMetrics.bytesRead
          a.inRows += m.inputMetrics.recordsRead
          a.outB += m.outputMetrics.bytesWritten
          val dur = i.finishTime - i.launchTime
          a.schedMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - i.gettingResultTime)
        }
      }
    }

  }
}

/** Rows per second of each public `graft.functions` expression over the
  * run's own generated columns (documents.text, embeddings.embedding),
  * replicated to about 100,000 rows and cached. */
object KernelProbe {
  def run(spark: SparkSession, data: String, seed: Long, log: Harness.Log): Unit = {
    import graft.functions._
    val p = graft.operators.Dedup.MinhashPrime
    val rows = 100000L
    def replicate(df: DataFrame): DataFrame = {
      val reps = (rows + df.count() - 1) / df.count()
      df.crossJoin(spark.range(reps).toDF("__r")).drop("__r")
        .repartition(Runtime.getRuntime.availableProcessors()).cache()
    }
    val docs = replicate(graft.Tables(spark, data, "documents").select("text"))
    val vecs = replicate(graft.Tables(spark, data, "embeddings")
      .select(col("embedding").cast("array<double>").as("v")))
    val nDocs = docs.count()
    val nVecs = vecs.count()
    val dim = vecs.head().getSeq[Double](0).length
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(16, dim)(rnd.nextGaussian())
    val m = 8
    val codebooks = Array.fill(m, 16, dim / m)(rnd.nextGaussian())
    val perms = (0 until 32).map(graft.operators.Dedup.perm)
    val toks = split(col("text"), " ")
    val kernels: Seq[(String, DataFrame, org.apache.spark.sql.Column, Long)] = Seq(
      ("minhash", docs, MinHashExpression.minhash(
        transform(toks, x => pmod(xxhash64(x), lit(p))), perms.map(_._1), perms.map(_._2), p), nDocs),
      ("simhash64", docs, SimHashExpression.simhash64(transform(toks, x => xxhash64(x))), nDocs),
      ("bpe_count", docs, BpeExpression.bpeCount(col("text"), graft.operators.TextAnalysis.demoBpeVocab), nDocs),
      ("nearest_center", vecs, VectorExpressions.nearestCenter(col("v"), centers), nVecs),
      ("pq_lut", vecs, VectorExpressions.pqLut(col("v"), codebooks), nVecs))
    kernels.foreach { case (name, df, c, n) =>
      val probe = df.select(c.as("k"))
      probe.write.format("noop").mode("overwrite").save() // warm the codegen
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        probe.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      log("type" -> "kernel", "name" -> name, "rows" -> n, "s" -> times.sorted.apply(1))
    }
    docs.unpersist(); vecs.unpersist()
  }
}
