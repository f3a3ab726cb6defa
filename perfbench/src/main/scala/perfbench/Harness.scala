package perfbench

import graft.{Sessions, SparkEntry}
import graft.ml.ModelMap
import graft.sources.Tables
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import scala.collection.immutable.ListMap
import scala.concurrent.Await
import scala.concurrent.duration.{Duration, SECONDS}
import scala.util.control.NonFatal

/** One benchmark process: set up a session, then run passes over a
  * list of queries in one closed loop, and write a JSON record of every
  * query execution. `perfbench/run.py` launches it and turns the records
  * into metrics.
  *
  * {{{
  *   --data DIR         input tables
  *   --queries a,b,c    SparkEntry query names
  *   --seed N           orders the queries within each pass
  *   --passes N         measured passes after the first pass
  *   --trace 0|1        attach the listeners and record spans on half
  *                      of the measured passes (the rest give the
  *                      untraced reference)
  *   --model 0|1        train the model map during set-up
  *   --spawn-ns T       epoch ns at which the process was started
  *   --out FILE         record; --spans FILE: span lines
  * }}}
  *
  * Each query is timed in three phases: build (the `SparkEntry.queries`
  * builder call, which runs any eager jobs), plan (the executed plan of
  * its result with the digest attached as observed metrics) and execute
  * (a write of every row and column to the `noop` sink, as
  * `graft.Bench`'s full figure does). The write plans its command
  * afresh, so execute also holds a second optimisation of the query.
  * Between queries, untimed, the persistent RDDs are unpersisted and
  * the cache cleared, as `graft.Bench` does. */
object Harness {

  final case class Opts(args: Map[String, String]) {
    def apply(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    def flag(k: String): Boolean = args.get(k).contains("1")
    val data: String = apply("data")
    val queries: Seq[String] = args.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val cores: Int = Runtime.getRuntime.availableProcessors
  }

  private def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got ${args.mkString(" ")}")
    Opts(args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
  }

  private def secs(ns: Long): Double = ns / 1e9

  private def deleteTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete(): Unit
  }

  /** Session, warm-up and (for the price workload) the model map from
    * an empty cache. Returns the session and the set-up phase times. */
  private def setUp(o: Opts): (SparkSession, ListMap[String, Any]) = {
    val t0 = Clock.now()
    val spark = Sessions.local(o.cores, "graft-perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val t1 = Clock.now()
    // warm-up as graft.Bench does it: parquet footers, codegen, shuffle
    Seq("lineitem", "orders", "part", "customer", "events", "documents", "embeddings")
      .foreach(t => try Tables.table(spark, o.data, t).limit(1).count()
        catch { case NonFatal(_) => () })
    graft.operators.Analytics.joinEnrich(spark, o.data).limit(1).count()
    val t2 = Clock.now()
    var (train, load) = (0.0, 0.0)
    if (o.flag("model")) {
      // a map left by an earlier run would turn training into a load
      ModelMap.clearCache()
      val path = ModelMap.defaultPath(spark, o.data)
      deleteTree(new java.io.File(path))
      val a = Clock.now()
      ModelMap.trainAndSave(spark, o.data, path, runId = 1L)
      val b = Clock.now()
      ModelMap.ensure(spark, o.data) // meta check + ModelMap.load, cached in-process
      train = secs(b - a)
      load = secs(Clock.now() - b)
    }
    val ready = Clock.now()
    val spawn = o.args.get("spawn-ns").map(_.toLong).getOrElse(t0)
    (spark, ListMap(
      "setup_s" -> secs(ready - spawn),
      "Sessions.session_s" -> secs(t1 - t0), "Sessions.warmup_s" -> secs(t2 - t1),
      "ml.train_s" -> train, "ml.load_s" -> load))
  }

  private def streamStats(ps: Seq[StreamingQueryProgress]): ListMap[String, Double] = {
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum / 1e3
    val last = ps.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
    val state = last.flatMap(_.stateOperators.toSeq)
    ListMap(
      "batches" -> ps.size.toDouble,
      "trigger_s" -> dur("triggerExecution"),
      "add_batch_s" -> dur("addBatch"),
      "planning_s" -> dur("queryPlanning"),
      "offsets_s" -> (dur("latestOffset") + dur("getBatch") + dur("walCommit")),
      "commit_s" -> dur("commitOffsets"),
      "state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
      "state_mb" -> state.map(_.memoryUsedBytes).sum / 1048576.0)
  }

  final class Tracer(spark: SparkSession) {
    val jobs = new JobListener
    val streams = new StreamListener
    val spans = new Spans
    var runSpan = 0
    def attach(): Unit = {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(streams)
    }
    def detach(): Unit = {
      BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      spark.streams.removeListener(streams)
    }
  }

  private def runQuery(spark: SparkSession, o: Opts, pass: Int, name: String,
      tracer: Option[Tracer], passSpan: Int): ListMap[String, Any] = {
    val sc = spark.sparkContext
    val key = s"$pass/$name"
    val build = SparkEntry.queries(name)
    sc.setLocalProperty(JobListener.QueryKey, key)
    val t0 = Clock.now()
    var (t1, t2) = (t0, t0)
    val outcome: Either[Throwable, (Long, String)] =
      try {
        val df = build(spark, o.data)
        t1 = Clock.now()
        val (observed, digest) = Digest.observe(df)
        observed.queryExecution.executedPlan
        t2 = Clock.now()
        observed.write.format("noop").mode("overwrite").save()
        Right(Digest.render(Await.result(digest.future, Duration(60, SECONDS))))
      } catch { case NonFatal(e) => Left(e) }
      finally sc.setLocalProperty(JobListener.QueryKey, null)
    val t3 = Clock.now()
    if (t1 == t0) t1 = t3
    if (t2 == t0 || t2 < t1) t2 = t3
    // hygiene between queries (untimed): this query's checkpoints and cache
    try {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    } catch { case NonFatal(_) => () }
    val base = ListMap[String, Any](
      "pass" -> pass, "name" -> name, "traced" -> tracer.isDefined,
      "ok" -> outcome.isRight,
      "wall_s" -> secs(t3 - t0), "build_s" -> secs(t1 - t0),
      "plan_s" -> secs(t2 - t1), "execute_s" -> secs(t3 - t2)) ++
      (outcome match {
        case Right((rows, d)) => ListMap("rows" -> rows, "digest" -> d)
        case Left(e) => ListMap("error_class" -> e.getClass.getName,
          "error" -> String.valueOf(e.getMessage).take(500))
      })
    tracer.fold(base) { tr =>
      BusDrain(sc)
      val c = tr.jobs.take(key)
      val progress = tr.streams.drain()
      val jobIv = c.jobSpans.toSeq.map { case (_, s, e) => (s * 1000000L, e * 1000000L) }
      val q = tr.spans.add(passSpan, "query", t0, t3, Map("query" -> name))
      val phases = Seq(
        tr.spans.add(q, "build", t0, t1) -> (t0, t1),
        tr.spans.add(q, "plan", t1, t2) -> (t1, t2),
        tr.spans.add(q, "execute", t2, t3) -> (t2, t3))
      def parentOf(start: Long) =
        phases.collectFirst { case (id, (a, b)) if start >= a && start < b => id }.getOrElse(q)
      c.jobSpans.foreach { case (id, s, e) =>
        tr.spans.add(parentOf(s * 1000000L), "job", s * 1000000L, e * 1000000L, Map("job" -> id))
      }
      progress.foreach { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
        val d = Option(p.durationMs.get("triggerExecution")).fold(0L)(_.longValue) * 1000000L
        tr.spans.add(parentOf(s), "stream.batch", s, s + d, Map("batch" -> p.batchId))
      }
      base ++ ListMap(
        "jobs" -> c.jobs, "stages" -> c.stagesRun, "stages_in_jobs" -> c.stagesInJobs,
        "tasks" -> c.tasks, "empty_tasks" -> c.emptyTasks,
        "task_s" -> c.taskMs / 1e3, "task_cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "shuffle_read_bytes" -> c.shuffleReadBytes,
        "shuffle_fetch_wait_s" -> c.fetchWaitMs / 1e3, "spill_bytes" -> c.spillBytes,
        "records_read" -> c.recordsRead, "read_bytes" -> c.bytesRead,
        "no_job_s" -> secs(t3 - t0 - Spans.unionNs(jobIv, t0, t3)),
        "stream" -> (if (progress.isEmpty) None else Some(streamStats(progress))))
    }
  }

  private def peakRssMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    } catch { case NonFatal(_) => 0.0 }

  private def write(path: String, record: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json(record))

  def main(args: Array[String]): Unit = {
    val code =
      try { run(parse(args)); 0 }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] harness failed: $e")
        e.printStackTrace()
        1
      }
    sys.exit(code)
  }

  private def run(o: Opts): Unit = {
    val unknown = o.queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val (spark, setup) = setUp(o)
    val trace = o.flag("trace")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val rng = new scala.util.Random(o("seed").toLong)
    val execs = Vector.newBuilder[ListMap[String, Any]]
    val passes = Vector.newBuilder[ListMap[String, Any]]
    val runStart = Clock.now()

    def pass(p: Int): Unit = {
      // measured passes go traced, untraced, untraced, traced (ABBA),
      // so the warm-up trend does not bias the tracing overhead
      val traced = tracer.filter(_ => p > 0 && p % 4 < 2)
      traced.foreach(_.attach())
      val order = rng.shuffle(o.queries)
      val start = Clock.now()
      val passSpan = traced.fold(0)(tr => tr.spans.add(tr.runSpan, "pass", start, start, Map("pass" -> p)))
      val recs = order.map(q => runQuery(spark, o, p, q, traced, passSpan))
      val end = Clock.now()
      traced.foreach { tr => tr.spans.close(passSpan, end); tr.detach() }
      execs ++= recs
      val wall = recs.map(_("wall_s").asInstanceOf[Double]).sum
      passes += ListMap("pass" -> p, "traced" -> traced.isDefined, "wall_s" -> wall)
    }

    tracer.foreach(tr => tr.runSpan = tr.spans.add(0, "run", runStart, runStart))
    // pass 0 runs with codegen and JIT still cold; a fixed count of
    // measured passes keeps every run at the same point of the warm-up
    (0 to o("passes").toInt).foreach(pass)
    val micro = tracer.map(_ => Micro.run(spark, o.data, o.flag("model")))
    val selfTimes = tracer.map { tr =>
      tr.spans.close(tr.runSpan, Clock.now())
      tr.spans.write(o("spans"))
    }
    write(o("out"), ListMap(
      "setup" -> setup, "cores" -> o.cores, "passes" -> passes.result(),
      "execs" -> execs.result(), "micro" -> micro, "span_self_s" -> selfTimes,
      "peak_rss_mb" -> peakRssMb()))
    spark.stop()
  }
}
