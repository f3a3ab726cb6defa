package graft

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A query that throws is recorded with err:1 and
  * excluded from the timing total so a broken query can't masquerade as a
  * fast one.
  *
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 2): `queries`
  * (and the headline `value`) record the first, cold run;
  * `queries_warm`/`total_warm` the BEST successful rerun — the stable
  * figure that filters one-shot contention noise out of the record (a
  * query whose runs disagree by multiples was preempted, not
  * regressed). A rerun that fails falls back to the cold figure rather
  * than reporting its time-to-failure as a timing. A query that fails
  * its cold run prints `{"metric":"query","name":…,"err":1,"cold":s}`,
  * where `cold` is its time-to-failure, not a timing.
  *
  * `queries_full`/`total_full` time ONE extra run per query against the
  * noop sink (full materialization of every output row and column).
  * The cold/warm runs act via count(), under which Catalyst legally
  * prunes output-column work — a map-only query's count collapses to a
  * row count over the scan — so those figures are self-consistent
  * across rounds but optimistic vs what a consumer writing the result
  * would pay (measured 3× on the window-heavy q_anomaly_mad). The full
  * figure is the Verify-equivalent honest cost; it runs last, so treat
  * it as a warm figure. */
object Bench {
  /** Co-tenancy stamp: "1min 5min 15min running/total" from
    * /proc/loadavg — recorded at run start and end so a phantom
    * regression (a query 2-3× slower with an unchanged plan) can be
    * adjudicated from the artifact itself instead of costing a
    * dedicated rerun: load ≫ the core count means the round's bench
    * shared the machine with another tenant. */
  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+").take(4).mkString(" ")
    catch { case scala.util.control.NonFatal(_) => "unavailable" }

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional query-name filter for local profiling
    val named = Battery.select(args)
    // Recycling is OFF by default here: restart cost would smear into
    // cold timings and break round-over-round comparability.
    val battery = new Battery("graft-bench", Battery.recycleEvery(0))
    // warm up the session (parquet footers, codegen compiler, shuffle
    // machinery) so the first timed query doesn't absorb JVM init.
    // ModelMap.ensure is the reference's BuildAndSaveModels contract: the
    // per-domain model store is built ahead of the streaming scorer, so a
    // cold or invalidated model cache must pre-pay its one-time training
    // here, never inside q_stream_pipe's timing.
    val warmup = battery.spark
    try {
      Seq("lineitem", "orders", "part", "customer", "events", "documents", "embeddings")
        .foreach(t => try sources.Tables.table(warmup, sfDir, t).limit(1).count()
          catch { case _: Throwable => () })
      SparkEntry.entry(warmup).limit(1).count()
    } catch { case _: Throwable => () }
    // only the streaming scorer consumes the model store — skip its
    // (possibly multi-second) build when a filter excludes it
    if (named.exists(_._1 == "q_stream_pipe"))
      try ml.ModelMap.ensure(warmup, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] model-map warmup failed: ${e.getMessage}")
      }
    def timeOne(name: String, run: => Unit): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { run; true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val results = named.map { case (name, fn) =>
      val spark = battery.next()
      val (cold, ok) = timeOne(name, fn(spark, sfDir).count())
      // warm figure = best of the reruns; a rerun that fails must not
      // pass its time-to-failure off as a stable timing — fall back to
      // the cold figure (the conservative choice) and say so
      val reruns =
        if (ok) (2 to runs).map(_ => timeOne(name, fn(spark, sfDir).count()))
        else Seq.empty
      val okReruns = reruns.collect { case (t, true) => t }
      if (reruns.nonEmpty && okReruns.isEmpty)
        System.err.println(s"[bench] $name: all warm reruns failed; queries_warm reuses cold")
      val warm = if (okReruns.nonEmpty) okReruns.min else cold
      // full-materialization figure: noop sink produces every output
      // row+column (what Verify's parquet write pays) with zero IO
      // cost. A failed full run must NOT fall back to the count()
      // figure — the whole point of this metric is that count can be
      // ~190× optimistic — so the query is dropped from queries_full
      // and named in full_err instead.
      val (full, fullOk) =
        if (ok) timeOne(name,
          fn(spark, sfDir).write.mode("overwrite").format("noop").save())
        else (cold, false)
      if (ok && !fullOk)
        System.err.println(s"[bench] $name: full-materialization run failed; dropped from queries_full")
      (name, cold, warm, full, ok, fullOk)
    }
    // queries stay name->seconds (the driver's shape); failures are listed
    // separately in "err" and excluded from the totals.
    def obj(pick: ((String, Double, Double, Double, Boolean, Boolean)) => Option[Double]): String =
      results.flatMap { case r @ (k, _, _, _, _, _) =>
        pick(r).map(v => Battery.json(k) + ":" + v)
      }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, _, false, _) => Battery.json(k) }
      .mkString("[", ",", "]")
    val fullErrs = results.collect { case (k, _, _, _, true, false) => Battery.json(k) }
      .mkString("[", ",", "]")
    val total = results.filter(_._5).map(_._2).sum
    val totalWarm = results.filter(_._5).map(_._3).sum
    val totalFull = results.filter(_._6).map(_._4).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","err":$errs""" +
      s""","queries":${obj(r => if (r._5) Some(r._2) else None)},"total_warm":$totalWarm""" +
      s""","queries_warm":${obj(r => if (r._5) Some(r._3) else None)},"total_full":$totalFull""" +
      s""","queries_full":${obj(r => if (r._6) Some(r._4) else None)},"full_err":$fullErrs""" +
      s""","loadavg_start":"$loadStart","loadavg_end":"${loadavg()}"""" +
      s""","sf":${Battery.json(sfDir)}}"""
    println(json)
    // Sidecar: the driver's artifact captures a fixed-size TAIL of
    // stdout, so per-query history for early (alphabetical) queries is
    // lost to the record. Persist the full JSON line to a file too
    // (only on full-suite runs — a filtered profiling run must not
    // overwrite the round record). The stable slot is the driver's
    // contract; the timestamped copy is the per-run HISTORY a later
    // round can still read after the slot is overwritten. Catch
    // NonFatal only: an OutOfMemoryError here means the run is
    // fundamentally broken and must not report success.
    if (args.isEmpty) {
      val slot = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
      val stamp = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd_HHmmss")
        .format(java.time.LocalDateTime.now())
      val stamped = slot.replaceAll("\\.json$", "") + s"_$stamp.json"
      Seq(slot, stamped).foreach { p =>
        try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] sidecar write failed ($p): ${e.getMessage}")
        }
      }
    }
    // One compact line PER QUERY (r14 verdict item 2: the giant map
    // line above overflows the driver's fixed-size stdout tail, so the
    // per-query comparison was judged blind). Additions only — the map
    // line, total_summary and the sidecar are unchanged; a line-level
    // consumer can stream-parse these without holding the map line.
    // On an err line, `cold` is the time-to-failure.
    results.foreach { case (name, cold, warm, full, ok, fullOk) =>
      if (ok) {
        val fullPart = if (fullOk) s""","full":$full""" else ""
        println(s"""{"metric":"query","name":${Battery.json(name)},"cold":$cold,"warm":$warm$fullPart}""")
      } else println(s"""{"metric":"query","name":${Battery.json(name)},"err":1,"cold":$cold}""")
    }
    // The per-query line above grows with the suite (185+ queries × 3
    // metrics) and any fixed-size tail capture of this process's stdout
    // will truncate its head, losing the totals. Emit the totals AGAIN as
    // a final compact line so the last ~200 bytes of output always parse.
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","cold":$total""" +
      s""","warm":$totalWarm,"full":$totalFull,"n":${results.size}""" +
      s""","err_count":${results.count(!_._5)}""" +
      s""","loadavg_start":"$loadStart","loadavg_end":"${loadavg()}","sf":${Battery.json(sfDir)}}""")
    battery.stop()
  }
}
