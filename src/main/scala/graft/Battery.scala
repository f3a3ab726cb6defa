package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query-battery loop shared by graft's mains (Bench, Verify,
  * Explain): one session config, one query-name filter, one
  * between-query hygiene step and one recycling cadence, so a timing,
  * a verified result and an audited plan all come from the same setup.
  *
  * Call [[next]] before each query and run the query on the session it
  * returns. Long batteries accumulate localCheckpoint blocks across
  * queries (each query's checkpoints are correct for its own latency,
  * but a 300-query session hoards them until the store wedges — the
  * r13 sf3 finding), so hygiene is two-level: drop persisted blocks
  * before EVERY query, and recycle the whole SparkSession every
  * `recycleEvery` queries (0 disables) so heaps, shuffle dirs and the
  * block manager restart from zero at a cost of ~1-2 s each. Hygiene
  * runs between queries, never between a query's own runs, and is
  * untimed. */
final class Battery(appName: String, recycleEvery: Int) {
  private var session = Battery.session(appName)
  private var sinceRecycle = 0

  def spark: SparkSession = session

  /** Hygiene, then recycle on the cadence; returns the session the next
    * query runs on. */
  def next(): SparkSession = {
    Battery.clean(session)
    if (recycleEvery > 0 && sinceRecycle >= recycleEvery) {
      session.stop()
      session = Battery.session(appName)
      sinceRecycle = 0
    }
    sinceRecycle += 1
    session
  }

  def stop(): Unit = session.stop()
}

object Battery {
  type Query = (SparkSession, String) => DataFrame

  /** `SPARK_GRAFT_CPUS`, else every core of this machine. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_RECYCLE`, else the calling main's default. */
  def recycleEvery(default: Int): Int =
    sys.env.get("SPARK_GRAFT_RECYCLE").map(_.toInt).getOrElse(default)

  def session(appName: String): SparkSession = {
    val spark = Sessions.local(cpus, appName)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The registered queries named in `only` (all of them when empty),
    * sorted by name. A typo'd name silently matching nothing would let
    * a reused output dir pass stale results off as fresh — so unknown
    * names fail instead. */
  def select(only: Iterable[String]): Seq[(String, Query)] = {
    val wanted = only.toSet
    val unknown = wanted -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => wanted.isEmpty || wanted(name) }
  }

  /** Release the previous query's localCheckpoint blocks and cached
    * plans — its private intermediates, not shared state. */
  def clean(spark: SparkSession): Unit =
    try {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    } catch { case _: Throwable => () }

  /** JSON string literal: backslash, quote, and ALL control chars
    * (< 0x20) escaped — a tab or CR in a name or in builder-authored
    * SQL would otherwise make a consumer's json.load fail. */
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
