package graft
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Each query's
  * output dir is deleted before it runs, so a query that fails leaves no
  * stale result behind to pass the compare; the run exits 1 if any query
  * failed, after oracle_sql.json is written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val named = Battery.select(args.drop(2)) // optional query-name filter
    // recycled every 40 queries by default: ~8 restarts per full battery
    val battery = new Battery("graft-verify", Battery.recycleEvery(40))
    new java.io.File(outDir).mkdirs()
    val failed = named.filterNot { case (name, fn) =>
      val spark = battery.next()
      val out = s"$outDir/$name"
      FileUtils.deleteDirectory(new java.io.File(out))
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).coalesce(1).write.parquet(out); true }
      catch { case e: Throwable =>
        val s = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[verify] $name failed after $s%.3f s: ${e.getMessage}")
        false
      }
    }.map(_._1)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Battery.json(k)}: ${Battery.json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    battery.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
