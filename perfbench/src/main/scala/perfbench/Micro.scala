package perfbench

import graft.functions.{LocalText, PriceExtract}
import graft.ml.ModelMap
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.immutable.ListMap

/** Single-thread timings of the extraction and scoring kernels on a
  * fixed input: the first 2000 synthetic pages of the workload's events
  * (`ModelMap.syntheticPages`) and the price candidates found in them,
  * kept by the streaming scorer's rule (contains `.` or `,`). Each
  * figure is the median of seven timed sweeps after three warm-up
  * sweeps, per item. */
object Micro {
  private var sink = 0L

  private def perItemNs(items: Int)(sweep: => Unit): Double = {
    (1 to 3).foreach(_ => sweep)
    val ts = (1 to 7).map { _ =>
      val t0 = System.nanoTime()
      sweep
      (System.nanoTime() - t0).toDouble
    }.sorted
    ts(3) / math.max(items, 1)
  }

  /** `withModels` adds the featurize and score kernels, which need the
    * model map the price workload trains during set-up. */
  def run(spark: SparkSession, dir: String, withModels: Boolean): ListMap[String, Double] = {
    val pages = ModelMap.syntheticPages(Tables.events(spark, dir))
      .orderBy("event_id").select("domain", "html").limit(2000).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val utf = pages.map(p => UTF8String.fromString(p._2))
    val cands = pages.toSeq.flatMap { case (dom, html) =>
      val arr = PriceExtract.extract(UTF8String.fromString(html))
      (0 until arr.numElements()).map { i =>
        val c = arr.getStruct(i, 4)
        (dom, c.getUTF8String(0).toString,
          c.getUTF8String(1).toString + c.getUTF8String(2).toString + dom,
          c.getInt(3).toDouble / html.length)
      }
    }.filter { case (_, cand, _, _) => cand.contains(".") || cand.contains(",") }
    val datas = cands.map(_._3)

    val scan = perItemNs(utf.length)(utf.foreach(h => sink += PriceExtract.extract(h).numElements()))
    val grams = perItemNs(datas.size)(datas.foreach(d => sink += LocalText.charGrams(d, 3).size))
    val tokens = perItemNs(datas.size)(datas.foreach(d => sink += LocalText.tokenize(d).length))
    val parse = perItemNs(cands.size)(cands.foreach(c =>
      sink += LocalText.parsePriceLocale(c._2).fold(0L)(_.toLong)))

    val (featurize, score) =
      if (!withModels) (0.0, 0.0)
      else {
        val models = ModelMap.ensure(spark, dir)
        val scored = cands.flatMap { case (dom, _, data, loc) =>
          models.get(dom).map { dm =>
            val terms = LocalText.charGrams(data, 3) ++ LocalText.charGrams(data, 4) ++
              LocalText.tokenize(data)
            (dm, terms, loc)
          }
        }
        val feats = scored.map { case (dm, terms, loc) => (dm, dm.featurizer.transformLocal(terms, loc)) }
        (perItemNs(scored.size)(scored.foreach { case (dm, terms, loc) =>
          sink += dm.featurizer.transformLocal(terms, loc).size }),
         perItemNs(feats.size)(feats.foreach { case (dm, f) =>
          sink += ModelMap.confidence(dm.gbt, f).toLong }))
      }
    System.err.println(s"[perfbench] kernel sink $sink over ${pages.length} pages, ${cands.size} candidates")
    ListMap(
      "functions.scan_us_per_page" -> scan / 1e3,
      "functions.char_grams_ns" -> grams,
      "functions.tokenize_ns" -> tokens,
      "functions.parse_price_ns" -> parse,
      "ml.featurize_us" -> featurize / 1e3,
      "ml.score_us" -> score / 1e3)
  }
}
