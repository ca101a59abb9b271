package perfbench

import java.nio.file.{Files, Path}

/** Expected outputs, pinned from the engine as committed when the
  * benchmark was introduced (`expected.json` next to this build). */
final case class Pins(catalog: Map[String, (Long, String)], curate: Map[String, Long])

object Pins {
  /** The catalog query set: every family (q, e, d, t, v, m, p), the index
    * builders and the persisted-index serves, sized so one pass fits a
    * run. */
  val catalogQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q26_latest_order_lateral",
    "e01_json_extract_agg", "e04_sessionize",
    "d00_build_simhash_index", "d04_simhash_neardup",
    "t01_text_stats",
    "v01_similarity_topk", "v08_ann_index_persisted",
    "m05_phash_neardup",
    "p06_leakage_safe_splits")

  def load(path: Path): Pins = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(path), java.nio.charset.StandardCharsets.UTF_8))
    val JObject(catalog) = j \ "catalog": @unchecked
    val JObject(curate) = j \ "curate": @unchecked
    Pins(
      catalog.collect { case (k, JArray(List(JInt(n), JString(h)))) => k -> (n.toLong, h) }.toMap,
      curate.collect { case (k, JInt(n)) => k -> n.toLong }.toMap)
  }
}
