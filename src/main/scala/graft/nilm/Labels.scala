package graft.nilm

import org.apache.spark.sql.functions._

/** Universal appliance-label taxonomy + the 3-tier raw-label → universal
  * mapping (the reference's defining semantic).
  *
  * Vocabulary data from `/root/reference/UnifiedNILM/UniversalLabels.py:1-78`
  * (a 60-entry canonical label list and a keyword-alias map — data, not
  * code). Match semantics from `UnifiedNILM/UnifiedNILM.py:40-64`:
  *
  *   1. normalize: lowercase, `[_\-,]` → space, trim, collapse whitespace;
  *   2. tier 1 — exact match of the normalized label against each
  *      normalized keyword, in map-insertion order then keyword order;
  *   3. tier 2 — first keyword (same order) whose normalized form is a
  *      *substring* of the normalized label;
  *   4. tier 3 — first universal name (list order, `_` → space) that is a
  *      substring of the normalized label;
  *   5. fallback `"other"`.
  *
  * Insertion order is load-bearing (Python dicts iterate in insertion
  * order and several keywords belong to multiple labels — e.g.
  * "computer site" is under both desktop_computer and network_device, so
  * desktop_computer wins), which is why the map is a `Seq` here.
  *
  * [[mapLabel]] is the decision procedure in plain Scala (the
  * reference); [[attachUniversal]] applies it to a frame's distinct raw
  * labels, and [[oracleCaseSql]] renders it as one ANSI CASE expression
  * for the DuckDB oracle.
  */
object Labels {

  /** UNIVERSAL_LABEL_LIST (UniversalLabels.py:1-12), original order. */
  val UniversalLabelList: Seq[String] = Seq(
    "kettle", "microwave", "fridge", "freezer", "fridge_freezer", "dishwasher",
    "washing_machine", "tumble_dryer", "washer_dryer", "electric_heater",
    "toaster", "television", "desktop_computer", "laptop", "monitor", "router",
    "modem", "hi_fi", "games_console", "bread_maker", "food_mixer",
    "dehumidifier", "vivarium", "pond_pump", "space_heater", "air_conditioner",
    "blender", "slow_cooker", "water_heater", "refrigerated_drawer", "printer",
    "scanner", "smart_speaker", "smart_plug", "network_device", "projector",
    "charger", "coffee_machine", "iron", "hair_dryer", "lamp", "boiler",
    "oven", "fan", "radio", "amp", "vacuum_cleaner", "speakers", "htpc",
    "subwoofer", "set_top_box", "hair_straightener", "soldering_iron",
    "treadmill", "rice_cooker", "lighting_circuit", "baby_monitor",
    "aggregate", "other", "induction_cooktop", "heat_pump")

  /** LABEL_KEYWORDS_MAP (UniversalLabels.py:15-78), insertion order. */
  val LabelKeywords: Seq[(String, Seq[String])] = Seq(
    "aggregate" -> Seq("aggregate", "aggregate VA"),
    "amp" -> Seq("amp", "amp_livingroom", "Amplifier", "amplifier2", "amplifier4"),
    "baby_monitor" -> Seq("baby_monitor_tx", "baby monitor", "babymonitor"),
    "blender" -> Seq("blender"),
    "boiler" -> Seq("boiler", "gas_boiler"),
    "bread_maker" -> Seq("bread-maker", "bread maker", "breadmaker"),
    "charger" -> Seq("charger", "ipad_charger", "samsung_charger",
      "bedroom_chargers", "battery_charger", "Laptopcharger", "Charger82",
      "charger40"),
    "coffee_machine" -> Seq("coffee_machine", "nespresso_pixie", "coffeemaker"),
    "dehumidifier" -> Seq("dehumidifier"),
    "desktop_computer" -> Seq("desktop", "desktop computer", "computer site",
      "mjy computer", "pgm computer", "computer", "i7_desktop", "office_pc",
      "core2_server", "atom_pc", "data_logger_pc", "macmini"),
    "dishwasher" -> Seq("dishwasher", "dish_washer"),
    "electric_heater" -> Seq("electric heater", "heater", "electric_heater",
      "space_heater"),
    "evcharger" -> Seq("EVcharger"),
    "fan" -> Seq("office_fan", "Ventilation"),
    "food_mixer" -> Seq("food mixer", "k mix", "magimix", "kitchen_phone&stereo"),
    "freezer" -> Seq("freezer", "chest freezer"),
    "fridge" -> Seq("fridge"),
    "fridge_freezer" -> Seq("fridge-freezer", "fridge freezer", "fridgefreezer",
      "fridge_freezer"),
    "games_console" -> Seq("games console", "game console", "xbox",
      "playstation", "ps4", "PS4"),
    "hair_dryer" -> Seq("hairdryer", "hair_dryer"),
    "hair_straightener" -> Seq("straighteners", "hair_straightener"),
    "heat_pump" -> Seq("Heat_pump"),
    "hi_fi" -> Seq("hi-fi", "hi fi", "hifi", "hifi_office", "home_theatre_amp"),
    "htpc" -> Seq("htpc", "mediaplayer"),
    "induction_cooktop" -> Seq("Induction_cooktop"),
    "iron" -> Seq("iron", "steam_iron"),
    "kettle" -> Seq("kettle"),
    "lamp" -> Seq("lamp", "livingroom_s_lamp", "livingroom_s_lamp2",
      "kitchen_dt_lamp", "bedroom_ds_lamp", "bedroom_d_lamp", "office_lamp1",
      "office_lamp2", "office_lamp3", "childs_table_lamp", "childs_ds_lamp",
      "utilityrm_lamp", "kitchen_lamp2", "lightbulb81", "lightbulb41"),
    "laptop" -> Seq("laptop", "macbook", "laptop2"),
    "lighting_circuit" -> Seq("lighting_circuit", "Outdoor_lightning"),
    "microwave" -> Seq("microwave"),
    "modem" -> Seq("modem"),
    "monitor" -> Seq("monitor", "lcd_office", "24_inch_lcd",
      "24_inch_lcd_bedroom", "monitor14", "monitor2"),
    "network_device" -> Seq("network site", "computer site", "server",
      "server_hdd", "nas", "network_attached_storage", "gigE_&_USBhub"),
    "other" -> Seq("kitchenappliances"),
    "oven" -> Seq("oven", "gas_oven", "Oven1", "Oven2"),
    "printer" -> Seq("printer", "LED_printer"),
    "projector" -> Seq("projector"),
    "radio" -> Seq("dab_radio", "kitchen_radio", "tv_dvd_digibox_lamp",
      "kettle_radio"),
    "refrigerated_drawer" -> Seq("refrigerated drawer"),
    "rice_cooker" -> Seq("rice_cooker"),
    "router" -> Seq("router", "network site", "adsl_router"),
    "scanner" -> Seq("scanner"),
    "set_top_box" -> Seq("sky_hd_box", "set top box"),
    "slow_cooker" -> Seq("slow cooker"),
    "smart_plug" -> Seq("smart plug"),
    "smart_speaker" -> Seq("smart speaker", "musicstreamer", "musicstreamer6"),
    "soldering_iron" -> Seq("soldering_iron"),
    "speakers" -> Seq("speakers", "stereo_speakers_bedroom"),
    "subwoofer" -> Seq("subwoofer", "subwoofer_livingroom"),
    "television" -> Seq("television", "tv site", "tv", "primary_tv",
      "tv_dvd_digibox_lamp", "livingroom_lamp_tv", "TV2", "TV3", "TV4"),
    "toaster" -> Seq("toaster"),
    "treadmill" -> Seq("running_machine", "treadmill"),
    "tumble_dryer" -> Seq("tumble dryer", "laundry_dryer"),
    "vacuum_cleaner" -> Seq("vacuum_cleaner", "hoover", "robotvacum",
      "vacumcleaner"),
    "washer_dryer" -> Seq("washer dryer", "washer/dryer", "washer_dryer"),
    "washing_machine" -> Seq("washing machine", "washing_machine"),
    "water_heater" -> Seq("water heater"))

  /** F1 normalization (UnifiedNILM.py:41-42) — Scala form. */
  def normalize(s: String): String =
    s.toLowerCase.replaceAll("[_\\-,]", " ").trim.replaceAll("\\s+", " ")

  /** (universal, normalizedKeyword) pairs in match-priority order. */
  val orderedKeywordPairs: Seq[(String, String)] =
    for ((u, kws) <- LabelKeywords; kw <- kws) yield (u, normalize(kw))

  /** Tier-1 lookup: first-wins exact map over normalized keywords. */
  val exactMap: Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap[String, String]()
    orderedKeywordPairs.foreach { case (u, k) =>
      if (!m.contains(k)) m(k) = u
    }
    m.toMap
  }

  /** Tier-3 probes: (universal, universal with `_` → space), list order. */
  val tier3Pairs: Seq[(String, String)] =
    UniversalLabelList.map(u => (u, u.replace("_", " ")))

  /** Driver-side mapping (UnifiedNILM.py:40-64), for metadata + tests. */
  def mapLabel(raw: String): String = {
    val n = normalize(raw)
    exactMap.get(n)
      .orElse(orderedKeywordPairs.collectFirst {
        case (u, k) if n.contains(k) => u
      })
      .orElse(tier3Pairs.collectFirst {
        case (u, t3) if n.contains(t3) => u
      })
      .getOrElse("other")
  }

  /** The one label path: evaluate the 3-tier match only on the DISTINCT
    * raw labels (vocabulary-sized) and broadcast-join the mapping back,
    * instead of running the match per row. Adds `universal_label`;
    * rows with a null `rawCol` are dropped by the inner join.
    *
    * The per-distinct-label match is [[mapLabel]] behind a UDF, not a
    * Column expression: the ~440-branch when-chain form was a 41 KB
    * expression tree that Catalyst re-analyzed, re-optimized and
    * Janino-compiled on EVERY query build — measured as the dominant
    * cost of q34 (plan time, not row time: its 8-vs-32-core bench ratio
    * was 0.99). The UDF keeps the plan tree constant-size. Row identity
    * with mapLabel is pinned in LabelsSpec. */
  def attachUniversal(df: org.apache.spark.sql.DataFrame,
                      rawCol: String): org.apache.spark.sql.DataFrame = {
    // null → "other"; unreachable through the inner equi-join below,
    // which drops null keys anyway
    val mapUdf = udf((raw: String) =>
      if (raw == null) "other" else mapLabel(raw))
    val mapping = df.select(col(rawCol)).distinct()
      .withColumn("universal_label", mapUdf(col(rawCol)))
    df.join(broadcast(mapping), Seq(rawCol))
  }

  /** F1 normalization as a DuckDB SQL expression over `rawExpr`. */
  def normalizeSql(rawExpr: String): String =
    s"regexp_replace(trim(regexp_replace(lower($rawExpr), '[_\\-,]', ' ', 'g')), '\\s+', ' ', 'g')"

  /** The same 3-tier decision procedure as one DuckDB CASE expression
    * over an already-normalized SQL column `nrmCol` (compute it once in
    * a CTE via [[normalizeSql]]; identical tiers and order). */
  def oracleCaseSql(nrmCol: String): String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val tier1 = exactMap.map { case (k, u) =>
      s"WHEN $nrmCol = ${q(k)} THEN ${q(u)}"
    }
    val tier2 = orderedKeywordPairs.map { case (u, k) =>
      s"WHEN contains($nrmCol, ${q(k)}) THEN ${q(u)}"
    }
    val tier3 = tier3Pairs.map { case (u, t3) =>
      s"WHEN contains($nrmCol, ${q(t3)}) THEN ${q(u)}"
    }
    s"CASE ${(tier1 ++ tier2 ++ tier3).mkString(" ")} ELSE 'other' END"
  }
}
