package graft

import graft.nilm.Labels
import org.apache.spark.sql.functions._

/** U1/F1/J4 — tier priority, normalization, fallback, and parity between
  * the driver-side mapper and the Column expression
  * (reference semantics: UnifiedNILM.py:40-64). */
class LabelsSpec extends SparkSpec {

  test("tier 1: exact keyword match") {
    assert(Labels.mapLabel("kettle") == "kettle")
    assert(Labels.mapLabel("aggregate VA") == "aggregate")
  }

  test("tier 1: normalization makes punctuation variants exact") {
    assert(Labels.mapLabel("WASHING_MACHINE") == "washing_machine")
    assert(Labels.mapLabel("Fridge - Freezer") == "fridge_freezer")
    assert(Labels.mapLabel("Dish_Washer") == "dishwasher")
    assert(Labels.mapLabel("  kettle  ") == "kettle")
  }

  test("tier 1 beats tier 2: full-string keyword wins over substring") {
    // "fridge freezer" is an exact fridge_freezer keyword even though
    // "fridge" (tier 2) would also match
    assert(Labels.mapLabel("fridge freezer") == "fridge_freezer")
  }

  test("duplicate keyword resolves by map insertion order") {
    // tv_dvd_digibox_lamp is a keyword of both radio and television;
    // radio comes first in the reference map
    assert(Labels.mapLabel("tv_dvd_digibox_lamp") == "radio")
    // "computer site" belongs to desktop_computer (first) and network_device
    assert(Labels.mapLabel("computer site") == "desktop_computer")
  }

  test("tier 2: substring keyword, map-order priority upsets") {
    assert(Labels.mapLabel("kitchen kettle radio") == "kettle")
    // charger (earlier key) matches inside EVCHARGER before evcharger does
    assert(Labels.mapLabel("EVCHARGER unit") == "charger")
    assert(Labels.mapLabel("my home theatre amp setup") == "amp")
  }

  test("tier 3: universal-name substring fallback") {
    assert(Labels.mapLabel("big vivarium tank") == "vivarium")
    assert(Labels.mapLabel("pond pump room") == "pond_pump")
  }

  test("fallback: no tier matches → other") {
    assert(Labels.mapLabel("totally unknown gadget") == "other")
    assert(Labels.mapLabel("") == "other")
  }

  test("mapping is total over every reference keyword") {
    // every raw keyword maps to its own universal label (exact tier)
    for ((u, kws) <- Labels.LabelKeywords; kw <- kws)
      assert(Labels.exactMap(Labels.normalize(kw)) != null &&
        Labels.mapLabel(kw) == Labels.exactMap(Labels.normalize(kw)),
        s"keyword $kw")
  }

  test("attachUniversal (distinct+broadcast path) equals per-row mapping") {
    import spark.implicits._
    val df = NilmLabelSamples.all.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "raw_label")
    val attached = Labels.attachUniversal(df, "raw_label")
      .select($"id", $"universal_label")
      .as[(Long, String)].collect().toMap
    NilmLabelSamples.all.zipWithIndex.foreach { case (s, i) =>
      assert(attached(i.toLong) == Labels.mapLabel(s), s"label '$s'")
    }
  }
}

object NilmLabelSamples {
  val all: Seq[String] =
    graft.queries.NilmQueries.LabelPool ++
      Seq("fridge freezer", "computer site", "network site", "hi-fi",
        "HTPC", "running_machine", "Oven2", "gigE_&_USBhub",
        "kitchen_phone&stereo", "washer/dryer", "some new device", "")
}
