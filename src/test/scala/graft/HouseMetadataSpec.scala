package graft

import java.nio.file.Files

import graft.sources.HouseMetadata

/** The declared-schema metadata reader: quoted or numeric channels,
  * absent fields as null, empty houses, and a loud failure on a
  * `House` key that is not an integer. */
class HouseMetadataSpec extends SparkSpec {

  private def write(json: String): String = {
    val f = Files.createTempFile("house_meta", ".json")
    Files.writeString(f, json)
    f.toUri.toString
  }

  test("one row per (house, channel); strings and numbers alike, missing fields null") {
    val file = write(
      """{"House 3": [{"channel": "2", "appliance_raw_label": "Kettle"},
        |  {"channel": 5, "appliance_raw_label": "fridge", "model": "F"}],
        | "House 4": []}""".stripMargin)
    val rows = HouseMetadata.read(spark, file, "model")
      .orderBy("house_id", "channel_n").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), Option(r.getString(3))))
    assert(rows.toSeq == Seq((3, 2, "Kettle", None), (3, 5, "fridge", Some("F"))))
  }

  test("a House key that is not an integer fails the read") {
    val file = write("""{"House x": [{"channel": 1, "appliance_raw_label": "a"}]}""")
    val err = intercept[Exception](HouseMetadata.read(spark, file).collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("House x")), err)
  }
}
