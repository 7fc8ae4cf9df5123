package graft.sim

import graft.SparkSpec
import graft.ops.{AlertRules, Parse}

/** S5 twin: determinism, reference distributions, and wire-format
  * compatibility with the parse/alert chain.
  */
class GeneratorSpec extends SparkSpec {

  test("same seed produces identical readings; different seed differs") {
    val a = Generator.batch(spark, 240, seed = 7L).collect()
    val b = Generator.batch(spark, 240, seed = 7L).collect()
    val c = Generator.batch(spark, 240, seed = 8L).collect()
    assert(a === b)
    assert(!(a === c))
  }

  test("one sweep covers all 24 sensors with correct ids and units") {
    val rows = Generator.batch(spark, 24).collect()
    val ids = rows.map(_.getAs[String]("sensor_id")).toSet
    assert(ids.size === 24)
    assert(ids.forall(_.matches("A_[12]_10[0-3]_(temperature|humidity|pressure)")))
    rows.foreach { r =>
      val expected = r.getAs[String]("sensor_type") match {
        case "temperature" => "celsius"
        case "humidity"    => "percent"
        case "pressure"    => "hPa"
      }
      assert(r.getAs[String]("unit") === expected)
    }
  }

  test("values stay inside the simulator's envelopes") {
    val rows = Generator.batch(spark, 24000).collect()
    rows.foreach { r =>
      val v = r.getAs[Double]("value")
      r.getAs[String]("sensor_type") match {
        case "temperature" => assert(v >= 10.0 && v <= 35.0)
        case "humidity"    => assert(v >= 15.0 && v <= 85.0)
        case "pressure"    => assert(v >= 950.0 && v <= 1060.0)
      }
      val b = r.getAs[Int]("battery_level")
      assert(b >= 5 && b <= 100)
      val s = r.getAs[Int]("signal_strength")
      assert(s >= -90 && s <= -40)
    }
  }

  test("anomalies are injected at roughly the reference rates") {
    import org.apache.spark.sql.functions._
    val readings = Generator.batch(spark, 240000)
    val alerts = AlertRules.detect(readings)
    val rate = alerts.count().toDouble / 240000.0
    // Reference: ~0.9 % of readings alert (SURVEY §6). Generous envelope —
    // the twin is a distribution match, not a byte match.
    assert(rate > 0.001 && rate < 0.05, s"alert rate $rate out of envelope")
    val types = alerts.select(countDistinct(col("alert_type"))).collect().head.getLong(0)
    assert(types >= 5, s"expected a spread of alert types, saw $types")
  }

  test("batchAudit pins the generator contract: counts, units, envelopes") {
    val audit = Generator.batchAudit(spark, 24000).collect()
      .map(r => r.getAs[String]("sensor_type") -> r).toMap
    assert(audit.keySet === Set("temperature", "humidity", "pressure"))
    val units = Map("temperature" -> "celsius", "humidity" -> "percent",
      "pressure" -> "hPa")
    for ((t, r) <- audit) {
      assert(r.getAs[Long]("n_rows") === 8000L)
      assert(r.getAs[Long]("n_sensors") === 8L)
      assert(r.getAs[String]("unit") === units(t))
      for (b <- Seq("unit_uniform", "vals_in_envelope", "battery_in_range",
          "signal_in_range", "anomalies_present", "anomaly_rate_bounded"))
        assert(r.getAs[Boolean](b), s"$t.$b was false")
    }
  }

  test("generated JSON round-trips through the ingest parser") {
    val readings = Generator.batch(spark, 240)
    val parsed = Parse.jsonToReadings(Parse.readingsToJson(readings))
    assert(parsed.collect() === readings.collect())
  }
}
