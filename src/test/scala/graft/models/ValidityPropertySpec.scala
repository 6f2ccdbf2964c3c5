package graft.models

import graft.SparkSuite
import graft.model.LogisticsEvent
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Property-based fuzz of the validity split (SURVEY §5.2): generators mirror
 * the reference's event synthesis (`generator.py:46-60`) plus one corruption
 * mode per DQ/validity rule, asserting on every sample:
 *   stg = valid ⊎ invalid  (disjoint, exhaustive)
 * and first-true-wins label priority.
 */
class ValidityPropertySpec extends SparkSuite {

  /** Deterministic samples: fixed seeds, so failures reproduce. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val genClean: Gen[LogisticsEvent] = for {
    id <- Gen.uuid.map(_.toString)
    ord <- Gen.chooseNum(1, 9999).map(n => s"ORD-xx-$n")
    day <- Gen.chooseNum(1, 27)
    hour <- Gen.chooseNum(0, 23)
    estDay <- Gen.chooseNum(1, 27)
    estMonth <- Gen.chooseNum(3, 12)   // always after the event month
    status <- Gen.oneOf(LogisticsEvent.validStatuses)
    carrier <- Gen.oneOf(LogisticsEvent.carriers)
    lat <- Gen.chooseNum(-90.0, 90.0)
    lon <- Gen.chooseNum(-180.0, 180.0)
    w <- Gen.chooseNum(1.0, 500.0)
  } yield LogisticsEvent(
    Some(id), Some(ord),
    Some(f"2026-02-$day%02dT$hour%02d:00:00+00:00"), Some(status),
    Some("City A, AA"), Some("City B, BB"), Some(carrier),
    Some(lat), Some(lon), Some(w), Some(f"2026-$estMonth%02d-$estDay%02d"))

  private val corrupt: Gen[LogisticsEvent => LogisticsEvent] = Gen.oneOf(
    Gen.const((e: LogisticsEvent) => e.copy(weight_kg = Some(0.0))),
    Gen.const((e: LogisticsEvent) => e.copy(weight_kg = Some(-3.0))),
    Gen.const((e: LogisticsEvent) => e.copy(weight_kg = None)),
    Gen.const((e: LogisticsEvent) => e.copy(latitude = None)),
    Gen.const((e: LogisticsEvent) => e.copy(longitude = None)),
    Gen.const((e: LogisticsEvent) => e.copy(estimated_delivery = Some("2026-01-01"))),
    Gen.const((e: LogisticsEvent) => e.copy(estimated_delivery = None)),
    // the same-day prefix trap (§1.4.1)
    Gen.const((e: LogisticsEvent) =>
      e.copy(estimated_delivery = e.timestamp.map(_.take(10)))),
    Gen.const((e: LogisticsEvent) => e.copy(status = None)),
    Gen.const((e: LogisticsEvent) => e.copy(status = Some(""))),
    Gen.const((e: LogisticsEvent) => e.copy(origin = Some(""))),
    Gen.const((e: LogisticsEvent) => e.copy(destination = None)))

  private val genEvent: Gen[LogisticsEvent] = Gen.frequency(
    3 -> genClean,
    2 -> (for { e <- genClean; f <- corrupt } yield f(e)),
    1 -> (for { e <- genClean; f <- corrupt; g <- corrupt } yield g(f(e))))

  test("valid ⊎ invalid partitions staging for arbitrary corrupted batches") {
    samples(Gen.listOfN(60, genEvent), 5).foreach { events =>
      val stg = Staging.stg(spark.createDataFrame(events)).cache()
      val split = Intermediate.split(stg)
      // the lazy reference, then the split every hourly run stores
      Seq(Intermediate.valid(stg) -> Intermediate.invalid(stg),
          Intermediate.validOf(split) -> Intermediate.invalidOf(split)).foreach {
        case (v, i) =>
          assert(v.count() + i.count() == stg.count())
          assert(v.select("event_id").intersect(i.select("event_id")).count() == 0)
      }
      stg.unpersist()
    }
  }

  test("label priority: weight > coordinates > delivery > status > location") {
    samples(Gen.listOfN(40, genEvent), 5).foreach { events =>
      val stg = Staging.stg(spark.createDataFrame(events))
      val rows = Intermediate.flagged(stg)
        .join(Intermediate.invalid(stg).select("event_id", "invalid_reason"),
          Seq("event_id"))
        .select("is_invalid_weight", "is_missing_coordinates",
          "is_invalid_delivery", "is_missing_status", "is_missing_location",
          "invalid_reason")
        .collect()
      rows.foreach { r =>
        val expected =
          if (r.getBoolean(0)) "INVALID_WEIGHT"
          else if (r.getBoolean(1)) "MISSING_COORDINATES"
          else if (r.getBoolean(2)) "INVALID_ESTIMATED_DELIVERY"
          else if (r.getBoolean(3)) "MISSING_STATUS"
          else "MISSING_LOCATION"
        assert(r.getString(5) == expected, s"row $r")
      }
    }
  }
}
