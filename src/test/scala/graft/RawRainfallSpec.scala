package graft

import graft.jobs.MikeJobs
import org.apache.spark.sql.functions._

class RawRainfallSpec extends SparkSpec {
  import spark.implicits._

  test("3.3 raw rainfall: spatial neighbor cascade fills negative-reading gaps") {
    // three stations ~11km apart on a meridian: B's neighbors are A (nearest), C
    val stations = Seq(
      (1, "StA", 6.90, 79.90),
      (2, "StB", 7.00, 79.90),
      (3, "StC", 7.11, 79.90))
      .toDF("obs_id", "station_name", "latitude", "longitude")
    val series = Seq(
      (1, "2024-01-01 00:05:00", 1.0),
      (1, "2024-01-01 00:15:00", 2.0),
      (2, "2024-01-01 00:10:00", -4.0), // negative -> NaN -> filled from StA
      (3, "2024-01-01 00:15:00", 9.0))
      .toDF("obs_id", "s", "value")
      .select($"obs_id", to_timestamp($"s").cast("timestamp_ntz").as("time"), $"value")
    val wide = MikeJobs.rawRainfallInput(spark, series, stations,
      "2024-01-01 00:00:00", "2024-01-01 00:30:00")
    val rows = wide.orderBy($"time").collect()
    assert(wide.columns.toSeq == Seq("time", "StA", "StB", "StC"))
    // bucket 00:00: only the point AT 00:00 could land here; none exist -> 0.0
    assert(rows(0).getDouble(1) == 0.0 && rows(0).getDouble(2) == 0.0 &&
      rows(0).getDouble(3) == 0.0)
    // bucket 00:15 (right-closed (00:00, 00:15]):
    //   StA = 1+2 = 3.0 ; StB raw -4 -> bucket -4 -> NaN -> neighbor StA = 3.0
    //   StC = 9.0
    assert(rows(1).getDouble(1) == 3.0)
    assert(rows(1).getDouble(2) == 3.0) // cascade fill from nearest neighbor
    assert(rows(1).getDouble(3) == 9.0)
    // bucket 00:30: no data anywhere -> pandas all-NaN-bucket quirk -> 0.0
    assert(rows(2).getDouble(1) == 0.0 && rows(2).getDouble(2) == 0.0 &&
      rows(2).getDouble(3) == 0.0)
  }
}
