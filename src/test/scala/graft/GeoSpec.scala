package graft

import graft.ops.{Experiment, Geo}
import org.apache.spark.sql.functions._

/** Geospatial blocking: the 2-D cell scheme must agree pair-for-pair
  * with the banded oracle twin AND execute the dense-single-band case
  * the band guard can only refuse.
  */
class GeoSpec extends SparkSuite {
  import spark.implicits._

  private def sites(n: Int, latSpreadDeg: Double) =
    (1 to n).map { i =>
      (i.toLong, (i * 37 % 1000) / 1000.0 * latSpreadDeg,
        (i * 73 % 3600) / 10.0 - 180.0)
    }.toDF("id", "lat", "lon")

  test("radiusJoinCells matches banded radiusJoin pair-for-pair on " +
      "scattered sites") {
    val pts = sites(400, 140.0).withColumn("lat", col("lat") - 70.0)
    val banded = Geo.radiusJoin(pts, pts, 500000.0, selfPairs = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cells = Geo.radiusJoinCells(pts, pts, 500000.0,
        selfPairs = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.nonEmpty, "degenerate test: no pairs within radius")
    assert(cells == banded)
  }

  test("dense single band: band guard refuses, cells executes and " +
      "matches brute force") {
    // every site inside one 100km-radius latitude band, spread in lon
    val pts = sites(300, 0.8)
    intercept[IllegalArgumentException] {
      Geo.radiusJoin(pts, pts, 100000.0, selfPairs = true,
        maxPerBand = 100)
    }
    val got = Geo.radiusJoinCells(pts, pts, 100000.0,
        selfPairs = true, maxPerCell = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pts.as("a").join(pts.as("b"),
        col("a.id") < col("b.id"))
      .withColumn("d", round(Geo.haversineM(col("a.lat"), col("a.lon"),
        col("b.lat"), col("b.lon")), 6))
      .where(col("d") <= 100000.0)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(got == brute)
  }

  test("radiusJoinCells censuses BOTH sides; radiusJoin censuses b") {
    // all 300 b-side points inside ONE cell (tight cluster at the
    // origin) — an asymmetric a/b call must still trip the guard
    val dense = (1 to 300).map(i =>
      (i.toLong, i / 100000.0, i / 100000.0)).toDF("id", "lat", "lon")
    val sparse = sites(3, 0.5)
    val refused = intercept[IllegalArgumentException] {
      Geo.radiusJoinCells(sparse, dense, 100000.0, maxPerCell = 50)
    }
    assert(refused.getMessage.contains("side b") &&
      refused.getMessage.contains("smaller radius or pre-aggregate"))
    intercept[IllegalArgumentException] {
      Geo.radiusJoin(sparse, dense, 100000.0, maxPerBand = 50)
    }
  }

  test("radiusJoinCells refuses polar latitudes") {
    val polar = Seq((1L, 87.0, 10.0), (2L, 86.9, 10.2))
      .toDF("id", "lat", "lon")
    intercept[IllegalArgumentException] {
      Geo.radiusJoinCells(polar, polar, 1000.0, selfPairs = true)
    }
  }

  test("dbscanGeo: cores, borders pinned to min cluster, noise " +
      "absent, isolated core is its own singleton cluster") {
    // cluster A: ids 1-4 tightly packed (all mutually within eps);
    // border 5 near id 1 only (1 neighbor < minPts-1); noise 6 far
    // away; isolated pair 7,8: each has 1 neighbor -> with minPts=3
    // neither is core -> both noise; dense trio 10,11,12 at lon 10
    val km = 1.0 / 111.32 // ~1km in degrees at the equator
    val pts = Seq(
      (1L, 0.0, 0.0), (2L, km * 0.5, 0.0), (3L, 0.0, km * 0.5),
      (4L, km * 0.5, km * 0.5),
      (5L, -km * 1.35, -km * 1.35), // ~1.9km from 1, > 2km from 2-4
      (6L, 5.0, 5.0),
      (7L, 0.0, 2.0), (8L, km * 0.5, 2.0),
      (10L, 0.0, 10.0), (11L, km * 0.5, 10.0), (12L, 0.0, 10.0 + km * 0.5))
      .toDF("id", "lat", "lon")
    val got = Geo.dbscanGeo(pts, epsM = 2000.0, minPts = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2)))).toMap
    graft.Caches.release()
    // 1-4 mutually within ~1.6km -> all core, cluster 1;
    // 5: ~1.9km from core 1, ~2.3km from 2/3/4 -> ONE neighbor,
    //   not core (minPts-1 = 2), border of cluster 1;
    // 6 noise (absent); 7,8 have 1 neighbor each -> noise;
    // 10-12 mutually close -> core cluster 10
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L),
      s"got $got")
    assert(Seq(1L, 2L, 3L, 4L).forall(i => got(i) == ((1L, 1))))
    assert(got(5L)._1 == 1L && got(5L)._2 == 0)
    assert(Seq(10L, 11L, 12L).forall(i => got(i) == ((10L, 1))))
  }

  test("kaplanMeier: d == n_risk extinction emits survival 0 from " +
      "that time onward (not the frozen prior value)") {
    // 4 subjects: events at t=1 (1 of 4), t=2 (1 of 3), t=3 (2 of 2)
    // -> at t=3 every remaining subject fails: survival must be 0
    val df = Seq((1L, 1), (2L, 1), (3L, 1), (3L, 1))
      .toDF("dur", "event")
    val km = Experiment.kaplanMeier(df, col("dur"), col("event"))
      .orderBy(col("t")).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(math.abs(km(1L) - 0.75) < 1e-9)
    assert(math.abs(km(2L) - 0.5) < 1e-9)
    assert(km(3L) == 0.0)
  }
}
