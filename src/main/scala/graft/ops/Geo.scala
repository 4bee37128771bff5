package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Geospatial primitives — the distance/radius-join/geocell toolkit
  * every location-bearing dataset needs, expressed so results replay
  * across engines: spherical trig in ONE fixed operation order with
  * 6dp-rounded outputs, cell ids in pure integer arithmetic.
  */
object Geo {

  /** Great-circle distance in meters (haversine, the public
    * formula): 2R·asin(sqrt(sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2))),
    * R = 6371008.8 (IUGG mean). One fixed operation order; round the
    * OUTPUT (callers compare rounded values so threshold cuts are
    * cross-engine deterministic).
    */
  def haversineM(lat1: Column, lon1: Column, lat2: Column,
      lon2: Column): Column = {
    val r = lit(6371008.8)
    val rad = lit(math.Pi / 180.0)
    val dphi = (lat2 - lat1) * rad / 2.0
    val dlmb = (lon2 - lon1) * rad / 2.0
    val a = sin(dphi) * sin(dphi) +
      cos(lat1 * rad) * cos(lat2 * rad) * sin(dlmb) * sin(dlmb)
    lit(2.0) * r * asin(sqrt(a))
  }

  /** RADIUS JOIN with latitude-band blocking: pairs within
    * `radiusM`, compared only inside adjacent latitude bands — the
    * standard spatial-join pruning (a pair within R can differ by at
    * most R in north-south distance, so banding at `bandM` >= R
    * meters of latitude guarantees candidates share a band or sit in
    * adjacent ones; longitude pruning would need cos-scaled widths —
    * the band join keeps the guarantee simple and exact). Candidates
    * are per-band quadratic (census-guarded); the final cut uses the
    * 6dp-ROUNDED distance so the emitted set replays exactly.
    * Inputs: (id, lat, lon) on both sides; emits a < b pairs when
    * self-joining the same frame (`selfPairs = true`).
    */
  def radiusJoin(a: DataFrame, b: DataFrame, radiusM: Double,
      selfPairs: Boolean = false, maxPerBand: Int = 100000)
      : DataFrame = {
    require(radiusM > 0, s"radiusJoin: radiusM $radiusM")
    // 1 degree latitude ~ 111.32 km; band height = radius
    val bandDeg = radiusM / 111320.0
    def banded(df: DataFrame, p: String) = df.select(
      col("id").as(s"id_$p"), col("lat").as(s"lat_$p"),
      col("lon").as(s"lon_$p"),
      floor(col("lat") / bandDeg).cast("long").as("__band"))
    val ba = banded(a, "a")
    // b appears in its own band and both neighbors, so every
    // within-R pair co-locates in at least one band of a
    val bb = banded(b, "b")
      .select(col("id_b"), col("lat_b"), col("lon_b"),
        explode(array(col("__band") - 1, col("__band"),
          col("__band") + 1)).as("__band"))
    // Census BOTH inputs: a dense b side (further tripled by the
    // neighbor-band explode) would fire the same quadratic bomb the
    // a-side guard exists to stop. b is censused UN-exploded — the
    // explode multiplies by exactly 3, which the bound accounts for.
    for ((side, df) <- Seq("" -> ba, " of side b" -> banded(b, "b")))
      Guard(df.groupBy(col("__band")).count(), col("count"), maxPerBand,
        "radiusJoin", w => s"densest latitude band$side holds $w points",
        "use a finer cell scheme")
    val joined = ba.join(bb, Seq("__band"))
      .where(if (selfPairs) col("id_a") < col("id_b") else lit(true))
      .withColumn("__d6", round(haversineM(col("lat_a"),
        col("lon_a"), col("lat_b"), col("lon_b")), 6))
      .where(col("__d6") <= radiusM)
      // EMIT centimeters: the 6dp cut value keeps the membership
      // contract, but at 1e5-m magnitudes a 1e-6 grid leaves only
      // ~1e3x headroom over cross-engine trig ulp drift (r11 margin
      // sweep) — the cm grid multiplies that by 1e4
      .select(col("id_a"), col("id_b"),
        round(col("__d6"), 2).as("dist_m"))
      .distinct() // a pair can match in up to 2 shared bands
    joined
  }

  /** RADIUS JOIN with 2-D CELL blocking — the scale path. Latitude
    * bands prune in one dimension only: a dense band (a city at one
    * latitude) is still band-quadratic, and the census guard can only
    * refuse, not execute. Blocking on a square grid whose cells are
    * >= radius on BOTH axes means a within-R pair shares a cell or
    * sits in one of its 8 neighbors, so candidate fan-out is
    * cell-quadratic — bounded by local density, not by anything
    * global. Cell sizing: height is radius in latitude degrees;
    * width is radius in longitude degrees at the WIDEST |lat| the
    * data reaches (cos-scaled — one cheap agg over both inputs), so
    * the neighbor guarantee holds everywhere in the data's latitude
    * range. Longitude neighbors wrap at the antimeridian (pmod);
    * latitude cells clip at the poles. b explodes into its 3x3
    * neighborhood keyed by an integer (cx, cy) pair packed into one
    * long; a stays in its own cell, so each within-R pair meets
    * exactly once — no distinct needed. Same 6dp-rounded-distance
    * final cut as [[radiusJoin]] (the banded form is this operator's
    * oracle twin). |lat| must stay <= 85 — above that the cos-scaled
    * lon cells collapse and a polar cap needs a different scheme.
    */
  def radiusJoinCells(a: DataFrame, b: DataFrame, radiusM: Double,
      selfPairs: Boolean = false, maxPerCell: Int = 100000)
      : DataFrame = {
    require(radiusM > 0, s"radiusJoinCells: radiusM $radiusM")
    val maxAbsLat = a.select(col("lat")).unionAll(b.select(col("lat")))
      .agg(coalesce(max(abs(col("lat"))), lit(0.0))).first().getDouble(0)
    require(maxAbsLat <= 85.0,
      s"radiusJoinCells: |lat| reaches $maxAbsLat (> 85) — the " +
        "cos-scaled longitude cells collapse near the poles")
    val dLat = radiusM / 111320.0
    val dLon = radiusM /
      (111320.0 * math.max(math.cos(maxAbsLat * math.Pi / 180.0), 1e-6))
    val nLon = math.max(1L, math.floor(360.0 / dLon).toLong)
    def cells(df: DataFrame, p: String) = df.select(
      col("id").as(s"id_$p"), col("lat").as(s"lat_$p"),
      col("lon").as(s"lon_$p"),
      floor(col("lat") / dLat).cast("long").as("__cy"),
      pmod(floor(col("lon") / dLon).cast("long"), lit(nLon)).as("__cx"))
    def key(cx: Column, cy: Column): Column =
      cx * lit(1L << 32) + (cy + lit(1L << 31))
    val ca = cells(a, "a").withColumn("__cell",
      key(col("__cx"), col("__cy")))
    val cbBase = cells(b, "b")
    val cb = cbBase
      .select(col("id_b"), col("lat_b"), col("lon_b"),
        explode(array_distinct( // nLon <= 2 wraps neighbors onto
          // each other; distinct keeps each pair meeting exactly once
          array((for (dx <- -1 to 1; dy <- -1 to 1) yield
            key(pmod(col("__cx") + dx, lit(nLon)), col("__cy") + dy))
            : _*))).as("__cell"))
    for ((side, df) <- Seq("a" -> ca, "b" -> cbBase.withColumn("__cell",
        key(col("__cx"), col("__cy")))))
      Guard(df.groupBy(col("__cell")).count(), col("count"), maxPerCell,
        "radiusJoinCells", w => s"densest cell of side $side holds $w points",
        "use a smaller radius or pre-aggregate co-located points")
    ca.join(cb, Seq("__cell"))
      .where(if (selfPairs) col("id_a") < col("id_b") else lit(true))
      .withColumn("__d6", round(haversineM(col("lat_a"),
        col("lon_a"), col("lat_b"), col("lon_b")), 6))
      .where(col("__d6") <= radiusM)
      // cm-grid emit, same rationale as radiusJoin
      .select(col("id_a"), col("id_b"),
        round(col("__d6"), 2).as("dist_m"))
  }

  /** DBSCAN over geographic points (Ester et al. 1996) — density
    * clustering composed from machinery this engine already scales:
    * eps-neighbor pairs come from [[radiusJoinCells]] (cell-blocked,
    * census-guarded — never all-pairs), CORE points have >=
    * minPts-1 neighbors (exact integer counts; DBSCAN counts the
    * point itself in minPts), clusters are connected components of
    * the core-core eps graph
    * ([[graft.llmdata.Dedup.duplicateClusters]] min-label
    * propagation — cluster id = minimum core id, replayable), and
    * BORDER points attach to the MINIMUM cluster label among their
    * core neighbors (the one decision textbook DBSCAN leaves
    * arbitrary, pinned here so the labeling is engine-invariant).
    * Noise points are absent from the output. Returns
    * (id, cluster, is_core).
    */
  def dbscanGeo(pts: DataFrame, epsM: Double, minPts: Int,
      maxPerCell: Int = 100000): DataFrame = {
    require(minPts >= 2, s"dbscanGeo: minPts $minPts")
    val pairs = graft.Caches.pin(
      radiusJoinCells(pts, pts, epsM, selfPairs = true, maxPerCell)
        .select(col("id_a"), col("id_b")))
    val nbrs = pairs.select(col("id_a").as("id"), col("id_b").as("nb"))
      .unionByName(pairs.select(col("id_b").as("id"),
        col("id_a").as("nb")))
    val degree = nbrs.groupBy(col("id"))
      .agg(count(lit(1)).as("__deg"))
    val core = graft.Caches.pin(
      degree.where(col("__deg") >= minPts - 1).select(col("id")))
    val coreEdges = pairs
      .join(core.select(col("id").as("id_a")), Seq("id_a"))
      .join(core.select(col("id").as("id_b")), Seq("id_b"))
    val clusters = graft.llmdata.Dedup.duplicateClusters(
        coreEdges, "id_a", "id_b")
      .select(col("doc_id").as("id"), col("canonical_id")
        .as("cluster"))
    // isolated core points (>= minPts-1 non-core neighbors but no
    // core neighbor) form their own singleton cluster
    val coreLabeled = core.join(clusters, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id"))
        .as("cluster"))
    val border = nbrs
      .join(core.select(col("id").as("nb")), Seq("nb"))
      .join(core, Seq("id"), "left_anti")
      .join(coreLabeled.select(col("id").as("nb"),
        col("cluster")), Seq("nb"))
      .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
    coreLabeled.withColumn("is_core", lit(1))
      .unionByName(border.withColumn("is_core", lit(0)))
  }

  /** GEOHASH cell id as an integer Morton code: quantize lat to
    * [0, 2^bits) over [-90, 90] and lon over [-180, 180], then
    * bit-interleave (lon gets the even bits — the geohash
    * convention). Pure integer arithmetic after the one fixed-order
    * quantization, so cells replay exactly; prefix-truncating the
    * code (shifting out low bits) coarsens the cell like a shorter
    * geohash string. Composes with [[graft.io.Layout]]'s Z-order
    * machinery — this IS a Morton key over geographic space.
    */
  def geoCell(lat: Column, lon: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"geoCell: bits $bits")
    val scale = (1L << bits).toDouble
    val qlat = least(floor((lat + 90.0) / 180.0 * scale),
      lit((1L << bits) - 1L)).cast("long")
    val qlon = least(floor((lon + 180.0) / 360.0 * scale),
      lit((1L << bits) - 1L)).cast("long")
    graft.io.Layout.zValueN(Seq(qlon, qlat), bits)
  }
}
