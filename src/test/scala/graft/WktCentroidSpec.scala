package graft

import graft.functions.WktCentroid
import org.apache.spark.sql.functions.col

class WktCentroidSpec extends SparkSpec {
  import spark.implicits._

  private def c(wkt: String): Option[(Double, Double)] = WktCentroid.centroid(wkt)

  test("POINT → (lat=y, lon=x)") {
    assert(c("POINT (12.5 -3.25)") == Some((-3.25, 12.5)))
  }

  test("MULTIPOINT → vertex mean") {
    assert(c("MULTIPOINT ((0 0), (2 4))") == Some((2.0, 1.0)))
  }

  test("LINESTRING → length-weighted centroid") {
    // two segments: (0,0)-(2,0) len 2 mid (1,0); (2,0)-(2,2) len 2 mid (2,1)
    assert(c("LINESTRING (0 0, 2 0, 2 2)") == Some((0.5, 1.5)))
  }

  test("POLYGON unit square → center") {
    assert(c("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))") == Some((0.5, 0.5)))
  }

  test("POLYGON with hole shifts centroid away from the hole") {
    // 4x4 shell, 1x1 hole in the lower-left quadrant (opposite winding)
    val got = c("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))").get
    assert(got._1 > 2.0 && got._2 > 2.0) // pushed up-right, away from hole
  }

  test("MULTIPOLYGON → area-weighted centroid across all polygons") {
    // unit square (area 1, centroid 0.5,0.5) + 2x2 square (area 4, centroid 11,11)
    val got = c("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((10 10, 12 10, 12 12, 10 12, 10 10)))")
    assert(got == Some((8.9, 8.9)))
  }

  test("unknown geometry falls back to first two numbers; garbage → None") {
    assert(c("GEOMETRYCOLLECTION (POINT (7 8))") == Some((8.0, 7.0)))
    assert(c("total garbage") == None)
    assert(c("") == None)
  }

  test("registered SQL function evaluates over a DataFrame, NULL-safe") {
    WktCentroid.register(spark)
    val df = Seq(Some("POINT (10 20)"), Some("nope"), None).toDF("wkt")
    val got = df.select(WktCentroid.column(col("wkt")).as("c"))
      .selectExpr("c.lat", "c.lon").collect()
    assert(got(0).getDouble(0) == 20.0 && got(0).getDouble(1) == 10.0)
    assert(got(1).isNullAt(0) && got(2).isNullAt(0))
  }

  test("register keeps a session's existing wkt_centroid instead of replacing it") {
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("wkt_centroid")
    val registry = spark.sessionState.functionRegistry
    WktCentroid.register(spark)
    // a replacing registration stores a fresh ExpressionInfo
    val before = registry.lookupFunction(id)
    WktCentroid.register(spark)
    assert(before.isDefined && registry.lookupFunction(id).exists(_ eq before.get))
  }
}
