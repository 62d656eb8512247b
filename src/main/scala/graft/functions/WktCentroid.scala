package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** `wkt_centroid(string) → struct<lat double, lon double>` — full-WKT
  * centroid as a native Catalyst expression (SURVEY §2.8 U1; reference
  * semantics: shapely `wkt.loads(...).centroid`, src/trv/transform.py:25-47,
  * with the regex first-two-numbers fallback of src/trv/transform.py:41-45).
  *
  * Supported: POINT, MULTIPOINT (mean), LINESTRING / MULTILINESTRING
  * (length-weighted), POLYGON / MULTIPOLYGON (signed-area shoelace, holes
  * via opposite winding). Anything else falls back to the first two
  * numbers in the string; no numbers → NULL.
  *
  * A native expression (vs a Scala UDF) keeps null handling in the
  * engine and avoids serialization of the row to Scala objects; the
  * evaluation itself is CodegenFallback (string parsing gains nothing
  * from codegen, and the surrounding operators stay in WholeStageCodegen).
  */
case class WktCentroid(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("lat", DoubleType), StructField("lon", DoubleType)))

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    WktCentroid.centroid(input.toString) match {
      case Some((lat, lon)) => InternalRow(lat, lon)
      case None => null
    }

  override def prettyName: String = "wkt_centroid"

  override protected def withNewChildInternal(newChild: Expression): WktCentroid =
    copy(child = newChild)
}

object WktCentroid {

  /** Column API wrapper; needs no function registration. */
  def column(c: Column): Column = ColumnBridge.column(WktCentroid(ColumnBridge.expression(c)))

  private val Num = "[-+]?[0-9]*\\.?[0-9]+(?:[eE][-+]?[0-9]+)?".r

  /** Pure centroid computation, (lat, lon) = (y, x). */
  def centroid(wkt: String): Option[(Double, Double)] = {
    val s = wkt.trim
    val upper = s.toUpperCase
    val result =
      if (upper.startsWith("POINT")) pointsOf(s).headOption
      else if (upper.startsWith("MULTIPOINT")) meanOf(pointsOf(s))
      else if (upper.startsWith("LINESTRING")) lineCentroid(pointsOf(s))
      else if (upper.startsWith("MULTILINESTRING"))
        weighted(rings(s).map(r => (lineCentroid(r), lineLength(r))))
      else if (upper.startsWith("POLYGON")) polygonCentroid(rings(s))
      else if (upper.startsWith("MULTIPOLYGON"))
        // each polygon's rings are grouped by its outer parens
        weighted(polygons(s).map { rs =>
          (polygonCentroid(rs), math.abs(rs.map(signedArea).sum))
        })
      else None
    result.orElse(fallbackFirstTwo(s)).map { case (x, y) => (y, x) }
  }

  // ---- parsing ----------------------------------------------------------

  private def numbersIn(s: String): Seq[Double] =
    Num.findAllIn(s).map(_.toDouble).toSeq

  /** All coordinate pairs in order, ignoring ring structure. */
  private def pointsOf(s: String): Seq[(Double, Double)] =
    numbersIn(s).grouped(2).collect { case Seq(x, y) => (x, y) }.toSeq

  /** Innermost paren groups = rings / line components. */
  private def rings(s: String): Seq[Seq[(Double, Double)]] =
    "\\(([^()]+)\\)".r.findAllMatchIn(s).map(m => pointsOf(m.group(1))).toSeq
      .filter(_.nonEmpty)

  /** For MULTIPOLYGON: each depth-2 paren group is one polygon (depth 1 is
    * the MULTIPOLYGON wrapper, depth 3 its rings). A depth scan keeps every
    * polygon intact — naive splitting on ")),"" truncates all but the last. */
  private def polygons(s: String): Seq[Seq[Seq[(Double, Double)]]] = {
    val body = s.dropWhile(_ != '(')
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = -1
    for (i <- body.indices) body.charAt(i) match {
      case '(' =>
        depth += 1
        if (depth == 2) start = i
      case ')' =>
        if (depth == 2 && start >= 0) { out += body.substring(start, i + 1); start = -1 }
        depth -= 1
      case _ =>
    }
    out.result().map(rings).filter(_.nonEmpty)
  }

  private def fallbackFirstTwo(s: String): Option[(Double, Double)] =
    numbersIn(s) match {
      case xs if xs.size >= 2 => Some((xs.head, xs(1)))
      case _ => None
    }

  // ---- geometry ---------------------------------------------------------

  /** Weight-averaged combination of component centroids (MULTI* types);
    * zero total weight degenerates to the plain mean of the components. */
  private def weighted(
      parts: Seq[(Option[(Double, Double)], Double)]): Option[(Double, Double)] = {
    val defined = parts.collect { case (Some(c), w) => (c, w) }
    if (defined.isEmpty) return None
    val total = defined.map(_._2).sum
    if (total == 0) meanOf(defined.map(_._1))
    else Some((
      defined.map { case ((x, _), w) => x * w }.sum / total,
      defined.map { case ((_, y), w) => y * w }.sum / total))
  }

  private def meanOf(ps: Seq[(Double, Double)]): Option[(Double, Double)] =
    if (ps.isEmpty) None
    else Some((ps.map(_._1).sum / ps.size, ps.map(_._2).sum / ps.size))

  private def lineLength(ps: Seq[(Double, Double)]): Double =
    ps.sliding(2).collect { case Seq((x1, y1), (x2, y2)) =>
      math.hypot(x2 - x1, y2 - y1)
    }.sum

  /** Length-weighted centroid of a polyline (shapely LineString.centroid).
    * Zero total length degenerates to the vertex mean. */
  private def lineCentroid(ps: Seq[(Double, Double)]): Option[(Double, Double)] = {
    if (ps.isEmpty) return None
    val segs = ps.sliding(2).collect { case Seq((x1, y1), (x2, y2)) =>
      (((x1 + x2) / 2, (y1 + y2) / 2), math.hypot(x2 - x1, y2 - y1))
    }.toSeq
    val total = segs.map(_._2).sum
    if (total == 0) meanOf(ps)
    else Some((
      segs.map { case ((mx, _), l) => mx * l }.sum / total,
      segs.map { case ((_, my), l) => my * l }.sum / total))
  }

  private def signedArea(ring: Seq[(Double, Double)]): Double =
    ring.sliding(2).collect { case Seq((x1, y1), (x2, y2)) =>
      x1 * y2 - x2 * y1
    }.sum / 2

  /** Shoelace area centroid over all rings (holes contribute negative
    * signed area when wound opposite the shell, matching shapely). Zero
    * total area degenerates to the boundary line centroid. */
  private def polygonCentroid(rs: Seq[Seq[(Double, Double)]]): Option[(Double, Double)] = {
    if (rs.isEmpty) return None
    val area = rs.map(signedArea).sum
    if (area == 0) return lineCentroid(rs.flatten)
    var cx = 0.0
    var cy = 0.0
    for (ring <- rs; Seq((x1, y1), (x2, y2)) <- ring.sliding(2)) {
      val cross = x1 * y2 - x2 * y1
      cx += (x1 + x2) * cross
      cy += (y1 + y2) * cross
    }
    Some((cx / (6 * area), cy / (6 * area)))
  }
}
