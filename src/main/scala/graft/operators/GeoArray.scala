package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Array higher-order-function parity and geo nearest-neighbor — the two
  * remaining everyday surfaces a reference user would reach for:
  * list-typed columns manipulated in place (no explode → regroup
  * round-trip), and "which center is this point closest to" against a
  * broadcast dimension.
  */
object GeoArray {

  val defs: Seq[QueryDef] = Seq(

    // higher-order functions over the embedding arrays, all computed
    // without exploding: sort+slice, lambda filter, left-to-right lambda
    // fold (same sequential order in both engines — no partial-merge
    // nondeterminism inside a row), element max. DuckDB's list dialect
    // (list_sort / list_filter / list_sum / emb[1:3]) mirrors each one.
    QueryDef(
      "q_array_suite",
      (s, d) => Tables.embeddings(s, d)
        .select(col("vec_id"),
          size(filter(col("embedding"), x => x > 0f)).as("n_pos"),
          round(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double")), 4).as("sum_all"),
          round(element_at(array_sort(col("embedding")), 1).cast("double"), 4)
            .as("min_elem"),
          round(array_max(col("embedding")).cast("double"), 4).as("max_elem"),
          round(aggregate(slice(array_sort(col("embedding")), 1, 3), lit(0.0),
            (acc, x) => acc + x.cast("double")), 4).as("bottom3_sum"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id,
             |  CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
             |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS sum_all,
             |  round(CAST(list_sort(embedding)[1] AS DOUBLE), 4) AS min_elem,
             |  round(CAST(list_max(embedding) AS DOUBLE), 4) AS max_elem,
             |  round(list_sum(list_transform(list_sort(embedding)[1:3],
             |    x -> CAST(x AS DOUBLE))), 4) AS bottom3_sum
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // nearest county center by great-circle distance: 5-row center dim
    // broadcasts, distance evaluates map-side per (event, center), and a
    // min_by aggregation keyed on event_id picks the winner — the
    // k-dims-broadcast NN pattern (same shape as q_ivf_ann's coarse
    // assignment, with haversine instead of dot product). Event coords
    // derive like q_geo_impute's; distances between distinct centers
    // differ by kilometers, so the 1-ulp cross-engine trig slack can
    // never flip the argmin, and the emitted distance rounds to 3.
    QueryDef(
      "q_haversine_nn",
      (s, d) => {
        import s.implicits._
        val centers = graft.Dashboard.CountyCenters.toDF("county", "c_lat", "c_lon")
        val pts = Tables.events(s, d).select(
          col("event_id"),
          round(col("value") / 10 + 55, 4).as("lat"),
          round(col("value") / 20 + 11, 4).as("lon"))
        def hav(c: org.apache.spark.sql.Column) = pow(sin(c / 2), 2)
        val dLat = radians(col("c_lat") - col("lat"))
        val dLon = radians(col("c_lon") - col("lon"))
        val a = hav(dLat) +
          cos(radians(col("lat"))) * cos(radians(col("c_lat"))) * hav(dLon)
        val distKm = lit(2 * 6371.0) * asin(sqrt(a))
        pts.crossJoin(centers)
          .select(col("event_id"), col("county"), distKm.as("d"))
          .groupBy("event_id")
          .agg(min_by(col("county"), col("d")).as("nearest"),
            round(min(col("d")), 3).as("dist_km"))
          .orderBy("event_id")
      },
      Some(s"""WITH pts AS (SELECT event_id,
             |    round(value / 10 + 55, 4) AS lat, round(value / 20 + 11, 4) AS lon
             |  FROM events),
             |centers(county, c_lat, c_lon) AS (VALUES
             |  ${graft.Dashboard.CountyCenters
                  .map { case (n, la, lo) => s"('$n', $la, $lo)" }
                  .mkString(", ")}),
             |d AS (SELECT event_id, county,
             |    2 * 6371.0 * asin(sqrt(
             |      pow(sin(radians(c_lat - lat) / 2), 2) +
             |      cos(radians(lat)) * cos(radians(c_lat)) *
             |      pow(sin(radians(c_lon - lon) / 2), 2))) AS d
             |  FROM pts CROSS JOIN centers)
             |SELECT event_id, arg_min(county, d) AS nearest,
             |  round(min(d), 3) AS dist_km
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
