package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Reference answers computed in plain Spark SQL over x/y columns, with
 * no ST_* call, so a defect in graft's geometry layers cannot hide in
 * its own check.
 *
 * Shapes are rows of (sid, kind, x0, y0, x1, y1, cx, cy, r, k, theta):
 *  - kind 0: the open box (x0, y0)–(x1, y1) — ST_Within(point, envelope);
 *  - kind 1: the closed regular k-gon (centre cx, cy, circumradius r,
 *    vertex 0 at angle theta) — ST_Intersects(point, polygon);
 *  - kind 2: the same polygon, open — ST_Contains(polygon, point).
 * For polygons (x0, y0, x1, y1) is the circumscribed circle's box.
 */
object Checks {

  /** SQL membership test of point columns `p.x`, `p.y` in shape `s`.
   *  A regular polygon is the intersection of k half-planes; the one
   *  that binds is the edge whose sector holds the point's angle, so
   *  the test is "distance along that edge's normal ≤ the apothem". */
  def insideSql(p: String, s: String): String = {
    val dx = s"($p.x - $s.cx)"
    val dy = s"($p.y - $s.cy)"
    val sector = s"(2.0 * pi() / $s.k)"
    val normal = s"sqrt($dx * $dx + $dy * $dy) * " +
      s"cos(pmod(atan2($dy, $dx) - $s.theta, $sector) - $sector / 2.0)"
    val apothem = s"$s.r * cos($sector / 2.0)"
    s"CASE $s.kind " +
      s"WHEN 0 THEN $p.x > $s.x0 AND $p.x < $s.x1 AND $p.y > $s.y0 AND $p.y < $s.y1 " +
      s"WHEN 1 THEN $normal <= $apothem " +
      s"ELSE $normal < $apothem END"
  }

  /** (op, sid) → (matching points, sum of their ids) for every point
   *  batch row (op, id, x, y) against every shape, through a plain
   *  equi-join on grid cells of edge `cell`: each point lies in exactly
   *  one cell, so each (point, shape) pair is tested once. */
  def gridCounts(spark: SparkSession, points: DataFrame, shapes: DataFrame,
      cell: Double): Map[(Long, Long), (Long, Long)] = {
    points.createOrReplaceTempView("check_points")
    shapes.createOrReplaceTempView("check_shapes")
    spark.sql(
      s"""SELECT c.op, c.sid, count(*) AS n, sum(c.id) AS ids FROM (
         |  SELECT p.op, p.id, s.sid, ${insideSql("p", "s")} AS hit
         |  FROM (SELECT *, bigint(floor(x / $cell)) AS gx, bigint(floor(y / $cell)) AS gy
         |        FROM check_points) p
         |  JOIN (SELECT * FROM check_shapes
         |        LATERAL VIEW explode(sequence(bigint(floor(x0 / $cell)), bigint(floor(x1 / $cell)))) a AS gx
         |        LATERAL VIEW explode(sequence(bigint(floor(y0 / $cell)), bigint(floor(y1 / $cell)))) b AS gy) s
         |  ON p.gx = s.gx AND p.gy = s.gy) c
         |WHERE c.hit GROUP BY c.op, c.sid""".stripMargin)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
  }

  final case class ShapeRow(sid: Long, kind: Int, x0: Double, y0: Double, x1: Double, y1: Double,
      cx: Double, cy: Double, r: Double, k: Int, theta: Double)

  def boxRow(sid: Long, x0: Double, y0: Double, x1: Double, y1: Double): ShapeRow =
    ShapeRow(sid, 0, x0, y0, x1, y1, 0, 0, 0, 4, 0)

  def ngonRow(sid: Long, g: Gen.Ngon, closed: Boolean): ShapeRow =
    ShapeRow(sid, if (closed) 1 else 2, g.cx - g.r, g.cy - g.r, g.cx + g.r, g.cy + g.r,
      g.cx, g.cy, g.r, g.k, g.theta)
}
