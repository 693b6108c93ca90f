package graft.perfbench

import graft.functions.Jts
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Single-thread kernel timings of graft's `functions` layer. Each SQL
 * kernel runs over a one-partition cached frame, so one task on one
 * core evaluates every row; the per-row cost is the query time minus
 * the same scan with a trivial expression, divided by the row count.
 */
object Kernels {
  private val Reps = 5

  private def medianMs(body: => Unit): Double = {
    body // warm: codegen, JIT
    body
    Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e6
    })
  }

  /** ns per row of `expr` over `view`, net of a null-check baseline on `baseCol`. */
  private def perRowNs(spark: SparkSession, view: String, rows: Long, expr: String, baseCol: String): Double = {
    val k = medianMs(spark.sql(s"SELECT $expr FROM $view").collect())
    val b = medianMs(spark.sql(s"SELECT count_if($baseCol IS NOT NULL) FROM $view").collect())
    math.max(k - b, 0.0) * 1e6 / rows
  }

  private def oneCachedPartition(df: DataFrame, view: String): Long = {
    val c = df.coalesce(1).cache()
    val n = c.count()
    c.createOrReplaceTempView(view)
    n
  }

  def run(spark: SparkSession, seed: Long, sizes: Map[String, Double]): Map[String, Double] = {
    def size(k: String) = sizes.getOrElse(k, throw new IllegalArgumentException(s"workloads.json lacks kernel size '$k'")).toInt
    val centres = Gen.hotCentres
    val zones = Gen.zones(seed, 1000, centres)

    // Jts.read of one 64-vertex polygon, called directly
    val wkb = Jts.write(Jts.fromWkt(Gen.Ngon(500, 500, 10, 64, 0.1).wkt))
    val reads = size("wkb_reads")
    val readMs = medianMs { var i = 0; while (i < reads) { Jts.read(wkb); i += 1 } }
    val wkbReadNs = readMs * 1e6 / reads

    // zone/point pairs cycling through 4000 distinct zones: the
    // non-foldable ST_Contains path a grid join's residual runs
    val pairs = size("contains_pairs")
    spark.createDataFrame(zones.zipWithIndex.map { case (z, i) => (i, z.wkt) })
      .toDF("zid", "wkt").createOrReplaceTempView("kernel_zones")
    val r = Gen.rng(seed, 9000, 0)
    spark.createDataFrame((0 until pairs).map { i =>
      val z = zones(i % zones.size)
      (i % zones.size, z.cx + z.r * (r.nextDouble() - 0.5) * 1.6, z.cy + z.r * (r.nextDouble() - 0.5) * 1.6)
    }).toDF("zid", "x", "y").createOrReplaceTempView("kernel_pair_src")
    val pairRows = oneCachedPartition(spark.sql(
      """SELECT ST_GeomFromText(z.wkt) AS zg, ST_Point(p.x, p.y) AS pg
        |FROM kernel_pair_src p JOIN kernel_zones z ON p.zid = z.zid""".stripMargin),
      "kernel_pairs")
    val containsNs = perRowNs(spark, "kernel_pairs", pairRows, "count_if(ST_Contains(zg, pg))", "pg")
    val extentNs = perRowNs(spark, "kernel_pairs", pairRows, "sum(ST_Extent(zg).min_x)", "zg")

    // points against one literal polygon: the foldable prepared path
    val pts = Workload.pointsWithGeom(Gen.points(spark, seed, 9001, size("literal_points"), 0,
      (0.0, 0.0, Gen.Side, Gen.Side), centres, 0.3, 25.0, 1))
    val ptRows = oneCachedPartition(pts, "kernel_points")
    val lit = Gen.Ngon(500, 500, 300, 16, 0.2).wkt
    val withinNs = perRowNs(spark, "kernel_points", ptRows,
      s"count_if(ST_Within(geom, ST_GeomFromText('$lit')))", "geom")

    val docRows = oneCachedPartition(
      Gen.docs(spark, seed, 9002, size("minhash_docs"), 0, 0, 30, 5000, 1), "kernel_docs")
    val sigUs = perRowNs(spark, "kernel_docs", docRows,
      "sum(size(minhash_signature(text)))", "text") / 1000.0

    spark.catalog.clearCache()
    Map(
      "functions.wkb_read_ns" -> wkbReadNs,
      "functions.st_contains_ns" -> containsNs,
      "functions.st_extent_ns" -> extentNs,
      "functions.st_within_literal_ns" -> withinNs,
      "functions.minhash_sig_us" -> sigUs)
  }
}
