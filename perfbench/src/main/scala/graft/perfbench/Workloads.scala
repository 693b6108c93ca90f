package graft.perfbench

import scala.collection.mutable

import graft.operators.{Dedup, SpatialJoin}
import graft.sources.GeoTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** Per-op context: the op id, whether the op is traced, and the
 *  per-op layer values the workload records. Untraced ops run the
 *  same calls; only the spans and plan inspection are skipped. */
final class OpCtx(val id: String, val traced: Boolean, tracer: Tracer) {
  val layer: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)

  def span[T](name: String)(body: => T): T = tracer.span(traced, id, name)(body)

  /** Time `body` into the layer value `key` (and a span of that name). */
  def timed[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try span(key)(body) finally layer(key) += (System.nanoTime() - t0) / 1e6
  }

  /** Plan and run a query the way Dataset.collect does, with the two
   *  planning phases forced first so they can be timed apart. */
  def collect(df: DataFrame): Array[Row] = {
    val qe = df.queryExecution
    val opt = timed("plans.optimize_ms")(qe.optimizedPlan)
    timed("plans.physical_ms")(qe.executedPlan)
    if (traced) {
      val bbox = opt.exists {
        case f: Filter => f.condition.references.exists(_.name.endsWith("_bbox"))
        case _ => false
      }
      val grid = opt.exists {
        case j: Join => j.condition.exists(_.references.exists(_.name == "__lcx"))
        case _ => false
      }
      if (bbox) layer("plans.bbox_rewrite") = 1.0
      if (grid) layer("plans.grid_join_rewrite") = 1.0
    }
    span("execute")(df.collect())
  }
}

/** Settings and sizes of one run, from perfbench/workloads.json. */
final case class Env(spark: SparkSession, seed: Long, work: String,
    sizes: Map[String, Double], partitions: Int) {
  def size(key: String): Int = sizes.getOrElse(key,
    throw new IllegalArgumentException(s"workloads.json lacks size '$key'")).toInt
  val centres: Seq[(Double, Double)] = Gen.hotCentres
  val domain: (Double, Double, Double, Double) = (0.0, 0.0, Gen.Side, Gen.Side)
}

/**
 * One workload: set-up builds fixtures (timed as `setup_s`),
 * `prepare` stages an op's inputs outside the timed window, `op` is
 * the timed operation, and `check` recomputes every recorded result
 * with plain SQL after the loop.
 */
trait Workload {
  /** Layer values measured during set-up. */
  def setup(): Map[String, Double]
  def prepare(i: Long): Unit = ()
  /** Run op `i`; returns its logical input rows. */
  def op(i: Long, ctx: OpCtx): Long
  def after(i: Long): Unit = ()
  /** Point a workload with mutable state at fresh state for the timed
   *  loop, once warm-up is done. */
  def startTimed(): Unit = ()
  /** Ops among `ops` whose recorded result is wrong. */
  def check(ops: Seq[Long]): Set[Long]
  /** Layer values of the state left after the loop. */
  def finish(): Map[String, Double] = Map.empty
  /** Traced-only measurements made after op `i`, outside its time. */
  def extra(i: Long, first: Boolean): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, env: Env): Workload = name match {
    case "geo_filter" => new GeoFilter(env)
    case "geo_ingest" => new GeoIngest(env)
    case "zone_join" => new ZoneJoin(env)
    case "doc_dedup" => new DocDedup(env)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def pointsWithGeom(df: DataFrame): DataFrame =
    df.selectExpr("*", "ST_Point(x, y) AS geom")

  /** Parquet bytes under a table directory and the number of part files. */
  def tableFiles(path: String): (Long, Int) = {
    val parts = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    (parts.map(_.length).sum, parts.length)
  }

  /** Single-row (count, sum id) aggregate result. */
  def countSum(rows: Array[Row]): (Long, Long) =
    (rows(0).getLong(0), if (rows(0).isNullAt(1)) 0L else rows(0).getLong(1))
}

/** Read-only selective filters over a Hilbert-clustered point table:
 *  envelope ST_Within and literal-polygon ST_Intersects, alternating. */
final class GeoFilter(env: Env) extends Workload {
  import env.spark
  private val table = s"${env.work}/points"
  private val results = mutable.Map.empty[Long, (Long, Long)]
  private val rowsN = env.size("table_rows")

  def setup(): Map[String, Double] = {
    val pts = Workload.pointsWithGeom(Gen.points(spark, env.seed, 0, rowsN, 0, env.domain,
      env.centres, 0.3, 25.0, env.partitions))
    val t0 = System.nanoTime()
    GeoTable.writeClustered(pts, "geom", table, env.domain, numFiles = env.size("table_files"))
    val writeS = (System.nanoTime() - t0) / 1e9
    spark.read.parquet(table).createOrReplaceTempView("points")
    Map("sources.write_clustered_s" -> writeS)
  }

  /** Op i's shape: a box (even i) or a regular 16-gon (odd i) covering
   *  1e-5 to 1e-2 of the domain, centred near a hot centre half the time. */
  def shape(i: Long): Checks.ShapeRow = {
    val r = new scala.util.Random(env.seed * 1000003L + i)
    val frac = math.pow(10, -5 + 3 * r.nextDouble())
    val side = Gen.Side * math.sqrt(frac)
    val (cx, cy) =
      if (r.nextBoolean()) {
        val (hx, hy) = env.centres(r.nextInt(env.centres.size))
        (hx + 30 * r.nextGaussian(), hy + 30 * r.nextGaussian())
      } else (r.nextDouble() * Gen.Side, r.nextDouble() * Gen.Side)
    if (i % 2 == 0) Checks.boxRow(i, cx - side / 2, cy - side / 2, cx + side / 2, cy + side / 2)
    else Checks.ngonRow(i, Gen.Ngon(cx, cy, side / 2, 16, r.nextDouble()), closed = true)
  }

  def op(i: Long, ctx: OpCtx): Long = {
    val s = shape(i)
    val where =
      if (s.kind == 0) s"ST_Within(geom, ST_MakeEnvelope(${s.x0}, ${s.y0}, ${s.x1}, ${s.y1}))"
      else s"ST_Intersects(geom, ST_GeomFromText('${Gen.Ngon(s.cx, s.cy, s.r, s.k, s.theta).wkt}'))"
    val res = Workload.countSum(ctx.collect(
      spark.sql(s"SELECT count(*), sum(id) FROM points WHERE $where")))
    results(i) = res
    ctx.layer("rows_returned") += res._1
    rowsN
  }

  def check(ops: Seq[Long]): Set[Long] = {
    val pts = spark.read.parquet(table).selectExpr("0L AS op", "id", "x", "y")
    val want = Checks.gridCounts(spark, pts, spark.createDataFrame(ops.map(shape)), 20.0)
    ops.filter(i => results(i) != want.getOrElse((0L, i), (0L, 0L))).toSet
  }

  override def finish(): Map[String, Double] = {
    val (bytes, files) = Workload.tableFiles(table)
    Map("sources.stored_bytes_per_row" -> bytes.toDouble / rowsN,
      "sources.table_files" -> files.toDouble)
  }
}

/** Writes beside reads: each op appends one batch to a table that
 *  starts empty, then runs one fixed probe filter. */
final class GeoIngest(env: Env) extends Workload {
  import env.spark
  private var table = s"${env.work}/ingest_warm"
  private val batchN = env.size("batch_rows")
  private val probe = (450.0, 450.0, 550.0, 550.0)
  private val results = mutable.Map.empty[Long, (Long, Long)]
  private var batch: DataFrame = _

  def setup(): Map[String, Double] = Map.empty

  override def startTimed(): Unit = table = s"${env.work}/ingest"

  /** Batch i covers a 400-unit square whose centre wanders over the
   *  domain, so batch regions overlap earlier ones. */
  override def prepare(i: Long): Unit = {
    val r = new scala.util.Random(env.seed * 7919L + i)
    val (cx, cy) = (200 + 600 * r.nextDouble(), 200 + 600 * r.nextDouble())
    batch = Workload.pointsWithGeom(Gen.points(spark, env.seed, 1000 + i, batchN, i * batchN,
      (cx - 200, cy - 200, cx + 200, cy + 200), env.centres, 0.3, 25.0, env.partitions))
      .withColumn("batch", lit(i))
      .cache()
    batch.count()
  }

  def op(i: Long, ctx: OpCtx): Long = {
    ctx.timed("sources.append_ms") {
      GeoTable.appendClustered(batch, "geom", table, env.domain, numFiles = env.size("files_per_append"))
    }
    val (x0, y0, x1, y1) = probe
    val res = ctx.timed("sources.probe_ms") {
      spark.read.parquet(table).createOrReplaceTempView("ingest")
      Workload.countSum(ctx.collect(spark.sql(
        s"SELECT count(*), sum(id) FROM ingest WHERE ST_Within(geom, ST_MakeEnvelope($x0, $y0, $x1, $y1))")))
    }
    results(i) = res
    ctx.layer("rows_returned") += res._1
    ctx.layer("rows_written") += batchN
    batchN
  }

  override def after(i: Long): Unit = batch.unpersist(blocking = true)

  /** Every batch must hold exactly its rows, and op k's probe must see
   *  the in-box rows of batches 0..k. */
  def check(ops: Seq[Long]): Set[Long] = {
    val (x0, y0, x1, y1) = probe
    spark.read.parquet(table).createOrReplaceTempView("ingest_check")
    val perBatch = spark.sql(
      s"""SELECT batch, count(*), count_if(hit), coalesce(sum(CASE WHEN hit THEN id END), 0L)
         |FROM (SELECT batch, id, x > $x0 AND x < $x1 AND y > $y0 AND y < $y1 AS hit FROM ingest_check)
         |GROUP BY batch""".stripMargin)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    var hits = 0L
    var ids = 0L
    ops.sorted.filter { i =>
      val (n, h, s) = perBatch.getOrElse(i, (0L, 0L, 0L))
      hits += h
      ids += s
      n != batchN || results(i) != ((hits, ids))
    }.toSet
  }

  override def finish(): Map[String, Double] = {
    val (bytes, files) = Workload.tableFiles(table)
    val rows = spark.read.parquet(table).count()
    Map("sources.stored_bytes_per_row" -> bytes.toDouble / math.max(rows, 1),
      "sources.table_files" -> files.toDouble)
  }
}

/** SQL spatial join of a fresh point batch against cached zones,
 *  with a per-zone count. */
final class ZoneJoin(env: Env) extends Workload {
  import env.spark
  private val batchN = env.size("batch_points")
  private val zones = Gen.zones(env.seed, env.size("zones"), env.centres)
  private val results = mutable.Map.empty[Long, Map[Long, Long]]
  private var zonesDf: DataFrame = _
  private var batch: DataFrame = _

  def setup(): Map[String, Double] = {
    zonesDf = spark.createDataFrame(zones.zipWithIndex.map { case (z, i) => (i.toLong, z.wkt) })
      .toDF("zid", "wkt")
      .selectExpr("zid", "ST_GeomFromText(wkt) AS geom")
      .repartition(env.partitions)
      .cache()
    zonesDf.count()
    zonesDf.createOrReplaceTempView("zones")
    Map.empty
  }

  private def points(i: Long): DataFrame =
    Gen.points(spark, env.seed, 2000 + i, batchN, 0, env.domain, env.centres, 0.3, 25.0, env.partitions)

  /** Batch i is generated by the op's own scan, like a fresh batch
   *  streaming into a pipeline step. It is not cached: a SQL spatial
   *  join of two cached DataFrames fails in InMemoryRelation.withOutput. */
  override def prepare(i: Long): Unit = {
    batch = Workload.pointsWithGeom(points(i))
    batch.createOrReplaceTempView("batch")
  }

  def op(i: Long, ctx: OpCtx): Long = {
    val rows = ctx.collect(spark.sql(
      "SELECT z.zid, count(*) FROM zones z JOIN batch p ON ST_Contains(z.geom, p.geom) GROUP BY z.zid"))
    val counts = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    results(i) = counts
    ctx.layer("join_output_rows") += counts.values.sum
    batchN
  }

  override def extra(i: Long, first: Boolean): Map[String, Double] = {
    val t0 = System.nanoTime()
    SpatialJoin.estimateCellSize(zonesDf, col("geom"), batch, col("geom"))
    Map("operators.cell_estimate_ms" -> (System.nanoTime() - t0) / 1e6)
  }

  def check(ops: Seq[Long]): Set[Long] = {
    val pts = ops.map(i => points(i).selectExpr(s"${i}L AS op", "id", "x", "y")).reduce(_ union _)
    val shapes = spark.createDataFrame(
      zones.zipWithIndex.map { case (z, k) => Checks.ngonRow(k.toLong, z, closed = false) })
    val want = Checks.gridCounts(spark, pts, shapes, 20.0)
      .groupBy(_._1._1).map { case (op, m) => op -> m.map { case ((_, zid), (n, _)) => zid -> n } }
    ops.filter(i => results(i) != want.getOrElse(i, Map.empty)).toSet
  }
}

/** Exact then MinHash near-duplicate removal over a fresh batch of
 *  synthetic docs with planted duplicates. */
final class DocDedup(env: Env) extends Workload {
  import env.spark
  private val originals = env.size("originals")
  private val exactDups = env.size("exact_dups")
  private val nearDups = env.size("near_dups")
  private val docsN = originals + exactDups + nearDups
  private val results = mutable.Map.empty[Long, (Long, Long, Long)]
  private var batch: DataFrame = _

  def setup(): Map[String, Double] = Map.empty

  private def docs(i: Long): DataFrame =
    Gen.docs(spark, env.seed, 3000 + i, originals, exactDups, nearDups,
      env.size("words"), env.size("vocab"), env.partitions)

  override def prepare(i: Long): Unit = {
    batch = docs(i).cache()
    batch.count()
  }

  def op(i: Long, ctx: OpCtx): Long = {
    val (exact, kept) = ctx.timed("operators.exact_dedup_ms") {
      val d = Dedup.exact(batch, col("id"), col("text")).cache()
      (d, d.count())
    }
    val (n, s) = ctx.timed("operators.minhash_dedup_ms") {
      Workload.countSum(ctx.collect(
        Dedup.minhashDedup(exact, col("id"), col("text")).agg(count(lit(1)), sum("id"))))
    }
    exact.unpersist(blocking = false)
    results(i) = (kept, n, s)
    docsN
  }

  /** The candidate-pair waste ratio, measured once per run. */
  override def extra(i: Long, first: Boolean): Map[String, Double] =
    if (!first) Map.empty
    else {
      val cand = Dedup.minhashCandidates(batch, col("id"), col("text")).count()
      val verified = Dedup.nearDupPairs(batch, col("id"), col("text")).count()
      Map("operators.minhash_candidates_per_verified_pair" -> cand.toDouble / math.max(verified, 1))
    }

  /** minhashDedup leaves its materialized pair frame cached; drop it
   *  (and the batch) so ops stay independent. */
  override def after(i: Long): Unit = spark.catalog.clearCache()

  def check(ops: Seq[Long]): Set[Long] = {
    val want = (originals.toLong + nearDups, originals.toLong,
      originals.toLong * (originals - 1) / 2)
    ops.filter(i => results(i) != want).toSet
  }
}
