package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch profiling harness for the optimization rounds (not part of
  * the driver contract): phase splits and plan dumps of bench kernels,
  * over the [[BenchRows]] generators. Whole-row timings are
  * `runMain graft.Bench <row>[,<row>...]`. Lives in the TEST source set
  * so it never ships in the library artifact (ADVICE r16); run with
  * `sbt "Test/runMain graft.Probe <case> [args]"`. */
object Probe {
  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("minhash_phases")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import graft.GeoFunctions._

    def time(label: String)(body: => Any): Double = {
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $label%-40s $dt%8.3f s   ($r)")
      dt
    }

    def explain(df: DataFrame): Unit = println(
      df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))

    // the LSH stages of Dedup.minhashCandidates, hand-rolled so each
    // one can be timed or have its plan printed
    def sigCache(m: Long) = BenchRows.minhashDocs(spark, m).select(col("id").as("__id"),
        graft.operators.Dedup.minhashSignature(col("text"), 16, 3).as("__sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def bandJoin(banded: DataFrame) = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
    def sigRejoin(pairs: DataFrame, sigs: DataFrame, hint: DataFrame => DataFrame) =
      hint(hint(pairs)
          .join(sigs.select(col("__id").as("id_a"), col("__sig").as("__sa")), "id_a"))
        .join(sigs.select(col("__id").as("id_b"), col("__sig").as("__sb")), "id_b")
        .withColumn("est_jaccard",
          expr("size(filter(zip_with(__sa, __sb, (x, y) -> x = y), v -> v)) / cast(size(__sa) AS double)"))

    def docs(m: Long) = BenchRows.dedupDocs(spark, m)

    what match {
      case "minhash_phases" =>
        val n = args.lift(1).map(_.toLong).getOrElse(10000000L)
        BenchRows.minhashN(spark, 1000000L) // warm
        (1 to 2).foreach { trial =>
          println(s"--- trial $trial, n=$n ---")
          // phase 0: raw doc generation + signature compute, no persist
          time("sig compute (no persist, agg only)") {
            BenchRows.minhashDocs(spark, n).select(graft.operators.Dedup.minhashSignature(col("text"), 16, 3).as("s"))
              .agg(sum(element_at(col("s"), 1).cast("long"))).collect()(0).getLong(0)
          }
          val sigs = sigCache(n)
          time("A: sigs persist+count") { sigs.count() }
          val banded = graft.operators.Dedup.bandBuckets(sigs, 16, 4)
          time("B0: banded count (from cache)") { banded.count() }
          val pairs0 = bandJoin(banded)
          time("B1: band self-join (no distinct)") { pairs0.count() }
          val pairs = pairs0.distinct()
          time("B2: +distinct") { pairs.count() }
          val full = sigRejoin(pairs, sigs, identity)
          time("C: sig re-join + est + agg") {
            full.filter(col("est_jaccard") >= 0.9)
              .agg(count(lit(1)), sum(col("id_a") + col("id_b"))).collect()(0).getLong(0)
          }
          sigs.unpersist(blocking = true)
        }

      case "ivf_plan" =>
        val out = BenchRows.ivfTopK(spark, args.lift(1).map(_.toLong).getOrElse(100000L))
        out.collect()
        explain(out)

      case "dedup_phases" =>
        val n = args.lift(1).map(_.toLong).getOrElse(100000000L)
        BenchRows.dedupN(spark, 1000000L) // warm
        (1 to 2).foreach { trial =>
          println(s"--- trial $trial, n=$n ---")
          time("docs gen floor (sum length)") {
            docs(n).agg(sum(length(col("text")))).collect()(0).getLong(0)
          }
          time("keep ids (groupBy md5 min)") {
            docs(n).select(md5(col("text").cast("binary")).as("__k"), col("id").as("__id"))
              .groupBy("__k").agg(min("__id").as("__keep_id"))
              .agg(count(lit(1))).collect()(0).getLong(0)
          }
          time("full exact dedup") { BenchRows.dedupN(spark, n) }
        }
        explain(graft.operators.Dedup.exact(docs(1000L), col("id"), col("text")).agg(count(lit(1))))

      case "dedup_variants" =>
        // r17: keep-agg key width (hex vs binary md5) x semi-join
        // strategy (planner SMJ vs keep-side SHUFFLE_HASH build)
        val n = args.lift(1).map(_.toLong).getOrElse(100000000L)
        def exactV(df: org.apache.spark.sql.DataFrame, bin: Boolean, hint: Boolean) = {
          val key = if (bin) unhex(md5(col("text").cast("binary"))) else md5(col("text").cast("binary"))
          val keep = df.select(key.as("__k"), col("id").as("__id"))
            .groupBy("__k").agg(min("__id").as("__keep_id")).select("__keep_id")
          val ks = if (hint) keep.hint("shuffle_hash") else keep
          df.join(ks, col("id") === col("__keep_id"), "left_semi")
        }
        def run(df: org.apache.spark.sql.DataFrame): Long =
          df.agg(count(lit(1)), sum(length(col("text")))).collect()(0).getLong(0)
        run(exactV(docs(1000000L), bin = true, hint = false)) // warm
        time("map floor: md5-bin project+count") {
          docs(n).select(unhex(md5(col("text").cast("binary"))).as("k"), col("id"))
            .agg(count(col("k"))).collect()(0).getLong(0)
        }
        time("keep-agg bin, 32 parts") {
          docs(n).select(unhex(md5(col("text").cast("binary"))).as("k"), col("id").as("i"))
            .groupBy("k").agg(min("i")).agg(count(lit(1))).collect()(0).getLong(0)
        }
        time("keep-agg bin, repart-first") {
          docs(n).select(unhex(md5(col("text").cast("binary"))).as("k"), col("id").as("i"))
            .repartition(col("k"))
            .groupBy("k").agg(min("i")).agg(count(lit(1))).collect()(0).getLong(0)
        }
        // the SHJ-hint variant is MEASURED FATAL at 100M in the 8g
        // session: "Can't acquire 67108864 bytes memory to build hash
        // relation" (50M survivor ids / 32 partitions build ~60+ MB per
        // task and SHJ cannot spill) — kept callable for re-checks via
        // `dedup_variants <n> shj`, never in the default A/B
        val withShj = args.lift(2).contains("shj")
        (1 to 2).foreach { trial =>
          println(s"--- trial $trial, n=$n ---")
          time("full hex SMJ") { run(exactV(docs(n), bin = false, hint = false)) }
          time("full bin SMJ") { run(exactV(docs(n), bin = true, hint = false)) }
          if (withShj) time("full bin SHJ-hint") { run(exactV(docs(n), bin = true, hint = true)) }
        }
        explain(exactV(docs(n), bin = true, hint = false))

      case "minhash_plan_r17" =>
        // the r17 operator shape: pre-sorted banding cache + gated SHJ
        // re-joins — prints the executed pair-join plan (the sorts
        // above the InMemoryTableScans must be GONE)
        val sigs = sigCache(10000000L)
        sigs.count()
        val banded = graft.operators.Dedup.bandBuckets(sigs, 16, 4)
          .repartition(col("band"), col("bh"))
          .sortWithinPartitions(col("band"), col("bh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        banded.count()
        val cand = bandJoin(banded).distinct()
        time("pair join over sorted cache") { cand.count() }
        explain(cand)
        val full = sigRejoin(cand, sigs, _.hint("shuffle_hash"))
          .filter(col("est_jaccard") >= 0.9)
          .agg(count(lit(1)), sum(col("id_a") + col("id_b")))
        time("full est pipeline") { full.collect()(0).getLong(0) }
        explain(full)

      case "spatial_phases" =>
        val n = args.lift(1).map(_.toLong).getOrElse(10000000L)
        def lcgPts(m: Long) = BenchRows.lcgPts(spark, m)
        val zones25 = BenchRows.zones25(spark)
        def fullJoin(m: Long): Long = BenchRows.spatialJoinN(spark, m)
        fullJoin(1000000L) // warm
        (1 to 2).foreach { trial =>
          println(s"--- trial $trial, n=$n ---")
          time("gen pts + count (scan floor)") { lcgPts(n).select(sum(length(col("pt")))).collect()(0).getLong(0) }
          time("gen pts + st_extent agg") {
            lcgPts(n).select(st_extent(col("pt")).as("b"))
              .agg(sum(col("b.min_x") + col("b.max_y"))).collect()(0).getDouble(0).toLong
          }
          time("full grid join (st_within)") { fullJoin(n) }
        }
        explain(graft.operators.SpatialJoin.join(lcgPts(1000L), zones25, col("pt"), col("zone"),
          "st_within", cellSize = 20.0).groupBy("zid").count())

      case other => sys.error(s"unknown probe: $other")
    }
    spark.stop()
  }
}
