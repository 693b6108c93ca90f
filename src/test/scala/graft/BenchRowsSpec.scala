package graft

import org.scalatest.funsuite.AnyFunSuite

/** Consistency of the bench row registry (pure: no SparkSession). */
class BenchRowsSpec extends AnyFunSuite {

  private val rows = BenchRows.all

  test("row names are unique") {
    assert(rows.map(_.name).distinct.size == rows.size)
  }

  test("every row with a watchdog or oracle rank has oracle SQL; ranks are unique") {
    val orphan = rows.filter(r => (r.watchdogS.isDefined || r.oracleRank.isDefined) && r.oracle.isEmpty)
    assert(orphan.isEmpty, orphan.map(_.name).mkString(", "))
    val ranks = rows.flatMap(_.oracleRank)
    assert(ranks.distinct.size == ranks.size, ranks.sorted.mkString(","))
  }

  test("every headline row is a SparkEntry query") {
    val missing = BenchRows.headline.map(_.name).filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, missing.mkString(", "))
  }

  test("the default run order and the oracle priority are the pre-registry ones") {
    assert(rows.map(_.name) == Seq(
      "q1_agg", "q_join_revenue", "q_window_rank", "q_events_hourly",
      "q_geo_contains", "q_geo_envelope", "q_geo_spatial_join",
      "q_geo_knn", "q_geo_hilbert", "q_geo_transform",
      "q_doc_dedup_exact", "q_doc_minhash_dedup", "q_doc_dup_clusters",
      "q_doc_pii", "q_doc_contamination", "q_emb_topk", "q_emb_norm",
      "q_emb_ivf_topk", "q_emb_pq", "q_emb_ivfpq",
      "points_envelope_10m", "points_clustered_write_10m", "points_envelope_10m_clustered",
      "zorder_write_10m", "zorder_scan_10m", "zorder_scan_10m_plain",
      "spatial_join_clustered_10m", "spatial_join_plain_10m", "points_envelope_10m_native",
      "spatial_join_uniform_2m", "spatial_join_hot30_2m",
      "revenue_bucketed_write", "q_join_revenue_bucketed",
      "points_envelope_10m_sql", "join_10m_sql", "agg_10m_sql", "window_10m_sql",
      "strings_10m_sql", "agg_100m_sql", "strings_100m_sql", "window_100m_sql",
      "spatial_join_10m", "transform_10m", "knn_join_10m", "dedup_exact_10m", "pack_10m",
      "pagerank_10m", "kmeans_1m", "asof_join_10m", "range_join_10m", "asof_join_100m",
      "dedup_exact_100m", "range_join_100m", "labelprop_10m", "bpe_encode_10m",
      "hamming_topk_10m", "blocklist_10m", "cms_10m", "cms_20m", "hll_10m", "dsir_1m",
      "norm_20m", "minhash_10m", "minhash_20m", "ivf_topk_10m", "spatial_join_100m"))
    assert(BenchRows.oracleOrder(rows).take(20) == Seq(
      "spatial_join_100m", "ivf_topk_10m", "minhash_10m",
      "spatial_join_10m", "knn_join_10m", "dsir_1m", "dedup_exact_100m",
      "pagerank_10m", "transform_10m", "labelprop_10m", "bpe_encode_10m",
      "asof_join_100m", "agg_100m_sql", "window_100m_sql",
      "strings_100m_sql", "cms_20m", "hamming_topk_10m", "norm_20m",
      "hll_10m", "dedup_exact_10m"))
  }

  test("select keeps the given order and repeats, and rejects unknown names") {
    assert(BenchRows.select("norm_20m,dedup_exact_100m,norm_20m").map(_.name) ==
      Seq("norm_20m", "dedup_exact_100m", "norm_20m"))
    assert(intercept[RuntimeException](BenchRows.select("pack_10m,nope")).getMessage
      .contains("unknown bench row nope"))
  }
}
