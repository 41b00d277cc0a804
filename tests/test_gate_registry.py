"""The gate registry (queries.GATES) and the one value comparison
(queries.compare) that tools/gates.py --check and test_entry_oracle share."""

import duckdb
import pytest

from osmquadtree_spark import queries as Q

# the external driver's contract: these 50 names, frozen
DRIVER_NAMES = sorted("""
qt_assign qt_cell_histogram qt_lca_by_order bbox_extract poly_extract s2_cells
extract_expand extract_members fix_tags raster_vector xyz_tiles knn_points
knn_cells group_assign_default group_assign_fine changes_merge changes_stream
update_change_qts update_change_tiles count_stats multipolygon_assembly
wkb_roundtrip poly_file_extract osc_parse geom_ways geom_parent_tags
geom_rel_tags geom_way_stats geom_minzoom tag_packers geojson_tiles way_qts
node_qts rel_qts image_qt_assign image_tiles media_verify media_features
caption_dedup tpch_q1 top_customers text_analysis dedup_exact dedup_minhash
dedup_simhash dedup_embedding_pairs dedup_embedding_lsh ngram_jaccard_pairs
ann_cosine_topk ann_lsh_topk
""".split())

HEADLINE_NAMES = sorted("""
qt_assign qt_cell_histogram qt_lca_by_order group_assign_fine bbox_extract
poly_extract xyz_tiles knn_points changes_merge update_change_tiles
geom_way_stats multipolygon_assembly tpch_q1 dedup_exact dedup_minhash
dedup_simhash dedup_embedding_lsh ngram_jaccard_pairs text_analysis
ann_cosine_topk ann_lsh_topk
""".split())


def test_gate_names_unique_and_redeclaring_raises():
    assert all(g.name == n for n, g in Q.GATES.items())
    before = dict(Q.GATES)
    with pytest.raises(ValueError, match="declared twice"):
        Q.gate("qt_assign", oracle=lambda: "SELECT 1")(lambda spark, sf_dir: None)
    assert Q.GATES == before


def test_driver_gates_are_the_contract():
    assert len(DRIVER_NAMES) == 50
    assert sorted(n for n, g in Q.GATES.items() if g.driver) == DRIVER_NAMES
    assert sorted(Q.spark_queries()) == DRIVER_NAMES


def test_headline_gates_are_the_bench_suite():
    assert len(HEADLINE_NAMES) == 21
    assert sorted(n for n, g in Q.GATES.items() if g.headline) == HEADLINE_NAMES


def test_every_gate_has_an_oracle(monkeypatch, sf_dir):
    # the group-table oracles read the parquet of the scale they gate
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)
    for name, g in Q.GATES.items():
        sql = g.oracle()
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_filelist_merge_oracle_skips_the_group_tables(monkeypatch):
    from osmquadtree_spark.functions import group_oracle

    def boom(*a, **k):
        raise AssertionError("group_assign_sql called")

    monkeypatch.setattr(group_oracle, "group_assign_sql", boom)
    assert Q.GATES["filelist_merge"].oracle() == Q.GATES["changes_merge"].oracle()


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def test_compare_sorts_nulls_mixed_with_ints(spark, con):
    sdf = spark.createDataFrame([(1, None), (None, 2), (3, 4)], "a bigint, b bigint")
    rel = con.sql("SELECT * FROM (VALUES (3, 4), (NULL, 2), (1, NULL)) t(a, b)")
    assert Q.compare(sdf, rel) == Q.Verdict("EQ", 3, [])


def test_compare_ignores_column_order(spark, con):
    sdf = spark.createDataFrame([(1, "x")], "a bigint, b string")
    rel = con.sql("SELECT 'x' AS b, 1::BIGINT AS a")
    assert Q.compare(sdf, rel).status == "EQ"


def test_compare_shifted_rows_sample_the_symmetric_difference(spark, con):
    sdf = spark.range(0, 10).toDF("id")
    rel = con.sql("SELECT range AS id FROM range(1, 11)")
    v = Q.compare(sdf, rel)
    assert v.status == "MISMATCH"
    assert "spark-only:  (0,)" in v.report
    assert "oracle-only: (10,)" in v.report


def test_compare_column_names_must_match_exactly(spark, con):
    sdf = spark.createDataFrame([(1,)], "id bigint")
    for sql in ("SELECT 1::BIGINT AS other", "SELECT 1::BIGINT AS ID"):
        v = Q.compare(sdf, con.sql(sql))
        assert v.status == "MISMATCH"
        assert v.report[0].startswith("cols:")


def test_compare_negative_zero_equals_zero_and_nan_equals_nothing(spark, con):
    zero = spark.createDataFrame([(-0.0,)], "x double")
    assert Q.compare(zero, con.sql("SELECT 0.0::DOUBLE AS x")).status == "EQ"
    nan = spark.createDataFrame([(float("nan"),)], "x double")
    v = Q.compare(nan, con.sql("SELECT 'nan'::DOUBLE AS x"))
    assert v.status == "MISMATCH"
    assert v.report == ["rows print alike: a NaN value, which equals nothing"]


def test_compare_values_must_share_a_type(spark, con):
    sdf = spark.createDataFrame([(1,)], "x bigint")
    assert Q.compare(sdf, con.sql("SELECT 1.0::DOUBLE AS x")).status == "MISMATCH"
