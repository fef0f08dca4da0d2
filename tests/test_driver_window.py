"""Registry coverage of the SURVEY.md §2 operator inventory: every §2 id
is registered, and every one carries an oracle unless it is a documented
rows-only id. No SparkSession needed."""

from __future__ import annotations

from dais2021imageprocessingondeltalake_spark import queries_all as q

# Every query id SURVEY.md §2 declares (column "Query id").
SURVEY_S2_IDS = {
    "q_scan_binary",  # A1/A2
    "q_scan_table",  # A3/A4
    "q_write_roundtrip",  # A5/A6
    "q_stream_agg",  # A7/A8, H1-H3
    "q_project",  # B1-B4
    "q_null_cast",  # B5
    "q_cast",  # B6
    "q_struct_ops",  # B7/B8
    "q_filter",  # B9
    "q_join_left",  # C1
    "q_join_inner",  # C2
    "q_join_anti",  # C3
    "q_label_index_join",  # C4, I2
    "q_count",  # D1
    "q_distinct",  # D2
    "q_count_distinct",  # D3
    "q_groupby_agg",  # D4/D5
    "q_limit",  # E1
    "q_orderby",  # E2
    "q_topk",  # E3
    "q_union",  # F
    "q_except_intersect",  # F
    "q_regexp_extract",  # G1
    "q_string_funcs",  # G2
    "q_json_funcs",  # G3
    "q_date_funcs",  # G4
    "q_math_funcs",  # G4
    "q_array_funcs",  # G4
    "q_stream_window",  # H4
    "q_udf_struct",  # I1
    "q_apply_in_pandas",  # I3
    "q_model_udf",  # I4
    "q_udaf_pandas",  # I5
    "q_random_split",  # J1
    "q_map_in_pandas",  # J5
}

# Ids allowed as rows-only (no DuckDB-expressible
# oracle): hash-, randomness- or filesystem-dependent output.
ROWS_ONLY_ALLOWED = {"q_limit", "q_random_split", "q_scan_binary"}


def test_survey_s2_ids_resident():
    missing = SURVEY_S2_IDS - set(q.REGISTRY)
    assert not missing, f"SURVEY §2 ids not registered: {missing}"


def test_window_oracle_coverage():
    no_oracle = {
        name
        for name in SURVEY_S2_IDS - ROWS_ONLY_ALLOWED
        if name in q.REGISTRY and not q.REGISTRY[name].oracle
    }
    assert not no_oracle, f"SURVEY §2 ids without an oracle: {no_oracle}"
