"""Per-change oracle gate: a sample of catalog keys runs on Spark and on its
DuckDB twin at sf0.001 through tools/check_oracle.py's own ``duck_con`` and
``compare``, and must read EXACT (rows-only keys: Spark must run).

The full sweep (``python tools/check_oracle.py``, every key at sf0.01) is
too slow for every change; this sample is chosen to catch drift from a
mechanical edit: one key per catalog family (SURVEY.md §2, A–K), the
benchmark's catalog keys, at least one key per shared SQL-text helper at
the top of catalog.py, and one key per shared operator helper.
"""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import check_oracle  # noqa: E402

from tests.conftest import SF_SMALL  # noqa: E402
from varda_spark.catalog import REGISTRY  # noqa: E402

SAMPLE = [
    # benchmark catalog keys
    "tpch_q5", "dedup_minhash", "emb_semantic_dedup",
    # one per family
    "paginate_window",   # A (A8 paging)
    "filter_eq",         # B
    "join_equi",         # C
    "agg_sum",           # D
    "win_rank",          # E
    "sort_limit",        # F
    "set_union",         # G
    "str_digest",        # H
    "stream_tumbling",   # I
    "udf_grouped_map",   # J (rows-only)
    # one per helper (dedup_minhash covers _minhash_cte)
    "agg_ops_snips",     # fixed_int, dfixed_int, fdiv
    "sample_split",      # md5_int, omd5_int
    "agg_auc",           # ppm, oppm
    "agg_pow2_hist",     # bitlen
    "sim_hamming_topk",  # dsign_words, _OSIGN_WORDS
    "scan_dpp",          # _scratch_table
    # the interval join, clustering and temp-view helpers
    "join_interval", "join_nearest", "dedup_stars", "dedup_pipeline_v2", "sql_api",
    # the fixed-probe similarity helpers: PQ encoder + ADC scan, IVF-PQ
    # scoring + exact-L2 scan, dot scan with a carry, two-metric scan,
    # scan carrying vectors into a grouped stage
    "sim_pq_adc_topk", "sim_nprobe_sweep", "emb_knn_classify", "sim_rrf_fusion",
    "sim_mmr_rerank",
    # the centroid models: _lloyd and L2 _assign_cells
    "sim_kmeans",
    # frequencies: the keys branch with two selections, and hom/het
    "freq_annotate", "freq_zygosity",
    # keys run through an operator they share with a library caller:
    # cascade_radius_stream, salted_join
    "stream_cascade", "join_salted",
]


@pytest.fixture(scope="module")
def con():
    c = check_oracle.duck_con(SF_SMALL)
    yield c
    c.close()


@pytest.mark.parametrize("key", SAMPLE)
def test_key_matches_oracle(spark, con, key):
    q = REGISTRY[key]
    sdf = q.fn(spark, SF_SMALL).toPandas()
    if q.sql is None:
        assert len(sdf.columns) > 0
        return
    assert check_oracle.array_output_cols(sdf) == []
    assert check_oracle.compare(key, sdf, con.sql(q.sql).df()) == "EXACT"
