"""Registry queries against their DuckDB oracles at the test scale
factor, with the same canonical row hash ``tools/check.py`` uses.

Covers the exact set-Jaccard family, which all runs through
``setsim.set_jaccard_pairs``; every query served by the blocked
candidate-then-verify kernel ``dedup.block_pairs`` (MinHash-LSH,
SimHash-32/64, aHash, hyperplane-LSH recall) plus the fuzzy
decontamination that shares its lane agreement; and Spearman's
bucketed rank tier (``stats.RANK_LITERAL_MAX = 0``), which the default
literal tier hides at this scale factor.
"""

from __future__ import annotations

import duckdb
import pytest

from stockpy_spark.operators import stats as stats_mod
from stockpy_spark.registry import ORACLES, QUERIES
from tools.check import TABLES, canon_rows

_GATED = [
    # setsim.set_jaccard_pairs
    "setsim_jaccard_join",
    "dedup_word_jaccard",
    "dedup_ngram_jaccard",
    "graph_dedup_components",
    "graph_label_prop",
    # dedup.block_pairs
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash64",
    "mm_phash_neardup",
    "mm_phash_dedup_cc",
    "pipeline_image_dedup",
    "gate_embedding_lsh_recall",
    "decontaminate_fuzzy",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize(
    "name,rank_literal_max",
    [pytest.param(q, stats_mod.RANK_LITERAL_MAX, id=q) for q in _GATED]
    + [pytest.param("stats_spearman", 0, id="stats_spearman_bucketed")],
)
def test_query_matches_oracle(spark, sf_dir, duck, name, rank_literal_max):
    prev = stats_mod.RANK_LITERAL_MAX
    stats_mod.RANK_LITERAL_MAX = rank_literal_max
    try:
        sdf = QUERIES[name](spark, sf_dir)
        got = canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    finally:
        stats_mod.RANK_LITERAL_MAX = prev
    rel = duck.sql(ORACLES[name])
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert got == canon_rows(list(rel.columns), rel.fetchall())
