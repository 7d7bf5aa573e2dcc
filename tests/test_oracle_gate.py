"""Registry queries against their DuckDB oracles at the test scale
factor, with the same canonical row hash ``tools/check.py`` uses.

Covers the exact set-Jaccard family, which all runs through
``setsim.set_jaccard_pairs``; every query served by the blocked
candidate-then-verify kernel ``dedup.block_pairs`` (MinHash-LSH,
SimHash-32/64, aHash, hyperplane-LSH recall) plus the fuzzy
decontamination that shares its lane agreement; Spearman's bucketed
rank tier (``stats.RANK_LITERAL_MAX = 0``), which the default literal
tier hides at this scale factor; and the extract_stocks pipeline under
both plans of ``joins.dim_preserving_enrich`` (the fact broadcast at
the default threshold, the two-pass plan with broadcasting off).

Also covers the text and vector operators that keep one
implementation each — Gopher repetition, LM and Kneser-Ney perplexity,
DSIR weights, PQ codes and the EWMA fold. For these the DuckDB oracle
is the declarative spec, the role a second in-engine implementation
used to play; the tokenizer and rounding edge rows stay pinned next to
each operator's own tests.
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
    # joins.dim_preserving_enrich, broadcast-fact plan
    "pipeline_extract_stocks",
    # one implementation per operator, the oracle as the spec
    "text_gopher_repetition",
    "text_lm_perplexity",
    "text_kn_perplexity",
    "sample_dsir_weights",
    "emb_pq_codes",
    "ts_ewma",
]
_NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize(
    "name,rank_literal_max,confs",
    [pytest.param(q, stats_mod.RANK_LITERAL_MAX, {}, id=q) for q in _GATED]
    + [
        pytest.param("stats_spearman", 0, {}, id="stats_spearman_bucketed"),
        pytest.param(
            "pipeline_extract_stocks", stats_mod.RANK_LITERAL_MAX, _NO_BROADCAST,
            id="pipeline_extract_stocks_two_pass",
        ),
    ],
)
def test_query_matches_oracle(spark, sf_dir, duck, sql_conf, name, rank_literal_max, confs):
    prev = stats_mod.RANK_LITERAL_MAX
    stats_mod.RANK_LITERAL_MAX = rank_literal_max
    try:
        with sql_conf(confs):
            sdf = QUERIES[name](spark, sf_dir)
            got = canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    finally:
        stats_mod.RANK_LITERAL_MAX = prev
    rel = duck.sql(ORACLES[name])
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert got == canon_rows(list(rel.columns), rel.fetchall())
