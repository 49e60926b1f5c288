"""Generic differential gate: every registered query either matches its
DuckDB oracle (value-level) or, when oracle-less, at least runs and
returns a stable schema. Mirrors the driver's t2 check at a smaller SF;
the driver runs the same thing at sf0.01.

The full 279-key sweep is the single largest block of suite runtime
(~24 min wall), so the DEFAULT run keeps only the headline queries as a
smoke gate and the full sweep is ``-m slow`` — the oracle surface stays
fully covered by the driver's own per-round gate and the /verify drive.
"""

import pytest

from faexport_db_spark.queries import ORACLES, QUERIES
from faexport_db_spark.testing import assert_oracle_match

# the bench.py headline set — the paths optimization rounds touch most
_CORE = [
    "merged_entity", "m5_extra_data_merge", "m7_file_clash_merge",
    "j1_fact_dim_left_join", "j3_hash_search_chain", "j5_child_attach",
    "j7_semi_join", "a5_group_count_topk", "w1_dedup_keep_highest",
    "u1_upsert_returning", "t_exact_dedup", "t_minhash_lsh_dedup",
    "t_simhash_dedup", "t_ann_cosine_topk", "t_embed_cosine_dedup_lsh",
    "t_text_quality", "t_token_count", "t_sequence_pack", "t_corpus_prep",
    "m7_clash_fold_checked",
]


def _check_one(spark, sf_small, name):
    df = QUERIES[name](spark, sf_small)
    oracle = ORACLES.get(name)
    if oracle is None:
        rows = df.count()
        assert rows >= 0
        assert df.schema is not None
    else:
        assert_oracle_match(df, oracle, sf_small, name=name)


# a renamed headline key must fail here, not drop out of the gate
assert set(_CORE) <= set(QUERIES), sorted(set(_CORE) - set(QUERIES))


@pytest.mark.parametrize("name", _CORE)
def test_query_core(spark, sf_small, name):
    _check_one(spark, sf_small, name)


# the registry callers of the read-only incremental dedup probes; not
# headline queries, so kept out of _CORE
_INCREMENTAL = ["t_passage_incremental_checked", "t_line_incremental_checked"]
assert set(_INCREMENTAL) <= set(QUERIES), sorted(set(_INCREMENTAL) - set(QUERIES))


@pytest.mark.parametrize("name", _INCREMENTAL)
def test_query_incremental_probe(spark, sf_small, name):
    _check_one(spark, sf_small, name)


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(_CORE)))
def test_query(spark, sf_small, name):
    _check_one(spark, sf_small, name)


def test_oracle_lint_no_uncast_sum_avg():
    """Registry lint (VERDICT r04 #2): DuckDB's sum(INTEGER) returns
    HUGEINT which pandas renders as float64, silently diverging from
    Spark's bigint in the driver's value hash. Require every oracle
    sum()/avg() to sit directly inside a CAST so the result dtype is
    pinned on the DuckDB side too."""
    import re

    pat = re.compile(r"\b(sum|avg)\s*\(", re.I)
    offenders = []
    for name, sql in sorted(ORACLES.items()):
        for m in pat.finditer(sql):
            prefix = sql[: m.start()].rstrip().lower()
            if not prefix.endswith("cast("):
                offenders.append(f"{name}: ...{sql[max(0, m.start() - 30): m.end()]!r}")
    assert not offenders, "uncast sum/avg in oracles:\n" + "\n".join(offenders)
