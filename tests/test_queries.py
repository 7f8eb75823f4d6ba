"""Driver-contract sanity + spot oracle checks at sf0.001.

The full 26-query oracle sweep runs via ``scripts/check_oracles.py``
(driver-style: row count + schema + order-insensitive values); here we
keep the suite fast with a representative spot check per family.
"""

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

SPOT = ["dense_rank_reindex", "exact_median_per_group", "band_join", "minhash_lsh_pairs", "simhash_candidates", "lang_id", "pack_sequences", "cluster_split"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for table in TABLES:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{SF}/{table}.parquet')"
        )
    return con


def test_contract_shape():
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(queries) >= 30
    assert set(oracles) <= set(queries)
    # round 2: every driver-facing query is oracle-checked, including
    # the flagship summary and the formerly rows-only approximate paths
    assert set(oracles) == set(queries)
    for name in ("extraction_pipeline", "simhash_candidates", "lsh_ann_topk",
                 "ivf_ann_topk", "media_feature_stub"):
        assert name in oracles


# SHA-256 of repr(sorted(oracle_sql().items())): a change to any oracle,
# or an oracle added or removed, must change this literal on purpose.
ORACLE_KEYS = 114
ORACLE_SHA256 = "4a7171120ee9eeed0fb4a2286b3acd846d536125abaf90b2ba00532302dfe274"


def test_oracle_sql_is_pinned():
    import hashlib

    oracles = entry_mod.oracle_sql()
    assert len(oracles) == ORACLE_KEYS
    digest = hashlib.sha256(repr(sorted(oracles.items())).encode("utf-8")).hexdigest()
    assert digest == ORACLE_SHA256


def test_every_oracle_parses_and_binds(duck):
    """Regression guard (VERDICT r2 item 8): every oracle's SQL must
    PLAN against the sf0.001 fixture schemas (EXPLAIN parses, binds
    names/types, and builds the plan without executing) — a query added
    with a broken or missing oracle fails CI here, not as a driver
    ``no_oracle``/error row."""
    oracles = entry_mod.oracle_sql()
    assert oracles
    for name, sql in oracles.items():
        try:
            duck.execute(f"EXPLAIN {sql}")
        except Exception as exc:  # pragma: no cover - failure reporting
            raise AssertionError(f"oracle {name!r} does not bind: {exc}") from exc


@pytest.mark.parametrize("name", SPOT)
def test_spot_oracle_equivalence(spark, duck, name):
    import pandas as pd

    spark_df = entry_mod.queries()[name](spark, SF).toPandas()
    duck_df = duck.execute(entry_mod.oracle_sql()[name]).fetchdf()
    cols = sorted(spark_df.columns)
    assert cols == sorted(duck_df.columns)
    a = spark_df[cols].sort_values(cols).reset_index(drop=True)
    b = duck_df[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b)
    for col in cols:
        av, bv = a[col], b[col]
        if av.dtype.kind == "f":
            assert (av.astype(float).to_numpy() == bv.astype(float).to_numpy()).all(), col
        else:
            assert (av.astype(str).to_numpy() == bv.astype(str).to_numpy()).all(), col


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert rows and set(df.columns) >= {"conv_id", "turn_idx", "html_match"}


def test_edit_distance_pairs_spreads_the_per_pair_work(spark):
    """The quadratic per-pair ``levenshtein`` stage runs on more than
    one partition even though the sf0.01 documents scan is one file."""
    from tests.test_widen_gc import SF as SF001

    df = entry_mod.queries()["edit_distance_pairs"](spark, SF001)
    assert df.rdd.getNumPartitions() > 1
