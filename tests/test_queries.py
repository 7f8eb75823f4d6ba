"""The ``__spark_entry__`` contract and oracle equivalence at sf0.001.

Every registered query is checked against its DuckDB oracle through
``scripts/check_oracles.oracle_mismatches``, the comparator the
standalone sweep uses (column names, pandas dtypes, row count and
order-insensitive values).
"""

import pytest

import __spark_entry__ as entry_mod
from scripts.check_oracles import duck_views, oracle_mismatches

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    return duck_views(SF)


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


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql()))
def test_spot_oracle_equivalence(spark, duck, name):
    """The query's result equals its oracle's."""
    spark_df = entry_mod.queries()[name](spark, SF).toPandas()
    duck_df = duck.execute(entry_mod.oracle_sql()[name]).fetchdf()
    assert oracle_mismatches(spark_df, duck_df) == []


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


def test_edit_distance_pairs_runs_no_stage_while_building(spark):
    """Neither the bare read nor building the frame runs a job: the
    schema comes from the parquet footer, and the band-join stages run
    only at the action."""
    from ds4sd_docling_tableformer_onnx_spark.queries import _read
    from tests.test_widen_gc import SF as SF001

    sc = spark.sparkContext

    def jobs_run_by(group, build):
        sc.setJobGroup(group, group)
        try:
            build()
            return len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)

    schema_read = jobs_run_by("documents-read", lambda: _read(spark, SF001, "documents"))
    built = jobs_run_by(
        "edit-distance-build",
        lambda: entry_mod.queries()["edit_distance_pairs"](spark, SF001),
    )
    assert schema_read == 0
    assert built == 0
