"""Degenerate-input sweep: every registered query must EXECUTE (not
crash) on a pathological micro-corpus — empty strings, one-token docs,
unicode, exact duplicates, a single user, one order, zero-discount
lines. Spark 4 runs ANSI mode by default, so unguarded element_at /
integral division by zero / casts become runtime errors that the
happy-path testdata never exercises (the span family's element_at
crash on 1-token docs was found exactly this way).

Correctness on real data is the oracle gate's job; this suite only
asserts the plans EXECUTE and return a well-formed (possibly empty)
result on inputs a real crawl absolutely will contain.
"""

from __future__ import annotations

import datetime
import os

import pytest


def _drop_cached_lake(sf_dir):
    """Remove the lake ``q_staging_from_lake`` cached in the temp dir
    for ``sf_dir``: its key names this run's pytest directory, so no
    later run reads it back."""
    import shutil

    from iot_real_time_data_pipeline_spark.driver_queries import _lake_dir

    shutil.rmtree(_lake_dir(sf_dir), ignore_errors=True)


@pytest.fixture(scope="module")
def degenerate_dir(spark, tmp_path_factory):
    """A full 10-table directory in the driver's exact schemas, filled
    with adversarial micro-content."""
    d = str(tmp_path_factory.mktemp("degenerate_sf"))
    ts0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def write(name, schema, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, f"{name}.parquet"))

    write(
        "documents",
        "doc_id long, text string, lang string, source string, n_chars long",
        [
            (1, "", "en", "src1", 0),                      # empty text
            (2, "x", "en", "src1", 1),                     # 1 token
            (3, "x", "de", "src2", 1),                     # dup of 2, other stratum
            (4, "the same exact sentence appears twice here", "en", "src2", 42),
            (5, "the same exact sentence appears twice here", "fr", "src3", 42),
            (6, "Ünïcödé tökèns — 中文 字 mixed with ascii", "zh", "src1", 38),
            (7, "  leading and   irregular   whitespace  ", "es", "src2", 40),
        ],
    )
    # embeddings: include vec_id % 50 == 0 (query vectors), a zero
    # vector (norm 0!), duplicate vectors, and >= KMEANS_K rows.
    def vec(seed):
        return [float((seed * 31 + i * 7) % 13 - 6) for i in range(64)]

    emb_rows = [(0, [0.0] * 64, 0)]                        # zero vector, IS a query
    emb_rows += [(i, vec(i), i % 3) for i in range(1, 10)]
    emb_rows += [(10, vec(5), 2)]                          # exact dup of vec 5
    emb_rows += [(50, vec(2), 1)]                          # second query vector
    write("embeddings", "vec_id long, embedding array<float>, label int", emb_rows)

    write(
        "events",
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
        [
            (1, ts0, 7, "click", 0.0, '{"k": 0}'),
            (2, ts0, 7, "view", -1.0, '{"k": 1}'),          # same-second events
            (3, ts0 + datetime.timedelta(seconds=1), 7, "purchase", 0.0, "{}"),
            (4, ts0 + datetime.timedelta(days=40), 7, "purchase", 5.0, '{"k": 2}'),
            (5, ts0, 8, "error", 0.0, "not json"),          # malformed props
            (6, ts0 + datetime.timedelta(hours=1), 8, "signup", 1.5, '{"k": 3}'),
        ],
    )

    write("region", "r_regionkey int, r_name string", [(0, "ASIA"), (1, "EUROPE")])
    write(
        "nation",
        "n_nationkey int, n_name string, n_regionkey int",
        [(0, "NATION_1", 0), (1, "NATION_2", 1), (7, "NATION_7", 1)],
    )
    write(
        "customer",
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
        [
            (1, "c1", 0, 0.0, "BUILDING"),                 # zero balance
            (2, "c2", 1, -5.0, "MACHINERY"),               # negative balance
            (3, "c3", 7, 100.0, "BUILDING"),
        ],
    )
    write(
        "supplier",
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
        [(1, "s1", 0, -1.0), (2, "s2", 7, 50.0)],
    )
    write(
        "part",
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
        [
            (1, "tiny widget", "Brand#11", "PROMO", 1, 1.0),
            (2, "large gizmo widget", "Brand#12", "ECONOMY", 45, 2.0),
        ],
    )
    write(
        "orders",
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        [
            (1, 1, "O", 0.0, ts0, "1-URGENT"),             # zero-price order
            (3, 2, "F", 10.0, ts0 + datetime.timedelta(days=900), "5-LOW"),
            (7, 3, "P", 2.5, ts0, "3-MEDIUM"),             # key%10==7: merge delete
        ],
    )
    write(
        "lineitem",
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
        [
            (1, 1, 1, 1, 1.0, 0.0, 0.0, 0.0, "R", "O", ts0),       # zero price
            (1, 2, 2, 2, 500.0, 100.0, 1.0, 0.1, "N", "F",        # 100% discount
             ts0 + datetime.timedelta(days=400)),
            (3, 1, 2, 1, 2.0, 50.0, 0.05, 0.0, "A", "F",
             ts0 + datetime.timedelta(days=901)),
        ],
    )
    yield d
    _drop_cached_lake(d)


def _run_family(spark, degenerate_dir, prefix):
    import __spark_entry__ as E

    failures = []
    for name, fn in E.queries().items():
        if not name.startswith(prefix):
            continue
        try:
            rows = fn(spark, degenerate_dir).collect()
            assert rows is not None
        except Exception as exc:  # noqa: BLE001 — collecting the full list
            failures.append((name, str(exc).split("\n")[0][:160]))
    assert not failures, failures


def test_degenerate_docs_queries(spark, degenerate_dir):
    _run_family(spark, degenerate_dir, "docs_")


def test_degenerate_emb_and_mm_queries(spark, degenerate_dir):
    _run_family(spark, degenerate_dir, "emb_")
    _run_family(spark, degenerate_dir, "mm_")


def test_degenerate_events_queries(spark, degenerate_dir):
    _run_family(spark, degenerate_dir, "events_")


def test_degenerate_warehouse_queries(spark, degenerate_dir):
    _run_family(spark, degenerate_dir, "wh_")


def test_degenerate_iot_queries(spark, degenerate_dir):
    import __spark_entry__ as E

    skip_prefixes = ("docs_", "emb_", "mm_", "events_", "wh_")
    failures = []
    for name, fn in E.queries().items():
        if name.startswith(skip_prefixes):
            continue
        try:
            fn(spark, degenerate_dir).collect()
        except Exception as exc:  # noqa: BLE001
            failures.append((name, str(exc).split("\n")[0][:160]))
    assert not failures, failures


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    """All 10 tables with ZERO rows — the empty-date-partition case.
    Every query must return an empty (or all-NULL-aggregate) result,
    never UNABLE_TO_INFER_SCHEMA or DIVIDE_BY_ZERO."""
    d = str(tmp_path_factory.mktemp("empty_sf"))
    schemas = {
        "documents": "doc_id long, text string, lang string, source string, n_chars long",
        "embeddings": "vec_id long, embedding array<float>, label int",
        "events": "event_id long, ts timestamp, user_id long, event_type string, "
                  "value double, props string",
        "region": "r_regionkey int, r_name string",
        "nation": "n_nationkey int, n_name string, n_regionkey int",
        "customer": "c_custkey long, c_name string, c_nationkey int, "
                    "c_acctbal double, c_mktsegment string",
        "supplier": "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
        "part": "p_partkey long, p_name string, p_brand string, p_type string, "
                "p_size int, p_retailprice double",
        "orders": "o_orderkey long, o_custkey long, o_orderstatus string, "
                  "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        "lineitem": "l_orderkey long, l_partkey long, l_suppkey long, "
                    "l_linenumber int, l_quantity double, l_extendedprice double, "
                    "l_discount double, l_tax double, l_returnflag string, "
                    "l_linestatus string, l_shipdate timestamp",
    }
    for t, s in schemas.items():
        spark.createDataFrame([], s).write.mode("overwrite").parquet(
            os.path.join(d, f"{t}.parquet")
        )
    yield d
    _drop_cached_lake(d)


def test_empty_tables_every_query_executes(spark, empty_dir):
    import __spark_entry__ as E

    failures = []
    for name, fn in E.queries().items():
        try:
            fn(spark, empty_dir).collect()
        except Exception as exc:  # noqa: BLE001
            failures.append((name, str(exc).split("\n")[0][:120]))
    assert not failures, failures
