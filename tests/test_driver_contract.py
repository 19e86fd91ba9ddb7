"""The __spark_entry__ contract: key parity and oracle well-formedness."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402


def test_every_oracle_has_a_query():
    q, o = E.queries(), E.oracle_sql()
    assert set(o) <= set(q)


def test_plan_audit_covers_every_registered_query():
    """Definition-of-done (VERDICT r5 item 2): a query cannot land
    without its PLAN_AUDIT.md row — regenerate with
    ``python tools/plan_report.py`` whenever the registry changes."""
    import re

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "PLAN_AUDIT.md")) as f:
        audit = f.read()
    audited = set(re.findall(r"^\| (\w+) \|", audit, flags=re.M))
    missing = sorted(set(E.queries()) - audited)
    assert not missing, f"queries missing a PLAN_AUDIT row: {missing}"


def test_plan_audit_iot_rows_match_rebuilt_plans(spark):
    """The committed PLAN_AUDIT.md counters of every IoT query equal
    those of its plan rebuilt at sf0.001 — a change that moves an IoT
    plan regenerates the audit (``python tools/plan_report.py``)."""
    import re

    from iot_real_time_data_pipeline_spark.driver_queries import iot_queries
    from tools.plan_report import COUNTERS, plan_counters

    from .test_plans import SF_DIR

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "PLAN_AUDIT.md")) as f:
        committed = {
            m[0]: [int(v) for v in m[1].split(" | ")]
            for m in re.findall(r"^\| (\w+) \| ([\d |]+?) \|$", f.read(), flags=re.M)
        }
    stale = {}
    for name, counts in plan_counters(spark, SF_DIR, iot_queries()):
        rebuilt = counts.get("error") or [counts[k] for k in COUNTERS]
        if committed.get(name) != rebuilt:
            stale[name] = (committed.get(name), rebuilt)
    assert not stale, f"(committed, rebuilt): {stale}"


def test_driver_window_leads_with_unevidenced_queries():
    """The self-rotating window: after the (computed) sentinels, every
    query that already has a driver CORRECTNESS row must sort BEHIND
    every query that never had one."""
    full = E.queries()
    names = list(full)
    seen = E._driver_seen()
    tail = names[len(E._sentinels(full)):]
    first_seen = next((i for i, n in enumerate(tail) if n in seen), len(tail))
    assert all(n in seen for n in tail[first_seen:]), (
        "an unevidenced query sorted behind an evidenced one"
    )


def test_driver_sentinels_self_heal():
    """Pinned queries unpin once their latest driver row is green, and
    the family canaries yield while the never-seen backlog is large
    but return when it drains. Every state is SIMULATED through
    injected seen/green sets — the r8 verdict caught the original
    form of this test asserting the live CORRECTNESS_r*.json state,
    which the driver falsifies the moment the intended self-healing
    outcome (a green row for a pinned query) lands on disk."""
    full = E.queries()
    pins = [k for k in E._PINNED_UNTIL_GREEN if k in full]
    orig_seen, orig_green = E._driver_seen, E._driver_latest_green
    try:
        # State A — pins red + large backlog: pins only, canaries bench.
        E._driver_seen = lambda: set()
        E._driver_latest_green = lambda: set()
        current = E._sentinels(full)
        assert current == pins
        assert "validation_status_counts" not in current
        # State B — pins green, backlog still large: pins release and
        # the canaries stay benched (no room in the window yet).
        E._driver_seen = lambda: set(pins)
        E._driver_latest_green = lambda: set(pins)
        assert E._sentinels(full) == []
        # State C — backlog drained + everything green: canaries return.
        E._driver_seen = lambda: set(full)
        E._driver_latest_green = lambda: set(full)
        healed = E._sentinels(full)
        assert healed == [k for k in E._FAMILY_SENTINELS if k in full]
        # State D — drained backlog but a pin regressed to red: the pin
        # re-enters AHEAD of the returning canaries.
        if pins:
            E._driver_latest_green = lambda: set(full) - {pins[0]}
            relapsed = E._sentinels(full)
            assert relapsed[0] == pins[0]
            assert relapsed[1:] == [
                k for k in E._FAMILY_SENTINELS if k in full
            ]
    finally:
        E._driver_seen, E._driver_latest_green = orig_seen, orig_green


def test_oracle_sql_parses_in_duckdb():
    import duckdb

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        )
    for name, sql in E.oracle_sql().items():
        con.execute(f"EXPLAIN {sql}")  # parse + bind, no execution


def test_oracle_output_types_are_driver_stable():
    """Type-lint over every oracle (VERDICT r7 item 2): the driver's
    value-hash is TYPE-sensitive, so a DuckDB column that widens past
    Spark's type system (sum(BIGINT) -> HUGEINT/int128, or DECIMAL)
    hash-mismatches even when every value is bit-identical — exactly
    the r07 docs_source_mix / docs_source_lang_matrix failure. The
    local value-comparison gate is blind to it (Python ints compare
    equal regardless of width), so this lint is the only local tripwire:
    every oracle output column must bind to a type Spark can emit.
    INTEGER/SMALLINT are fine — Spark has int32/int16 and the engines
    agree wherever those appear (year(), nationkey, ...); the killers
    are the types with NO Spark analog, led by sum(BIGINT)'s silent
    HUGEINT widening."""
    import re

    import duckdb

    # DuckDB types Spark's engine can never produce — any oracle column
    # binding to one of these is a guaranteed driver hash mismatch.
    denied = re.compile(
        r"HUGEINT|UHUGEINT|UBIGINT|UINTEGER|USMALLINT|UTINYINT"
        r"|DECIMAL|TIME\b|INTERVAL|BIT|UUID|ENUM",
    )
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        )
    offenders = []
    for name, sql in E.oracle_sql().items():
        rel = con.sql(sql)  # bind only; .types needs no execution
        for col, typ in zip(rel.columns, rel.types):
            if denied.search(str(typ)):
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, (
        "oracle columns with driver-unstable types (cast them, e.g. "
        f"CAST(sum(...) AS BIGINT)): {offenders}"
    )


def test_readme_query_count_matches_registry():
    """README's headline query count must equal len(queries()) — the
    r6 verdict caught three prose docs drifting from the registry;
    this pins the one count users see first."""
    import os
    import re

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "README.md")) as f:
        m = re.search(r"\*\*(\d+) oracle-checked queries\*\*", f.read())
    assert m, "README.md lost its 'N oracle-checked queries' headline"
    assert int(m.group(1)) == len(E.queries()), (
        f"README says {m.group(1)} but the registry has "
        f"{len(E.queries())} — update README.md"
    )


# Top-level package definitions that nothing outside tests/ references,
# kept on purpose, keyed "<module>.<name>" (module relative to the
# package). Everything else with no caller is deleted with the tests
# that only exercise it (ROADMAP direction 6).
_KEPT_WITHOUT_CALLER = {
    "schemas.staging_schema":
        "the staging contract as a StructType; the star tests build their fixtures on it",
    "operators.maintenance.compact_lake":
        "sink-layer compaction, to be wired into the loader (ROADMAP direction 4)",
    "operators.maintenance.vacuum_lake":
        "sink-layer crash-debris cleanup, to be wired into the loader (ROADMAP direction 4)",
    **dict.fromkeys(
        (
            "operators.multimodal.with_wav_payload",
            "operators.multimodal.wav_features",
            "operators.multimodal.wav_frame_energy",
            "operators.multimodal.wav_decimate",
            "operators.multimodal.with_bmp_payload",
            "operators.multimodal.bmp_features",
            "operators.multimodal.bmp_resize",
            "operators.multimodal.image_dup_pairs",
        ),
        "unfused multimodal chain: the fused *_from_ids operators are tested against it",
    ),
    "operators.similarity.cosine_dup_pairs_exact":
        "exact all-pairs reference the LSH near-duplicate operator is tested against",
    "operators.similarity.assignment_centroids":
        "k-means update step; kmeans_assign's centroids= path is tested through it",
    "operators.similarity.pca_components":
        "gram_matrix's output is tested through the PCA it feeds",
    "operators.similarity.pca_project":
        "gram_matrix's output is tested through the PCA it feeds",
    "operators.sketches.cms_estimate":
        "point query of the count-min sketch; the sketch is tested through it",
    "functions.alerts.alert_message":
        "the reference's R6 alert subject/body (lamda.py), pinned by test_r6_message_formatting",
    "sources.events.parse_base64_payloads":
        "tested ingest variant of the one payload parser (base64 records)",
    "sources.events.parse_kafka_records":
        "tested ingest variant of the one payload parser (Kafka-shaped records)",
    "sources.events.parse_kafka_documents":
        "tested ingest variant for documents (Kafka-shaped records)",
    "operators.curation.write_corpus":
        "open (ROADMAP direction 6): only test_write_corpus_partitions_prune runs it",
    "operators.similarity.ivf_index_topk":
        "open (ROADMAP direction 6): only test_ivf_index_search_prunes_partitions runs it",
    "operators.sketches.approx_user_stats":
        "open (ROADMAP direction 6): only test_approx_user_stats_error_bounds runs it",
    "functions.flatten.flatten":
        "open (ROADMAP direction 6): only test_flatten_compiler_matches_reference_scheme runs it",
    "functions.scalars.round2":
        "open (ROADMAP direction 6): only test_round2_and_clamp runs it",
    "functions.scalars.clamp":
        "open (ROADMAP direction 6): only test_round2_and_clamp runs it",
    "functions.skew.salted_agg":
        "open (ROADMAP direction 6): only test_salted_agg_matches_unsalted runs it",
}


def test_every_package_definition_has_a_caller():
    """Every top-level definition of the package is referenced from the
    package, ``bench.py``, ``tools/``, ``perfbench/`` or
    ``__spark_entry__.py`` — or is listed in ``_KEPT_WITHOUT_CALLER``
    with its reason. A definition only tests run is dead weight: it goes
    with those tests. A name counts as referenced when it is loaded or
    read as an attribute outside its own definition; an import alone
    (a re-export) is not a reference. Pure AST scan, no Spark."""
    import ast
    from collections import Counter

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = "iot_real_time_data_pipeline_spark"

    def refs(node):
        c = Counter()
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                c[n.id] += 1
            elif isinstance(n, ast.Attribute):
                c[n.attr] += 1
        return c

    paths = [os.path.join(here, f) for f in ("bench.py", "__spark_entry__.py")]
    for top in (pkg, "tools", "perfbench"):
        for d, _, files in os.walk(os.path.join(here, top)):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    total, defs = Counter(), []
    for p in paths:
        with open(p) as f:
            tree = ast.parse(f.read())
        total += refs(tree)
        rel = os.path.relpath(p, os.path.join(here, pkg))
        if rel.startswith(".."):
            continue
        module = rel[: -len(".py")].replace(os.sep, ".")
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                names = [node.target.id]
            else:
                continue
            own = refs(node)
            defs += [(f"{module}.{n}", n, own[n]) for n in names if not n.startswith("__")]
    uncalled = {key for key, name, own in defs if total[name] - own <= 0}
    unlisted = sorted(uncalled - set(_KEPT_WITHOUT_CALLER))
    assert not unlisted, (
        f"definitions with no caller outside tests/: {unlisted} — delete "
        "them with the tests that only exercise them, or list them in "
        "_KEPT_WITHOUT_CALLER with a reason"
    )
    stale = sorted(set(_KEPT_WITHOUT_CALLER) - uncalled)
    assert not stale, f"_KEPT_WITHOUT_CALLER entries that now have a caller or are gone: {stale}"
