"""The validation rule engine (V1-V9) as native Column expressions.

Reproduces ``validate_record`` (``Lambda/lamda.py:60-150``) semantics
exactly, including its quirks:

- ``None`` is a member of the extreme-value sentinel list
  (lamda.py:97), so the later per-sensor ``_missing`` branch
  (lamda.py:104-106) is unreachable: an absent/null sensor value
  classifies as ``sensor_data:<s>_extreme_value``.
- Numeric JSON values compare numerically against ``0/9999/-9999``
  (so ``0.0`` is extreme) while quoted JSON strings compare literally
  (so ``"0.0"`` is NOT extreme — it type-converts with a warning and
  then fails the range check).
- Required-key errors fire on key *absence* (``key not in data``,
  lamda.py:84), not on explicit JSON null — presence is detected
  lexically from the raw payload.
- Two paths raise TypeError in the reference and dead-letter instead of
  getting a status: a string/None ``temperature`` reaching the weather
  cross-check subtraction, and an explicit-null ``weather_data`` (the
  key IS present, so ``"temperature_2m" in None`` crashes). We flag
  such rows ``dead_letter = true`` instead of crashing.
- Short-circuits: missing/unknown ``loc_id`` and missing/empty
  ``sensor_data`` return INVALID immediately with only their own
  errors (plus accumulated required-key errors for the latter).

Input contract: a DataFrame with ``schemas.raw_event_schema()``
columns plus the ``raw_json`` string column (``schemas.RAW_JSON_COL``)
holding the original event JSON, used to tell key absence from JSON
null and quoted from numeric sensor values. A null payload (events
synthesized in-plan rather than parsed) reads as "no key, not quoted".

Physical shape: two phases. ``validate_flags`` evaluates the rules in
*layers* of ``withColumns`` — raw probes / quoted flags, casts and
bounds, per-sensor predicate flags, then status/dead-letter folded
directly from the booleans. ``attach_validation_arrays`` turns the
flags into the ``validation_errors``/``validation_warnings`` string
arrays. The split lets deployments ``persist()`` the cheap all-boolean
frame and assemble arrays only at sinks that emit them
(``operators.pipeline.process_events`` / ``assemble_events``); because status
never references the arrays, status-only consumers prune the assembly
from the plan entirely. Everything is codegen-friendly (no lambda
higher-order functions — see ``_conditional_array``), each non-cheap
subexpression lands in its own column so it is computed once per row,
and the whole engine remains a pure narrow map — no shuffle, no UDFs,
pipelined with the scan at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import (
    EXPECTED_RANGES_PER_LOCATION,
    EXTREME_NUMERIC_SENTINELS,
    EXTREME_STRING_SENTINELS,
    KNOWN_LOC_IDS,
    RAW_JSON_COL,
    SENSOR_NAMES,
)

REQUIRED_TOP_LEVEL_KEYS = ["event_id", "timestamp", "sensor_data", "weather_data", "location"]


def _per_location(loc: Column, sensor: str, idx: int) -> Column:
    """Literal (min or max) of the sensor range keyed by loc_id.

    ``element_at`` on an all-literal map: CreateMap of literals is
    foldable, so ConstantFolding turns it into one map Literal and the
    lookup generates a few lines of Java — versus a 3-branch string
    when-chain × 12 bound columns, which bloats the generated class
    (janino compile time and the 64 KB method ceiling both care).
    Unknown/null loc_id yields null, like the when-chain fallthrough.
    """
    entries = []
    for loc_id, ranges in EXPECTED_RANGES_PER_LOCATION.items():
        entries += [F.lit(loc_id), F.lit(float(ranges[sensor][idx]))]
    return F.element_at(F.create_map(*entries), loc)


def range_min(loc: Column, sensor: str) -> Column:
    return _per_location(loc, sensor, 0)


def range_max(loc: Column, sensor: str) -> Column:
    return _per_location(loc, sensor, 1)


def _top_level_keys() -> Column:
    """Top-level key set of the raw payload, as a map<string,string>.

    ``from_json`` with a map schema keeps exactly the depth-1 keys
    (nested objects collapse into string *values*), so membership
    reproduces Python's ``key in data`` — unlike a lexical regex over
    the whole payload, which a key name nested deeper or inside a
    string value would fool. Explicit JSON null values stay present as
    map keys (null-valued), which is precisely the reference's
    absence≠null distinction. One JVM-side parse; Spark's codegen
    subexpression elimination shares it across the per-key probes in
    the same projection.
    """
    return F.from_json(F.col(RAW_JSON_COL), "map<string,string>")


def _key_present(col: Column, key: str) -> Column:
    """Reference semantics: required-key errors fire on key *absence*
    (``key not in data``, lamda.py:84), not on explicit JSON null —
    detected from the raw payload's top-level key set; a non-null
    column implies presence (for a null payload, the only evidence).
    """
    return (
        F.coalesce(F.map_contains_key(_top_level_keys(), key), F.lit(False))
        | col.isNotNull()
    )


def _was_quoted(sensor: str) -> Column:
    """True when the sensor value appeared as a quoted JSON string.

    Lexical check on the raw payload — the only place the
    string-vs-number distinction survives once values are ingested as
    map<string,string>.
    """
    # coalesce: a null raw payload (e.g. events synthesized in-plan
    # rather than parsed from JSON text) means "not quoted".
    return F.coalesce(F.col(RAW_JSON_COL).rlike(f'"{sensor}"\\s*:\\s*"'), F.lit(False))


def _conditional_array(pairs: list[tuple[Column, Column]], elem_ddl: str = "string") -> Column:
    """``concat`` of per-condition single-element arrays.

    Equivalent to ``array_compact(array(when(c1,v1), when(c2,v2), …))``
    but whole-stage-codegen friendly: ``array_compact`` is runtime-
    replaced by a lambda ``filter()`` higher-order function, which
    evaluates interpreted per row; ``Concat``/``CaseWhen``/
    ``CreateArray`` all generate Java. Order of fired elements is
    preserved.
    """
    empty = F.array().cast(f"array<{elem_ddl}>")
    return F.concat(*[F.when(c, F.array(v)).otherwise(empty) for c, v in pairs])


def _any(flags: list[Column]) -> Column:
    out = flags[0]
    for f in flags[1:]:
        out = out | f
    return out


def validate_flags(df: DataFrame) -> DataFrame:
    """Rule evaluation WITHOUT the string-array assembly.

    Appends ``validation_status`` / ``dead_letter`` / ``sensor_<name>``
    doubles plus the internal ``_*`` boolean rule flags that
    ``attach_validation_arrays`` later folds into the
    ``validation_errors`` / ``validation_warnings`` arrays.

    The two-phase split exists for the execution model, not the
    semantics: the flag frame is what a long-lived deployment should
    ``persist()`` — all-boolean columns, cheap to cache — while the
    arrays are assembled lazily *above* the cache boundary, only for
    the sinks that actually emit them (lake rows, alert feeds).
    Status-only consumers (staging, dashboards, routing) prune the
    assembly away entirely. The cache boundary also keeps each
    whole-stage-codegen region small enough to compile (the fully fused
    scan→flags→arrays→sink plan exceeds janino's 64 KB method limit
    and would silently fall back to interpreted evaluation).

    Three ``_errcls_*`` booleans (did any sensor fire extreme / missing
    / out-of-range) carry the alert engine's R1 class checks
    (lamda.py:163-182); ``with_alerts`` reads and drops them.
    """
    loc = F.col("loc_id")
    sensors = F.col("sensor_data")
    weather = F.col("weather_data")

    # --- L1: probes + lexical flags ------------------------------------
    key_cols = {
        "event_id": F.col("event_id"),
        "timestamp": F.col("timestamp"),
        "sensor_data": sensors,
        "weather_data": weather,
        "location": F.col("location"),
    }
    l1: dict[str, Column] = {}
    for s in SENSOR_NAMES:
        l1[f"_raw_{s}"] = sensors.getItem(s)
        l1[f"_q_{s}"] = _was_quoted(s)
    for k in REQUIRED_TOP_LEVEL_KEYS:
        l1[f"_key_{k}"] = _key_present(key_cols[k], k)
    l1["_loc_missing"] = loc.isNull() | (loc == "")
    l1["_sensors_empty"] = sensors.isNull() | (F.size(F.map_keys(sensors)) == 0)
    l1["_has_temp_key"] = F.coalesce(F.map_contains_key(sensors, "temperature"), F.lit(False))
    df = df.withColumns(l1)

    # --- L2: casts + per-location bounds -------------------------------
    l2: dict[str, Column] = {}
    for s in SENSOR_NAMES:
        # try_cast: null on failure — the reference's try/except float()
        # (lamda.py:111-116) under Spark 4's default ANSI mode.
        l2[f"_cast_{s}"] = F.col(f"_raw_{s}").try_cast("double")
        l2[f"_lo_{s}"] = range_min(loc, s)
        l2[f"_hi_{s}"] = range_max(loc, s)
    l2["_loc_invalid"] = ~F.col("_loc_missing") & ~loc.isin(KNOWN_LOC_IDS)
    df = df.withColumns(l2)

    # --- L3: per-sensor predicate flags --------------------------------
    l3: dict[str, Column] = {}
    for s in SENSOR_NAMES:
        raw, quoted, casted = F.col(f"_raw_{s}"), F.col(f"_q_{s}"), F.col(f"_cast_{s}")
        lo, hi = F.col(f"_lo_{s}"), F.col(f"_hi_{s}")
        string_sentinel = raw.isin(EXTREME_STRING_SENTINELS)
        numeric_sentinel = casted.isin(EXTREME_NUMERIC_SENTINELS)
        # lamda.py:97-101 — null (absent or JSON-null) is itself a sentinel.
        extreme = raw.isNull() | F.when(quoted, string_sentinel).otherwise(
            string_sentinel | numeric_sentinel
        )
        l3[f"_ext_{s}"] = extreme
        # lamda.py:109-117 — only quoted strings take the convert path.
        l3[f"_invtype_{s}"] = ~extreme & quoted & casted.isNull()
        l3[f"_conv_{s}"] = ~extreme & quoted & casted.isNotNull()
        in_range = casted.between(lo, hi)
        buffer = (hi - lo) * F.lit(0.1)
        in_buffer = casted.between(lo - buffer, hi + buffer)
        checkable = ~extreme & ~l3[f"_invtype_{s}"]
        l3[f"_oor_{s}"] = checkable & ~in_range & ~in_buffer
        l3[f"_near_{s}"] = checkable & ~in_range & in_buffer
    # Temperature extras for the weather cross-check: numeric-after-loop
    # (originally-numeric stays numeric; quoted is numeric only if the
    # convert branch ran — sentinels `continue` first, lamda.py:98-101)
    # and the lexical rendering Python's f-string would produce.
    t_raw, t_q, t_cast = F.col("_raw_temperature"), F.col("_q_temperature"), F.col("_cast_temperature")
    l3["_t_num"] = t_raw.isNotNull() & (~t_q | (~l3["_ext_temperature"] & t_cast.isNotNull()))
    df = df.withColumns(l3)

    # --- L4: row-level outcome flags (no array assembly) ---------------
    weather_temp = weather.getField("temperature_2m")
    crosscheck_applies = (
        ~F.col("_sensors_empty")
        & F.col("_has_temp_key")
        & weather.isNotNull()
        & weather_temp.isNotNull()
    )
    # lamda.py:129-137: abs(sensor - weather) > 15 => warning.
    mismatch = crosscheck_applies & F.col("_t_num") & (
        F.abs(t_cast - weather_temp) > 15
    )
    loc_missing, loc_invalid = F.col("_loc_missing"), F.col("_loc_invalid")
    sensors_empty = F.col("_sensors_empty")
    eligible = ~loc_missing & ~loc_invalid & ~sensors_empty
    weather_explicit_null = F.col("_key_weather_data") & weather.isNull()
    dead_letter = eligible & (
        (crosscheck_applies & ~F.col("_t_num"))
        | (F.col("_has_temp_key") & weather_explicit_null)
    )

    # Boolean fold of "would the arrays be non-empty" — bypasses the
    # arrays so status-only consumers prune their assembly. The
    # `sensors_empty` branch always errors (missing_sensor_data), the
    # loc branches likewise; warnings only matter for eligible rows
    # (ineligible rows already classified INVALID).
    any_error = (
        loc_missing
        | loc_invalid
        | sensors_empty
        | _any([~F.col(f"_key_{k}") for k in REQUIRED_TOP_LEVEL_KEYS])
        | _any(
            [F.col(f"_{kind}_{s}") for s in SENSOR_NAMES for kind in ("ext", "invtype", "oor")]
        )
    )
    any_warning = (
        _any([F.col(f"_{kind}_{s}") for s in SENSOR_NAMES for kind in ("conv", "near")])
        | mismatch
    )

    l4: dict[str, Column] = {
        "_mismatch": mismatch,
        "dead_letter": dead_letter,
        "validation_status": (
            F.when(any_error, F.lit("INVALID"))
            .when(any_warning, F.lit("WARNING"))
            .otherwise(F.lit("VALID"))
        ),
    }
    # R1's "any sensor_data:* error of this class" as plain booleans.
    # "missing" never matches: per-sensor missing classifies as
    # extreme_value (None is a sentinel, lamda.py:97), and no other
    # sensor_data:* error string contains "missing".
    l4["_errcls_extreme"] = eligible & _any([F.col(f"_ext_{s}") for s in SENSOR_NAMES])
    l4["_errcls_missing"] = F.lit(False)
    l4["_errcls_oor"] = eligible & _any([F.col(f"_oor_{s}") for s in SENSOR_NAMES])
    for s in SENSOR_NAMES:
        # Validated double — null for sentinel / unconvertible values.
        l4[f"sensor_{s}"] = F.when(
            ~F.col(f"_ext_{s}") & ~F.col(f"_invtype_{s}"), F.col(f"_cast_{s}")
        )
    df = df.withColumns(l4)

    # Shed the L1/L2 intermediates nothing downstream reads — the flag
    # frame is built to be persisted, and every retired column is cache
    # build + storage saved. Temperature's raw/quoted/cast survive for
    # the mismatch-warning text (lamda.py:135 renders both operands).
    drop = ["_t_num", "_has_temp_key"]
    for s in SENSOR_NAMES:
        drop += [f"_lo_{s}", f"_hi_{s}"]
        if s != "temperature":
            drop += [f"_raw_{s}", f"_q_{s}", f"_cast_{s}"]
    return df.drop(*drop)


def attach_validation_arrays(df: DataFrame) -> DataFrame:
    """Fold the ``_*`` rule flags into the ``validation_errors`` /
    ``validation_warnings`` string arrays, then drop the flags. Runs
    after ``with_alerts``, which consumes the ``_errcls_*`` flags
    (``operators.pipeline.assemble_events`` owns that order).

    Pure function of ``validate_flags``'s output; membership and order
    match the reference's append order exactly (lamda.py:60-150). The
    three per-sensor error flags are mutually exclusive by construction
    (L3), so flattening the original per-sensor when-chain into
    per-flag slots preserves both.
    """
    loc = F.col("loc_id")
    weather = F.col("weather_data")
    required_key_errors = [
        (~F.col(f"_key_{k}"), F.lit(f"missing_top_level_key:{k}"))
        for k in REQUIRED_TOP_LEVEL_KEYS
    ]
    sensor_errors: list[tuple[Column, Column]] = []
    sensor_warnings: list[tuple[Column, Column]] = []
    for s in SENSOR_NAMES:
        sensor_errors += [
            (F.col(f"_ext_{s}"), F.lit(f"sensor_data:{s}_extreme_value")),
            (F.col(f"_invtype_{s}"), F.lit(f"sensor_data:{s}_invalid_type")),
            (F.col(f"_oor_{s}"), F.lit(f"sensor_data:{s}_out_of_range")),
        ]
        sensor_warnings += [
            (F.col(f"_conv_{s}"), F.lit(f"sensor_data:{s}_type_converted")),
            (F.col(f"_near_{s}"), F.lit(f"sensor_data:{s}_near_threshold")),
        ]

    t_raw, t_q, t_cast = F.col("_raw_temperature"), F.col("_q_temperature"), F.col("_cast_temperature")
    t_repr = F.when(t_q, t_cast.cast("string")).otherwise(t_raw)
    mismatch_warning = F.concat(
        F.lit("temperature_mismatch:"), t_repr, F.lit("vs"),
        weather.getField("temperature_2m").cast("string"),
    )

    loc_missing, loc_invalid = F.col("_loc_missing"), F.col("_loc_invalid")
    sensors_empty = F.col("_sensors_empty")
    errors = (
        F.when(loc_missing, F.array(F.lit("missing_loc_id")))
        .when(loc_invalid, F.array(F.concat(F.lit("invalid_loc_id:"), loc)))
        .when(
            sensors_empty,
            F.concat(
                _conditional_array(required_key_errors),
                F.array(F.lit("missing_sensor_data")),
            ),
        )
        .otherwise(_conditional_array(required_key_errors + sensor_errors))
    )
    warnings = (
        F.when(loc_missing | loc_invalid | sensors_empty, F.array().cast("array<string>"))
        .otherwise(
            _conditional_array(sensor_warnings + [(F.col("_mismatch"), mismatch_warning)])
        )
    )
    df = df.withColumns({"validation_errors": errors, "validation_warnings": warnings})
    return df.drop(*[c for c in df.columns if c.startswith("_")])
