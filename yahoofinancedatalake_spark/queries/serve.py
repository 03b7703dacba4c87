"""Parameterized serving queries — the dashboard drill-down surface.

The reference's dashboards are interactive: every Lens panel accepts
a symbol filter and drills down on click
(``kibana/kibana_saved_objects.ndjson:6-9``; SURVEY §3.3 maps the
saved objects to "parameterized ``symbol = :s``"). The query pack's
entries are fixed-shape by design (the driver gate needs a stable
result); this module is the missing interactive surface: named SQL
templates with ``:param`` markers, bound at call time through Spark's
native named-parameter support (``spark.sql(sql, args=...)``).

Why named parameters instead of string formatting: the binding is
injected as a typed literal into the parsed plan, so

- Catalyst constant-folds it and PUSHES IT TO THE SCAN — the bound
  ``user_id = 7`` shows up in the parquet scan's ``PushedFilters``
  (plan-pinned in ``tests/test_serve.py``), which at 100 TB is the
  difference between reading one symbol's row groups and reading the
  corpus;
- there is no SQL-injection surface and no string-quoting bug class;
- the same template text serves every binding, so a dashboard with
  1000 symbols compiles one plan shape.

The source table enters each template as a ``{events}`` DataFrame
reference (``spark.sql``'s dataframe-interpolation kwarg), NOT a
session-global temp view: concurrent ``bound()`` calls — the normal
state of a dashboard backend — each see exactly the frame they were
given, with no create-view/analyze race and no catalog churn.

Each template's final ``ORDER BY`` sorts a key-bounded result, so the
SELECT it sorts carries ``/*+ COALESCE(1) */``: a sort in one
partition needs no range exchange, which costs a sampling job and a
sort stage per request (DuckDB reads the hint as a comment).

The pack registers oracle-gated entries for two bindings of the
``top_flop_for_symbol`` template plus a 3-parameter windowed
drill-down (``queries/pack_14_prep_serving.py``), proving the surface
end-to-end under the driver's hash gate.

The `user_id` column is this schema's symbol analog (the events
table's group key — see SURVEY §3.3); a production deployment binds
``symbol = :s`` identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

import re

from yahoofinancedatalake_spark.catalog import load_table
from yahoofinancedatalake_spark.functions.scalars import spark_sql_dround

#: Named templates. ``{events}`` / ``{documents}`` are the DataFrame
#: slots ``bound()`` fills from the requested scale dir; ``:name``
#: markers are the user-facing parameters.
TEMPLATES: dict[str, str] = {
    # The flagship Top/Flop panel's drill-down: one symbol's daily
    # value + day-over-day delta series (what the dashboard renders
    # when a bar is clicked).
    "top_flop_for_symbol": f"""
        WITH daily AS (
          SELECT user_id,
                 date_trunc('day', ts) AS day,
                 {spark_sql_dround("sum(value)", 2)} AS daily_value
          FROM {{events}}
          WHERE user_id = :uid
          GROUP BY user_id, date_trunc('day', ts)
        )
        SELECT /*+ COALESCE(1) */ user_id, day, daily_value,
               daily_value - lag(daily_value) OVER (
                 PARTITION BY user_id ORDER BY day) AS delta
        FROM daily
        ORDER BY day
    """,
    # Windowed per-day drill-down for (symbol, event_type, date
    # range) — the panel-filter combination the saved objects expose.
    "type_window_daily": f"""
        SELECT /*+ COALESCE(1) */ date_trunc('day', ts) AS day,
               count(*) AS n_events,
               {spark_sql_dround("sum(value)", 2)} AS total_value
        FROM {{events}}
        WHERE user_id = :uid
          AND event_type = :etype
          AND ts >= CAST(:start_day AS TIMESTAMP)
          AND ts < CAST(:end_day AS TIMESTAMP)
        GROUP BY date_trunc('day', ts)
        ORDER BY day
    """,
    # Corpus-side drill-down: per-language quality profile of one
    # ingestion source above a length threshold — the documents-table
    # panel (proves the surface is not events-specific; any
    # ``load_table`` name can be a slot).
    "source_quality_drill": f"""
        SELECT /*+ COALESCE(1) */ lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               {spark_sql_dround("avg(n_chars)", 2)} AS avg_chars
        FROM {{documents}}
        WHERE source = :src AND n_chars >= :min_chars
        GROUP BY lang
        ORDER BY lang
    """,
}

_MARKER_RE = re.compile(r":([A-Za-z_][A-Za-z0-9_]*)")
_SLOT_RE = re.compile(r"\{([a-z_]+)\}")


def bound(
    spark: SparkSession, sf_dir: str, name: str, **params
) -> DataFrame:
    """Bind ``params`` into the named template and return the frame.

    ``params`` must be exactly the template's ``:name`` markers —
    Spark already fails loud on an UNBOUND marker, but an extra or
    mistyped kwarg would otherwise be silently ignored (the caller
    believes a filter was applied that wasn't), so both directions
    are validated here. The returned plan carries each binding as a
    literal predicate pushed into the parquet scan.
    """
    if name not in TEMPLATES:
        raise KeyError(
            f"unknown serve template {name!r}; have {sorted(TEMPLATES)}"
        )
    sql = TEMPLATES[name]
    markers = set(_MARKER_RE.findall(sql))
    missing, extra = markers - params.keys(), params.keys() - markers
    if missing or extra:
        raise TypeError(
            f"serve template {name!r} takes exactly {sorted(markers)}; "
            f"missing={sorted(missing)} unexpected={sorted(extra)}"
        )
    tables = {
        slot: load_table(spark, sf_dir, slot)
        for slot in set(_SLOT_RE.findall(sql))
    }
    return spark.sql(sql, args=params, **tables)
