"""Correctness gate: one query's Spark result against its DuckDB oracle.

The canonicalisation and type classes come from the repository's local
oracle sweep, ``tools/verify_local.py``, which is loaded from its file and
not modified. ``compare`` applies the same checks as that sweep, in the
same order, with no tolerance.
"""

from __future__ import annotations

import importlib.util
import os


def verify_local(root: str):
    """Load ``tools/verify_local.py`` from the checkout at ``root``."""
    path = os.path.join(root, "tools", "verify_local.py")
    spec = importlib.util.spec_from_file_location("perfbench_verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_connection(vl, sf_dir: str):
    """A DuckDB connection with one view per testdata table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in vl.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def compare(vl, df, rows, con, oracle_sql: str) -> list[str]:
    """Problems found comparing collected Spark ``rows`` of ``df`` with the
    oracle; an empty list means the result is verified."""
    s_cols = df.columns
    s_classes = {f.name: vl._class_spark(f.dataType.simpleString()) for f in df.schema.fields}
    rel = con.sql(oracle_sql)
    d_cols = list(rel.columns)
    d_classes = {c: vl._class_duck(str(t)) for c, t in zip(rel.columns, rel.types)}
    d_rows = rel.fetchall()
    problems = []
    for side, classes in (("spark", s_classes), ("duckdb", d_classes)):
        bad = {c: k for c, k in classes.items() if k.startswith("dec") or k.startswith("list<")}
        if bad:
            problems.append(f"not driver-hashable ({side}): {bad}")
    if len(rows) != len(d_rows):
        problems.append(f"rowcount spark={len(rows)} duckdb={len(d_rows)}")
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
    else:
        bad = {c: (s_classes[c], d_classes[c]) for c in s_cols if s_classes[c] != d_classes[c]}
        if bad:
            problems.append(f"type class mismatch (spark, duckdb): {bad}")
    if not problems:
        ms = vl.rows_to_multiset(s_cols, [[r[c] for c in s_cols] for r in rows])
        md = vl.rows_to_multiset(d_cols, d_rows)
        if ms != md:
            diff_s = [k for k, v in ms.items() if md.get(k) != v]
            diff_d = [k for k, v in md.items() if ms.get(k) != v]
            problems.append(
                f"values differ: {len(diff_s)}/{len(ms)} spark-only keys;"
                f" e.g. spark={diff_s[:1]} duckdb={diff_d[:1]}"
            )
    return problems
