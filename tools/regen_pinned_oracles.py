#!/usr/bin/env python3
"""Mechanically rebuild the pinned VALUES oracles in
src/main/scala/graft/registry/LogQueries.scala from a
graft.Verify output directory (round-4 ADVICE: the regeneration recipe must be
a checked-in tool, not a comment pointing at git history).

The mining-core queries (log_templates, log_matched_by, log_routed_rows,
log_eval_scores, log_pa_by_style, log_resume_metrics, log_spell_templates,
log_templates_agg, log_stream_templates) are seed-fixed, so their oracles are
CONSTANTS pinned as VALUES literals for the sf0.01 corpus the driver's
correctness gate runs. After an INTENDED mining-semantics change:

  1. sbt -batch 'runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_verify'
     (optionally SPARK_GRAFT_VERIFY_ONLY=log_templates,... to run a subset)
  2. python3 tools/regen_pinned_oracles.py /tmp/graft_verify
  3. paste each emitted SQL into the matching entry's `oracle` in
     LogQueries.scala (log_stream_templates shares logTemplatesOracle — never
     pin it separately), update its digest in OraclePinSpec, and justify the
     catalog diff in the commit message (GoldenSpec contract).

Driver-side tooling only (python/pyarrow are not part of the shipped library).

Formatting contract (must match what DuckDB + the driver's compare expect):
  - int64 -> CAST(v AS BIGINT), int32 -> CAST(v AS INTEGER)
  - float64 -> CAST('<repr>' AS DOUBLE) via a STRING literal: bare decimal
    literals parse as DECIMAL first in DuckDB and the re-cast can shift the
    last ulp (see memory: bench-protocol-gotchas)
  - strings -> single-quoted with '' escaping
  - column list mirrors the parquet schema; reserved words (e.g. "rows") are
    double-quoted
"""
import sys, os, glob

try:
    import pyarrow.parquet as pq
except ImportError:
    sys.exit("pyarrow required (driver-side python env)")

PINNED = [
    "log_templates", "log_templates_agg", "log_spell_templates",
    "log_routed_rows", "log_matched_by", "log_eval_scores",
    "log_pa_by_style", "log_resume_metrics",
]
RESERVED = {"rows", "order", "group", "values", "table", "select"}


def sql_ident(name):
    return f'"{name}"' if name.lower() in RESERVED else name


def sql_lit(v, typ):
    if v is None:
        return "NULL"
    t = str(typ)
    if t in ("int64", "uint64"):
        return f"CAST({v} AS BIGINT)"
    if t in ("int32", "int16", "int8"):
        return f"CAST({v} AS INTEGER)"
    if t in ("double", "float64"):
        return f"CAST('{v!r}' AS DOUBLE)"
    if t == "bool":
        return "TRUE" if v else "FALSE"
    s = str(v).replace("'", "''")
    return f"'{s}'"


def values_sql(table, alias="t"):
    cols = table.column_names
    types = [f.type for f in table.schema]
    pydata = table.to_pylist()
    pydata.sort(key=lambda r: tuple(str(r[c]) for c in cols))
    rows = [
        "(" + ", ".join(sql_lit(r[c], ty) for c, ty in zip(cols, types)) + ")"
        for r in pydata
    ]
    col_list = ", ".join(sql_ident(c) for c in cols)
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + f") AS {alias}({col_list})"
    )


def main():
    if len(sys.argv) != 2:
        sys.exit(f"usage: {sys.argv[0]} <verify_out_dir>")
    out_dir = sys.argv[1]
    emitted = 0
    for name in PINNED:
        parts = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not parts:
            print(f"-- {name}: no parquet in {out_dir}/{name} (skipped)")
            continue
        table = pq.read_table(parts[0]) if len(parts) == 1 else pq.read_table(
            f"{out_dir}/{name}")
        sql = values_sql(table)
        sql_path = os.path.join(out_dir, f"{name}.oracle.sql")
        with open(sql_path, "w") as f:
            f.write(sql + "\n")
        print(f"-- {name} ({table.num_rows} rows) -> {sql_path}")
        print(sql)
        print()
        emitted += 1
    if emitted == 0:
        sys.exit("nothing emitted — run graft.Verify first")


if __name__ == "__main__":
    main()
